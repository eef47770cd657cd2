"""Unit tests of the benchmark's checker and statistics, on synthetic
inputs with no Spark. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import checks, gen  # noqa: E402
from perfbench.trace import (Job, SqlExec, span_stats,  # noqa: E402
                             stage_windows, union_length)


# -- statistics --------------------------------------------------------------

def test_percentile_interpolates_like_numpy_linear():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert checks.percentile(xs, 0) == 1.0
    assert checks.percentile(xs, 100) == 4.0
    assert checks.percentile(xs, 50) == 2.5
    assert checks.percentile(xs, 90) == pytest.approx(3.7)
    assert checks.percentile([5.0], 90) == 5.0


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        checks.percentile([], 50)
    with pytest.raises(ValueError):
        checks.percentile([1.0], 101)


def test_unpublished_files_are_charged_to_run_end():
    due = {"a": 0.0, "b": 1.0, "c": 2.0}
    lat = checks.file_latencies(due, {"a": 0.5}, run_end=10.0)
    assert lat == [0.5, 9.0, 8.0]
    assert checks.percentile(lat, 50) == 8.0


def test_p90_has_ten_samples_beyond_it_at_100_files():
    lat = [float(i) for i in range(100)]
    p90 = checks.percentile(lat, 90)
    assert sum(x > p90 for x in lat) == 10


# -- hyperspectral watch ----------------------------------------------------

def _sha(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()


def test_norm_path_strips_file_scheme_from_paths_and_urls():
    assert checks.norm_path("file:/w/a.emd") == "/w/a.emd"
    assert checks.norm_path("file://file:/w/a.emd") == "/w/a.emd"
    assert checks.norm_path("/w/a.emd") == "/w/a.emd"


def test_check_watch_classifies_ok_missing_and_wrong():
    written = {"/w/a": _sha(b"a"), "/w/b": _sha(b"b"), "/w/c": _sha(b"c"),
               "/w/d": _sha(b"d")}
    manifests = [[("file:/w/a", _sha(b"a")), ("file:/w/c", _sha(b"x"))],
                 [("file:/w/d", _sha(b"d"))], [("file:/w/d", _sha(b"d"))]]
    docs = [[("file://file:/w/a", _sha(b"a"))], [("file://file:/w/d",
                                                  _sha(b"d"))], []]
    catalog = [("file://file:/w/a", _sha(b"a")),
               ("file://file:/w/d", _sha(b"d"))]
    status = checks.check_watch(written, manifests, docs, catalog)
    assert status == {"/w/a": "ok", "/w/b": "missing", "/w/c": "wrong",
                      "/w/d": "wrong"}


def test_check_watch_flags_unknown_and_doubly_cataloged_files():
    written = {"/w/a": _sha(b"a")}
    status = checks.check_watch(
        written, [[("file:/w/a", _sha(b"a")), ("file:/w/z", _sha(b"z"))]],
        [[]], [("file:/w/a", _sha(b"a")), ("file:/w/a", _sha(b"a"))])
    assert status == {"/w/a": "wrong", "/w/z": "wrong"}


def test_published_at_is_first_call_with_manifest_and_docs():
    status = {"/w/a": "ok", "/w/b": "ok", "/w/c": "missing"}
    t = checks.published_at(
        [1.0, 2.0, 3.0],
        [[("file:/w/a", "")], [("file:/w/b", "")], [("file:/w/c", "")]],
        [[], [("file:/w/a", ""), ("file:/w/b", "")], [("file:/w/c", "")]],
        status)
    assert t == {"/w/b": 2.0}


# -- spatiotemporal frames --------------------------------------------------

def test_check_frames_needs_full_range_and_row_count_per_frame():
    exp = {"/s/a": (2, 2, 3), "/s/b": (2, 2, 3), "/s/c": (2, 2, 3)}
    stats = [("file:/s/a", 0, 0, 255, 6), ("file:/s/a", 1, 0, 255, 6),
             ("file:/s/b", 0, 0, 255, 6), ("file:/s/b", 1, 1, 255, 6),
             ("file:/s/c", 0, 0, 255, 6)]
    assert checks.check_frames(exp, stats) == {
        "/s/a": True, "/s/b": False, "/s/c": False}


# -- curation ---------------------------------------------------------------

def test_check_funnel_rejects_a_rising_count_and_wrong_input():
    stages = ("input", "quality", "near")
    assert checks.check_funnel([("input", 10), ("quality", 8), ("near", 8)],
                               10, stages) == []
    errs = checks.check_funnel([("input", 9), ("quality", 8), ("near", 9)],
                               10, stages)
    assert len(errs) == 2


def test_check_kept_invariants():
    dom = gen.domain_of
    kept = [(1, "a b c", "https://www.s1.org/doc/1"),
            (2, "d e f", "https://www.s1.org/doc/2")]
    assert checks.check_kept(kept, set(), dom, quota=2, budget=4) == []
    assert len(checks.check_kept(kept + [(3, "a b c",
                                          "https://www.s1.org/doc/3")],
                                 {"d e f"}, dom, quota=2, budget=10)) == 3
    assert checks.check_kept(kept, set(), dom, quota=2, budget=3) == [
        "kept docs overrun the token budget"]


def test_jaccard_oracle_applies_max_df_before_sizes():
    docs = [(1, "a b c d"), (2, "a b c e"), (3, "x y z w"), (4, "a b")]
    # shingles: 1={abc,bcd} 2={abc,bce} 3={xyz,yzw}; doc 4 is too short
    assert checks.jaccard_pairs(docs, 3, 0.3, None) == {(1, 2, 1, 2, 2)}
    # max_df=1 drops 'a b c' (in two docs): no shared shingle is left
    assert checks.jaccard_pairs(docs, 3, 0.3, 1) == set()


def test_xxhash64_matches_reference_vectors():
    # XXH64 reference values (seed 0) and Spark's xxhash64 (seed 42).
    assert checks.xxhash64(b"", seed=0) == 0xEF46DB3751D8E999 - (1 << 64)
    assert checks.xxhash64(b"a", seed=0) == 0xD24EC4F1A98C6E5B - (1 << 64)
    assert checks.xxhash64(b"spark") == -1960931134668248110
    long = b"the quick brown fox jumps over the lazy dog" * 3
    assert checks.xxhash64(long) == -8132148077751705370


def test_simhash_pairs_need_a_shared_chunk_and_small_hamming():
    docs = [(1, "a b c d e"), (2, "a b c d e"), (3, "a b c d f"),
            (4, "zz yy xx ww")]
    pairs = checks.simhash_pairs(docs, max_hamming=6)
    assert (1, 2, 0) in pairs
    sig = {d: checks.simhash(t) for d, t in docs}
    for a, b, h in pairs:
        assert h == bin(sig[a] ^ sig[b]).count("1") <= 6


def test_digest_is_order_independent():
    assert checks.digest({(1, 2), (3, 4)}) == checks.digest([(3, 4), (1, 2)])


# -- flow analyzer ------------------------------------------------------------

def test_analyzer_means_and_rounding_tolerance():
    runs = [("r0", 0.0, 10.0), ("r1", 100.0, 104.0)]
    ev = [("r0", 0, "ActionStarted", "T", 1.0),
          ("r0", 1, "ActionCompleted", "T", 4.0),
          ("r1", 0, "ActionStarted", "T", 100.5),
          ("r1", 1, "ActionCompleted", "T", 101.5)]
    py = checks.analyzer_means(runs, ev)
    assert py == {"T_runtime": (2.0, 2), "flow_runtime": (7.0, 2)}
    assert checks.check_analyzer({"T_runtime": (2.0, 2),
                                  "flow_runtime": (7.0, 2)}, py) == []
    assert checks.check_analyzer({"T_runtime": (2.0001, 2),
                                  "flow_runtime": (7.0, 2)}, py)


# -- trace attribution --------------------------------------------------------

def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_span_stats_driver_gap_is_wall_minus_job_union():
    jobs = [Job(0, "g", 1.0, 3.0, tasks=2, cpu_s=0.5),
            Job(1, "g", 2.0, 4.0, tasks=1, cpu_s=0.25)]
    st = span_stats(jobs, 0.0, 5.0)
    assert st["jobs"] == 2 and st["tasks"] == 3
    assert st["driver_gap_s"] == pytest.approx(2.0)
    assert st["executor_cpu_s"] == pytest.approx(0.75)


def test_stage_windows_end_at_each_boundary_count():
    counts = [SqlExec(i, "g", t, t + 0.1, True) for i, t in
              enumerate((1.0, 2.0, 5.0))]
    assert stage_windows(counts, 0.5, ["input", "quality", "near"]) == [
        ("input", 0.5, 1.1), ("quality", 1.1, 2.1), ("near", 2.1, 5.1)]
    assert stage_windows(counts, 0.5, ["input"]) is None


# -- generators ---------------------------------------------------------------

def test_corpus_is_seeded_and_samples_bench_docs_from_it():
    a, b = gen.corpus(3, n_docs=120), gen.corpus(3, n_docs=120)
    assert a.docs == b.docs and a.bench == b.bench
    assert gen.corpus(4, n_docs=120).docs != a.docs
    texts = {t for _, t, _ in a.docs}
    assert all(t in texts for _, t in a.bench)
    assert len({d for d, _, _ in a.docs}) == 120


# -- benchmark definition -----------------------------------------------------

def test_benchmark_json_names_every_metric_the_runner_prints():
    from perfbench import run
    from perfbench.workloads import WORKLOADS, layer_units
    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layer_units()
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_pins_for_other_generator_settings_raise(tmp_path, monkeypatch):
    from perfbench import workloads
    path = tmp_path / "pins.json"
    params = workloads.corpus_params()
    path.write_text(json.dumps({"params": params, "seeds": {"1": {}}}))
    monkeypatch.setattr(workloads, "PINS", str(path))
    assert workloads.load_pins() == {"1": {}}
    path.write_text(json.dumps({"params": {**params, "docs": 1},
                                "seeds": {"1": {}}}))
    with pytest.raises(ValueError):
        workloads.load_pins()


def test_trace_overhead_compares_only_matching_untraced_reports(
        tmp_path, monkeypatch):
    from perfbench import run
    monkeypatch.setattr(run, "REPORTS", str(tmp_path))
    prefix = "w-abc-seed1-sec6"

    def report(name, wall, correct=True):
        (tmp_path / f"{name}.json").write_text(json.dumps(
            {"correct": correct, "unit_wall_median_s": wall}))

    assert run.untraced_unit_median(prefix) is None
    report(f"{prefix}-trace1-1", 9.0)              # traced
    report("w-def-seed1-sec6-trace0-2", 8.0)       # other tree
    report("w-abc-seed2-sec6-trace0-3", 8.0)       # other seed
    report("w-abc-seed1-sec60-trace0-4", 8.0)      # other seconds
    report(f"{prefix}-trace0-5", 5.0, correct=False)
    assert run.untraced_unit_median(prefix) is None
    report(f"{prefix}-trace0-6", 2.0)
    report(f"{prefix}-trace0-7", 4.0)
    assert run.untraced_unit_median(prefix) == 3.0
