"""Output checks and summary statistics for the benchmark.

Everything here is plain Python over values the workloads collected
from the engine, so it runs (and is unit-tested) without Spark:

- percentile math and the open-loop file latency, which charges a
  file that was never published to the end of the run;
- the hyperspectral watch check (every dropped file in exactly one
  manifest and in the catalog, with the sha256 of the written bytes);
- the spatiotemporal check (``px`` spans 0..255 in every frame, and
  the row count is the sum of T*X*Y);
- the curation funnel check and independent re-computations of the
  Jaccard and SimHash pair sets;
- a plain-Python re-computation of ``FlowAnalyzer`` runtimes.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

# --------------------------------------------------------------------------
# statistics


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolation percentile (NumPy's default ``linear``
    method); ``q`` in [0, 100]."""
    if not values:
        raise ValueError("percentile of an empty list")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"q must be in [0, 100], got {q}")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def file_latencies(due: dict[str, float], published: dict[str, float],
                   run_end: float) -> list[float]:
    """Latency of every dropped file from its due time to the return
    of the call that published it; a file never published is charged
    ``run_end - due``."""
    return [published.get(p, run_end) - t for p, t in sorted(due.items())]


# --------------------------------------------------------------------------
# hyperspectral watch


def norm_path(p: str) -> str:
    """Plain absolute path from a binaryFile ``path`` (``file:/x``) or
    a catalog ``url`` (``file://file:/x``)."""
    i = p.rfind("file:")
    if i >= 0:
        p = p[i + len("file:"):]
    return "/" + p.lstrip("/")


def check_watch(written: dict[str, str],
                manifests: list[list[tuple[str, str]]],
                docs: list[list[tuple[str, str]]],
                catalog: list[tuple[str, str]]) -> dict[str, str]:
    """Status of every written file: ``ok``, ``missing`` (never
    published) or ``wrong`` (published with a bad sha256, in two
    manifests or twice in the catalog). ``written`` maps path to the
    sha256 of its bytes; ``manifests[i]`` and ``docs[i]`` are the
    (path, sha256) rows returned by call i; ``catalog`` is every
    (url, sha256) row read back from the catalog table.

    A file is ``ok`` iff it is in exactly one manifest and exactly
    once in the catalog, and every row naming it carries the right
    sha256 — which also holds for the call's publish documents."""
    status = {p: "missing" for p in written}
    in_manifest: Counter = Counter()
    in_catalog: Counter = Counter()
    bad: set[str] = set()
    for rows in manifests:
        for p, sha in rows:
            p = norm_path(p)
            in_manifest[p] += 1
            if written.get(p) != sha:
                bad.add(p)
    for rows in docs:
        for p, sha in rows:
            p = norm_path(p)
            if written.get(p) != sha:
                bad.add(p)
    for p, sha in catalog:
        p = norm_path(p)
        in_catalog[p] += 1
        if written.get(p) != sha:
            bad.add(p)
    for p in set(in_manifest) | set(in_catalog) | bad:
        if p not in written or p in bad or in_manifest[p] > 1 \
                or in_catalog[p] > 1:
            status[p] = "wrong"
        elif in_manifest[p] == 1 and in_catalog[p] == 1:
            status[p] = "ok"
    return status


def published_at(call_returns: list[float],
                 manifests: list[list[tuple[str, str]]],
                 docs: list[list[tuple[str, str]]],
                 status: dict[str, str]) -> dict[str, float]:
    """Return time of the first call whose manifest and publish
    documents both hold the file, for files whose final status is
    ``ok``."""
    out: dict[str, float] = {}
    for t, man, doc in zip(call_returns, manifests, docs):
        both = ({norm_path(p) for p, _ in man}
                & {norm_path(p) for p, _ in doc})
        for p in both:
            if status.get(p) == "ok" and p not in out:
                out[p] = t
    return out


# --------------------------------------------------------------------------
# spatiotemporal frames


def check_frames(expected: dict[str, tuple[int, int, int]],
                 frame_stats: list[tuple[str, int, int, int, int]]
                 ) -> dict[str, bool]:
    """Per-file verdict for the normalized frames. ``expected`` maps
    path to its (T, X, Y) stack shape; ``frame_stats`` holds one
    (path, t, min_px, max_px, rows) per frame. A file passes iff all
    T frames are there, each spans exactly 0..255 and holds X*Y
    rows — so the file contributes T*X*Y rows."""
    by_path: dict[str, list] = defaultdict(list)
    for path, t, lo, hi, n in frame_stats:
        by_path[norm_path(path)].append((t, lo, hi, n))
    ok = {}
    for path, (nt, nx, ny) in expected.items():
        frames = sorted(by_path.get(path, []))
        ok[path] = ([f[0] for f in frames] == list(range(nt))
                    and all(lo == 0 and hi == 255 and n == nx * ny
                            for _, lo, hi, n in frames))
    return ok


# --------------------------------------------------------------------------
# curation funnel


def check_funnel(funnel: list[tuple[str, int]], n_input: int,
                 stages: tuple[str, ...]) -> list[str]:
    """Problems with a funnel: wrong stage list, input count, or a
    count that rises from one stage to the next."""
    errs = []
    if tuple(s for s, _ in funnel) != stages:
        errs.append(f"stages {[s for s, _ in funnel]} != {list(stages)}")
    if funnel and funnel[0][1] != n_input:
        errs.append(f"input count {funnel[0][1]} != {n_input}")
    for (s0, n0), (s1, n1) in zip(funnel, funnel[1:]):
        if n1 > n0:
            errs.append(f"{s1} count {n1} > {s0} count {n0}")
    return errs


def check_kept(kept: list[tuple[int, str, str]], bench_texts: set[str],
               domain_of, quota: int, budget: int) -> list[str]:
    """Invariants of the kept documents (doc_id, text, url): texts are
    distinct (exact dedup), none copies a benchmark document
    (decontamination), no domain keeps more than ``quota`` docs, and
    every kept doc started before the token budget ran out."""
    errs = []
    texts = Counter(t for _, t, _ in kept)
    if any(c > 1 for c in texts.values()):
        errs.append("kept texts are not distinct")
    if any(t in bench_texts for t in texts):
        errs.append("a kept doc copies a benchmark doc")
    per_dom = Counter(domain_of(u) for _, _, u in kept)
    if per_dom and max(per_dom.values()) > quota:
        errs.append(f"a domain keeps {max(per_dom.values())} > {quota}")
    toks = [len(words(t)) for _, t, _ in kept]
    if toks and sum(toks) - max(toks) >= budget:
        errs.append("kept docs overrun the token budget")
    return errs


# --------------------------------------------------------------------------
# dedup oracles


_WS = re.compile(r"\s+")


def words(text: str) -> list[str]:
    """``functions.text.words``: split the space-trimmed text on
    whitespace runs."""
    return _WS.split(text.strip(" "))


def jaccard_pairs(docs: list[tuple[int, str]], k: int, threshold: float,
                  max_df: int | None) -> set[tuple[int, int, int, int, int]]:
    """(doc_a, doc_b, n_common, n_a, n_b) of every pair whose k-word
    shingle sets, after dropping shingles in more than ``max_df``
    docs, have Jaccard >= ``threshold`` — ``operators.dedup.
    jaccard_pairs`` recomputed over the raw shingle strings."""
    sets = {}
    for doc_id, text in docs:
        toks = words(text)
        if len(toks) >= k:
            sets[doc_id] = {" ".join(toks[i:i + k])
                            for i in range(len(toks) - k + 1)}
    df = Counter(s for sh in sets.values() for s in sh)
    if max_df is not None:
        sets = {d: {s for s in sh if df[s] <= max_df}
                for d, sh in sets.items()}
        sets = {d: sh for d, sh in sets.items() if sh}
    postings = defaultdict(list)
    for d in sorted(sets):
        for s in sets[d]:
            postings[s].append(d)
    common: Counter = Counter()
    for ds in postings.values():
        for i, a in enumerate(ds):
            for b in ds[i + 1:]:
                common[(a, b)] += 1
    out = set()
    for (a, b), c in common.items():
        na, nb = len(sets[a]), len(sets[b])
        if c / (na + nb - c) >= threshold:
            out.add((a, b, c, na, nb))
    return out


_M64 = (1 << 64) - 1
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 as a signed 64-bit integer — Spark's ``xxhash64`` (seed
    42) on a UTF-8 string."""
    n, i = len(data), 0
    seed &= _M64
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed,
             (seed - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                lane = int.from_bytes(data[i + 8 * j:i + 8 * j + 8],
                                      "little")
                v[j] = _round(v[j], lane)
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h ^ k, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def simhash(text: str, bits: int = 32,
            cache: dict[str, int] | None = None) -> int:
    """``operators.dedup.simhash_signatures`` with ``fast_hash64``:
    bit b is set iff more than half the tokens' hashes have bit b.
    ``cache`` memoizes token hashes across calls."""
    cache = {} if cache is None else cache
    hs = []
    for t in words(text):
        if t not in cache:
            cache[t] = xxhash64(t.encode())
        hs.append(cache[t])
    sig = 0
    for b in range(bits):
        if 2 * sum((h >> b) & 1 for h in hs) > len(hs):
            sig |= 1 << b
    return sig


def simhash_pairs(docs: list[tuple[int, str]], max_hamming: int,
                  n_chunks: int = 4, bits: int = 32
                  ) -> set[tuple[int, int, int]]:
    """(doc_a, doc_b, hamming) of every pair that agrees on at least
    one of the ``n_chunks`` signature chunks and differs in at most
    ``max_hamming`` bits — ``operators.dedup.simhash_near_pairs``."""
    cache: dict[str, int] = {}
    sigs = sorted((d, simhash(t, bits, cache)) for d, t in docs)
    cb = bits // n_chunks
    mask = (1 << cb) - 1
    buckets = defaultdict(list)
    for d, s in sigs:
        for j in range(n_chunks):
            buckets[(j, (s >> (j * cb)) & mask)].append((d, s))
    out = set()
    for members in buckets.values():
        for i, (a, sa) in enumerate(members):
            for b, sb in members[i + 1:]:
                ham = bin(sa ^ sb).count("1")
                if ham <= max_hamming:
                    out.add((a, b, ham))
    return out


def digest(rows) -> str:
    """Order-independent sha256 of a set of tuples."""
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(tuple(r)).encode())
    return h.hexdigest()


# --------------------------------------------------------------------------
# flow analyzer


def analyzer_means(runs: list[tuple[str, float, float]],
                   step_events: list[tuple[str, int, str, str, float]]
                   ) -> dict[str, tuple[float, int]]:
    """Mean and count per ``<step>_runtime`` and ``flow_runtime``, as
    ``FlowAnalyzer.describe_runtimes`` defines them: a step's runtime
    is its last ActionCompleted minus its first ActionStarted in the
    run, and the flow runtime is completion minus start."""
    first: dict = {}
    last: dict = {}
    for run_id, _, code, step, t in step_events:
        if code == "ActionStarted":
            first[(run_id, step)] = min(t, first.get((run_id, step), t))
        elif code == "ActionCompleted":
            last[(run_id, step)] = max(t, last.get((run_id, step), t))
    steps = sorted({s for _, _, _, s, _ in step_events})
    cols: dict[str, list[float]] = {f"{s}_runtime": [] for s in steps}
    cols["flow_runtime"] = []
    for run_id, start, end in runs:
        for s in steps:
            if (run_id, s) in first and (run_id, s) in last:
                cols[f"{s}_runtime"].append(last[(run_id, s)]
                                            - first[(run_id, s)])
        cols["flow_runtime"].append(end - start)
    return {k: (sum(v) / len(v), len(v)) for k, v in cols.items() if v}


def check_analyzer(spark_rows: dict[str, tuple[float, int]],
                   python: dict[str, tuple[float, int]],
                   tol: float = 1e-6) -> list[str]:
    """``describe_runtimes`` rounds its means to 4 decimals; each must
    equal the plain-Python mean rounded the same way within ``tol``,
    over the same number of runs."""
    errs = []
    if set(spark_rows) != set(python):
        errs.append(f"metrics {sorted(spark_rows)} != {sorted(python)}")
    for k in set(spark_rows) & set(python):
        (ms, ns), (mp, np_) = spark_rows[k], python[k]
        if ns != np_ or abs(ms - round(mp, 4)) > tol:
            errs.append(f"{k}: engine ({ms}, n={ns}) vs python "
                        f"({mp:.6f}, n={np_})")
    return errs
