"""The three benchmark workloads.

Each workload drives the engine only through its public entry points
(``flows.hyperspectral_flow``, ``flows.spatiotemporal_flow``,
``flows.curate_documents``, ``operators.dedup.jaccard_pairs`` and
``operators.dedup.simhash_dedup``). Every public call runs inside a
span (:meth:`Tracer.call`) under its own Spark job group, so a traced
run can attribute the event log's jobs to it. A workload:

- ``setup`` generates warm-up inputs and calls the engine until the
  per-call time has flattened;
- ``measure`` runs the timed phase for a given number of seconds;
- ``check`` verifies every output off the clock and returns
  ``(correct, attempted, failed, errors)``;
- ``metrics`` gives the end-to-end metrics, ``layers`` the per-layer
  ones from a parsed event log.
"""

from __future__ import annotations

import json
import math
import itertools
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

from perfbench import checks, gen
from perfbench.trace import EventLog, Span, span_stats, stage_windows

STEP_KEYS = {"Transfer": "transfer", "HyperspectralImageTool": "tool",
             "TemporalImageTool": "tool",
             "Publishv2GatherMetadata": "gather",
             "Publishv2Ingest": "ingest"}
STEPS = ("transfer", "tool", "gather", "ingest")
FUNNEL = ("input", "quality", "repetition", "exact", "near", "decontam",
          "quota", "budget")
DEDUP = ("jaccard", "simhash")
SPARK_KEYS = ("jobs", "tasks", "driver_gap_s", "executor_cpu_s", "gc_s",
              "spill_bytes")
SUB_KEYS = ("jobs", "driver_gap_s", "executor_cpu_s")

#: Calls each warm-up runs at once, one per core of ``local[4]``.
WARM_THREADS = 4

#: Paper per-step means (BASELINE.md), seconds.
PAPER_MEANS = {
    "hyperspectral_watch": {"flow": 47, "transfer": 19, "tool": 13,
                            "gather": 6, "ingest": 6},
    "spatiotemporal_backfill": {"flow": 224, "transfer": 142,
                                "tool": 52, "gather": 20, "ingest": 7},
}


def layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit. Each workload
    reports all of them; a layer the workload bypasses reads 0."""
    u = {f"pipelines.{s}_s": "s" for s in STEPS}
    u["pipelines.outside_steps_s"] = "s"
    u.update({"watch.flow_calls": "count", "watch.files_per_call": "files",
              "watch.backlog_max_files": "files",
              "watch.generator_late_max_s": "s",
              "binary_files.bytes_read_per_new_file": "bytes",
              "binary_files.useful_byte_ratio": "ratio",
              "emd.python_run_s": "s", "emd.python_bytes_sent": "bytes",
              "emd.cells_per_s": "cells/s",
              "scientific.shuffle_write_bytes": "bytes",
              "scientific.executor_cpu_s": "s",
              "analyzer.describe_s": "s"})
    for st in FUNNEL:
        u[f"curation.{st}_s"] = "s"
        u[f"curation.{st}_rows"] = "count"
    for d in DEDUP:
        u.update({f"dedup.{d}.wall_s": "s",
                  f"dedup.{d}.shuffle_records": "count",
                  f"dedup.{d}.shuffle_write_bytes": "bytes",
                  f"dedup.{d}.executor_cpu_s": "s"})
    for k in SPARK_KEYS:
        u[f"spark.{k}"] = "bytes" if k == "spill_bytes" else (
            "count" if k in ("jobs", "tasks") else "s")
    for sub in STEPS + FUNNEL + DEDUP:
        for k in SUB_KEYS:
            u[f"spark.{sub}.{k}"] = "count" if k == "jobs" else "s"
    return u


class Tracer:
    """In-memory spans; each public call gets its own job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()   # warm-up calls run in threads

    def call(self, name: str, fn, *args, **kwargs):
        with self._lock:
            span_id = f"{name}-{next(self._ids)}"
        self.sc.setJobGroup(span_id, name)
        t0 = time.time()
        try:
            out = fn(*args, **kwargs)
        finally:
            t1 = time.time()
            self.sc.setJobGroup("bench-other", "off the clock")
        span = Span(span_id, name, t0, t1)
        with self._lock:
            self.spans.append(span)
        return out, span


def _median(xs: list[float]) -> float:
    return checks.median(xs) if xs else 0.0


def concurrently(fn, args: list[tuple]) -> list:
    """``fn(*a)`` for every ``a``, each in its own thread. The warm-ups
    run several calls at once, so the JIT gets the work of all of them
    in about the wall time of one."""
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(len(args)) as ex:
        return [f.result() for f in [ex.submit(fn, *a) for a in args]]


# --------------------------------------------------------------------------
# flows (hyperspectral and spatiotemporal share the per-call record)


@dataclass
class FlowCall:
    span: Span
    mono_end: float
    step_events: list
    manifest: list[tuple[str, str]]
    docs: list[tuple[str, str]]
    backlog: int = 0
    new_bytes: int = 0
    cells: int = 0

    def step_windows(self) -> dict[str, tuple[float, float]]:
        start, out = {}, {}
        for _, _, code, state, t in self.step_events:
            key = STEP_KEYS.get(state, state)
            if code == "ActionStarted":
                start[key] = t
            elif code == "ActionCompleted" and key in start:
                out[key] = (start[key], t)
        return out


def _collect_result(result) -> tuple[list, list]:
    from pyspark.sql import functions as F
    man = [(r.path, r.sha256)
           for r in result.manifest.select("path", "sha256").collect()]
    docs = [(r.url, r.sha256) for r in
            result.publish_docs.select(F.explode("files").alias("f"))
            .select("f.url", "f.sha256").collect()]
    return man, docs


def _read_catalog(spark, path: str) -> list[tuple[str, str]]:
    from pyspark.sql import functions as F
    if not os.path.isdir(path):
        return []
    return [(r.url, r.sha256) for r in
            spark.read.parquet(path).select(F.explode("files").alias("f"))
            .select("f.url", "f.sha256").collect()]


class FlowWorkload:
    """Shared parts of the two flow workloads."""

    name = ""
    flow_fn_name = ""

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer = Tracer(spark)
        self.calls: list[FlowCall] = []
        self.describe_s = 0.0
        self.analyzer_rows: list[dict] = []
        self.overhead_rows: list[dict] = []

    def flow(self, *args, **kwargs):
        from picoprobedataflow_spark import flows
        return self.tracer.call(self.name, getattr(flows, self.flow_fn_name),
                                self.spark, *args, **kwargs)

    def check_analyzer(self, calls: list[FlowCall]) -> list[str]:
        """Run ``FlowAnalyzer`` over the calls' step events (timed as
        ``analyzer.describe_s``) and compare its means with a
        plain-Python recomputation."""
        from picoprobedataflow_spark.flows import FlowAnalyzer
        runs = [(c.step_events[0][0], c.span.start, c.span.end)
                for c in calls]
        events = [e for c in calls for e in c.step_events]
        t0 = time.perf_counter()
        runs_df = self.spark.createDataFrame(
            [(r, "SUCCEEDED", s, e) for r, s, e in runs],
            "run_id string, status string, start_time double, "
            "completion_time double")
        ev_df = self.spark.createDataFrame(
            events, "run_id string, entry_index int, code string, "
            "state_name string, time double")
        fa = FlowAnalyzer(runs_df, ev_df)
        desc = fa.describe_runtimes().collect()
        over = fa.overhead().collect()
        self.describe_s = time.perf_counter() - t0
        self.analyzer_rows = [r.asDict() for r in desc]
        self.overhead_rows = [r.asDict() for r in over]
        engine = {r["metric"]: (r["mean"], r["n"]) for r in self.analyzer_rows}
        errs = checks.check_analyzer(engine,
                                     checks.analyzer_means(runs, events))
        py_over = {r: e - s - sum(b - a for a, b in c.step_windows().values())
                   for (r, s, e), c in zip(runs, calls)}
        for r in self.overhead_rows:
            if abs(r["overhead"] - py_over[r["run_id"]]) > 1e-6:
                errs.append(f"overhead of {r['run_id']}: {r['overhead']}"
                            f" vs {py_over[r['run_id']]}")
        return errs

    def unit_walls(self) -> list[float]:
        return [c.span.wall for c in self.calls]

    def paper_table(self) -> dict:
        """FlowAnalyzer's per-step means beside the paper's."""
        means = {}
        for r in self.analyzer_rows:
            m = r["metric"].removesuffix("_runtime")
            means["flow" if m == "flow" else STEP_KEYS.get(m, m)] = r
        over = [r["overhead"] for r in self.overhead_rows]
        return {"paper_mean_s": PAPER_MEANS[self.name],
                "measured": means,
                "overhead_median_s": _median(over),
                "paper_note": "BASELINE.md per-step means; measured "
                              "values are FlowAnalyzer.describe_runtimes"
                              " over this run's step_events"}

    def flow_layers(self, log: EventLog) -> dict[str, float]:
        out: dict[str, float] = {}
        per_step = {s: [] for s in STEPS}
        outside, sub = [], {s: {k: [] for k in SUB_KEYS} for s in STEPS}
        unit = {k: [] for k in SPARK_KEYS}
        transfer_read: list[int] = []
        tool = {k: [] for k in ("python_run_s", "python_bytes_sent",
                                "shuffle_write_bytes", "executor_cpu_s")}
        cells, tool_time = 0, 0.0
        for c in self.calls:
            jobs = log.jobs_of(c.span.span_id)
            st = span_stats(jobs, c.span.start, c.span.end)
            for k in SPARK_KEYS:
                unit[k].append(st[k])
            win = c.step_windows()
            for s in STEPS:
                lo, hi = win.get(s, (c.span.start, c.span.start))
                per_step[s].append(hi - lo)
                ss = span_stats(log.jobs_of(c.span.span_id, lo, hi), lo, hi)
                for k in SUB_KEYS:
                    sub[s][k].append(ss[k])
                if s == "transfer":
                    transfer_read.append(ss["input_bytes"])
                elif s == "tool":
                    for k, v in tool.items():
                        v.append(ss[k])
                    if c.cells:
                        cells += c.cells
                        tool_time += hi - lo
            outside.append(c.span.wall - sum(hi - lo for lo, hi in win.values()))
        for s in STEPS:
            out[f"pipelines.{s}_s"] = _median(per_step[s])
            for k in SUB_KEYS:
                out[f"spark.{s}.{k}"] = _median(sub[s][k])
        out["pipelines.outside_steps_s"] = _median(outside)
        for k in SPARK_KEYS:
            out[f"spark.{k}"] = _median(unit[k])
        n_new = sum(len(c.manifest) for c in self.calls)
        new_bytes = sum(c.new_bytes for c in self.calls)
        read = sum(transfer_read)
        out["binary_files.bytes_read_per_new_file"] = \
            read / n_new if n_new else 0.0
        out["binary_files.useful_byte_ratio"] = new_bytes / read if read else 0.0
        out["emd.python_run_s"] = _median(tool["python_run_s"])
        out["emd.python_bytes_sent"] = _median(tool["python_bytes_sent"])
        out["emd.cells_per_s"] = cells / tool_time if tool_time else 0.0
        out["scientific.shuffle_write_bytes"] = _median(
            tool["shuffle_write_bytes"])
        out["scientific.executor_cpu_s"] = _median(tool["executor_cpu_s"])
        out["analyzer.describe_s"] = self.describe_s
        out["watch.flow_calls"] = len(self.calls)
        out["watch.files_per_call"] = n_new / len(self.calls) if self.calls else 0.0
        return out

    def step_sums(self) -> list[dict]:
        """Per call: the four step times, the time outside them and
        the call's wall time (they sum to the wall time)."""
        out = []
        for c in self.calls:
            win = c.step_windows()
            steps = {s: hi - lo for s, (lo, hi) in win.items()}
            out.append({"run_id": c.step_events[0][0], "wall_s": c.span.wall,
                        **{f"{s}_s": steps.get(s, 0.0) for s in STEPS},
                        "outside_steps_s": c.span.wall - sum(steps.values())})
        return out


class HyperspectralWatch(FlowWorkload):
    """Open loop: a generator thread drops FAKE-EMD files into one
    watched directory at ``gen.HS_RATE`` files/s; the main thread is
    the watcher and calls ``hyperspectral_flow`` whenever a written
    file is missing from every manifest returned so far."""

    name = "hyperspectral_watch"
    flow_fn_name = "hyperspectral_flow"
    drain_cap_s = 30.0

    def _processed(self, rows):
        if not rows:
            return None
        return self.spark.createDataFrame(rows, "path string, sha256 string")

    def _warm_up(self, k: int) -> None:
        """Two calls over two warm-up folders, the second with
        ``processed`` set."""
        rows: list = []
        for i in range(2):
            wdir = os.path.join(self.work, "hs", f"warm-{k}-{i}")
            os.makedirs(wdir)
            gen.write_atomic(os.path.join(wdir, f"w-{i}.emd"),
                             gen.hs_file(self.seed + 7919, 2 * k + i, 0.0))
            res, _ = self.flow(wdir, os.path.join(self.work, "hs",
                                                  f"warm-cat-{k}"),
                               processed=self._processed(rows),
                               run_id=f"hs-warm-{k}-{i}")
            rows, _ = _collect_result(res)

    def setup(self) -> None:
        concurrently(self._warm_up, [(k,) for k in range(WARM_THREADS)])

    def measure(self, seconds: float) -> None:
        watch = os.path.join(self.work, "hs", "watch")
        self.catalog = os.path.join(self.work, "hs", "catalog")
        os.makedirs(watch)
        # At least MIN_FILES drops, so p90 has ten samples beyond it.
        rate = max(gen.HS_RATE, gen.HS_MIN_FILES / seconds)
        self.gen = g = gen.DropGenerator(watch, self.seed,
                                         math.ceil(rate * seconds), rate)
        seen: set[str] = set()
        processed: list[tuple[str, str]] = []
        g.start()
        drained = False
        while True:
            drops = g.snapshot()
            pending = [d for d in drops if d.path not in seen]
            now = time.monotonic()
            if g.done.is_set() and (not pending or drained
                                    or now > g.schedule_end + self.drain_cap_s):
                break
            if not pending:
                time.sleep(0.005)
                continue
            last_written = drops[-1].written if g.done.is_set() else None
            t_start = time.monotonic()
            res, span = self.flow(watch, self.catalog,
                                  processed=self._processed(processed),
                                  run_id=f"hs-{len(self.calls)}")
            t_end = time.monotonic()
            man, docs = _collect_result(res)
            size = {d.path: d.nbytes for d in drops}
            new = [checks.norm_path(p) for p, _ in man]
            self.calls.append(FlowCall(
                span, t_end, res.step_events, man, docs, backlog=len(pending),
                new_bytes=sum(size.get(p, 0) for p in new),
                cells=len(new) * math.prod(gen.HS_CUBE)))
            seen.update(new)
            processed += man
            drained = last_written is not None and t_start > last_written
        self.run_end = time.monotonic()
        g.join(timeout=10)

    def check(self):
        drops = self.gen.snapshot()
        written = {d.path: d.sha256 for d in drops}
        status = checks.check_watch(
            written, [c.manifest for c in self.calls],
            [c.docs for c in self.calls],
            _read_catalog(self.spark, self.catalog))
        self.published = checks.published_at(
            [c.mono_end for c in self.calls], [c.manifest for c in self.calls],
            [c.docs for c in self.calls], status)
        errs = [f"{p}: {s}" for p, s in sorted(status.items()) if s == "wrong"]
        errs += self.check_analyzer(self.calls)
        failed = sum(s != "ok" for s in status.values())
        self.status = status
        return not errs, len(drops), failed, errs

    def metrics(self) -> dict[str, float]:
        drops = self.gen.snapshot()
        lat = checks.file_latencies({d.path: d.due for d in drops},
                                    self.published, self.run_end)
        ok_bytes = sum(d.nbytes for d in drops if d.path in self.published)
        return {"latency_p50_s": checks.percentile(lat, 50),
                "latency_p90_s": checks.percentile(lat, 90),
                "throughput_mb_s": ok_bytes / 1e6 / (self.run_end - self.gen.t0)}

    def layers(self, log: EventLog) -> dict[str, float]:
        out = self.flow_layers(log)
        out["watch.backlog_max_files"] = max((c.backlog for c in self.calls),
                                             default=0)
        out["watch.generator_late_max_s"] = max(
            (d.written - d.due for d in self.gen.snapshot()), default=0.0)
        return out

    def summary(self) -> dict:
        return {"files": len(self.status),
                "published": len(self.published),
                "calls": len(self.calls),
                "manifest_sizes": [len(c.manifest) for c in self.calls],
                "file_bytes": self.gen.snapshot()[0].nbytes,
                "scale_factor": gen.PAPER_HS_BYTES
                / self.gen.snapshot()[0].nbytes}


class SpatiotemporalBackfill(FlowWorkload):
    """Closed loop: each session writes ``gen.ST_FILES`` frame stacks
    into a fresh acquisition folder off the clock, then times one
    ``spatiotemporal_flow`` call over that folder."""

    name = "spatiotemporal_backfill"
    flow_fn_name = "spatiotemporal_flow"

    def _session(self, tag: str, session: int, n_files: int):
        acq = os.path.join(self.work, "st", f"{tag}-{session:03d}")
        os.makedirs(acq)
        files = {}
        for i in range(n_files):
            data = gen.st_file(self.seed, session, i)
            path = os.path.join(acq, f"stack-{i:02d}.emd")
            gen.write_atomic(path, data)
            files[path] = (checks.hashlib.sha256(data).hexdigest(), len(data))
        return acq, files

    def _warm_up(self, k: int) -> None:
        acq, _ = self._session("warm", k, gen.ST_FILES)
        res, _ = self.flow(acq, os.path.join(self.work, "st", f"warm-cat-{k}"),
                           run_id=f"st-warm-{k}")
        self._frame_stats(res)

    def setup(self) -> None:
        concurrently(self._warm_up, [(k,) for k in range(WARM_THREADS)])

    def _frame_stats(self, res) -> list:
        from pyspark.sql import functions as F
        px = res.analysis["frames_px"]
        return [tuple(r) for r in px.groupBy("path", "t").agg(
            F.min("px"), F.max("px"), F.count("*")).collect()]

    def measure(self, seconds: float) -> None:
        self.catalog = os.path.join(self.work, "st", "catalog")
        self.files: dict[str, tuple[str, int]] = {}
        self.frame_stats: list = []
        self.file_call: dict[str, int] = {}
        busy = 0.0
        while busy < seconds:
            s = len(self.calls)
            acq, files = self._session("acq", s, gen.ST_FILES)
            res, span = self.flow(acq, self.catalog, run_id=f"st-{s}")
            t_end = time.monotonic()
            man, docs = _collect_result(res)
            busy += span.wall
            self.calls.append(FlowCall(
                span, t_end, res.step_events, man, docs,
                new_bytes=sum(files.get(checks.norm_path(p), ("", 0))[1]
                              for p, _ in man),
                cells=len(man) * math.prod(gen.ST_STACK)))
            self.files.update(files)
            self.file_call.update({p: s for p in files})
            self.frame_stats += self._frame_stats(res)

    def check(self):
        written = {p: sha for p, (sha, _) in self.files.items()}
        status = checks.check_watch(
            written, [c.manifest for c in self.calls],
            [c.docs for c in self.calls],
            _read_catalog(self.spark, self.catalog))
        frames = checks.check_frames(
            {p: gen.ST_STACK for p in self.files}, self.frame_stats)
        errs = [f"{p}: {s}" for p, s in sorted(status.items()) if s == "wrong"]
        errs += [f"{p}: frames" for p, ok in sorted(frames.items()) if not ok]
        rows = sum(n for *_, n in self.frame_stats)
        if rows != len(self.files) * math.prod(gen.ST_STACK):
            errs.append(f"px rows {rows} != sum of T*X*Y")
        errs += self.check_analyzer(self.calls)
        failed = sum(status[p] != "ok" or not frames[p] for p in self.files)
        return not errs, len(self.files), failed, errs

    def metrics(self) -> dict[str, float]:
        lat = [self.calls[s].span.wall for s in self.file_call.values()]
        busy = sum(c.span.wall for c in self.calls)
        total = sum(n for _, n in self.files.values())
        return {"latency_p50_s": checks.percentile(lat, 50),
                "latency_p90_s": checks.percentile(lat, 90),
                "throughput_mb_s": total / 1e6 / busy}

    def layers(self, log: EventLog) -> dict[str, float]:
        out = self.flow_layers(log)
        out["watch.backlog_max_files"] = 0
        out["watch.generator_late_max_s"] = 0.0
        return out

    def summary(self) -> dict:
        nbytes = next(iter(self.files.values()))[1]
        return {"sessions": len(self.calls), "files": len(self.files),
                "file_bytes": nbytes,
                "scale_factor": gen.PAPER_ST_BYTES / nbytes}


# --------------------------------------------------------------------------
# corpus curation


#: bench.py's production parameters for the two dedup keys.
JACCARD = {"k": 3, "threshold": 0.5, "max_df": 50}
SIMHASH = {"max_hamming": 6}


@dataclass
class Pass:
    curate: Span
    jaccard: Span
    simhash: Span
    funnel: list
    kept: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.simhash.end - self.curate.start


class CorpusCuration:
    """Closed loop: each pass runs ``curate_documents`` with all seven
    stages, then ``jaccard_pairs`` and ``simhash_dedup`` (each to a
    ``noop`` sink) over a seeded corpus."""

    name = "corpus_curation"
    # A pass is bound by driver-side planning of ~100 jobs, whose JIT
    # keeps improving for several passes. The warm-up runs concurrent
    # passes over corpora of other seeds (one over 40 docs), so every
    # run times the same thing: the first passes over the seed's corpus
    # after them.
    warm_docs = (40,) + (gen.CORPUS_DOCS,) * (WARM_THREADS - 1)

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer = Tracer(spark)
        self.passes: list[Pass] = []
        self.pin = None
        self._sources: list[tuple[gen.Corpus, str]] = []

    def _source(self, corpus: gen.Corpus) -> str:
        """The corpus tables as parquet files, written once per corpus
        with pyarrow (no Spark job)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        src = next((p for c, p in self._sources if c is corpus), None)
        if src is None:
            src = os.path.join(self.work, "cur", f"src-{len(self._sources)}")
            ids, texts, urls = zip(*corpus.docs)
            bench_ids, bench_texts = zip(*corpus.bench)
            for name, cols in (("docs", {"doc_id": ids, "text": texts,
                                         "url": urls}),
                               ("bench", {"doc_id": bench_ids,
                                          "text": bench_texts})):
                os.makedirs(os.path.join(src, name))
                pq.write_table(pa.table({k: pa.array(
                    v, pa.int64() if k == "doc_id" else pa.string())
                    for k, v in cols.items()}),
                    os.path.join(src, name, "part-0.parquet"))
            self._sources.append((corpus, src))
        return src

    def _tables(self, corpus: gen.Corpus, tag: str):
        """A fresh copy of the corpus tables: a new path gives new
        plans, so no pass is served intermediates that an earlier pass
        left cached."""
        dst = os.path.join(self.work, "cur", tag)
        shutil.copytree(self._source(corpus), dst)
        return (self.spark.read.parquet(os.path.join(dst, "docs")),
                self.spark.read.parquet(os.path.join(dst, "bench")))

    def _pass(self, corpus: gen.Corpus, tag: str) -> Pass:
        """One pass over a fresh copy of the corpus tables."""
        from picoprobedataflow_spark import flows
        from picoprobedataflow_spark.functions.scalar import fast_hash64
        from picoprobedataflow_spark.operators import dedup as DD

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        self.docs, self.bench = docs, bench = self._tables(corpus, tag)

        res, cur = self.tracer.call(
            "curate", flows.curate_documents, docs, bench_docs=bench,
            url_col="url", domain_quota=corpus.domain_quota,
            token_budget=corpus.token_budget)
        _, jac = self.tracer.call("jaccard", lambda: noop(DD.jaccard_pairs(
            docs, shingle_hash=fast_hash64, **JACCARD)))
        _, sim = self.tracer.call("simhash", lambda: noop(DD.simhash_dedup(
            docs, hash_fn=fast_hash64, **SIMHASH)))
        p = Pass(cur, jac, sim, list(res.funnel))
        p.kept = [tuple(r) for r in
                  res.kept.select("doc_id", "text", "url").collect()]
        return p

    def setup(self) -> None:
        self.pin = load_pins().get(str(self.seed))
        warm = [gen.corpus(self.seed + 7919 + i, n_docs=n)
                for i, n in enumerate(self.warm_docs)]
        for c in warm:
            self._source(c)
        concurrently(self._pass, [(c, f"warm-{i}") for i, c in enumerate(warm)])
        self.corpus = gen.corpus(self.seed)
        self._source(self.corpus)

    def measure(self, seconds: float) -> None:
        busy = 0.0
        while busy < seconds:
            p = self._pass(self.corpus, f"pass-{len(self.passes)}")
            self.passes.append(p)
            busy += p.wall

    def check(self):
        from picoprobedataflow_spark.functions.scalar import fast_hash64
        from picoprobedataflow_spark.operators import dedup as DD
        c = self.corpus
        pairs_in = [(d, t) for d, t, _ in c.docs]
        jac = {tuple(r) for r in DD.jaccard_pairs(
            self.docs, shingle_hash=fast_hash64, **JACCARD).select(
            "doc_a", "doc_b", "n_common", "n_a", "n_b").collect()}
        sim = {tuple(r) for r in DD.simhash_dedup(
            self.docs, hash_fn=fast_hash64, **SIMHASH).select(
            "doc_a", "doc_b", "hamming").collect()}
        shared = []
        if jac != checks.jaccard_pairs(pairs_in, JACCARD["k"],
                                       JACCARD["threshold"], JACCARD["max_df"]):
            shared.append("jaccard pair set differs from the recomputation")
        if sim != checks.simhash_pairs(pairs_in, SIMHASH["max_hamming"]):
            shared.append("simhash pair set differs from the recomputation")
        self.digests = {"jaccard": checks.digest(jac),
                        "simhash": checks.digest(sim),
                        "jaccard_pairs": len(jac), "simhash_pairs": len(sim)}
        pin = self.pin
        bench_texts = {t for _, t in c.bench}
        errs, failed = list(shared), 0
        for i, p in enumerate(self.passes):
            e = checks.check_funnel(p.funnel, len(c.docs), FUNNEL)
            e += checks.check_kept(p.kept, bench_texts, gen.domain_of,
                                   c.domain_quota, c.token_budget)
            if [n for _, n in p.funnel] != [n for _, n in self.passes[0].funnel]:
                e.append("funnel differs from the first pass")
            if pin and [n for _, n in p.funnel] != pin["funnel"]:
                e.append(f"funnel {p.funnel} != pinned {pin['funnel']}")
            errs += [f"pass {i}: {x}" for x in e]
            failed += bool(e or shared)
        if pin and (self.digests["jaccard"], self.digests["simhash"]) != (
                pin["jaccard"], pin["simhash"]):
            errs.append("pair-set digests differ from the pinned ones")
            failed = len(self.passes)
        return not errs, len(self.passes), failed, errs

    def unit_walls(self) -> list[float]:
        return [p.wall for p in self.passes]

    def metrics(self) -> dict[str, float]:
        walls = self.unit_walls()
        return {"latency_p50_s": checks.percentile(walls, 50),
                "latency_p90_s": checks.percentile(walls, 90),
                "throughput_mb_s": self.corpus.text_bytes / 1e6
                / checks.median(walls)}

    def layers(self, log: EventLog) -> dict[str, float]:
        out: dict[str, float] = {}
        stage_t = {s: [] for s in FUNNEL}
        sub = {s: {k: [] for k in SUB_KEYS} for s in FUNNEL + DEDUP}
        unit = {k: [] for k in SPARK_KEYS}
        ded = {d: {"wall_s": [], "shuffle_records": [],
                   "shuffle_write_bytes": [], "executor_cpu_s": []}
               for d in DEDUP}
        self.segmented = 0
        for p in self.passes:
            spans = {"curate": p.curate, "jaccard": p.jaccard,
                     "simhash": p.simhash}
            jobs = [j for s in spans.values() for j in log.jobs_of(s.span_id)]
            st = span_stats(jobs, p.curate.start, p.simhash.end)
            for k in SPARK_KEYS:
                unit[k].append(st[k])
            for d in DEDUP:
                s = spans[d]
                ss = span_stats(log.jobs_of(s.span_id), s.start, s.end)
                ded[d]["wall_s"].append(s.wall)
                for k in ("shuffle_records", "shuffle_write_bytes",
                          "executor_cpu_s"):
                    ded[d][k].append(ss[k])
                for k in SUB_KEYS:
                    sub[d][k].append(ss[k])
            wins = stage_windows(log.counts_of(p.curate.span_id),
                                 p.curate.start, [s for s, _ in p.funnel])
            if wins is None:
                continue
            self.segmented += 1
            for name, lo, hi in wins:
                stage_t[name].append(hi - lo)
                ss = span_stats(log.jobs_of(p.curate.span_id, lo, hi), lo, hi)
                for k in SUB_KEYS:
                    sub[name][k].append(ss[k])
        for s in FUNNEL:
            out[f"curation.{s}_s"] = _median(stage_t[s])
            out[f"curation.{s}_rows"] = dict(self.passes[0].funnel).get(s, 0)
        for s in FUNNEL + DEDUP:
            for k in SUB_KEYS:
                out[f"spark.{s}.{k}"] = _median(sub[s][k])
        for d in DEDUP:
            for k, v in ded[d].items():
                out[f"dedup.{d}.{k}"] = _median(v)
        for k in SPARK_KEYS:
            out[f"spark.{k}"] = _median(unit[k])
        return out

    def summary(self) -> dict:
        return {"passes": len(self.passes), "docs": len(self.corpus.docs),
                "bench_docs": len(self.corpus.bench),
                "text_bytes": self.corpus.text_bytes,
                "token_budget": self.corpus.token_budget,
                "funnel": self.passes[0].funnel if self.passes else [],
                "digests": getattr(self, "digests", {}),
                "pinned": self.pin is not None,
                "stage_segmented_passes": getattr(self, "segmented", None)}


PINS = os.path.join(os.path.dirname(__file__), "pins.json")


def corpus_params() -> dict:
    """The generator settings the pinned counts and digests hold for."""
    return {"docs": gen.CORPUS_DOCS, "bench": gen.BENCH_SAMPLE,
            "jaccard": JACCARD, "simhash": SIMHASH}


def load_pins() -> dict[str, dict]:
    """Funnel counts and pair-set digests pinned per seed by
    ``perfbench/pin.py``. Raises when they were pinned for other
    generator or dedup settings, so that a change to those settings
    forces a deliberate re-pin instead of silently dropping the check."""
    with open(PINS) as f:
        pins = json.load(f)
    if pins["params"] != corpus_params():
        raise ValueError(f"{PINS} was pinned for {pins['params']}, not "
                         f"{corpus_params()}; re-pin with perfbench/pin.py")
    return pins["seeds"]


WORKLOADS = {w.name: w for w in (HyperspectralWatch, SpatiotemporalBackfill,
                                 CorpusCuration)}
