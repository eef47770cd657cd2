"""Paper-shaped benchmark for picoprobedataflow_spark.

Run from the repository root:

    python3 perfbench/run.py --workload hyperspectral_watch \\
        --seed 1 --seconds 6 --trace 0

Workloads: ``hyperspectral_watch`` (open-loop file drops into one
watched directory), ``spatiotemporal_backfill`` (closed-loop frame
stack sessions) and ``corpus_curation`` (closed-loop curation funnel
plus the Jaccard and SimHash dedup keys). See ``perfbench/NOTES.md``.

One process runs everything on ``local[<cores>]``. With ``--trace 0``
the last stdout line reports the end-to-end metrics; with
``--trace 1`` the session writes Spark's event log and the line
reports the per-layer metrics, attributed to the spans opened around
each public call. Every run also writes a machine-readable report to
``.perfbench_run/reports/``; a traced run's report adds the
per-layer table and ``trace_overhead_share``, the traced median call
time against the untraced reports of the same engine tree, seed and
seconds (null when there are none). Scratch files live under
``.perfbench_run/work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import sys
import threading
import time

T_START = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
REPORTS = os.path.join(RUN_DIR, "reports")

DRIVER_MEMORY = "2g"
E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "latency_p50_s": "s",
             "latency_p90_s": "s", "throughput_mb_s": "MB/s"}


# --------------------------------------------------------------------------
# process tree


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak RSS of this process and all its descendants (the driver
    JVM and the Python workers), sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.2):
        self.period, self.peak = period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        self.peak = max(self.peak, sum(_rss_bytes(p)
                                       for p in [me, *descendants(me)]))

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return False


def stop_spark(spark) -> None:
    """Stop the session, close the JVM's stdin so it exits, and wait
    for the JVM and every Python worker to end."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    procs = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 15
    while time.time() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        os.kill(p, signal.SIGKILL)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# --------------------------------------------------------------------------
# run


def session(work: str, trace: bool):
    """The engine's tuned session on ``local[<cores>]``, with every
    scratch file under ``work``."""
    from picoprobedataflow_spark.session import get_spark
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}",
        "spark.ui.showConsoleProgress": "false",
        # A fixed-size, small heap (initial = maximum) keeps the
        # process-tree RSS comparable run to run; the 8g default grows
        # and shrinks with GC timing.
        "spark.driver.memory": DRIVER_MEMORY,
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + log_dir})
    cores = len(os.sched_getaffinity(0))
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     extra_conf=conf)


def tree_hash() -> str:
    """Short digest of the engine's source tree, so that reports of
    different trees are never compared."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "picoprobedataflow_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for name in sorted(files):
            if name.endswith(".pyc"):
                continue
            path = os.path.join(d, name)
            h.update(os.path.relpath(path, pkg).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


def untraced_unit_median(prefix: str) -> float | None:
    """Median per-call wall time over the correct untraced reports of
    the same tree, workload, seed and seconds; None when there is
    none."""
    from perfbench.checks import median
    vals = []
    for path in glob.glob(os.path.join(REPORTS, f"{prefix}-trace0-*.json")):
        with open(path) as f:
            rep = json.load(f)
        if rep.get("correct"):
            vals.append(rep["unit_wall_median_s"])
    return median(vals) if vals else None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # Turn SIGTERM into SystemExit so the session and its JVM are
    # stopped in the finally block below.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "picoprobedataflow_spark")):
        print(f"picoprobedataflow_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import checks
    from perfbench.trace import EventLog
    from perfbench.workloads import WORKLOADS, FlowWorkload, layer_units
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    prefix = (f"{args.workload}-{tree_hash()}-seed{args.seed}"
              f"-sec{args.seconds:g}")
    tag = f"{prefix}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(RUN_DIR, "work", tag)
    os.makedirs(REPORTS, exist_ok=True)
    spark = None
    try:
        spark = session(work, bool(args.trace))
        phases = {"session": time.time() - T_START}
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        wl.setup()
        setup_s = time.time() - T_START
        phases["warm_up"] = setup_s - phases["session"]
        with RssSampler() as rss:
            wl.measure(args.seconds)
        phases["measure"] = time.time() - T_START - setup_s
        correct, attempted, failed, errors = wl.check()
        phases["check"] = time.time() - T_START - setup_s - phases["measure"]
        e2e = {"setup_s": setup_s, "peak_rss_mb": rss.peak / 1e6,
               **wl.metrics()}
        unit_walls = wl.unit_walls()
        t_stop = time.time()
        stop_spark(spark)
        spark = None
        phases["stop"] = time.time() - t_stop
        report = {"workload": args.workload, "seed": args.seed,
                  "seconds": args.seconds, "trace": args.trace,
                  "correct": correct, "attempted": attempted,
                  "failed": failed, "errors": errors[:50],
                  "end_to_end": e2e, "phases_s": phases,
                  "unit_wall_median_s": checks.median(unit_walls),
                  "unit_walls_s": unit_walls}
        if args.trace:
            units = layer_units()
            layers = dict.fromkeys(units, 0.0)
            layers.update(wl.layers(EventLog(os.path.join(work, "eventlog"))))
            untraced = untraced_unit_median(prefix)
            report["untraced_unit_wall_median_s"] = untraced
            report["trace_overhead_share"] = (
                report["unit_wall_median_s"] / untraced - 1.0
                if untraced else None)
            report["per_layer"] = layers
            if isinstance(wl, FlowWorkload):
                report["flow_calls"] = wl.step_sums()
                report["paper_comparison"] = wl.paper_table()
            metrics = {k: {"value": layers[k], "unit": u}
                       for k, u in units.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u}
                       for k, u in E2E_UNITS.items()}
        report["inputs"] = wl.summary()
        with open(os.path.join(REPORTS, tag + ".json"), "w") as f:
            json.dump(report, f, indent=1, default=str)
        for e in errors[:20]:
            print(f"check: {e}", file=sys.stderr)
        if args.trace:
            print(f"trace_overhead_share: {report['trace_overhead_share']}",
                  file=sys.stderr)
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
