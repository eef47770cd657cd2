"""The streaming-loop kit: the one copy of the plumbing every
``foreachBatch`` loop in this package shares — the watcher →
checkpoint → per-batch flow loop (picoprobe/utils.py:97-131) with
its state moved from an in-memory seen-set to parquet tables.

- state: :func:`read_params` / :func:`ensure_params` pin the
  parameters a state dir was built with; :func:`read_state` and
  :func:`write_epoch` read and write per-epoch partitions;
  :func:`batch_anti_state` subtracts state from a batch without
  shuffling the state; :func:`fs_list` lists any Spark-readable URI.
- loops: :func:`start_epoch_loop` is the one writer block
  (foreachBatch → checkpoint → availableNow or a 1 s poll);
  :func:`await_drain` is the one bounded wait; :func:`drain_gate` is
  the stateless per-batch gate (score a micro-batch, append it with
  its ``batch_id``).

Contract of every epoch loop built on the kit: state is partitioned
by epoch with dynamic overwrite, a loop writes its outputs (pairs,
kept rows) BEFORE its state, and every state read passes
``before_epoch=epoch_id`` — so a replayed epoch recomputes against
pre-epoch state and overwrites only its own partitions.

Depends on pyspark and the standard library only.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

PARAMS_SCHEMA = "key string, value string"


def _local_path_or_none(path: str) -> str | None:
    """The local filesystem path a URI denotes, or None when it is
    REMOTE (scheme other than ``file``/empty, or a ``file://host/…``
    authority naming another machine). Round-17 ADVICE fix: the
    previous ``'file://'`` prefix-slice + ``'://'`` regex missed the
    single-slash ``file:/tmp/x`` rendering (a common Hadoop Path
    form) and authority URIs — both fell through to
    ``os.path.isdir`` on the RAW string and silently read as absent,
    the exact failure mode the round-16 remote-FS fix closed.
    Parsed with ``urlsplit``; a one-letter 'scheme' is treated as a
    path (drive-letter-style strings, never a real URI scheme). The
    path is NOT percent-decoded: the common Hadoop renderings are
    unencoded strings, and decoding would corrupt a local directory
    whose name contains a literal ``%hh`` sequence (self-review
    find on the first cut of this fix)."""
    parts = urlsplit(path)
    if len(parts.scheme) <= 1:            # no scheme (or drive-ish)
        return path
    if parts.scheme != "file":
        return None
    if parts.netloc not in ("", "localhost"):
        return None                        # authority = remote host
    return parts.path or "/"


def fs_list(spark: SparkSession, path: str) -> list[str] | None:
    """Child entry NAMES of ``path`` via the Hadoop FileSystem API,
    or ``None`` when the path does not exist. Round-16 ADVICE fix:
    the state helpers previously probed with ``os.path.isdir`` /
    ``os.listdir``, so a ``state_dir`` on a non-local filesystem
    (hdfs://, s3a://) silently read as ABSENT — every epoch-pick
    returned None and state reads degraded to empty, a silent
    correctness/performance degradation. Resolving through the
    JVM-side FileSystem makes remote URIs either work or fail loudly
    (an unknown scheme raises from ``getFileSystem``).

    Spark Connect sessions have no ``_jvm`` (round-16 review find —
    an unconditional ``_jvm`` probe would have regressed Connect
    users with LOCAL state dirs, who worked fine under the old
    os-probe): schemeless and ``file:`` paths fall back to the
    os-level probe, and a REMOTE URI under Connect raises
    NotImplementedError rather than silently reading as absent."""
    try:
        jvm = spark._jvm
        jconf = spark._jsc.hadoopConfiguration()
    except Exception:
        jvm = None
    if jvm is None:
        local = _local_path_or_none(path)
        if local is None:
            raise NotImplementedError(
                f"remote state path {path!r} needs a classic "
                f"(non-Connect) session: Spark Connect exposes no "
                f"Hadoop FileSystem handle to list it")
        if not os.path.isdir(local):
            return None
        return os.listdir(local)
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jconf)
    if not fs.exists(hpath):
        return None
    return [st.getPath().getName() for st in fs.listStatus(hpath)]


def fn_name(fn) -> str:
    """Stable cross-process identity string for a hash callable —
    the params-pin currency. ``module.qualname`` is stable where a
    bare ``repr`` embeds a memory address (round-16 review find: a
    ``functools.partial`` pinned its address and every legitimate
    resume then failed). Unnamed callables — including LAMBDAS
    (round-17 ADVICE fix: two different lambdas defined at the same
    site share a ``<locals>.<lambda>`` qualname, so a CHANGED lambda
    hash_fn would resume silently under a name that looks specific)
    — pin a generic marker: the guard cannot distinguish two
    anonymous functions, which is documented — give custom hash
    functions a real ``__name__``."""
    mod = getattr(fn, "__module__", None)
    qual = getattr(fn, "__qualname__", None) or getattr(
        fn, "__name__", None)
    if qual is None or "<lambda>" in qual:
        return "custom:unnamed"
    return f"{mod}.{qual}" if mod else qual


def read_params(spark: SparkSession,
                state_dir: str) -> dict[str, str] | None:
    """The hyper-parameters persisted with a stream's state dir, or
    None before the first run. Round 16 — the CMS-geometry ADVICE
    fix generalized: any loop whose STATE ENCODING depends on its
    parameters (minhash signatures on num_hashes/k/band_size/hash
    function, substring fingerprints on the window grain, rank
    vectors on damping, IVF cells on the centroid set) must refuse
    to resume under different values — old and new state rows would
    silently mix two incompatible encodings, each epoch still
    'succeeding'. Policy knobs that only gate FUTURE admissions
    (quality thresholds, quotas) are deliberately not pinned."""
    pdir = os.path.join(state_dir, "params")
    if fs_list(spark, pdir) is None:
        return None
    got = {r.key: r.value for r in
           spark.read.schema(PARAMS_SCHEMA).parquet(pdir).collect()}
    # A half-written params dir (directory created, rows never
    # landed — a crash mid-first-write) reads as ABSENT, not as an
    # empty parameter set: every caller persists a non-empty dict,
    # so {} can only mean the write never completed and the next
    # run should redo it rather than report a spurious mismatch.
    return got or None


def ensure_params(spark: SparkSession, state_dir: str,
                  params: dict[str, str],
                  stale: bool = False) -> None:
    """Persist the state-identity parameters on first run; on a
    resumed state dir, reject any change loudly BEFORE the stream
    starts (see :func:`read_params`). ``stale=True`` says the caller
    verified the state the params describe NO LONGER EXISTS (e.g. an
    index dir that keeps its params in a sibling directory was
    deleted for a rebuild — round-17 ADVICE fix): the pin is then
    overwritten instead of checked, since a mismatch against a ghost
    of deleted state would block a legitimate fresh build."""
    existing = None if stale else read_params(spark, state_dir)
    if existing is not None:
        if existing != params:
            raise ValueError(
                f"stream state parameter mismatch under "
                f"{state_dir}: state was built with {existing}, "
                f"caller asked for {params}")
        return
    (spark.createDataFrame(sorted(params.items()), PARAMS_SCHEMA)
     .coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(state_dir, "params")))


def read_state(spark: SparkSession, path: str, schema: str,
               before_epoch: int | None = None) -> DataFrame:
    """Accumulated state table; typed-empty before the first epoch.

    ``before_epoch`` restricts the read to partitions written by
    EARLIER epochs (round-14 review fix): a replayed epoch (crash
    after its state write, before the streaming checkpoint commit)
    otherwise reads its OWN partial partitions back as prior state —
    the exact corruption the 'recompute against pre-epoch state'
    contract forbids. Every foreachBatch loop in this package passes
    its epoch_id here."""
    if fs_list(spark, path) is not None:
        df = spark.read.schema(schema + ", epoch long").parquet(path)
        if before_epoch is not None:
            df = df.filter(F.col("epoch") < before_epoch)
        return df.drop("epoch")
    return spark.createDataFrame([], schema)


def write_epoch(df: DataFrame, path: str, epoch_id: int) -> None:
    """Write ``df`` as the ``epoch=epoch_id`` partition of ``path``
    with dynamic overwrite: a replayed epoch replaces its own
    partition instead of appending duplicates."""
    (df.withColumn("epoch", F.lit(epoch_id))
       .write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy("epoch")
       .parquet(path))


def batch_anti_state(batch: DataFrame, state: DataFrame,
                     keys: list[str],
                     batch_keys: DataFrame | None = None
                     ) -> DataFrame:
    """``batch ∖ state`` on ``keys`` WITHOUT shuffling the
    accumulated state (round 17 — the incremental-PageRank epoch
    fix generalized to every loop): a direct
    ``batch.join(state, keys, "left_anti")`` shuffles BOTH sides on
    the keys — O(accumulated state) per epoch where the loops'
    contract is per-epoch-∝-batch. Instead the (small, broadcast)
    batch key set semi-joins against the state MAP-SIDE — the state
    is scanned, never exchanged — producing the ≤-batch-rows set of
    keys already present, and the anti join then runs
    broadcast-small against that. Plan: two BroadcastHashJoins,
    zero state-side Exchanges (pinned in
    tests/test_scale_patterns.py).

    ``batch_keys`` optionally supplies an already-deduplicated
    keys-only frame (e.g. the caller's existing
    ``select(key).distinct()``) to skip the derivation — REQUIRED
    when ``batch`` is wide (doc rows with text): deriving keys from
    it is fine, but passing the wide frame itself through the first
    broadcast would ship the payload columns. The batch side is
    broadcast-size by the streaming contract (micro-batches arrive
    at ingest cadence, not corpus scale) — with ONE caveat worth
    stating: a first-run BACKFILL under ``availableNow`` with no
    source rate limit drains the whole backlog as giant batches.
    Set ``maxFilesPerTrigger``/``maxBytesPerTrigger`` on the source
    (``availableNow`` respects them, splitting the backlog into
    bounded batches — the S1 watch source does); a batch past the
    8 GB broadcast ceiling fails LOUDLY at the BroadcastExchange,
    never silently wrong."""
    if batch_keys is None:
        batch_keys = batch.select(*keys).distinct()
    present = (state.select(*keys)
               .join(F.broadcast(batch_keys), keys, "left_semi"))
    return batch.join(F.broadcast(present), keys, "left_anti")


def start_epoch_loop(stream: DataFrame,
                     process: Callable[[DataFrame, int], None],
                     checkpoint_dir: str,
                     available_now: bool) -> StreamingQuery:
    """Start ``process(batch, epoch_id)`` over ``stream`` with its
    offsets checkpointed under ``checkpoint_dir``.
    ``available_now=True`` drains everything pending, then stops (the
    backfill / test mode); ``False`` polls every second (the
    reference watcher's 1 s loop)."""
    writer = (stream.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="1 second")
    return writer.start()


def await_drain(query: StreamingQuery, timeout: int, what: str) -> None:
    """Wait up to ``timeout`` seconds for a drain to finish; on
    timeout stop the query and raise, so a caller never reads a
    partial output table as complete."""
    if not query.awaitTermination(timeout):
        query.stop()
        raise TimeoutError(f"{what} did not finish in {timeout}s")


def drain_gate(spark: SparkSession, src_dir: str,
               schema: StructType | str, ckpt_dir: str, out_dir: str,
               score: Callable[[DataFrame], DataFrame],
               timeout: int, what: str) -> None:
    """Drain every file pending in ``src_dir`` through a stateless
    per-batch gate: each micro-batch's ``score(batch)`` rows append
    to ``out_dir`` with its ``batch_id``. A replayed batch re-appends
    identical rows — readers dedupe on ``batch_id``."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        (score(batch_df)
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(out_dir))

    q = start_epoch_loop(spark.readStream.schema(schema).parquet(src_dir),
                         _process, ckpt_dir, available_now=True)
    await_drain(q, timeout, what)
