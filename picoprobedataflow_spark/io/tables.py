"""Parquet table loaders for the test/bench star schema.

The driver materializes the tables listed in ``TESTDATA.md`` at
``/root/testdata/sf*/<name>.parquet``. Loading goes through
``spark.read.parquet`` so Catalyst owns predicate pushdown, column
pruning, and partition splitting — at 100 TB the same call reads a
partitioned directory tree and prunes partitions from the WHERE
clause for free.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: Tables small enough to broadcast in any realistic deployment
#: (dimension tables of the star schema). Used for join hints.
SMALL_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})

DEFAULT_SF_DIR = "/root/testdata/sf0.01"

#: Floor for the unsplittable-scan remedy below: tables whose file
#: bytes sit under this stay single-task — fanning a sf0.001/sf0.01
#: correctness fixture (tens of KB) out to 32 tasks is pure
#: scheduling overhead with nothing to parallelize.
_REPART_MIN_BYTES = 256 * 1024


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def parse_byte_size(value) -> int:
    """Spark size-conf string → bytes (the JavaUtils
    ``byteStringAsBytes`` grammar: optional k/m/g/t/p suffix with an
    optional trailing ``b``, binary multipliers; a bare number is
    bytes). Round-17 ADVICE find: both repartition gates parsed
    ``spark.sql.files.maxPartitionBytes`` with ``int()``, so a legal
    suffixed value ('128m') raised inside the gate's try block and
    the except silently disabled the single-task hot-path remedy."""
    s = str(value).strip().lower()
    m = re.fullmatch(r"(\d+)\s*([kmgtp]?)b?", s)
    if not m:
        raise ValueError(f"cannot parse byte size {value!r}")
    num, suffix = m.groups()
    return int(num) << {"": 0, "k": 10, "m": 20,
                        "g": 30, "t": 40, "p": 50}[suffix]


def fill_wave_bytes(spark: SparkSession) -> int:
    """The ONE break-even shared by every small-input re-spread gate
    (:func:`_scan_fill_repartition` here, the cached-frame re-spread
    in ``operators/dedup.py``): cores × maxPartitionBytes — the byte
    size below which a scan cannot produce one full-cluster wave of
    tasks at the configured split size. A single definition (VERDICT
    r17 #6) so the two gates cannot drift apart."""
    cores = spark.sparkContext.defaultParallelism
    max_pb = parse_byte_size(
        spark.conf.get("spark.sql.files.maxPartitionBytes",
                       "134217728"))
    return cores * max_pb


#: The corpus tables ELIGIBLE for the unsplittable-scan remedy —
#: whether a given call site takes it is the consumer's decision
#: (``scan_repart=True``), because the break-even is a property of
#: the CONSUMER's per-row work, not of the table: the round-17
#: 60-key interleaved A/B showed the exchange pays only on the
#: compute-dense chains (shingle/signature/winnow/kNN folds,
#: 1.3–2.9x) and is a strict loss on projection/aggregate consumers
#: (nfc 2.4x slower, zipf/outliers ~2x, the drift scoreboards
#: 1.2–1.45x). The relational star-schema facts are excluded
#: entirely (q1 0.74→1.44 s, sessionize 0.39→0.98 s).
_COMPUTE_DENSE = {"documents": "doc_id", "embeddings": "vec_id"}


def _scan_fill_repartition(spark: SparkSession, df: DataFrame,
                           name: str) -> DataFrame:
    """Unsplittable-input remedy (optimization guide §2.5): restore
    scan parallelism when the file layout cannot fill the cluster.

    The bench/test tables arrive as ONE single-row-group parquet file
    each, so the scan — and with it the whole row-local map chain the
    operators are built around (tokenize → shingle → hash/signature
    folds, the heaviest stages in the round-17 stage profile) —
    executes as ONE task however many cores the session has. Parquet
    splits align to row groups, so no split-size conf can fix this;
    the guide's remedy for an unsplittable input is to repartition
    immediately after the read.

    Three deliberate restrictions:

    - Only the compute-dense corpus tables take it (see
      :data:`_COMPUTE_DENSE`): the remedy pays exactly when per-row
      map work dominates the exchange it buys, which is a property
      of the table's consumers — measured ~40% off the minhash
      pipeline, strictly negative on the relational facts.
    - The partitioning is a DETERMINISTIC HASH of the table's unique
      id, not round-robin: every keyless ``repartition(n)`` pays a
      local sort of its input first (sort-before-repartition,
      SPARK-23207 — guide §2.5), which on the single-task scan is
      serialized exactly where we are trying to stop serializing.
      Hashing the unique id spreads evenly with no sort and keeps
      task retries deterministic.
    - The gate is derived from input statistics, not tuned to a
      scale: repartition only when the Catalyst size estimate (real
      file bytes for parquet) is below cores × maxPartitionBytes —
      i.e. exactly when the scan cannot produce one full-cluster
      wave of tasks even at the configured split size. At 100 TB the
      gate is false and the plan is untouched; shuffled bytes are
      bounded by the gate's own threshold.

    Filter/column pushdown still reaches the scan below the exchange
    (plan-pinned in tests/test_layout.py).
    """
    key = _COMPUTE_DENSE.get(name)
    if key is None:
        return df
    if os.environ.get("SPARK_GRAFT_SCAN_REPART", "1") == "0":
        return df
    try:
        size = int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
        cores = spark.sparkContext.defaultParallelism
        wave = fill_wave_bytes(spark)
    except Exception:
        return df
    if _REPART_MIN_BYTES < size < wave:
        return df.repartition(cores, df[key])
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str,
               scan_repart: bool = False) -> DataFrame:
    """Load one table. Schema comes from parquet footers (no inference).

    ``scan_repart=True`` opts a CALL SITE into the unsplittable-scan
    remedy. The remedy's break-even is a property of the consumer, not
    just the table, so it is opt-IN (round-17 session-2 A/B over all
    60 bench keys): the compute-dense tokenize/shingle/signature/
    vector-fold chains win 1.3–2.9x from the exchange, while
    projection/aggregate consumers (exact dedup, the drift
    scoreboards, nfc/zipf/outliers, packing windows) lose 1.2–2.4x —
    and the losers outnumber the winners. Winners pass True; results
    are identical either way (partitioning never changes values)."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    df = spark.read.parquet(table_path(sf_dir, name))
    if not scan_repart:
        return df
    return _scan_fill_repartition(spark, df, name)


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TABLE_NAMES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}
