"""SparkSession factory.

Single place where execution knobs live so every entry point (tests,
bench, driver contract) gets the same tuned session.

Scale posture: these configs are written for a real cluster; on
``local[N]`` they degrade gracefully. AQE handles runtime partition
coalescing and skew-join splitting at 100 TB; shuffle partitions are
set from the parallelism actually available rather than the 200
default (too many for local, far too few for a 1000-executor cluster —
on a real deployment AQE's coalescing makes a high initial number
safe).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Timezone is pinned to UTC so timestamp arithmetic matches the ANSI-SQL
# oracle (DuckDB) byte-for-byte; the reference strips timezones before
# epoch math the same way (flow_analyzer.py:199-204).
_BASE_CONFS: dict[str, str] = {
    # local[N] = single JVM: driver memory IS executor memory. The 1g
    # Spark default OOMs ~50k-doc dedup joins; but oversizing hurts too
    # (32g measured 2-3x slower than 8g on hash-heavy queries — G1
    # region/young-gen sizing). 8g clears the 10x stress suite with the
    # best GC behavior; override via SPARK_GRAFT_DRIVER_MEM.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Let AQE coalesce the output partitioning of persisted plans
    # (off by default only because cached partitioning is
    # user-visible). Iterative operators here persist per-round
    # intermediates (BPE merges, LM scores, signature tables); with
    # the default every map stage over a KB-sized cached frame
    # inherits the full shuffle-partition fan-out — measured 26% off
    # bpe_train/bpe_encode/bigram_lm at sf0.1 (32 tasks per ~16 KB
    # cached partition, ~50 sequential jobs). At corpus scale AQE
    # targets advisory-sized partitions, so parallelism is preserved;
    # caches whose downstream compute NEEDS a wider fan-out than
    # their byte size suggests re-spread explicitly
    # (operators/dedup.py:_spread_small_cached).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Parquet scans: vectorized reader + pushdown are on by default;
    # keep files from fragmenting into tiny tasks at small SF while
    # still splitting 100 TB inputs into ~128 MB units.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Let the planner pick shuffled-hash joins where the per-partition
    # build side fits (guide §3.1/§9): hash joins skip both sort
    # passes of sort-merge, AQE's skew splitting still applies, and
    # the interleaved A/B over the SortMergeJoin-bearing keys showed
    # 5-20% off chi2/ks/spam/tpch_gap/cdc with no loser. Sort-merge
    # remains available when size conditions don't hold.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
}


def get_spark(app_name: str = "picoprobedataflow_spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    ``*``) so the driver's bench harness controls parallelism.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_BASE_CONFS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
