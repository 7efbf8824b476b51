"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]`` (one JVM); the configs below are
chosen so the *same logical plans* scale to a real cluster:

- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switches are the 100 TB safety net.
- ``spark.sql.shuffle.partitions`` ≈ cores locally; on a cluster this
  is superseded by AQE's coalescing from a high initial value.
- UTC session timezone so results hash-match the DuckDB oracle
  (DuckDB timestamps are UTC-naive).
- Arrow enabled for any Pandas-UDF path (vectorized slow path).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Default parallelism: honor the driver's CPU knob, fall back to all cores.
_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)


def get_spark(
    app_name: str = "mi_inbound_pulsar_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    ``extra_conf`` is applied last, so it overrides any default below,
    e.g. the 128 KB ``spark.sql.files.openCostInBytes``."""
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{_CPUS}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or _CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Scan-split floor (round 12): Spark sizes file splits as
        # min(maxPartitionBytes, max(openCostInBytes, bytes/cores)),
        # so openCostInBytes FLOORS the split size whenever the input
        # is small relative to the core count. The 4 MB default is a
        # spinning-disk-era estimate of per-file open cost; with it, a
        # 10.8 MB parquet table scans as ≤3 tasks and every
        # scan-adjacent stage runs near-serial regardless of cores.
        # 128 KB reflects measured open overhead on page-cached zstd
        # parquet and lets the bytes/cores term govern (a 10.8 MB scan
        # splits ~32 ways on 32 cores, a 100 TB scan is unaffected —
        # bytes/cores dominates the floor there). Interleaved 28-query
        # A/B at sf0.1: 59.5 s → 54.1 s total-of-mins. Deployments where
        # file-open cost is genuinely high (cold object stores, many tiny
        # files) pass their own value through ``extra_conf``.
        .config("spark.sql.files.openCostInBytes", "131072")
        # plans/iterate.eager_checkpoint falls back to RELIABLE
        # checkpoints on cluster masters / under dynamic allocation;
        # without this, those checkpoint files are never deleted and a
        # long-lived session running the query library accumulates
        # unbounded checkpoint storage. With it, the ContextCleaner
        # removes a checkpoint's files when its RDD is GC'd — the same
        # lifecycle localCheckpoint blocks already have.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
        # Long-lived sessions run thousands of jobs (bench, sweeps); the
        # status store's retained execution/job/stage metadata otherwise
        # grows and taxes the listener bus — multi-job driver-side
        # queries (IVF collect→assign→probe) degrade measurably.
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        .config("spark.ui.retainedTasks", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
