"""SparkSession construction with scale-appropriate defaults.

Single place where engine-wide Spark configuration lives so tests, bench and
the driver entry all run with identical semantics (UTC session timezone,
AQE on, Arrow on, ns-parquet readable).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs that are safe to set on an already-running session (runtime confs).
RUNTIME_CONFS: dict[str, str] = {
    # NOTE on the driver's nanos-parquet `events.ts`: on PySpark 4.1.x it
    # always reads as TIMESTAMP_NTZ (truncated to µs); the old
    # spark.sql.legacy.parquet.nanosAsLong escape hatch is inert on this
    # build (verified empirically — static or runtime, ts arrives NTZ), so
    # TIMESTAMP_NTZ is the engine's canonical type for that column.
    # Consumers that need epoch seconds must go NTZ→LTZ first:
    # cast("timestamp").cast("double") (see streaming.incremental.sessionize).
    #
    # oracle comparison runs against DuckDB whose timestamps are UTC-naive.
    "spark.sql.session.timeZone": "UTC",
    # runtime re-planning: partition coalescing and skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas UDFs / toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet writes: zstd (guide §6) — measured at sf1.0 (r14 codec A/B,
    # SCALING.md): 21% smaller files than snappy at equal-or-faster write
    # and scan wall.  Write-side only; reads are codec-agnostic, so the
    # driver's testdata inputs and every oracle are untouched.
    "spark.sql.parquet.compression.codec": "zstd",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply engine-required runtime confs to an externally-created session.

    The correctness driver owns its own SparkSession; this makes any session
    behave like ours for everything that can be changed post-start.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # static conf on this build — session-level default still applies
            pass
    return spark


def get_spark(
    app_name: str = "eodatadown_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    local[N] is a test harness detail; the same configs are what we would
    ship on a real cluster (AQE, UTC, Arrow), with shuffle partitions sized
    to cores locally and to ~2-3x total cores on a cluster.

    ``checkpoint_dir`` (or $SPARK_GRAFT_CHECKPOINT_DIR) configures RELIABLE
    checkpoints: every operator ``_pin`` (iterative clustering state, pinned
    pair sets) then uses ``df.checkpoint`` — recompute-safe across executor
    loss — instead of ``localCheckpoint``, whose blocks die with their
    executor.  On a 1000-executor run this is the difference between a
    retried stage and a dead job; point it at durable storage (HDFS/S3).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Shuffle codec is a STATIC conf, parameterised for cluster deploys
    # (r14 codec A/B at sf1.0, SCALING.md): zstd shuffles ~30% fewer
    # bytes but costs 10-20% wall at local[N], where shuffle never
    # crosses a NIC — so the LOCAL default stays lz4 (and the driver's
    # bench stays comparable), while a network-bound cluster sets
    # SPARK_GRAFT_IO_CODEC=zstd to trade that CPU for 30% less traffic.
    io_codec = os.environ.get("SPARK_GRAFT_IO_CODEC")
    if io_codec:
        builder = builder.config("spark.io.compression.codec", io_codec)
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    checkpoint_dir = checkpoint_dir or os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if checkpoint_dir:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
    return apply_runtime_confs(spark)
