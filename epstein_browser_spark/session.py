"""SparkSession set-up tuned for the extraction workload, and the one
scan-spread policy that sizes per-row work to the session's cores."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def get_spark(
    app_name: str = "epstein_browser_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Session with AQE, Arrow, UTC, and shuffle partitions sized to cores.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback 32).
    On a real cluster pass the cluster master / rely on spark-submit.
    ``shuffle_partitions`` defaults to the parallelism Spark itself reports
    for the master; ``extra_conf`` overrides any setting, this one included.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    extra_conf = extra_conf or {}
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size trades per-batch Python-worker roundtrip
        # overhead (wants bigger) against the kernels' numpy working set
        # per batch (wants smaller: N concurrent workers each hold
        # codepoint+mask arrays; past the shared-cache budget throughput
        # collapses). Measured on 32 cores with 37k-row input partitions:
        # 32768 → 28k turns/s, 8192 → 164k, 2048 → 178k — the r1 "32k is
        # best" reading was an artifact of 4.7k-row shuffle partitions
        # capping the REAL batch size; single-threaded the kernel is only
        # ~30% slower at 32k, so this is cache pressure, not algorithmic.
        # 8192 balances roundtrip overhead vs cache.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        # Whole-stage-codegen methods above HotSpot's DontCompileHugeMethods
        # threshold (8000 bytecode) NEVER JIT — the fused stage then runs in
        # the JVM *bytecode interpreter*, measurably slower than Spark's
        # Volcano path (q38 pair-verify: 22s fused-interpreted vs 6s after
        # fallback). Spark's default limit (65535) only rejects stages janino
        # itself cannot compile; 8000 makes Spark fall back to the Volcano
        # path exactly when the JIT would refuse the method. That fallback
        # is NOT neutral elsewhere: session-wide it cost q144 0.60× (and
        # q28/q54/q95 10–24%) in the round-6 paired benchmark. Scoping it to
        # the stages that need it is the ROADMAP "One parallelism/codegen
        # policy" item.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
    )
    if shuffle_partitions is not None:
        b = b.config(_SHUFFLE_PARTITIONS, str(shuffle_partitions))
    for k, v in extra_conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if shuffle_partitions is None and _SHUFFLE_PARTITIONS not in extra_conf:
        spark.conf.set(_SHUFFLE_PARTITIONS,
                       str(spark.sparkContext.defaultParallelism))
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` across the session's shuffle-partition count.

    A single-row-group parquet file (every test and benchmark table here)
    scans as ONE input split whatever ``spark.sql.files.maxPartitionBytes``
    says, so a per-row-heavy map stage after the scan (regex counts,
    shingle explodes, BPE merge chains, IVF assignment) would run serially
    in that one task (guide §2.6 stragglers / §6 input splits). The count
    comes from the session, which ``get_spark`` sizes to the cores, so the
    same code is right at any parallelism.

    Cost: on a table that already scans as many splits this is an extra
    keyless shuffle (sorted first, for retry determinism) of the full
    payload. Gating it on the observed input splits is the ROADMAP "One
    parallelism/codegen policy" item."""
    return df.repartition(int(df.sparkSession.conf.get(_SHUFFLE_PARTITIONS)))
