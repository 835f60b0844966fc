"""SparkSession factory with scale-oriented defaults.

Tuned for correctness-testing on local[N] while keeping every knob a
1000-executor cluster would want: AQE (runtime re-planning, skew-join
splitting, partition coalescing), broadcast-join threshold, Arrow for
the Python boundary, and parquet pushdown left at its defaults so
Catalyst prunes columns/partitions for free.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_mem() -> str:
    """The driver heap: ``SPARK_GRAFT_DRIVER_MEM`` when set, else half
    the machine's physical RAM capped at 16g. A long run grows the JVM
    toward its heap limit, and a heap sized past the RAM gets the JVM
    killed by the kernel instead of collected."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        return mem
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    except (OSError, StopIteration, ValueError):
        return "16g"  # no /proc: the cap
    return f"{min(16 * 1024, kb // 2048)}m"


def get_spark(
    app_name: str = "streaming_examples_spark",
    *,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or return) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``).
    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you would size this to ~2-3× total executor cores or let
    AQE coalesce from a higher initial value, which is exactly what
    ``spark.sql.adaptive.coalescePartitions`` does here.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus in ("*", "") else max(int(cpus), 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # -- shuffle / adaptive execution ---------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing sizes post-shuffle partitions by BYTES; on
        # expression-heavy stages (the flagship's as-of max_by +
        # collect_list aggregations) that underestimates CPU and, with
        # the default 1 MiB minPartitionSize floor, a ~16 MiB shuffle
        # coalesces to 16 tasks — half the cores idle through the
        # hottest stage. A 64 KiB floor lets parallelismFirst actually
        # reach defaultParallelism on small-byte/high-CPU stages
        # (measured r12: flagship warm 2.9 s → 2.2 s at sf0.1).
        # Scale-neutral: production shuffle partitions are ≫ 1 MiB, so
        # the floor never binds there; initial partition count still
        # caps task counts. Override via SPARK_GRAFT_AQE_MIN_PARTITION.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # -- joins ---------------------------------------------------------
        # dims (region/nation/customer/supplier/part at test SF) broadcast;
        # at 100 TB the fact tables never do, which is what we want.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # -- python boundary ------------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # -- scan sizing -----------------------------------------------------
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # -- testdata parquet has shipped TIMESTAMP(NANOS) (read as long,
        #    decoded in tables.load_table) and TIMESTAMP(MICROS) without
        #    isAdjustedToUTC (would infer as TIMESTAMP_NTZ; forced to
        #    TIMESTAMP — identical values under the UTC session timezone)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # -- python plan-construction overhead --------------------------------
        # PySpark's DataFrame-debugging wrapper pays THREE py4j round
        # trips per DataFrame op (a conf.get, a PySparkCurrentOrigin.set,
        # a .clear) plus a Python stack walk, only to stamp user-code
        # call sites into error contexts. Measured on the flagship
        # pipeline: 58 % of ALL py4j traffic during plan construction
        # (5,882 → 2,466 round trips, ~2 s of driver latency per cold
        # construction). An engine library pays that tax on every
        # operation of every query; the call-site garnish is not worth
        # it. Override via extra_conf to debug a failing analysis.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # -- determinism -----------------------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
