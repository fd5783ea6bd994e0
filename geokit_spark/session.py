"""SparkSession factory tuned for the sandbox (local[N]) while keeping
cluster-honest defaults: AQE on (skew-join split), Arrow on, shuffle
partitions sized to cores not 200."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "geokit_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(
            os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
        )
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    # local[N] puts driver + executor + every task thread in ONE JVM,
    # so heap must be sized per task slot like an executor would be
    # (guide: size memory to concurrent tasks, not a flat constant).
    # 1.5 GiB/slot, floor 16g: at 32 cores the former flat 16g default
    # left 0.5 GiB/slot and the bench's 80M-row stages accrued GC debt
    # that inflated every LATER stage ~15-30% (measured: suite 40.7 ->
    # 35.9 s, ann_topk_large 7.4-8.8 -> 6.5 s at 48g, retries 5 -> 1).
    # SPARK_DRIVER_MEM still overrides for other geometries.
    default_mem = f"{max(16, (3 * cores + 1) // 2)}g"
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # decode()/encode() replace malformed bytes with U+FFFD instead
        # of failing the job: one bad page degrades one row
        .config("spark.sql.legacy.codingErrorAction", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", default_mem),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
