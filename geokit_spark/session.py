"""SparkSession factory tuned for the sandbox (local[N]) while keeping
cluster-honest defaults: AQE on (skew-join split), Arrow on, shuffle
partitions sized to cores not 200."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_mem_gb(cores: int, mem_total_kb: int | None) -> int:
    """Default JVM heap (GiB) for a local[cores] session: 1.5 GiB per
    task slot with a 16 GiB floor, clamped to 0.6 x MemTotal so the
    default always fits the host (the clamp may go below the floor).
    mem_total_kb None (unknown RAM) skips the clamp."""
    want = max(16, (3 * cores + 1) // 2)
    if mem_total_kb is None:
        return want
    return max(1, min(want, int(0.6 * mem_total_kb) >> 20))


def _mem_total_kb() -> int | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


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
    # Clamped to 0.6 x MemTotal (see default_driver_mem_gb).
    # SPARK_DRIVER_MEM still overrides for other geometries.
    default_mem = f"{default_driver_mem_gb(cores, _mem_total_kb())}g"
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
        # Compiled generated classes live in one JVM-wide LRU keyed by
        # the generated source text. At Spark's default of 100 entries
        # the cache cycles and never hits, because one pass generates
        # more distinct classes than that: geo_join-tile_store 121-131,
        # crawl_funnel-ann_topk 102, both in one JVM 225. Every warm
        # pass then recompiled its classes (114-118 Janino compiles per
        # warm geo pass, 53-62 per warm crawl pass; 2 and 0 with room).
        # The 140-query oracle run compiles 1540 distinct classes, nearly
        # all used once: with 1024 entries it compiles 1558. A geo-pass
        # entry holds 7.7 KB of source (the key, mean) and 5.6 KB of
        # bytecode (2.1 class files of 2.6 KB), so 1024 entries hold
        # about 14 MB. Only bytecode is reused, and only for identical
        # source: no data or result.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
