"""SparkSession factory with the configs the pipeline relies on.

AQE (runtime re-plan + skew-join splitting) and Arrow (vectorized UDF
transfer) are required by the design (SURVEY.md §4); UTC timezone pins
timestamp semantics to match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory() -> str:
    """``spark.driver.memory``: ``SPARK_DRIVER_MEM`` when set, else the
    smaller of 24g and half the host's physical memory. A fixed 24g
    overcommits a small host, and a second Spark process beside it can
    get either driver killed."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return "24g"
    return f"{min(24 << 10, phys // 2 >> 20)}m"


def get_spark(
    app_name: str = "sems-dedup-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession tuned for this engine.

    ``cores=None`` -> ``local[*]``. On a real cluster the same conf keys
    apply; only ``master`` changes (spark-submit supplies it).
    """
    cores_str = "*" if cores is None else str(cores)
    n_shuffle = shuffle_partitions or (cores if cores else os.cpu_count() or 8)
    builder = (
        SparkSession.builder.master(f"local[{cores_str}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # payload-heavy scans: smaller splits keep all cores busy in the
        # Arrow-UDF signature stage without a payload repartition shuffle
        .config("spark.sql.files.maxPartitionBytes", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # measured on the 216k-clip corpus: 2048-row batches were ~7%
        # SLOWER than 10k at local[8] (more Python round-trips; the
        # per-row decode dominates, not slab size), so 10k stays the
        # default (SPARK_ARROW_BATCH overrides for experiments)
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_ARROW_BATCH", "10000"),
        )
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # generated-code class cache (a static conf: builder only). One
        # DedupPipeline.run compiles ~132 classes and Spark keeps 100, so
        # at the default every pass evicted its own classes and Janino
        # recompiled 118-134 of them on the next pass; 1000 holds a whole
        # perfbench audio_batch run (173) with room to spare
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # streaming state (r5): RocksDB provider with changelog
        # checkpointing, and the single-store column-family layout for
        # stream-stream join state (stateFormatVersion 3 — valid ONLY
        # with the RocksDB provider; the two confs travel together).
        # Measured on the 200k-event streaming bench at local[32]:
        # v3 cut the join's state commit path ~1.8x vs the default
        # 4-stores-per-join layout, changelog checkpointing another
        # ~10% (delta upload instead of full RocksDB checkpoint per
        # batch) — and RocksDB, unlike the HDFS-backed map, keeps
        # state off the JVM heap, which is what lets a 1000-executor
        # run hold join state for a full watermark horizon.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .config("spark.sql.streaming.join.stateFormatVersion", "3")
        .config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
    )
    # driver JVM options only when explicitly requested: setting the
    # conf unconditionally (even to "") would override any
    # spark.driver.extraJavaOptions a deployment configured in
    # spark-defaults.conf
    jvm_opts = os.environ.get("SPARK_GRAFT_JVM_OPTS", "")
    if jvm_opts:
        builder = builder.config("spark.driver.extraJavaOptions", jvm_opts)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
