"""SparkSession factory tuned for both local testing and cluster scale.

Every knob here is chosen for the 100 TB target (see README): AQE for runtime
re-planning and skew-join splitting, partition-size targets that keep shuffle
blocks in executor memory, Arrow for any pandas-UDF boundary, and UTC session
time so event-time window math is deterministic across engines (the DuckDB
correctness oracle runs in UTC). Under a local master, file listing stays on
the driver; any other master keeps Spark's distributed listing job.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cpus() -> int:
    """Cores of the local session: ``SPARK_GRAFT_CPUS`` when set, else the
    cores this process may run on (so a plain run never oversubscribes
    the host)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return len(os.sched_getaffinity(0))


DEFAULT_SHUFFLE_PARTITIONS = local_cpus()


def get_spark(
    app_name: str = "faust_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    rocksdb_state: bool = False,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    On a real cluster every config below still applies; only ``master``
    changes. AQE coalesces the static ``shuffle_partitions`` down when data
    is small and splits skewed partitions when it is not, so one setting
    serves sf0.001 tests and the 1000-executor target.
    """
    master = master or f"local[{local_cpus()}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode runs everything in one JVM; the 1g default heap GC-
        # thrashes under 32 concurrent tasks (effective only when this
        # call launches the JVM, i.e. the first session of the process)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "16g"))
        # --- deterministic event-time math (matches the DuckDB oracle) ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- adaptive execution: runtime re-planning at any scale ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing: static upper bound, AQE coalesces downward ---
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # 128 MB scan splits: big enough to amortize task overhead, small
        # enough that a 100 TB table still yields ~800k parallel tasks.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- broadcast: dimension tables (region/nation/customer) are tiny
        # relative to facts; 64 MB threshold keeps them map-side. ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- Arrow for every pandas UDF / toPandas boundary ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- streaming: state store + correctness-friendly defaults ---
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        # parquet writer defaults for any sink we materialize
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    if master == "local" or master.startswith("local["):
        # above 32 paths Spark lists files with a job of one task per path
        # (every file-stream micro-batch re-lists the files it found); in
        # local mode those tasks share the driver's JVM and cores, so the
        # job adds scheduling cost and no parallelism
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            "2147483647",
        )
    if rocksdb_state:
        # large streaming state (the reference's RocksDB table store,
        # faust/stores/rocksdb.py role): spill keyed state to disk instead
        # of holding it on the JVM heap
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        ).config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
