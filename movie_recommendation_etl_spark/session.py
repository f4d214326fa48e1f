"""SparkSession factory tuned for both local testing and cluster scale.

The reference builds its session at transform/execute.py:27-40 (standalone
cluster master, Kryo, hardcoded shuffle partitions in the notebook at
transform/execute.ipynb:285). We keep Kryo (ML vectors serialize through it)
but replace magic shuffle constants with AQE, pin the session timezone to UTC
(oracle comparability), and enable Arrow for the pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen to survive a 1000-executor cluster unchanged: AQE handles
# shuffle-partition sizing at runtime (coalesce + skew split), so the static
# spark.sql.shuffle.partitions only seeds the initial value.
_BASE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.kryoserializer.buffer.max": "256m",
    "spark.sql.parquet.filterPushdown": "true",
    # INT96 (Spark's legacy default) writes NO parquet min/max stats for
    # timestamps, silently voiding footer pruning on time columns. Set
    # MICROS once at session build so sinks never need to toggle the
    # session-wide conf mid-flight (r13 ADVICE: the per-write toggle in
    # write_sorted_parquet races concurrent writers; it remains only as a
    # locked fallback for foreign sessions).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def host_ram_bytes() -> int | None:
    """This host's physical RAM in bytes, from sysconf; None where the
    platform does not expose it."""
    try:
        pages = os.sysconf("SC_PHYS_PAGES")
        return pages * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, ValueError, OSError):
        return None


def default_driver_memory() -> str:
    """Driver heap for sessions built here: ``$SPARK_GRAFT_DRIVER_MEM`` when
    set, else 2/3 of physical RAM. A fixed default larger than the host's
    RAM lets the kernel OOM-kill the JVM mid-run instead of Spark spilling;
    the remaining third covers JVM off-heap, the Python workers and the OS.
    Falls back to 16g where RAM cannot be read."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    ram = host_ram_bytes()
    return f"{ram * 2 // 3 // 2**20}m" if ram else "16g"


def get_spark(
    app_name: str = "movie_recommendation_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster pass the cluster master URL (or rely on spark-submit --master).
    """
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{default_parallelism()}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_BASE_CONF)
    # In local mode the driver heap IS the executor heap for every worker
    # thread; Spark's 1g default starves local[32] (OOM on cache-heavy
    # iterative queries at sf0.1). Only effective at JVM creation — a
    # getOrCreate() against a live session keeps its existing heap.
    conf["spark.driver.memory"] = default_driver_memory()
    # Seed value only — AQE coalesces to actual data volume at runtime.
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions or max(default_parallelism(), 8)
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
