"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the conf set here is written so the
same code scales to a multi-executor cluster: AQE on (runtime skew-join +
partition coalescing), shuffle partitions sized to the parallelism,
Arrow enabled for every pandas-UDF exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the host's physical memory, capped at 48g: a local-mode
    driver JVM holds every executor, and a heap sized past the host
    dies on a native-memory commit failure under load."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(48 * 1024, half_mb)}m"


def get_spark(
    app_name: str = "speech_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``. ``SPARK_GRAFT_CPUS`` (default
    32) is read at each call, for the master and for the default
    ``spark.sql.shuffle.partitions`` alike.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescer floors partitions at minPartitionSize (default
        # 1m), which collapses small-byte shuffle outputs to 1-2
        # partitions; this engine's per-row kernels downstream of such
        # shuffles are CPU-dense (md5 shingling, n-gram explodes,
        # per-row fold math), so a byte-based floor serializes them
        # onto one core (measured: minhash signatures 3.9s -> 0.9s at
        # sf0.1/32 cores with a 64k floor). At cluster scale the
        # parallelismFirst target (total/defaultParallelism) dominates
        # and this floor binds only for shuffles under ~64k x cores,
        # where task-scheduling overhead is noise either way.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
