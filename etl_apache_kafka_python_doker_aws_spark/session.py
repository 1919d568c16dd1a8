"""SparkSession factory tuned for both local testing and cluster scale.

Local mode is a single JVM (local[N]); on a real cluster the same settings
hold: AQE handles skew/coalesce at runtime, shuffle partitions are sized by
the caller (the usable CPU count locally, ~2-3x total cores on a cluster),
Arrow accelerates any Pandas-UDF boundary, and UTC pins timestamp semantics
for oracle parity.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "etl_apache_kafka_python_doker_aws_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    Defaults follow the env contract: ``local[$SPARK_GRAFT_CPUS]`` and
    ``spark.sql.shuffle.partitions`` matching core count, where an unset
    ``SPARK_GRAFT_CPUS`` means the CPUs this process may run on — on a
    cluster pass ``master=None`` with an external conf and these become
    no-ops.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
