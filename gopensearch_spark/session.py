"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set per-executor on a real
cluster: shuffle partitions ~ cores, AQE on (runtime coalesce + skew
join), Arrow enabled for every pandas-UDF crossing, UTC session TZ so
timestamps compare cleanly against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "gopensearch-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    On a real cluster this function is a no-op passthrough: spark-submit
    provides the master and sizing, and only the semantic confs below apply.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # ~1 shuffle partition per core locally; a real 1000-executor run
        # overrides this (or leans on AQE coalescing from a higher initial).
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if not n or n == "*" else int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        # static: without it every F.* call also fetches its Python call
        # site over py4j (~3x the round trips of a query plan build)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
