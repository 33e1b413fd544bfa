"""SparkSession factory tuned for the KG-construction workload.

Local testing runs ``local[N]``; the same configs are what we'd ship in
``spark-submit --py-files`` to a real cluster (AQE on for skew-join
splitting and shuffle coalescing, Arrow on for the pandas-UDF parsing
stages).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "py-sema-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # at cluster scale this would be ~2-3x total cores; locally match
        # the advertised parallelism so every core has a shuffle partition
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = cpus if n == "*" else max(int(n), 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NOTE on AQE coalescing vs CPU-dense stages: byte-based
        # coalescing serializes tiny-input/huge-output stages.
        # Globally lowering minPartitionSize fixes those but floods
        # tiny iterative loops (closure rounds) with empty tasks, so
        # a stage that fans out must repartition to an explicit N
        # itself (AQE never coalesces user-numbered repartitions).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # bucketed-table support (co-located joins) without polluting
        # the caller's cwd: warehouse + derby metastore under /tmp
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_WAREHOUSE_DIR", "/tmp/py_sema_spark_warehouse"
            ),
        )
        .config(
            "spark.driver.extraJavaOptions",
            "-Dderby.system.home=/tmp/py_sema_spark_derby",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
