"""SparkSession factory.

The local test profile runs ``local[SPARK_GRAFT_CPUS]`` (committed
numbers use 4); the same settings scale to a real cluster — AQE handles
partition coalescing and skew joins at runtime, so shuffle.partitions
here is an upper bound, not a hand-tuned constant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Written only by perfbench/harness.py; the next benchmark change removes both.
_PYFILES_SHIPPED: set[int] = set()


def get_spark(app_name: str = "mads-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # One shuffle partition per core locally; on a cluster AQE
        # coalesces from a higher initial number, so correctness never
        # depends on this value.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for pandas_udf / toPandas hot paths.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    return builder.getOrCreate()
