"""SparkSession construction for tests/bench (the driver provides its
own session for queries(); this builder mirrors the driver posture).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from pro_etl_spark.registry import RUNTIME_CONFS


def _default_driver_memory() -> str:
    """Half the machine's physical RAM, at most 48g: local-mode
    executors share the driver heap, and the rest of the RAM is left to
    Python workers and whatever else runs in the process (the tests'
    in-process DuckDB oracles)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(48, phys // 2**31))}g"


def get_spark(app_name: str = "pro_etl_spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # capped driver memory is fine: operators never materialize data
        # driver-side; local mode executors share this heap.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    return b.getOrCreate()
