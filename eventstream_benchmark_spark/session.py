"""SparkSession builder tuned for this engine.

Local mode is one JVM with a task thread per core (``SPARK_GRAFT_CPUS``,
default every core); at cluster scale the same config keys apply (AQE
handles runtime re-planning, UTC pins oracle parity, Arrow accelerates
the few pandas-UDF paths).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "share_package_path"]

#: the directory that holds this package
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_memory() -> str:
    """About 40 % of physical memory, capped at 16g: a heap near physical
    memory lets the kernel kill the JVM; Python workers need the rest."""
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(16 << 10, total_mb * 2 // 5)}m"


def get_spark(app_name: str = "eventstream_benchmark_spark") -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Defaults chosen for correctness-at-scale:
      - AQE on (runtime partition coalescing, skew-join splitting)
      - UTC session timezone (timestamp parity with the DuckDB oracle)
      - Arrow on (fast toPandas / pandas_udf transfer)
      - shuffle partitions = cores locally; on a real cluster this
        would be sized to 2-3x total executor cores (AQE coalesces).
      - driver heap from ``SPARK_DRIVER_MEMORY``, else about 40 % of
        physical memory (``_default_driver_memory``).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    driver_memory = os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def share_package_path(spark: SparkSession) -> None:
    """Put the directory holding this package first on the Python
    workers' path. A worker imports by name every function pickled by
    reference (module-level helpers of the operator packs), and it
    starts from the JVM's working directory without the calling
    process's ``sys.path``; a program that found the package through
    ``sys.path`` alone would fail in its first such task. The value is read when a
    Python function is planned, so later queries of the session see it."""
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_ROOT, *paths])
