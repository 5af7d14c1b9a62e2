"""SparkSession construction tuned for both local testing and cluster scale.

Settings rationale (100 TB design stance):
- AQE on: runtime coalescing, skew-join splitting, and dynamic join-strategy
  switching are the first line of defense at scale.
- shuffle partitions sized to cores locally; on a real cluster this is
  superseded by AQE's coalescing from a larger initial number.
- UTC session timezone so timestamp semantics match the DuckDB oracle and
  are portable across clusters.
- Arrow enabled for any pandas exchange (toPandas / pandas UDFs).
- Python workers: every Python task starts with
  `importlib.invalidate_caches()`, which under CPython 3.11 makes each
  zip importer on the worker's path re-parse its archive (pyspark.zip,
  the py4j zip and the 37 MB spark-core jar): ~200 ms per task. The
  workers come from the engine's own daemon (`_pydaemon`), which
  re-reads an archive only when its (mtime, size) stamp changed. Spark
  starts the daemon by module name, so the module must be importable
  where workers start, or every Python stage fails. The package's
  parent directory therefore goes on the workers' PYTHONPATH; on a
  cluster the executors need the engine installed there too.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds the package, for the Python workers' path
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_memory() -> str:
    """Half the machine's memory, at most 48g: a local-mode JVM holds
    driver and executors, and a constant 48g heap on a smaller machine
    turns a runaway plan into a kernel OOM kill instead of a Java heap
    error."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return "48g"
    return f"{min(48 << 10, total // 2 >> 20)}m"


def get_spark(
    app_name: str = "core-telecoms-etl-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied.

    On a cluster the master/memory settings come from spark-submit; the
    builder only sets master when none is configured (local dev/test).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.caseSensitive", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "core_telecoms_etl_spark._pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _ENGINE_ROOT)
    )
    if not os.environ.get("SPARK_MASTER") and "spark.master" not in os.environ:
        # local mode = driver-only JVM; give it real memory, sized to the
        # machine. On a cluster these come from spark-submit instead.
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        ).config(
            # Splits are sized by bytes, so the 128 MB default hands a
            # 1–20 MB local test file to ONE core and every scan-rooted
            # stage runs serial (measured 2× on funnel's event scan).
            # Right-size for megabyte-scale local data; cluster submits
            # set 128–256 MB per SCALING.md "Config deltas".
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "1m"),
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
