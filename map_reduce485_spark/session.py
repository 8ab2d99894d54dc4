"""SparkSession factory tuned for this engine.

Local-mode knobs mirror what we would set on a real cluster:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing) —
  at 100 TB this is what keeps a bad static plan from melting down.
- ``spark.sql.shuffle.partitions`` sized to the core count locally; on a
  1000-executor cluster this would be ~2-3x total cores (AQE coalesces down).
- Arrow enabled so any Pandas-UDF path is batch-vectorized, never per-row.
- UTC session timezone so timestamp semantics are reproducible against the
  DuckDB oracle and across clusters.
- Python workers fork from the engine's own daemon, ``mr485_pyworker`` (a
  top-level module next to this package, put on the workers' PYTHONPATH).
  PySpark calls ``importlib.invalidate_caches()`` before every task, and on
  CPython 3.11 ``zipimporter.invalidate_caches`` re-parses the archive's
  whole central directory (``zipimport.py:329-336``): about 0.15 s of CPU
  per task on a 4-core VM for pyspark.zip, the py4j zip and the Spark
  jar.  The daemon re-reads an archive only when its stat changed.
  CPython 3.13 only drops the cache entry there (``zipimport.py:276-278``),
  so the patch is harmless.
  It is a SparkContext conf: a session not built here runs without it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding both this package and the mr485_pyworker daemon
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "map_reduce485_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or 32.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # bucketed tables (co-located joins) land here, not in the repo cwd
        .config("spark.sql.warehouse.dir", "/tmp/mr485_spark_warehouse")
        .config("spark.python.daemon.module", "mr485_pyworker")
        # Spark merges this with the driver's PYTHONPATH for its workers
        .config("spark.executorEnv.PYTHONPATH", _ROOT)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
