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
- Streaming checkpoints use ``FileSystemBasedCheckpointFileManager``.  With
  no native ``libhadoop``, the default manager's ``FileContext`` rename of
  each WAL, offset, commit and state-delta file forks a ``readlink`` per path
  check (~330 per 2-microbatch stream); ``FileSystem.rename`` forks none.
  Both managers refuse a second writer of a batch file by check-then-rename
  locally (on HDFS the rename fails).  ``chmod`` still forks per new file.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding both this package and the mr485_pyworker daemon
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

def sql_conf(shuffle_partitions: int) -> dict[str, str]:
    """The runtime-settable SQL confs every engine session runs with."""
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.streaming.checkpointFileManagerClass": (
            "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
        ),
    }


# Sessions built by get_spark or tuned by tune_session, by id(); the value
# pins the session, so a stopped session's reused id never reads as tuned.
_TUNED: dict[int, SparkSession] = {}


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
        .config(map=sql_conf(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # bucketed tables (co-located joins) land here, not in the repo cwd
        .config("spark.sql.warehouse.dir", "/tmp/mr485_spark_warehouse")
        .config("spark.python.daemon.module", "mr485_pyworker")
        # Spark merges this with the driver's PYTHONPATH for its workers
        .config("spark.executorEnv.PYTHONPATH", _ROOT)
        .config(map=extra_conf or {})
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _TUNED[id(spark)] = spark
    return spark


def tune_session(spark: SparkSession) -> None:
    """Apply ``sql_conf`` to a session the engine did not build, such as the
    driver's plain SparkSession (200 shuffle partitions, 10 MB broadcast
    threshold).  A session from ``get_spark`` keeps its own values."""
    if _TUNED.get(id(spark)) is spark:
        return
    for k, v in sql_conf(max(int(os.environ.get("SPARK_GRAFT_CPUS", "32")), 8)).items():
        spark.conf.set(k, v)
    _TUNED[id(spark)] = spark
