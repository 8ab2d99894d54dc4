"""The engine's Python worker daemon (``mr485_pyworker``): its stat-checked
``zipimporter.invalidate_caches``, and that ``get_spark`` workers run it."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import mr485_pyworker

REPO = Path(__file__).resolve().parent.parent
DAEMON_FILE = os.path.realpath(mr485_pyworker.__file__)


def _write_zip(path: Path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in members.items():
            zf.writestr(name, source)


def _load(importer: zipimport.zipimporter, name: str):
    spec = importer.find_spec(name)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"m.py": "VERSION = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    assert _load(importer, "m").VERSION == 1

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)

    mr485_pyworker.invalidate_caches(importer)
    mr485_pyworker.invalidate_caches(importer)
    assert reads == [str(archive)]

    _write_zip(archive, {"m.py": "VERSION = 2  # v2\n", "n.py": "NEW = True\n"})
    mr485_pyworker.invalidate_caches(importer)
    assert len(reads) == 2
    assert _load(importer, "m").VERSION == 2
    assert _load(importer, "n").NEW

    archive.unlink()
    mr485_pyworker.invalidate_caches(importer)
    assert str(archive) not in zipimport._zip_directory_cache
    assert importer.find_spec("m") is None


def test_spark_workers_run_the_engine_daemon(spark):
    """Both an RDD task and a mapInPandas task report the patched method,
    so a silent fall-back to plain ``pyspark.daemon`` fails here."""

    def patched_file():
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__code__.co_filename

    def rdd_task(_):
        yield patched_file()

    def pandas_task(batches):
        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({"f": [patched_file()]})

    rdd_files = spark.sparkContext.parallelize([0], 1).mapPartitions(rdd_task).collect()
    pandas_files = [
        r.f for r in spark.range(1).mapInPandas(pandas_task, "f string").collect()
    ]
    assert [os.path.realpath(f) for f in rdd_files + pandas_files] == [DAEMON_FILE] * 2


def test_daemon_starts_from_any_cwd(tmp_path):
    """The package is on the driver's sys.path only (as __spark_entry__.py
    sets it), the cwd is outside the checkout, and no PYTHONPATH is set:
    a Python UDF still runs, so the workers find the daemon module."""
    script = tmp_path / "udf_job.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {str(REPO)!r})
            from pyspark.sql.functions import udf
            from map_reduce485_spark import get_spark

            spark = get_spark("daemon_cwd", cpus=2)
            plus_one = udf(lambda x: x + 1, "long")
            rows = spark.range(3).select(plus_one("id").alias("v")).collect()
            assert sorted(r.v for r in rows) == [1, 2, 3], rows
            print("python udf OK")
            spark.stop()
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=tmp_path,
        env=env,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "python udf OK" in proc.stdout
