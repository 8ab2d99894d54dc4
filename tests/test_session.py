"""One session config: ``session.sql_conf`` reaches both engine-built and
harness-built sessions, and streaming checkpoints go through the
FileSystem-based checkpoint manager without losing its write semantics."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError

from map_reduce485_spark.session import sql_conf, tune_session
from tests.conftest import SF_SMOKE

REPO = Path(__file__).resolve().parent.parent


def _run_script(tmp_path: Path, body: str, env: dict[str, str]) -> str:
    """Run ``body`` in a fresh interpreter (its own JVM) from the repo root;
    returns stdout."""
    script = tmp_path / "job.py"
    script.write_text(f"import sys\nsys.path.insert(0, {str(REPO)!r})\n" + textwrap.dedent(body))
    proc = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=tmp_path,
        env={**env, "SPARK_GRAFT_DRIVER_MEM": "1g"},
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    return proc.stdout


def test_load_table_keeps_get_spark_conf(tmp_path):
    """A session built by get_spark keeps its own shuffle partitions after
    the catalog loads a table; only sessions the engine did not build are
    tuned to ``$SPARK_GRAFT_CPUS`` (32 when unset)."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    out = _run_script(
        tmp_path,
        f"""
        from map_reduce485_spark import get_spark
        from map_reduce485_spark.catalog import load_table

        spark = get_spark("keep_conf", cpus=2, shuffle_partitions=3)
        load_table(spark, {SF_SMOKE!r}, "region")
        print("engine", spark.conf.get("spark.sql.shuffle.partitions"))
        other = spark.newSession()
        load_table(other, {SF_SMOKE!r}, "region")
        print("other", other.conf.get("spark.sql.shuffle.partitions"))
        spark.stop()
        """,
        env,
    )
    assert "engine 3\n" in out and "other 32\n" in out, out


@pytest.fixture(params=["engine", "tuned"])
def session(request, spark):
    """The engine's own session, and a session with Spark's defaults that
    ``tune_session`` then tunes (as a harness-built session is)."""
    if request.param == "engine":
        return spark
    other = spark.newSession()
    for key in sql_conf(8):
        other.conf.unset(key)
    assert other.conf.get("spark.sql.streaming.checkpointFileManagerClass", None) is None
    tune_session(other)
    return other


def test_checkpoint_manager_keeps_write_semantics(session, tmp_path):
    """The session's checkpoint manager is the FileSystem-based one, and it
    still refuses a second writer of the same batch file: the second
    ``close()`` raises and the file keeps the first writer's bytes."""
    jvm = session._jvm
    fm = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        session._jsparkSession.sessionState().newHadoopConf(),
    )
    assert fm.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"

    batch = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    first, second = fm.createAtomic(batch, False), fm.createAtomic(batch, False)
    first.write(bytearray(b"first writer"))
    second.write(bytearray(b"second writer"))
    first.close()
    with pytest.raises(Py4JJavaError, match="FileAlreadyExists"):
        second.close()
    assert (tmp_path / "0").read_bytes() == b"first writer"


def test_stream_checkpoint_forks_no_readlink(tmp_path):
    """One availableNow stream through get_spark, with counting ``readlink``
    and ``chmod`` wrappers first on PATH.  Without the native Hadoop library
    Spark's default checkpoint manager forks about 330 ``readlink`` per
    2-microbatch stream; the FileSystem-based one forks none.  ``chmod``
    still runs per created file, which shows the wrappers were on the JVM's
    PATH.  The state store keeps its delta files, Spark's checksum files
    and Hadoop's ``.crc`` files."""
    wrappers, counts = tmp_path / "bin", tmp_path / "forks"
    wrappers.mkdir()
    for tool in ("readlink", "chmod"):
        wrapper = wrappers / tool
        wrapper.write_text(f'#!/bin/sh\necho {tool} >> "{counts}"\nexec {shutil.which(tool)} "$@"\n')
        wrapper.chmod(0o755)
    env = {**os.environ, "PATH": f"{wrappers}{os.pathsep}{os.environ['PATH']}"}
    ckpt = tmp_path / "ckpt"
    out = _run_script(
        tmp_path,
        f"""
        import json
        from pathlib import Path
        from map_reduce485_spark import get_spark
        from map_reduce485_spark.catalog import load_table
        from map_reduce485_spark.streaming import read_events_stream, stream_tumbling_counts

        def forks():
            log = Path({str(counts)!r})
            lines = log.read_text().split() if log.exists() else []
            return {{t: lines.count(t) for t in ("readlink", "chmod")}}

        spark = get_spark("checkpoint_forks", cpus=2, shuffle_partitions=2)
        landing = {str(tmp_path / "landing")!r}
        load_table(spark, {SF_SMOKE!r}, "events").repartition(2).write.parquet(landing)
        before = forks()
        q = (
            stream_tumbling_counts(read_events_stream(spark, landing, 1))
            .writeStream.format("memory")
            .queryName("tumbling_forks")
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", {str(ckpt)!r})
            .start()
        )
        q.awaitTermination()
        after = forks()
        print(json.dumps({{
            "batches": len(q.recentProgress),
            **{{t: after[t] - before[t] for t in after}},
        }}))
        spark.stop()
        """,
        env,
    )
    got = json.loads(out.strip().splitlines()[-1])
    assert got["batches"] == 2, got
    assert got["readlink"] <= 5, got
    assert got["chmod"] > 0, got

    deltas = sorted(ckpt.glob("state/0/*/*.delta"))
    assert len(deltas) == 2 * 2, deltas  # 2 state partitions x 2 microbatches
    for delta in deltas:
        assert (delta.parent / f"{delta.name}.crc").is_file(), delta  # Spark's checksum
        assert (delta.parent / f".{delta.name}.crc").is_file(), delta  # Hadoop's
