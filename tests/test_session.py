"""The settings ``session.get_spark`` pins to keep a micro-batch's fixed
cost low: the checkpoint file manager, the Python worker daemon and the
workers' path."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

from flinkecuserbehavioranalysis_spark.session import RUNTIME_CONFS
from flinkecuserbehavioranalysis_spark.streaming.jobs import streaming_windowed_count

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"


def _python(script: str, cwd: str, env: dict, timeout: int) -> None:
    """Run *script* in a fresh interpreter and fail with its output."""
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=timeout,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="CPython 3.13 re-reads zip directories lazily")
def test_daemon_rereads_a_zip_only_when_it_changes(tmp_path):
    """Run in a child interpreter: the patch is process-wide."""
    _python(
        f"""
        import importlib, sys, zipfile
        from flinkecuserbehavioranalysis_spark._daemon import patch_zipimport

        patch_zipimport()
        path = {str(tmp_path / "lib.zip")!r}

        def write(body):
            with zipfile.ZipFile(path, "w") as z:
                z.writestr("zmod.py", body)

        write("VALUE = 1\\n")
        sys.path.insert(0, path)
        import zmod
        assert zmod.VALUE == 1
        importer = sys.path_importer_cache[path]
        files = importer._files
        importlib.invalidate_caches()
        assert importer._files is files, "an unchanged zip was re-read"
        write("VALUE = 'rewritten'\\n")
        importlib.invalidate_caches()
        del sys.modules["zmod"]
        import zmod
        assert zmod.VALUE == "rewritten", zmod.VALUE
        """,
        cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": ROOT},
        timeout=60,
    )


def test_checkpoint_manager_class_loads(spark):
    """The manager's package moved between Spark 3.x and 4.1: a stale
    name would fail every streaming query at start."""
    name = spark.conf.get(MANAGER_CONF)
    assert name == RUNTIME_CONFS[MANAGER_CONF]
    assert spark._jvm.java.lang.Class.forName(name).getName() == name


def test_state_commits_keep_spark_checksums(spark, tmp_path):
    """Two stateful micro-batches through the configured manager leave
    each state version as ``<n>.delta`` with Spark's ``<n>.delta.crc``
    beside it."""
    src, ckpt = tmp_path / "src", tmp_path / "ckpt"
    rows = spark.range(20).select(
        (F.col("id") % 3).alias("k"), F.timestamp_seconds(F.col("id") * 60 + 1).alias("ts")
    )
    for i in range(2):
        rows.where(F.col("id") % 2 == i).coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(rows.schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    q = (
        streaming_windowed_count(stream, size="10 minutes", keys=["k"])
        .writeStream.outputMode("update")
        .format("noop")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert len([p for p in q.recentProgress if p["numInputRows"]]) == 2
    store = ckpt / "state" / "0" / "0"
    names = set(os.listdir(store))
    for n in (1, 2):
        assert {f"{n}.delta", f"{n}.delta.crc"} <= names, sorted(names)


def test_session_from_foreign_cwd_runs_python_workers(tmp_path):
    """The daemon is a module of this package: a session started from
    another directory, with no PYTHONPATH, must still put the package on
    its workers' path."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    _python(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from flinkecuserbehavioranalysis_spark.session import get_spark

        def tag(frames):
            from flinkecuserbehavioranalysis_spark import __version__
            for f in frames:
                yield f.assign(v=__version__)

        spark = get_spark("foreign-cwd", 2)
        try:
            rows = spark.range(4).mapInPandas(tag, "id long, v string").collect()
            assert sorted(r.id for r in rows) == [0, 1, 2, 3], rows
        finally:
            spark.stop()
        """,
        cwd=str(tmp_path),
        env=env,
        timeout=300,
    )
