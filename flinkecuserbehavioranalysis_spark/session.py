"""SparkSession construction tuned for this engine.

Local testing runs on ``local[N]`` single-JVM; the conf below is chosen so
the same logical plans scale to a real multi-executor cluster at ~100 TB:

- AQE on (runtime partition coalescing, broadcast conversion, skew-join
  splitting) — the 100 TB insurance policy for every shuffle we declare.
- Arrow on — every Pandas UDF / ``applyInPandas`` path in this repo moves
  columnar batches, never rows.
- Session timezone pinned to UTC — all window/day bucketing in the engine
  is epoch-aligned and must not depend on the host's zone (the DuckDB
  oracle computes over naive==UTC timestamps).

Three settings keep a streaming micro-batch's fixed cost low.  Measured
on a 4-core host, replaying 15 micro-batches of 2k events:

- ``spark.sql.streaming.checkpointFileManagerClass`` is Spark's
  ``FileSystemBasedCheckpointFileManager``.  The default manager writes
  every offset, commit and state file through Hadoop ``FileContext``.
  Without native Hadoop libraries, each of its renames runs
  ``RawLocalFileSystem.getFileLinkStatus``, which forks a ``readlink``
  process.  The window-count job forked 1,424 of them in its 15 batches,
  and its state commit took 276 ms per batch (median ``commitTimeMs``
  over 4 partitions).  With this manager it forks none, and the commit
  takes 25 ms.  On the local file system the swap is no weaker: both
  managers check that the target is absent and then rename(2), which is
  atomic.  On HDFS, ``FileContext`` refuses an existing target inside
  one atomic rename, while this manager's check and rename are two
  calls, so a cluster deployment should drop this entry.
- ``spark.python.daemon.module`` is ``_daemon``, PySpark's daemon with
  ``zipimporter.invalidate_caches`` made lazy (see that module).  Every
  Python task re-read the directory of ``pyspark.zip`` in each of a
  worker's zipimporters before its first call: 258 ms of worker CPU
  between two tasks (median, CPython 3.11), against 42 ms with the
  patch.
- ``spark.executorEnv.PYTHONPATH`` is the directory holding this
  package, because the workers must import ``_daemon``.  Without it, a
  session started from another working directory with no
  ``PYTHONPATH`` fails with ``ModuleNotFoundError`` in every worker.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the directory holding this package, on every Python worker's path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: confs that are safe (and required for determinism) to set on an
#: externally supplied session at runtime.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Spark 4 reads a parquet TIMESTAMP(NANOS) column only as raw longs
    # (io.py converts them to micros); the local testdata stores micros,
    # but nanos files are still read
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # no process fork per checkpoint rename (see the module docstring)
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
    ),
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable confs on an existing session (e.g. the
    driver's).  Idempotent; never touches static confs."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - static conf on some builds
            pass
    return spark


def get_spark(app_name: str = "flink-ec-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a session.

    ``shuffle_partitions`` defaults to the local core count: at test scale
    AQE coalesces down, on a real cluster this would be sized ~2-3x total
    cores / bounded by ~128 MB per shuffle partition at the target SF.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.python.daemon.module", f"{__package__}._daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)
