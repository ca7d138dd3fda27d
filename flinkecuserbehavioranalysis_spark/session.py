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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

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
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)
