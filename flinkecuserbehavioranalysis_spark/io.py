"""Sources & sinks (SURVEY.md §2.1).

The reference reads local text files line-by-line and hand-parses CSV
(S1/S2 — e.g. HotItemsAnalysis/HotItems.scala:41-47); here the batch path
is columnar parquet scans (vectorized, predicate-pushdown, column-pruned)
and the CSV path is a schema'd ``spark.read.csv`` — no per-row Python.

At 100 TB the parquet readers below are the whole ballgame: every query
module selects only the columns it needs *before* any shuffle so pruning
and pushdown reach the scan (verify with ``df.explain`` → ``ReadSchema`` /
``PushedFilters``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .cache import pin
from .session import apply_runtime_confs

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Event-time columns a table may store as parquet INT64
#: TIMESTAMP(NANOS).  The local testdata stores every timestamp as
#: ``timestamp[us]``, but nanos files are still read: Spark 4 loads them
#: only as raw longs (``spark.sql.legacy.parquet.nanosAsLong``), and
#: ``_normalize_table`` converts them to micros TimestampType with floor
#: division, matching DuckDB's nanos→micros truncation so both engines
#: see identical instants.
_NANO_TS_COLS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def _footer_schema(path: str) -> StructType:
    """Spark schema of a single parquet file from its footer, read on
    the driver — ``spark.read.parquet`` infers it with a Spark job.
    Gives the types Spark infers: TIMESTAMP(NANOS) columns as BIGINT
    (``nanosAsLong``), naive timestamps as TIMESTAMP_NTZ, every field
    nullable."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    fields = []
    for f in pq.read_schema(path):
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            t = LongType()
        else:
            t = from_arrow_type(f.type, prefer_timestamp_ntz=True)
        fields.append(StructField(f.name, t, True))
    return StructType(fields)


def _table_schema(spark: SparkSession, path: str) -> StructType:
    """Raw schema of a table: a single file's footer, read without a
    Spark job; Spark's inference for a directory of part files."""
    if os.path.isfile(path):
        return _footer_schema(path)
    return spark.read.parquet(path).schema


def _normalize_table(df: DataFrame, name: str) -> DataFrame:
    """The one column fix-up of a batch or streaming table scan: nanos
    event times become micros TimestampType, and naive timestamps are
    UTC instants (the session timezone is pinned to UTC), cast to
    TimestampType so epoch math (cast to long/double) is legal."""
    for c, t in df.dtypes:
        if c in _NANO_TS_COLS.get(name, ()) and t == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
        elif t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one driver testdata table (S1 analog).

    The reader plan is a memo entry keyed by (applicationId, "table",
    path, mtime_ns, size): ``spark.read.parquet`` re-lists the file and
    re-reads its footer on every call, and a query calls this 1–5
    times.  Only the plan is memoized; every action still scans the
    file, and a rewritten file gets a fresh key.  The session confs are
    pinned when a plan is built; a host that later moves the session
    timezone off UTC costs one read per call and a re-pin."""
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        apply_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")

    def build() -> DataFrame:
        apply_runtime_confs(spark)
        return _normalize_table(spark.read.schema(_table_schema(spark, path)).parquet(path), name)

    try:
        st = os.stat(path)
    except OSError:
        return build()  # globs / non-local paths: no memo
    return pin((spark.sparkContext.applicationId, "table", path, st.st_mtime_ns, st.st_size), build)


def read_csv_events(
    spark: SparkSession,
    path: str,
    schema: StructType,
    ts_col: str = "ts",
    epoch_unit: str = "s",
    sep: str = ",",
) -> DataFrame:
    """Schema'd CSV reader replacing the reference's manual
    ``split(",") + toLong`` parsers (S2 — HotItems.scala:43-47,
    OrderTimeout.scala:35-39 …).

    Reference files carry epoch seconds (or ms) in the timestamp column;
    we land them as ``TimestampType`` at read time (the reference multiplies
    to ms at watermark assignment instead — HotItems.scala:49).
    """
    raw_schema = StructType(
        [f if f.name != ts_col else StructField(f.name, LongType(), True) for f in schema.fields]
    )
    df = spark.read.csv(path, schema=raw_schema, sep=sep, mode="PERMISSIVE")
    factor = {"s": 1, "ms": 1000}[epoch_unit]
    return df.withColumn(ts_col, F.timestamp_seconds(F.col(ts_col) / factor))


def read_apache_log(spark: SparkSession, path: str) -> DataFrame:
    """Space-separated apache.log parser (NetworkFlow.scala:44-55) with the
    ``dd/MM/yyyy:HH:mm:ss`` date format (NetworkFlow.scala:51-52)."""
    from .schemas import APACHE_LOG

    raw = spark.read.text(path)
    parts = F.split(F.col("value"), " ")
    return raw.select(
        parts.getItem(0).alias("ip"),
        parts.getItem(1).alias("user_id"),
        F.to_timestamp(parts.getItem(3), "dd/MM/yyyy:HH:mm:ss").alias("event_time"),
        parts.getItem(5).alias("method"),
        parts.getItem(6).alias("url"),
    ).select(*[f.name for f in APACHE_LOG.fields])


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Persist *df* with hive-style directory partitioning on
    *partition_cols* — the layout half of partition pruning: a reader
    filtering on a partition column skips whole directories at planning
    time (``PartitionFilters`` on the scan, no file even opened).

    ``partitionOverwriteMode=dynamic`` makes ``mode='overwrite'``
    replace only the partitions present in *df* — the idempotent
    daily-reload contract (re-running a day's load never clobbers other
    days).  *max_records_per_file* caps file size so one partition
    directory stays many-filed and parallel-readable; pick partition
    columns with bounded cardinality (date, source, lang — NOT user_id:
    a 100 TB corpus wants thousands of directories, not billions)."""
    w = df.write.mode(mode).option("partitionOverwriteMode", "dynamic")
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.partitionBy(*partition_cols).parquet(path)
