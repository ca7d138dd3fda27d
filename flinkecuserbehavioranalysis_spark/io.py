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
from pyspark.sql.types import StructType

from .session import apply_runtime_confs

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: testdata columns stored as parquet INT64 TIMESTAMP(NANOS) — Spark 4
#: rejects nano timestamps unless read as raw longs
#: (``spark.sql.legacy.parquet.nanosAsLong``); we convert to micros
#: TimestampType at scan time with floor division, matching DuckDB's
#: nanos→micros truncation so both engines see identical instants.
_NANO_TS_COLS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


#: Reader-PLAN memo: (applicationId, path, mtime_ns, size) → DataFrame.
#: ``spark.read.parquet`` re-lists the file and re-reads the footer
#: schema on every call (~80 ms measured) and the registry calls
#: load_table 1–5× per query — ~45 s of pure driver-side re-listing per
#: full bench sweep (round-11 optimization).  This memoizes the LOGICAL
#: PLAN only — DataFrames are immutable plan handles, no data is cached
#: and every action still scans the parquet; the mtime/size key makes a
#: rewritten file a fresh entry, and the applicationId key makes a
#: fresh driver process start clean.  FIFO-capped: entries are plan
#: references, the cap only guards a pathological many-sf_dir session.
_TABLE_PLAN_MEMO: dict[tuple, DataFrame] = {}
_TABLE_PLAN_MEMO_CAP = 256


#: applicationIds whose session confs are already pinned — every
#: conf.set is a py4j round-trip, and load_table runs 1–5x per query
#: (r12 driver-floor shave: ~7 round-trips per call → once per session).
#: The engine never changes a conf back, but its host may: a session
#: timezone found other than UTC costs one read per call and re-pins
#: (non-UTC day and week buckets would otherwise be silent); a new
#: session (new applicationId) re-pins.
_CONFS_PINNED: set[str] = set()


def _footer_schema(path: str) -> StructType:
    """Spark schema of a single parquet file from its footer, read on
    the driver — ``spark.read.parquet`` infers it with a Spark job.
    Gives the types Spark infers: TIMESTAMP(NANOS) columns as BIGINT
    (``nanosAsLong``), naive timestamps as TIMESTAMP_NTZ, every field
    nullable."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type
    from pyspark.sql.types import LongType, StructField

    fields = []
    for f in pq.read_schema(path):
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            t = LongType()
        else:
            t = from_arrow_type(f.type, prefer_timestamp_ntz=True)
        fields.append(StructField(f.name, t, True))
    return StructType(fields)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one driver testdata table (S1 analog)."""
    app = spark.sparkContext.applicationId
    if app not in _CONFS_PINNED or spark.conf.get("spark.sql.session.timeZone") != "UTC":
        apply_runtime_confs(spark)
        _CONFS_PINNED.add(app)
        if len(_CONFS_PINNED) > 64:  # pathological many-session guard
            _CONFS_PINNED.clear()
            _CONFS_PINNED.add(app)
    path = os.path.join(sf_dir, f"{name}.parquet")
    key: tuple | None
    try:
        st = os.stat(path)
        key = (spark.sparkContext.applicationId, path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = None  # globs / non-local paths: fall through, no memo
    if key is not None and key in _TABLE_PLAN_MEMO:
        return _TABLE_PLAN_MEMO[key]
    if os.path.isfile(path):
        df = spark.read.schema(_footer_schema(path)).parquet(path)
    else:  # a directory of part files: Spark infers the schema
        df = spark.read.parquet(path)
    for c, t in df.dtypes:
        if c in _NANO_TS_COLS.get(name, ()) and t == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
        elif t == "timestamp_ntz":
            # naive parquet timestamps == UTC instants (session tz is pinned
            # to UTC); normalize to TimestampType so downstream epoch math
            # (cast to long/double) is legal and engine-consistent
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    if key is not None:
        while len(_TABLE_PLAN_MEMO) >= _TABLE_PLAN_MEMO_CAP:
            _TABLE_PLAN_MEMO.pop(next(iter(_TABLE_PLAN_MEMO)))
        _TABLE_PLAN_MEMO[key] = df
    return df


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
        [f if f.name != ts_col else type(f)(f.name, _long(), True) for f in schema.fields]  # type: ignore[arg-type]
    )
    df = spark.read.csv(path, schema=raw_schema, sep=sep, mode="PERMISSIVE")
    factor = {"s": 1, "ms": 1000}[epoch_unit]
    return df.withColumn(ts_col, F.timestamp_seconds(F.col(ts_col) / factor))


def _long():
    from pyspark.sql.types import LongType

    return LongType()


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
