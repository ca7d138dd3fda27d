"""Structured Streaming twins of the batch operators (SURVEY.md §2.4-2.6).

The reference is a streaming system; these jobs reproduce its event-time
discipline on Structured Streaming:

- ``withWatermark`` replaces Flink's watermark assigners (T2/T3 — the
  bounded-out-of-orderness contract is identical: rows later than
  max(event time) − delay are dropped, SURVEY.md §2.5);
- windowed aggregations carry their state in the state store keyed by
  (window, keys) — the same O(windows × keys) state the reference's
  incremental ``AggregateFunction`` holds (HotItems.scala:70-84);
- per-window top-N is not a pure streaming aggregation (rank needs the
  window's full key set), so the rank runs in ``foreachBatch`` over the
  append-mode windowed counts — the micro-batch analog of the
  reference's "buffer until windowEnd + ε then sort" timer pattern
  (TopNHotItems, HotItems.scala:108-167);
- sessionization uses the native ``session_window`` (merging session
  state), the streaming-correct form of the batch gaps-and-islands.

Bounded replays (``run_bounded``) drive any of these to completion on a
finite file source with ``availableNow`` — that is how the tests prove
streaming/batch equivalence.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import apply_runtime_confs


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str = "events",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-replay stream over a testdata parquet table (the streaming
    analog of the reference's readTextFile replays, S1)."""
    apply_runtime_confs(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{table}.parquet")
    static = spark.read.parquet(path)
    if os.path.isdir(path):
        # Spark-written dataset directory (the scratch scale-up SFs):
        # already a directory of part files — stream it directly.  The
        # former symlink-into-view-dir path silently produced an EMPTY
        # stream here: the file source lists plain files only and never
        # descends into a symlinked subdirectory (found by the round-8
        # sf1/sf10 replay sweep — 0 rows where the batch twin read 10M).
        view_dir = path
    else:
        # the file source streams a *directory*; testdata tables are
        # single files, so expose each through a symlink view dir
        # (read-only data stays untouched)
        view_dir = os.path.join(
            "/tmp/spark_graft_stream_views", os.path.basename(os.path.normpath(sf_dir)), table
        )
        os.makedirs(view_dir, exist_ok=True)
        link = os.path.join(view_dir, f"{table}.parquet")
        # lexists, not exists: a link left by an earlier (deleted)
        # dataset with the same basename is a *dangling* symlink —
        # exists() follows it and reports False, but symlink() would
        # still collide.  Re-point whenever the target differs.
        if os.path.lexists(link):
            if os.path.realpath(link) != os.path.realpath(path):
                os.remove(link)
                os.symlink(path, link)
        else:
            os.symlink(path, link)
    reader = spark.readStream.schema(static.schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(view_dir)
    for c, t in df.dtypes:
        if c == "ts" and t == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
        elif t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def streaming_windowed_count(
    stream: DataFrame,
    ts_col: str = "ts",
    size: str = "1 hour",
    slide: str | None = None,
    keys: Sequence[str] = (),
    watermark: str = "0 seconds",
) -> DataFrame:
    """Watermarked windowed count — the streaming twin of
    ``operators.windows.windowed_count`` (same output columns)."""
    wm = stream.withWatermark(ts_col, watermark)
    win = F.window(F.col(ts_col), size, slide) if slide else F.window(F.col(ts_col), size)
    return (
        wm.groupBy(win.alias("w"), *[F.col(k) for k in keys])
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").cast("long").alias("ws"),
            F.col("w.end").cast("long").alias("we"),
            *[F.col(k) for k in keys],
            F.col("cnt"),
        )
    )


def streaming_session_window(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Native merging session windows (extension op; batch twin is
    ``operators.sessions.sessionize``).  Emits (key, session_start,
    session_end_last, n_events) — end is the last event time, matching
    the batch formulation rather than Spark's end+gap convention."""
    wm = stream.withWatermark(ts_col, watermark)
    return (
        wm.groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"), F.max(ts_col).alias("last_ts"))
        .select(
            F.col(key_col),
            F.col("w.start").cast("long").alias("session_start"),
            F.col("last_ts").cast("long").alias("session_end"),
            F.col("n_events"),
        )
    )


def streaming_session_stats(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
    gap: str = "30 minutes",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Native merging session windows carrying per-session LANDING-event
    stats — the streaming twin of ``operators.sessions.session_stats``
    at the per-session grain (round-9 verdict #5: the one stateful shape
    no prior replay covered — session_window merge state plus a
    value-ordered landing pick inside the same aggregation).

    The landing event is the session's first row by the full ordering
    tuple (ts, tiebreak, type IS NULL, coalesce(type, '')) — ``min_by``
    over a struct,
    decided by VALUES alone, so byte-identical duplicates and fully-tied
    boundaries agree with the batch oracle (the sessionize/session_stats
    determinism discipline).  The landing-keyed REPORT grain needs a
    second stateful aggregation, which append mode forbids — that roll-up
    is one ordinary batch groupBy downstream of the sink.

    State per (key, open session) is O(1): count, min/max event time,
    and the current landing candidate — merges are associative, so the
    session-window store stays bounded by OPEN sessions per key, the
    property that keeps it feasible on an unbounded stream."""
    wm = stream.withWatermark(ts_col, watermark)
    # (IS NULL) flag ahead of the coalesced value: coalesce('') alone
    # leaves a NULL type and a real '' TIED when (ts, tiebreak) also tie,
    # making the landing arrival-order-dependent (round-10 advice); the
    # flag matches the oracle's `(type IS NULL)` ORDER BY term.
    type_null = F.col(type_col).isNull().cast("int")
    type_ord = F.coalesce(F.col(type_col), F.lit(""))
    return (
        wm.groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col))
        .agg(
            F.min_by(
                F.col(type_col),
                F.struct(
                    F.col(ts_col),
                    F.col(tiebreak_col),
                    type_null.alias("__tn"),
                    type_ord.alias("__t"),
                ),
            ).alias("landing"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
        )
        .select(
            F.col(key_col),
            F.col("first_ts").cast("long").alias("session_start"),
            F.col("last_ts").cast("long").alias("session_end"),
            F.col("landing"),
            F.col("n_events"),
            (F.col("last_ts").cast("long") - F.col("first_ts").cast("long")).alias(
                "duration_sec"
            ),
        )
    )


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower_seconds: float = 5,
    upper_seconds: float = 3,
    left_watermark: str = "10 seconds",
    right_watermark: str = "10 seconds",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join (J1/J2 streaming twins,
    OrderPayTxMatchWithJoin.scala:54-57 / OrderPayTxMatch.scala:71-126).

    Both sides carry watermarks; the time-range condition bounds join
    state exactly like the two ``keyBy`` + ValueState pairs in the
    reference — Spark's state manager evicts rows once the other side's
    watermark passes their match window.  ``how='full_outer'`` emits the
    null-padded unmatched rows at eviction time: precisely the
    reference's timer-driven unmatched-pays/unmatched-receipts side
    outputs."""
    l_ = left.withWatermark(left_ts, left_watermark).alias("l")
    r_ = right.withWatermark(right_ts, right_watermark).alias("r")
    lts, rts = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (rts >= lts - F.expr(f"INTERVAL {int(lower_seconds)} SECONDS"))
        & (rts <= lts + F.expr(f"INTERVAL {int(upper_seconds)} SECONDS"))
    )
    return l_.join(r_, cond, how)


def streaming_uv_update(
    stream: DataFrame,
    ts_col: str = "ts",
    size: str = "1 hour",
    distinct_col: str = "user_id",
    rsd: float = 0.01,
    watermark: str = "0 seconds",
) -> DataFrame:
    """W7/A7 twin — the reference's FIRE_AND_PURGE trigger emits a
    running UV value on every element (UvWithBloomFilter.scala:66-89);
    Structured Streaming's ``update`` output mode emits the running
    value once per micro-batch instead (same semantics at batch
    granularity — run with ``output_mode='update'``).  The bloom
    filter/Redis bitmap becomes a mergeable DataSketches HLL sketch in
    the state store: the same estimator, at the same ``lgConfigK`` for
    *rsd*, as the batch twin ``windowed_distinct_count(approx=True)``."""
    from ..operators.distinct import hll_lg_k

    wm = stream.withWatermark(ts_col, watermark)
    uv = F.hll_sketch_estimate(F.hll_sketch_agg(distinct_col, hll_lg_k(rsd)))
    return (
        wm.groupBy(F.window(F.col(ts_col), size).alias("w"))
        .agg(uv.alias("uv"))
        .select(
            F.col("w.start").cast("long").alias("ws"),
            F.col("w.end").cast("long").alias("we"),
            F.col("uv"),
        )
    )


def streaming_topn_foreach_batch(
    counts: DataFrame,
    n: int,
    key_cols: Sequence[str],
    sink: list,
) -> Callable[[DataFrame, int], None]:
    """Returns a foreachBatch fn ranking each appended batch of closed
    windows (append mode emits a window exactly once, after watermark
    passes its end — so per-batch ranking sees each window complete,
    like the reference's timer at windowEnd+100ms).  A replayed epoch
    (Spark re-delivers one after a failure) is skipped: epoch ids rise
    monotonically per query, so one high-water epoch id, advanced only
    after the batch's rows reach *sink*, tells a replay from a new
    batch, and a batch that fails midway is redone on re-delivery."""
    from ..operators.windows import topn_per_window

    high_water = [-1]  # max fully-committed epoch_id

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id <= high_water[0]:
            return
        ranked = topn_per_window(batch_df, n, tiebreak_cols=list(key_cols), rank_alias="rnk")
        sink.extend(ranked.collect())
        high_water[0] = epoch_id

    return process


def run_bounded(
    out: DataFrame,
    output_mode: str = "append",
    foreach_batch: Callable | None = None,
    timeout: int = 120,
) -> list:
    """Execute a streaming plan to completion on its bounded source
    (``availableNow`` trigger) and return collected rows (memory sink)
    or [] when *foreach_batch* handles its own output.  A replay still
    running after *timeout* seconds is stopped and raises
    ``TimeoutError``: its output so far would be a silent partial."""
    writer = out.writeStream.outputMode(output_mode).trigger(availableNow=True)
    if foreach_batch is not None:
        _await_bounded(writer.foreachBatch(foreach_batch).start(), timeout)
        return []
    name = f"mem_{abs(hash(out.schema.json())) % 10**8}_{id(out)}"
    q = writer.format("memory").queryName(name).start()
    try:
        _await_bounded(q, timeout)
        return out.sparkSession.table(name).collect()
    finally:
        out.sparkSession.catalog.dropTempView(name)


def _await_bounded(q, timeout: int) -> None:
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(f"bounded replay {q.name or q.id} did not finish in {timeout}s")


_BOUNDED_SEQ = [0]


def run_bounded_df(
    out: DataFrame,
    output_mode: str = "append",
    timeout: int = 300,
) -> DataFrame:
    """Like :func:`run_bounded`, but returns the memory-sink TABLE as a
    batch DataFrame instead of collecting — the bridge that lets the
    stateful streaming kernels participate in the driver's ``queries()``
    / ``oracle_sql()`` contract (round-6 verdict #7): the registry entry
    executes the bounded replay to completion inside ``fn`` and hands
    the driver an ordinary DataFrame over the sink.

    Eager by contract (the streaming query runs on call, like the
    k-means/codebook operators).  The sink's temp view is dropped before
    returning — the returned frame holds the sink's rows, and a view
    left per call would keep every replay's rows in the driver; the
    sink name is sequence-unique per session so repeated invocations
    never read a stale table."""
    _BOUNDED_SEQ[0] += 1
    name = f"bounded_replay_{_BOUNDED_SEQ[0]}_{abs(hash(out.schema.json())) % 10**8}"
    q = (
        out.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        _await_bounded(q, timeout)
        return out.sparkSession.table(name)
    finally:
        out.sparkSession.catalog.dropTempView(name)


def streaming_dedup(
    stream: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per *keys* while the
    key is inside the watermark horizon (extension — the streaming twin
    of ``operators.dedup.exact_dedup``).

    ``dropDuplicatesWithinWatermark`` evicts a key's dedup state once
    the watermark passes its last-seen timestamp + delay, so state is
    bounded by the horizon's key cardinality, not the stream's history —
    the property that keeps corpus-scale streaming ingest feasible.
    Duplicates farther apart than the horizon re-emit (documented
    semantic delta vs the batch global dedup; widen *watermark* to
    trade state for exactness)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(list(keys))
