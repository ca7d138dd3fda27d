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
    (Spark re-delivers one after a failure) is skipped by the high-water
    epoch guard of ``streaming_active_users_foreach_batch``."""
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
    _await_bounded(writer.format("memory").queryName(name).start(), timeout)
    return out.sparkSession.sql(f"SELECT * FROM {name}").collect()


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
    k-means/codebook operators); the sink name is sequence-unique per
    session so repeated invocations never read a stale table."""
    _BOUNDED_SEQ[0] += 1
    name = f"bounded_replay_{_BOUNDED_SEQ[0]}_{abs(hash(out.schema.json())) % 10**8}"
    q = (
        out.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    _await_bounded(q, timeout)
    return out.sparkSession.table(name)


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


def streaming_anomaly_foreach_batch(
    day_counts_store: dict,
    sink: list,
    lookback: int = 7,
    min_prior: int = 3,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch half of the streaming daily-anomaly monitor: each
    micro-batch of CLOSED day windows (append mode — a (type, day)
    count arrives exactly once, complete, after the watermark passes
    the day end) upserts into the external per-(type, day) count store
    — the ``foreach_batch_upsert`` / Redis discipline — and scores the
    NEWLY-CLOSED days' trailing z in plain Python.  A bounded replay
    therefore reproduces ``rolling_anomaly_zscore`` exactly
    (tests/test_streaming.py).

    Store bound (round-8, the day_store discipline): append mode closes
    a key's days in watermark order, so a day is scored exactly once —
    on arrival, when its trailing *lookback* observations are all still
    stored — and observations more than ``2 * lookback`` behind each
    type's newest are evicted after scoring.  Per-batch work is
    O(arriving days × lookback) and the store holds O(types × lookback)
    entries for an infinite stream; the sink keeps the full scored
    history.  Re-delivered epochs stay idempotent: the upsert writes
    the same counts, re-scoring recomputes the same z, and the sink
    rewrite replaces in place."""
    import math

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        # Scale note: this collect is (event_type × days)-sized — the
        # closed day windows of the types touched by the batch, never raw
        # events — so the driver store stays keys×days-bounded at any SF.
        rows = batch_df.collect()
        touched: dict = {}
        for r in rows:
            day_counts_store[(r["event_type"], r["day"])] = r["cnt"]
            touched.setdefault(r["event_type"], set()).add(r["day"])
        for et, new_days in touched.items():
            days = sorted(d for (t, d) in day_counts_store if t == et)
            idx = {d: i for i, d in enumerate(days)}
            for d in sorted(new_days):
                i = idx[d]
                frame = [day_counts_store[(et, days[j])] for j in range(max(0, i - lookback), i)]
                n = len(frame)
                z = None
                if n >= min_prior:
                    mean = sum(frame) / n
                    var = sum(x * x for x in frame) / n - mean * mean
                    if var > 0:
                        z = round((day_counts_store[(et, d)] - mean) / math.sqrt(var), 6)
                sink[:] = [s for s in sink if not (s[0] == et and s[1] == d)]
                sink.append((et, d, day_counts_store[(et, d)], n, z))
            # retention: evict observations more than 2*lookback behind
            # this type's newest — future days' frames only ever read
            # the trailing lookback observations, all younger than this
            for d in days[: max(0, len(days) - 2 * lookback)]:
                del day_counts_store[(et, d)]

    return process


def streaming_daily_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    watermark: str = "1 day",
) -> DataFrame:
    """Watermarked tumbling day-window counts per key — the streaming
    half feeding ``streaming_anomaly_foreach_batch`` (append mode emits
    each (key, day) once, after the watermark closes the day)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), "1 day").alias("w"), F.col(key_col)
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col(key_col),
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            F.col("cnt"),
        )
    )


def streaming_daily_users(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Watermarked per-(day, user) presence stream — append mode emits
    each (day, user) exactly once when the watermark closes the day;
    feeds ``streaming_active_users_foreach_batch``."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), "1 day").alias("w"), F.col(user_col)
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            F.col(user_col),
        )
    )


def streaming_active_users_foreach_batch(
    day_store: dict,
    sink: list,
    lookback: int = 7,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch half of the streaming DAU/WAU monitor — the driver
    store is DAYS-sized, never user-sized (round-6 verdict #3: the old
    (day, user) Python set was distinct-users×days, i.e. event-scale at
    100 TB).

    Per batch of closed (day, user) presences (append mode emits each
    pair exactly once, after the watermark closes the day):

    1. ONE days-sized Spark aggregate reduces the batch to
       (day, n_users, hll_sketch) — distinctness is resolved upstream by
       the streaming aggregation, so the per-day row count IS the exact
       DAU contribution;
    2. the store upserts ``day -> (exact_count, sketch_bytes)``; a day
       split across batches merges sketches via ``hll_union_agg`` over a
       two-row frame (the mergeable-daily-sketches discipline of
       ``weekly_uv_from_daily_sketches``) and ADDS the exact counts
       (append-once makes the sum exact);
    3. every day whose trailing *lookback* window touched the batch is
       re-scored: dau = the stored exact count, wau = the HLL estimate
       of the union of the frame's day sketches (ONE days-sized Spark
       aggregate for all affected days).

    dau is exact; wau carries standard HLL error (~2% at the default
    lgConfigK=12) — the price of a days-bounded store, identical to the
    Redis-sketch layout a production monitor would keep.

    Exactly-once: foreachBatch re-delivers an epoch after a failure;
    the old set-based store was naturally idempotent, the additive
    count upsert is NOT — so replayed epochs are skipped via a
    HIGH-WATER epoch (epoch_ids are monotonic per query, so one int
    replaces the round-6 ever-growing ``seen_epochs`` set; a store
    persisted across driver restarts would persist it alongside, as
    ``foreach_batch_upsert`` does with its overwrite discipline).  The
    high-water mark advances ONLY after every Spark action and store
    mutation for the batch has completed — all mutations are staged in
    a batch-local dict and committed at the end, so a mid-batch failure
    leaves the store untouched and the re-delivered epoch is reprocessed
    instead of silently dropped (round-7 advice).

    Store bound: entries older than ``2 * lookback`` days behind the
    newest stored day are evicted at commit.  The WAU of any day d only
    ever reads the trailing ``lookback`` days, append mode emits each
    closed day once, and a day split across adjacent micro-batches
    merges while still comfortably inside the retention horizon — so
    for an infinite stream the store holds O(lookback) entries, never
    O(stream-lifetime days)."""
    import datetime as dt

    high_water = [-1]  # max fully-committed epoch_id

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id <= high_water[0]:
            return
        spark = batch_df.sparkSession
        # days-sized collect: distinct users per day as count + sketch
        agg = (
            batch_df.groupBy("day")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.hll_sketch_agg("user_id").alias("sk"),
            )
            .collect()
        )
        if not agg:
            high_water[0] = epoch_id
            return
        pending: dict = {}  # staged day -> (count, sketch) upserts
        merge_rows = []  # (day, sketch) pairs for days needing a union
        for r in agg:
            d, n_new, sk_new = r["day"], r["n"], bytes(r["sk"])
            if d in day_store:
                n_old, sk_old = day_store[d]
                merge_rows.extend([(d, sk_old), (d, sk_new)])
                pending[d] = (n_old + n_new, None)  # sketch filled below
            else:
                pending[d] = (n_new, sk_new)
        if merge_rows:
            merged = (
                spark.createDataFrame(merge_rows, "day string, sk binary")
                .groupBy("day")
                .agg(F.hll_union_agg("sk").alias("u"))
                .collect()
            )
            for r in merged:
                pending[r["day"]] = (pending[r["day"]][0], bytes(r["u"]))
        store = {**day_store, **pending}  # batch view, store still clean
        touched_days = {r["day"] for r in agg}
        affected = set()
        for d in touched_days:
            base = dt.date.fromisoformat(d)
            for o in range(lookback):
                affected.add((base + dt.timedelta(days=o)).isoformat())
        # one days-sized frame: (center day, member-day sketch) exploded
        # over each affected day's trailing window, unioned per center
        frame_rows = []
        for d in affected:
            base = dt.date.fromisoformat(d)
            for o in range(lookback):
                fd = (base - dt.timedelta(days=o)).isoformat()
                if fd in store:
                    frame_rows.append((d, store[fd][1]))
        wau_by_day = {
            r["day"]: int(r["wau"])
            for r in spark.createDataFrame(frame_rows, "day string, sk binary")
            .groupBy("day")
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("wau"))
            .collect()
        }
        # commit: every Spark action succeeded — apply staged mutations,
        # rewrite the sink, evict beyond-retention days, then (and only
        # then) advance the high-water epoch
        day_store.update(pending)
        for d in sorted(affected):
            dau = store[d][0] if d in store else 0
            sink[:] = [s for s in sink if s[0] != d]
            sink.append((d, dau, wau_by_day.get(d, 0)))
        horizon = max(dt.date.fromisoformat(d) for d in day_store) - dt.timedelta(
            days=2 * lookback
        )
        for d in [d for d in day_store if dt.date.fromisoformat(d) < horizon]:
            del day_store[d]
        high_water[0] = epoch_id

    return process


def streaming_range_join_binned(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    lower_seconds: float = 5,
    upper_seconds: float = 5,
    left_watermark: str = "10 seconds",
    right_watermark: str = "10 seconds",
) -> DataFrame:
    """Streaming twin of ``operators.joins.range_join_binned`` — a
    KEYLESS stream-stream time-range join.  Without an equi key,
    stream-stream joins degenerate to comparing every buffered row
    against every arrival; the bin column (width = lower+upper, left
    explodes to ≤ 2 bins, right sits in exactly 1) gives the state
    store a hash key, so each arrival probes one bin partition.

    Both sides carry watermarks and the raw INTERVAL range condition on
    the event-time columns — that (not the bin equality) is what lets
    Spark derive state-eviction bounds: buffered rows age out once the
    other side's watermark passes their match window, exactly like the
    keyed interval twin.  Inner join only (the exploded left would
    null-pad once per bin otherwise)."""
    w = float(lower_seconds) + float(upper_seconds)
    if w <= 0:
        raise ValueError("lower_seconds + upper_seconds must be positive")
    lsec = F.col(left_ts).cast("double")
    rsec = F.col(right_ts).cast("double")
    l_ = (
        left.withWatermark(left_ts, left_watermark)
        .withColumn(
            "__bin",
            F.explode(
                F.sequence(
                    F.floor((lsec - F.lit(float(lower_seconds))) / F.lit(w)),
                    F.floor((lsec + F.lit(float(upper_seconds))) / F.lit(w)),
                )
            ),
        )
        .alias("l")
    )
    r_ = right.withWatermark(right_ts, right_watermark).withColumn(
        "__bin", F.floor(rsec / F.lit(w))
    ).alias("r")
    lts, rts = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    cond = (
        (F.col("l.__bin") == F.col("r.__bin"))
        & (rts >= lts - F.expr(f"INTERVAL {int(lower_seconds)} SECONDS"))
        & (rts <= lts + F.expr(f"INTERVAL {int(upper_seconds)} SECONDS"))
    )
    return l_.join(r_, cond, "inner").drop("__bin")


def streaming_latest_per_key(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    payload_cols: Sequence[str] = ("event_type", "event_id"),
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Streaming twin of the ``latest_event_per_user`` compaction: a
    running latest-state snapshot per key via ``max_by`` over the
    (ts, tiebreak) ordering struct — run in ``update`` output mode so
    each micro-batch re-emits only the keys it touched (the CDC
    "current state" materialized view; pair with
    ``sinks.foreach_batch_upsert`` for an external store).

    No watermark: latest-state must accept arbitrarily late keys, and
    aggregate state is one row per key — bounded by key cardinality,
    not event volume (same contract as the reference's per-key
    ValueState)."""
    ordk = F.struct(F.col(ts_col), F.col(tiebreak_col))
    return stream.groupBy(key_col).agg(
        F.max(ts_col).cast("long").alias("last_ts"),
        *[F.max_by(c, ordk).alias(f"last_{c}") for c in payload_cols],
        F.count(F.lit(1)).alias("n_events"),
    )


def streaming_activity_bitmask(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming twin of the ``hourly_activity_bitmask`` per-(user, day)
    stage: ``bit_or(1 << hour)`` is associative/commutative, so the
    24-bit activity mask accumulates incrementally in update mode with
    8 bytes of state per key.

    The day bucket is a ``window(ts, '1 day')`` on the WATERMARKED
    event-time column — not a derived ``cast(ts)/86400`` column — so
    Spark's state store recognizes it as an event-time window and
    EVICTS each (key, day) entry once the watermark passes day-end +
    delay; a derived column would accumulate one state row per
    (key, day) forever.  ``window.start`` is projected back to the
    epoch-day long so the output schema matches the batch twin."""
    wm = stream.withWatermark(ts_col, watermark)
    return (
        wm.groupBy(
            F.col(key_col),
            F.window(F.col(ts_col), "1 day").alias("__w"),
        )
        .agg(
            F.bit_or(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), "
                    f"CAST(pmod(CAST({ts_col} AS LONG), 86400) DIV 3600 AS INT))"
                )
            ).alias("mask")
        )
        .select(
            key_col,
            F.floor(F.unix_timestamp(F.col("__w.start")) / F.lit(86400))
            .cast("long")
            .alias("day"),
            "mask",
        )
    )


def streaming_tokenize(
    stream: DataFrame,
    merges: list[tuple[str, str]],
    group_cols: Sequence[str] = ("lang", "source"),
    text_col: str = "text",
) -> DataFrame:
    """Online tokenization with a FROZEN, batch-trained BPE merge list
    (train-offline / apply-online — the tokenizer analog of the frozen-
    codebook streaming IVF ingest): word explode + the rank-ordered
    merge folds are pure narrow transformations (``operators.bpe.
    apply_merges``), so the only state is the per-(group) running
    word/token totals — two longs per group, update mode.  Merges ride
    inside the plan itself (literal fold expressions), so executors
    need no side-channel distribution of the model."""
    from ..operators.bpe import apply_merges

    words = (
        stream.filter(F.col(text_col).isNotNull())
        .select(*group_cols, F.explode(F.split(text_col, " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    seg = apply_merges(words, merges)
    return seg.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.size("s")).alias("n_tokens"),
    )


def streaming_heavy_hitters_foreach_batch(
    store: dict,
    totals: list,
    key_col: str,
    k: int,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch half of the online heavy-hitter monitor: each
    micro-batch contributes its per-partition Misra–Gries summaries
    (``operators.heavy_hitters.mg_summaries`` — O(k) rows per
    partition, never the full key set), merged driver-side into one
    running MG(k) *store*; ``totals[0]`` tracks the stream length N.
    By the mergeable-summaries bound the store's keys are a SUPERSET
    of every key with frequency > N/k at all times, and each stored
    count underestimates truth by at most N/k — so the store IS the
    candidate set for an exact recount (the streaming analog of
    ``heavy_hitters_exact``'s pass 1; pass 2 stays a batch job over
    the landed data).  A replayed epoch is skipped by the high-water
    epoch guard of ``streaming_active_users_foreach_batch``: adding its
    length and summaries again would double-count it."""
    from ..operators.heavy_hitters import mg_merge, mg_summaries

    high_water = [-1]  # max fully-committed epoch_id

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id <= high_water[0]:
            return
        keyed = batch_df.filter(F.col(key_col).isNotNull())
        n = keyed.count()
        if n == 0:
            high_water[0] = epoch_id
            return
        totals[0] += n
        parts = mg_summaries(keyed, key_col, k).collect()
        merged: dict = {}
        for r in parts:
            merged[r[key_col]] = merged.get(r[key_col], 0) + r["mg_cnt"]
        # merge into a copy: mg_merge returns its first argument when no
        # prune happens, and clear() before update() would erase it
        store_new = mg_merge(dict(store), merged, k)
        store.clear()
        store.update(store_new)
        high_water[0] = epoch_id

    return process
