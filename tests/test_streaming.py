"""Streaming twins must agree with their batch formulations on a bounded
replay (availableNow trigger over the same parquet)."""

from __future__ import annotations

import pytest

# round-9 verdict #3: the batch-vs-stream bounded-replay equivalence
# family is the soak tier.  The FAST tier still executes the
# applyInPandasWithState kernels end-to-end: streaming_cep_replay and
# streaming_funnel_replay are in test_queries_oracle.FAST_ORACLE_SUBSET.
pytestmark = pytest.mark.soak

import pytest

from flinkecuserbehavioranalysis_spark.io import load_table
from flinkecuserbehavioranalysis_spark.operators.patterns import consecutive_fail_alerts
from flinkecuserbehavioranalysis_spark.operators.sessions import sessionize
from flinkecuserbehavioranalysis_spark.operators.windows import (
    topn_per_window,
    windowed_count,
)
from flinkecuserbehavioranalysis_spark.sources.generator import marketing_behavior_stream
from flinkecuserbehavioranalysis_spark.streaming.jobs import (
    read_events_stream,
    run_bounded,
    streaming_session_window,
    streaming_topn_foreach_batch,
    streaming_windowed_count,
)
from flinkecuserbehavioranalysis_spark.streaming.stateful import (
    streaming_login_fail,
    streaming_order_timeout,
)

from conftest import SF_DIR

import pyspark.sql.functions as F


def _rows(rows, cols):
    return sorted(tuple(r[c] for c in cols) for r in rows)


def _max_ts(spark, predicate=None):
    """Final watermark of a bounded replay (delay 0) = max event time of
    the rows actually flowing through the watermark node."""
    df = load_table(spark, SF_DIR, "events")
    if predicate is not None:
        df = df.filter(predicate)
    return df.agg(F.max(F.col("ts").cast("double")).alias("m")).collect()[0]["m"]


def test_read_events_stream_handles_dataset_directories(spark, tmp_path):
    """A Spark-written dataset DIRECTORY (the scratch scale-up SFs'
    layout) must stream its part files — the former symlink-view path
    produced a silently EMPTY stream for directories, because the file
    source lists plain files and never descends into a symlinked
    subdirectory (round-8 sf1 sweep: 0 rows where batch read 10M)."""
    import os

    src = str(tmp_path / "scratch_sf")
    ev = load_table(spark, SF_DIR, "events")
    ev.limit(500).repartition(3).write.parquet(os.path.join(src, "events.parquet"))
    stream = read_events_stream(spark, src)
    got = run_bounded(stream.groupBy().count(), "complete")
    assert got[0]["count"] == 500


def test_streaming_windowed_count_matches_batch(spark):
    stream = read_events_stream(spark, SF_DIR).filter(F.col("event_type") == "view")
    out = streaming_windowed_count(stream, size="1 hour")
    got = run_bounded(out, output_mode="append")
    # append mode emits a window once the watermark passes its end; the
    # final window is still open at end-of-replay, exactly like a Flink
    # window whose watermark never reached windowEnd
    wm = _max_ts(spark, F.col("event_type") == "view")
    batch = windowed_count(
        load_table(spark, SF_DIR, "events").filter(F.col("event_type") == "view"), "ts", "1 hour"
    ).filter(F.col("we") <= wm).collect()
    assert _rows(got, ["ws", "we", "cnt"]) == _rows(batch, ["ws", "we", "cnt"])
    assert len(got) > 0


def test_streaming_sliding_count_matches_batch(spark):
    stream = read_events_stream(spark, SF_DIR)
    out = streaming_windowed_count(stream, size="1 day", slide="6 hours", keys=["event_type"])
    got = run_bounded(out, output_mode="append")
    wm = _max_ts(spark)
    batch = windowed_count(
        load_table(spark, SF_DIR, "events"), "ts", "1 day", "6 hours", keys=["event_type"]
    ).filter(F.col("we") <= wm).collect()
    assert _rows(got, ["ws", "we", "event_type", "cnt"]) == _rows(
        batch, ["ws", "we", "event_type", "cnt"]
    )


def test_streaming_session_window_matches_batch(spark):
    stream = read_events_stream(spark, SF_DIR)
    got = run_bounded(streaming_session_window(stream, gap="30 minutes"))
    wm = _max_ts(spark)
    batch = sessionize(load_table(spark, SF_DIR, "events"), gap_seconds=1800, tiebreak_col="event_id")
    b = (
        batch.groupBy("user_id", "session_start", "session_end")
        .agg(F.sum("n_events").alias("n"))
        .filter(F.col("session_end") + 1800 <= wm)  # session closes at last_ts+gap
    )
    got_closed = [r for r in got if r["session_end"] + 1800 <= wm]
    assert _rows(got_closed, ["user_id", "session_start", "session_end", "n_events"]) == _rows(
        b.collect(), ["user_id", "session_start", "session_end", "n"]
    )
    assert len(got_closed) > 0


def test_streaming_session_stats_landing_and_closure(spark, tmp_path):
    """Hand-built corpus with known sessions: the landing pick is decided
    by the (ts, event_id, coalesce(type,'')) VALUE tuple (not arrival
    order), durations are floor-second, and only sessions whose
    end + gap the closing watermark passed are emitted."""
    import os

    from flinkecuserbehavioranalysis_spark.streaming.jobs import streaming_session_stats

    rows = [
        # user A, session 1: two events 100 s apart — landing 'view'
        ("A", 1000, 1, "view"),
        ("A", 1100, 2, "click"),
        # user A, session 2: singleton (bounce), landing 'buy'
        ("A", 5000, 3, "buy"),
        # user C: fully tied timestamps — event_id tiebreak decides
        ("C", 2000, 11, "zzz"),
        ("C", 2000, 10, "aaa"),
        # user B: far-future event pushes the closing watermark so A/C
        # sessions close; B's own session stays open (not emitted)
        ("B", 100000, 99, "view"),
    ]
    src = str(tmp_path / "sess_sf")
    spark.createDataFrame(
        [(u, float(t), e, ty) for u, t, e, ty in rows],
        "user_id string, tsd double, event_id long, event_type string",
    ).withColumn("ts", F.col("tsd").cast("timestamp")).drop("tsd").repartition(
        2
    ).write.parquet(os.path.join(src, "events.parquet"))
    stream = read_events_stream(spark, src)
    got = _rows(
        run_bounded(streaming_session_stats(stream, gap="30 minutes")),
        ["user_id", "session_start", "session_end", "landing", "n_events", "duration_sec"],
    )
    assert got == [
        ("A", 1000, 1100, "view", 2, 100),
        ("A", 5000, 5000, "buy", 1, 0),
        ("C", 2000, 2000, "aaa", 2, 0),
    ]


def test_streaming_session_stats_null_vs_empty_type_tie(spark, tmp_path):
    """Round-10 advice: a NULL type and a real '' at the same (ts,
    event_id) must NOT tie in the landing ordering — the (type IS NULL)
    flag makes the non-null '' win deterministically."""
    import os

    from flinkecuserbehavioranalysis_spark.streaming.jobs import streaming_session_stats

    rows = [
        ("A", 1000.0, 7, None),
        ("A", 1000.0, 7, ""),
        # watermark pusher so A's session closes
        ("B", 100000.0, 99, "view"),
    ]
    src = str(tmp_path / "sess_tie_sf")
    spark.createDataFrame(
        rows, "user_id string, tsd double, event_id long, event_type string"
    ).withColumn("ts", F.col("tsd").cast("timestamp")).drop("tsd").repartition(
        2
    ).write.parquet(os.path.join(src, "events.parquet"))
    stream = read_events_stream(spark, src)
    got = _rows(
        run_bounded(streaming_session_stats(stream, gap="30 minutes")),
        ["user_id", "session_start", "session_end", "landing", "n_events", "duration_sec"],
    )
    assert got == [("A", 1000, 1000, "", 2, 0)]


def test_streaming_winnow_dedup_emits_each_fingerprint_once(spark, tmp_path):
    """The winnowing HOF selection runs unchanged inside a streaming
    plan; dropDuplicatesWithinWatermark on the fingerprint hash emits
    each distinct hash exactly once inside the horizon — two documents
    sharing a run therefore contribute the run's fingerprints once."""
    import os

    from flinkecuserbehavioranalysis_spark.operators.dedup import (
        _WINNOW_POS_BITS,
        _winnow_selected,
    )
    from flinkecuserbehavioranalysis_spark.streaming.jobs import streaming_dedup

    run = "alpha beta gamma delta epsilon zeta eta"
    rows = [(1, "x1 x2 " + run), (2, run + " y1 y2"), (3, "q1 q2 q3 q4 q5 q6 q7")]
    src = str(tmp_path / "winnow_sf")
    spark.createDataFrame(rows, "doc_id long, text string").repartition(2).write.parquet(
        os.path.join(src, "documents.parquet")
    )
    stream = (
        read_events_stream(spark, src, "documents")
        .where(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .select("doc_id", "text", F.timestamp_seconds(F.col("doc_id") + 1).alias("ts"))
    )
    fp = _winnow_selected(stream, 4, 4, "doc_id", "text", ["doc_id", "ts"])
    fp = fp.select("ts", F.explode("fp_keys").alias("key")).select(
        "ts", F.shiftright("key", _WINNOW_POS_BITS).alias("h")
    )
    got = sorted(r.h for r in run_bounded(streaming_dedup(fp, ["h"], watermark="90 days")))
    # batch truth: distinct hashes over all three docs
    batch = _winnow_selected(
        spark.createDataFrame(rows, "doc_id long, text string"), 4, 4, "doc_id", "text", ["doc_id"]
    )
    want = sorted(
        r.h
        for r in batch.select(F.explode("fp_keys").alias("k"))
        .select(F.shiftright("k", _WINNOW_POS_BITS).alias("h"))
        .distinct()
        .collect()
    )
    assert got == want and len(got) == len(set(got))


def test_streaming_topn_foreach_batch(spark):
    stream = read_events_stream(spark, SF_DIR).filter(F.col("event_type") == "view")
    stream = stream.withColumn("item_id", F.pmod("event_id", F.lit(50)))
    counts = streaming_windowed_count(stream, size="1 hour", slide="5 minutes", keys=["item_id"])
    sink: list = []
    run_bounded(counts, "append", foreach_batch=streaming_topn_foreach_batch(counts, 3, ["item_id"], sink))
    ev = load_table(spark, SF_DIR, "events").filter(F.col("event_type") == "view")
    ev = ev.withColumn("item_id", F.pmod("event_id", F.lit(50)))
    wm = _max_ts(spark, F.col("event_type") == "view")
    batch = topn_per_window(
        windowed_count(ev, "ts", "1 hour", "5 minutes", keys=["item_id"]), 3,
        tiebreak_cols=["item_id"], rank_alias="rnk",
    ).filter(F.col("we") <= wm).collect()
    cols = ["ws", "we", "item_id", "cnt", "rnk"]
    assert _rows(sink, cols) == _rows(batch, cols)


def test_foreach_batch_sinks_skip_replayed_epoch(spark):
    """Spark re-delivers an epoch_id after a crash: the top-N sink must
    not emit the replay twice, and must still take the next epoch."""
    counts = spark.createDataFrame(
        [(0, 3600, k, c) for k, c in [(1, 5), (2, 7), (3, 7), (4, 1)]], "ws LONG, we LONG, item_id INT, cnt LONG"
    )
    sink: list = []
    topn = streaming_topn_foreach_batch(counts, 2, ["item_id"], sink)
    topn(counts, 0)
    first = _rows(sink, ["ws", "we", "item_id", "cnt", "rnk"])
    topn(counts, 0)
    assert _rows(sink, ["ws", "we", "item_id", "cnt", "rnk"]) == first and len(first) == 2
    topn(counts, 1)
    assert len(sink) == 4


def test_streaming_login_fail_matches_batch(spark):
    stream = read_events_stream(spark, SF_DIR).select("user_id", "event_type", "ts", "event_id")
    got = run_bounded(streaming_login_fail(stream, max_gap_seconds=3600.0))
    batch = consecutive_fail_alerts(
        load_table(spark, SF_DIR, "events"),
        fail_value="error",
        max_gap_seconds=3600,
        tiebreak_col="event_id",
    ).collect()
    cols = ["user_id", "first_fail_ts", "last_fail_ts", "warning_msg"]
    assert _rows(got, cols) == _rows(batch, cols)
    assert len(got) > 0


def test_streaming_fail_burst_matches_batch(spark):
    """F2's timer-buffer twin (LoginFailOne.scala:62-106): pending fails
    + event-time timer at anchor+window.  On a bounded replay it must
    reproduce every batch run that is DECIDED by end-of-stream: runs
    flushed by a later success, plus success-free runs whose timer the
    final watermark passed (anchor + window < max event time)."""
    from flinkecuserbehavioranalysis_spark.operators.patterns import fail_burst_alerts
    from flinkecuserbehavioranalysis_spark.streaming.stateful import streaming_fail_burst

    window_s, min_fails = 3600.0, 2
    stream = read_events_stream(spark, SF_DIR).select("user_id", "event_type", "ts", "event_id")
    got = run_bounded(
        streaming_fail_burst(stream, window_seconds=window_s, min_fails=min_fails)
    )
    ev = load_table(spark, SF_DIR, "events")
    batch = fail_burst_alerts(
        ev,
        fail_value="error",
        window_seconds=int(window_s),
        min_fails=min_fails,
        tiebreak_col="event_id",
    ).collect()
    # which batch runs are decided at end-of-replay?
    wm = _max_ts(spark)
    succ_after = {
        (r.user_id, r.anchor)
        for r in ev.filter(F.col("event_type") != "error")
        .select("user_id", F.col("ts").cast("double").alias("sts"))
        .join(
            spark.createDataFrame(
                [(b.user_id, float(b.first_fail_ts)) for b in batch],
                "user_id long, anchor double",
            ),
            "user_id",
        )
        .filter(F.col("sts") > F.col("anchor"))
        .select("user_id", "anchor")
        .distinct()
        .collect()
    }
    decided = [
        b
        for b in batch
        if (b.user_id, float(b.first_fail_ts)) in succ_after
        or b.first_fail_ts + window_s < wm
    ]
    cols = ["user_id", "first_fail_ts", "last_fail_ts", "n_fails", "warning_msg"]
    assert _rows(got, cols) == _rows(decided, cols)
    assert len(got) > 0


def test_streaming_order_timeout_pay_paths(spark):
    """Orders with both create+pay present must classify exactly like the
    batch operator; timer-only outcomes need watermark advancement past
    the deadline, which a single bounded batch doesn't provide."""
    from flinkecuserbehavioranalysis_spark.operators.timeout import create_pay_status

    orders = load_table(spark, SF_DIR, "orders")
    lineitem = load_table(spark, SF_DIR, "lineitem")
    oe_batch = orders.select(
        F.col("o_orderkey").alias("order_id"), F.lit("create").alias("event_type"),
        F.col("o_orderdate").alias("ts"),
    ).unionByName(
        lineitem.select(
            F.col("l_orderkey").alias("order_id"), F.lit("pay").alias("event_type"),
            F.col("l_shipdate").alias("ts"),
        )
    )
    batch = {
        r["order_id"]: (r["create_ts"], r["pay_ts"], r["status"])
        for r in create_pay_status(oe_batch, timeout_seconds=30 * 86400).collect()
        if r["create_ts"] is not None and r["pay_ts"] is not None
    }

    o_stream = read_events_stream(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("order_id"), F.lit("create").alias("event_type"),
        F.col("o_orderdate").alias("ts"),
    )
    l_stream = read_events_stream(spark, SF_DIR, "lineitem").select(
        F.col("l_orderkey").alias("order_id"), F.lit("pay").alias("event_type"),
        F.col("l_shipdate").alias("ts"),
    )
    got = run_bounded(
        streaming_order_timeout(o_stream.unionByName(l_stream), timeout_seconds=30 * 86400)
    )
    got_map = {r["order_id"]: (r["create_ts"], r["pay_ts"], r["status"]) for r in got}
    assert len(got_map) > 0
    for oid, expected in batch.items():
        assert got_map.get(oid) == expected, f"order {oid}: {got_map.get(oid)} != {expected}"


def test_rate_generator_schema(spark):
    stream = marketing_behavior_stream(spark, rows_per_second=100, partitions=2)
    assert set(stream.columns) == {"user_id", "behavior", "channel", "ts"}
    q = stream.writeStream.format("memory").queryName("gen_test").outputMode("append").start()
    try:
        import time

        deadline = time.time() + 30
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) c FROM gen_test").collect()[0]["c"]
            if n > 0:
                break
            time.sleep(0.5)
        rows = spark.sql(
            "SELECT behavior, channel FROM gen_test LIMIT 20"
        ).collect()
        assert n > 0
        from flinkecuserbehavioranalysis_spark.sources.generator import BEHAVIORS, CHANNELS

        for r in rows:
            assert r["behavior"] in BEHAVIORS and r["channel"] in CHANNELS
    finally:
        q.stop()


def test_streaming_blacklist_matches_batch(spark):
    from flinkecuserbehavioranalysis_spark.streaming.stateful import streaming_blacklist
    from flinkecuserbehavioranalysis_spark.operators.patterns import blacklist_filter

    stream = read_events_stream(spark, SF_DIR).select(
        "user_id", F.pmod("event_id", F.lit(2)).alias("ad_id"), "ts"
    )
    got = run_bounded(streaming_blacklist(stream, threshold=1))
    ev = load_table(spark, SF_DIR, "events").withColumn("ad_id", F.pmod("event_id", F.lit(2)))
    _, warnings = blacklist_filter(ev, threshold=1, tiebreak_col="event_id")
    cols = ["user_id", "ad_id", "day", "warning_msg"]
    assert _rows(got, cols) == _rows(warnings.collect(), cols)
    assert len(got) > 0


def test_streaming_uv_update_mode(spark):
    from flinkecuserbehavioranalysis_spark.streaming.jobs import streaming_uv_update
    from flinkecuserbehavioranalysis_spark.operators.distinct import windowed_distinct_count

    stream = read_events_stream(spark, SF_DIR).filter(F.col("event_type") == "view")
    got = run_bounded(streaming_uv_update(stream), output_mode="update")
    # single bounded batch → one (final) emission per window == batch values
    batch = windowed_distinct_count(
        load_table(spark, SF_DIR, "events").filter(F.col("event_type") == "view"),
        "ts", "1 hour", "user_id", approx=True, rsd=0.01,
    ).collect()
    assert _rows(got, ["ws", "we", "uv"]) == _rows(batch, ["ws", "we", "uv"])


def test_foreach_batch_upsert_idempotent(spark, tmp_path):
    from flinkecuserbehavioranalysis_spark.streaming.sinks import foreach_batch_upsert, read_store

    target = str(tmp_path / "uv_store")
    stream = read_events_stream(spark, SF_DIR).filter(F.col("event_type") == "view")
    out = streaming_windowed_count(stream, size="1 hour")
    sink_fn = foreach_batch_upsert(target, ["ws", "we"])
    run_bounded(out, "append", foreach_batch=sink_fn)
    first = _rows(read_store(spark, target).collect(), ["ws", "we", "cnt"])
    # replay the whole stream again — upsert must converge to the same store
    run_bounded(out, "append", foreach_batch=sink_fn)
    second = _rows(read_store(spark, target).collect(), ["ws", "we", "cnt"])
    assert first == second
    assert len(first) > 0


def test_foreach_batch_store_sinks_survive_epoch_replay(spark, tmp_path, monkeypatch):
    """Replay drill for the two store sinks.  Epoch 0 lands keys {1, 2},
    epoch 1 lands key 3, then Spark re-delivers epoch 1: the store must
    hold all three keys, once each.  ``foreach_batch_upsert`` also runs
    with a driver that dies inside epoch 1's final overwrite, after the
    overwrite has cleared the store; the replay must still see keys 1
    and 2."""
    import os
    import shutil

    from pyspark.sql import DataFrameWriter

    from flinkecuserbehavioranalysis_spark.streaming.sinks import (
        foreach_batch_partitioned_upsert,
        foreach_batch_upsert,
    )

    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "k INT, v STRING")
    b1 = spark.createDataFrame([(3, "c")], "k INT, v STRING")
    want = [(1, "a"), (2, "b"), (3, "c")]
    write_parquet = DataFrameWriter.parquet

    for name, make, crash in [
        ("upsert", foreach_batch_upsert, False),
        ("upsert_crash", foreach_batch_upsert, True),
        ("partitioned_upsert", foreach_batch_partitioned_upsert, False),
    ]:
        store = str(tmp_path / name)

        def store_rows():
            return sorted((r.k, r.v) for r in spark.read.parquet(store).collect())

        def dies_in_final_write(self, path, *args, **kwargs):
            if path == store:
                shutil.rmtree(store)
                os.makedirs(os.path.join(store, "_temporary", "0"))
                raise RuntimeError("driver died during the final overwrite")
            return write_parquet(self, path, *args, **kwargs)

        sink = make(store, ["k"])
        sink(b0, 0)
        if crash:
            with monkeypatch.context() as m:
                m.setattr(DataFrameWriter, "parquet", dies_in_final_write)
                with pytest.raises(RuntimeError, match="driver died"):
                    sink(b1, 1)
        else:
            sink(b1, 1)
            assert store_rows() == want, name
        sink(b1, 1)  # Spark re-delivers epoch 1
        assert store_rows() == want, name


def test_streaming_dedup_matches_batch_distinct(spark):
    from flinkecuserbehavioranalysis_spark.streaming.jobs import streaming_dedup

    stream = read_events_stream(spark, SF_DIR).select("user_id", "event_type", "ts")
    # horizon wider than the replay span → state never evicts → exactly
    # one survivor per key, the batch distinct
    out = streaming_dedup(stream, ["user_id", "event_type"], watermark="90 days")
    got = run_bounded(out, output_mode="append")
    batch = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    )
    assert sorted((r.user_id, r.event_type) for r in got) == sorted(
        (r.user_id, r.event_type) for r in batch
    )


def test_streaming_windowed_count_complete_mode(spark):
    """Complete mode re-emits every window each batch — a bounded replay
    must therefore reproduce the batch result with NO watermark cutoff
    (append mode's still-open final window is included here)."""
    stream = read_events_stream(spark, SF_DIR).filter(F.col("event_type") == "view")
    out = streaming_windowed_count(stream, size="1 hour")
    got = run_bounded(out, output_mode="complete")
    batch = windowed_count(
        load_table(spark, SF_DIR, "events").filter(F.col("event_type") == "view"),
        "ts",
        "1 hour",
    ).collect()
    assert _rows(got, ["ws", "we", "cnt"]) == _rows(batch, ["ws", "we", "cnt"])


def test_streaming_order_timeout_timer_fires_across_batches(spark, tmp_path):
    """The event-time timer path (OrderTimeout.scala:127-142 analog): an
    unpaid create must emit its timeout once a LATER batch advances the
    watermark past create_ts + deadline. maxFilesPerTrigger=1 forces the
    two files into separate micro-batches; the trailing no-data batch
    carries the final watermark that fires the timer."""
    import time

    in_dir = tmp_path / "orders_stream"
    # timestamps start above epoch 0: a row whose event time equals the
    # initial watermark (0) is dropped as late by the stateful operator
    b1 = spark.createDataFrame(
        [(1, "create", 100), (2, "create", 110), (2, "pay", 200)],
        "order_id long, event_type string, tsd long",
    ).selectExpr("order_id", "event_type", "timestamp_seconds(tsd) as ts")
    b1.coalesce(1).write.mode("append").parquet(str(in_dir))
    time.sleep(1.1)  # distinct mtimes → deterministic file order
    b2 = spark.createDataFrame(
        [(3, "create", 2000), (3, "pay", 2100)],
        "order_id long, event_type string, tsd long",
    ).selectExpr("order_id", "event_type", "timestamp_seconds(tsd) as ts")
    b2.coalesce(1).write.mode("append").parquet(str(in_dir))

    stream = (
        spark.readStream.schema("order_id long, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(in_dir))
    )
    from flinkecuserbehavioranalysis_spark.operators.timeout import PAY_OK, TIMEOUT

    out = streaming_order_timeout(stream, timeout_seconds=900.0, watermark="5 seconds")
    got = {r.order_id: (r.status, r.create_ts, r.pay_ts) for r in run_bounded(out)}
    assert got[2] == (PAY_OK, 110, 200)
    assert got[3] == (PAY_OK, 2000, 2100)
    assert got[1] == (TIMEOUT, 100, None)  # fired by watermark, not by data


def test_streaming_interval_join_full_outer_emits_unmatched(spark, tmp_path):
    """J2's streaming semantics: the full_outer stream-stream join emits
    the null-padded unmatched side once the watermark passes its match
    window — the reference's timer-driven unmatched-pays side output
    (OrderPayTxMatch.scala:110-125). Late batches advance the watermark
    past the first batch's rows to force eviction."""
    import time

    from flinkecuserbehavioranalysis_spark.streaming.jobs import streaming_interval_join

    ldir, rdir = tmp_path / "pays", tmp_path / "receipts"

    def w(d, rows):
        spark.createDataFrame(rows, "tx_id string, tsd long").selectExpr(
            "tx_id", "timestamp_seconds(tsd) as ts"
        ).coalesce(1).write.mode("append").parquet(str(d))
        time.sleep(1.1)

    w(ldir, [("A", 100), ("B", 110)])
    w(rdir, [("A", 101)])
    w(ldir, [("C", 5000)])
    w(rdir, [("C", 5001)])

    def rs(d):
        return (
            spark.readStream.schema("tx_id string, ts timestamp")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(d))
        )

    out = streaming_interval_join(
        rs(ldir),
        rs(rdir),
        key="tx_id",
        lower_seconds=5,
        upper_seconds=3,
        left_watermark="10 seconds",
        right_watermark="10 seconds",
        how="full_outer",
    ).selectExpr(
        "l.tx_id AS l_tx", "r.tx_id AS r_tx",
        "CAST(l.ts AS long) AS l_ts", "CAST(r.ts AS long) AS r_ts",
    )
    rows = run_bounded(out)
    matched = sorted((r.l_tx, r.r_tx) for r in rows if r.l_tx and r.r_tx)
    unmatched_left = sorted(r.l_tx for r in rows if r.r_tx is None)
    assert matched == [("A", "A"), ("C", "C")]
    assert "B" in unmatched_left  # evicted null-padded once watermark passed


def test_streaming_as_of_enrich_matches_batch(spark, tmp_path):
    """The stateful streaming as-of twin must reproduce the batch
    union-tagged as_of_join on a time-ordered replay, including the
    right-at-equal-ts visibility and NULLs before the first right row."""
    from flinkecuserbehavioranalysis_spark.operators.joins import as_of_join
    from flinkecuserbehavioranalysis_spark.streaming.stateful import (
        streaming_as_of_enrich,
    )

    left_rows = [(1, 100, 11), (1, 500, 12), (1, 1000, 13), (2, 400, 14)]
    right_rows = [(1, 50, 101), (1, 500, 105), (1, 700, 107), (3, 10, 300)]
    left = spark.createDataFrame(left_rows, "k long, tsd long, lid long").selectExpr(
        "k", "timestamp_seconds(tsd) as ts", "lid"
    )
    right = spark.createDataFrame(right_rows, "k long, tsd long, rid long").selectExpr(
        "k", "timestamp_seconds(tsd) as ts", "rid"
    )
    tagged = left.selectExpr("k", "ts", "CAST(1 AS INT) __tag", "lid", "CAST(NULL AS LONG) rid").unionByName(
        right.selectExpr("k", "ts", "CAST(0 AS INT) __tag", "CAST(NULL AS LONG) lid", "rid")
    )
    d = tmp_path / "tagged"
    tagged.write.parquet(str(d))
    stream = spark.readStream.schema(
        "k long, ts timestamp, __tag int, lid long, rid long"
    ).parquet(str(d))
    got = {
        (r.k, r.ts): r.rid
        for r in run_bounded(
            streaming_as_of_enrich(
                stream, key="k", payload_cols=("rid",), left_cols=("lid",)
            )
        )
    }
    batch = as_of_join(
        left.selectExpr("k", "CAST(ts AS LONG) ts", "lid"),
        right.selectExpr("k", "CAST(ts AS LONG) rts", "rid"),
        key="k",
        left_ts="ts",
        right_ts="rts",
        right_payload=["rid"],
    )
    expect = {(r.k, r.ts): r.rid for r in batch.collect()}
    assert got == expect
    assert expect[(2, 400)] is None  # no right rows for key 2
    assert expect[(1, 500)] == 105  # right at equal ts IS visible


def test_stateful_kernels_correct_when_group_spans_arrow_batches(spark, tmp_path):
    """A key's group arrives as Arrow-batch SLICES in shuffle order; a
    group that straddles slice boundaries interleaves arbitrarily, so
    per-slice sorting replays events out of time order (round-8 sf1
    finding: the as-of replay read stale right-side state on straddling
    keys).  The keyed-state runtime concatenates a bucket's slices and
    sorts once — pinned here by forcing maxRecordsPerBatch far below the
    group size and feeding the rows pre-shuffled within the file."""
    import random

    from flinkecuserbehavioranalysis_spark.operators.joins import as_of_join
    from flinkecuserbehavioranalysis_spark.streaming.stateful import (
        streaming_as_of_enrich,
    )

    rng = random.Random(8)
    rows = []
    for k in (1, 2):
        rows += [(k, 10 * i + 5, 0, None, 100 * k + i) for i in range(40)]  # rights
        rows += [(k, 10 * i + 7, 1, 1000 + 10 * i, None) for i in range(40)]  # lefts
    rng.shuffle(rows)  # adversarial in-file order
    tagged = spark.createDataFrame(
        rows, "k long, tsd long, __tag int, lid long, rid long"
    ).selectExpr("k", "timestamp_seconds(tsd) as ts", "__tag", "lid", "rid")
    d = str(tmp_path / "tagged")
    tagged.coalesce(1).write.parquet(d)
    stream = spark.readStream.schema(
        "k long, ts timestamp, __tag int, lid long, rid long"
    ).parquet(d)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = {
            (r.k, r.ts): r.rid
            for r in run_bounded(
                streaming_as_of_enrich(
                    stream, key="k", payload_cols=("rid",), left_cols=("lid",)
                )
            )
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    batch = as_of_join(
        tagged.filter("__tag = 1").selectExpr("k", "CAST(ts AS LONG) ts", "lid"),
        tagged.filter("__tag = 0").selectExpr("k", "CAST(ts AS LONG) rts", "rid"),
        key="k",
        left_ts="ts",
        right_ts="rts",
        right_payload=["rid"],
    )
    expect = {(r.k, r.ts): r.rid for r in batch.collect()}
    assert got == expect
    assert len(got) == 80


def test_rate_generator_windowed_count_end_to_end(spark):
    """S3 end-to-end: the rate-source generator feeding a keyed windowed
    count (the AppMarketingByChannel dataflow) must emit rows within a
    few micro-batches — no sleep throttles, generation scales with
    partitions."""
    from flinkecuserbehavioranalysis_spark.sources.generator import (
        marketing_behavior_stream,
    )

    stream = marketing_behavior_stream(spark, rows_per_second=5000, partitions=2)
    counts = (
        stream.filter(F.col("behavior") != "UNINSTALL")
        .withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 second"), "channel", "behavior")
        .count()
    )
    name = "rate_e2e"
    q = (
        counts.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time

        rows = []
        deadline = time.time() + 60
        while time.time() < deadline:
            rows = spark.sql(f"SELECT * FROM {name}").collect()
            if rows:
                break
            time.sleep(1)
        assert rows, "rate-source pipeline emitted nothing in 60s"
        assert all(r["count"] > 0 for r in rows)
        assert {r.behavior for r in rows} <= {"BROWSE", "CLICK", "PURCHASE"}
    finally:
        q.stop()


def test_streaming_pattern_pairs_matches_batch(spark):
    """A two-step match_pattern_stream spec (the CEP pair) must
    reproduce the batch 2-step pattern_sequence on a time-ordered
    replay, both contiguities."""
    from flinkecuserbehavioranalysis_spark.operators.cep import PatternStep
    from flinkecuserbehavioranalysis_spark.operators.patterns import pattern_sequence
    from flinkecuserbehavioranalysis_spark.streaming.cep import match_pattern_stream

    view, purchase = F.col("event_type") == "view", F.col("event_type") == "purchase"
    stream = read_events_stream(spark, SF_DIR).select("user_id", "event_type", "ts", "event_id")
    batch_df = load_table(spark, SF_DIR, "events")
    for contiguity in ("relaxed", "strict"):
        steps = [PatternStep(view), PatternStep(purchase, contiguity=contiguity)]
        got = sorted(
            (r.key, r.step1_ts, r.step2_ts)
            for r in run_bounded(
                match_pattern_stream(
                    stream, "user_id", "ts", steps, 1800.0, tiebreak_col="event_id"
                )
            )
        )
        batch = sorted(
            (r.user_id, r.step1_ts, r.step2_ts)
            for r in pattern_sequence(
                batch_df,
                key_col="user_id",
                ts_col="ts",
                steps=[view, purchase],
                within_seconds=1800.0,
                contiguity=contiguity,
                tiebreak_col="event_id",
            ).collect()
        )
        assert got == batch, contiguity
        assert len(got) > 0, contiguity


def test_streaming_pattern_sequence_matches_batch(spark):
    """An N-step match_pattern_stream spec must reproduce the batch
    pattern_sequence on a time-ordered replay: the 3-step relaxed
    view→click→purchase funnel (the registered pattern_funnel_3step
    parameterization) and a 3-step strict consecutive-views chain."""
    from flinkecuserbehavioranalysis_spark.operators.cep import PatternStep
    from flinkecuserbehavioranalysis_spark.operators.patterns import pattern_sequence
    from flinkecuserbehavioranalysis_spark.streaming.cep import match_pattern_stream

    stream = read_events_stream(spark, SF_DIR).select(
        "user_id", "event_type", "ts", "event_id"
    )
    batch_df = load_table(spark, SF_DIR, "events")
    cases = [
        (
            [
                F.col("event_type") == "view",
                F.col("event_type") == "click",
                F.col("event_type") == "purchase",
            ],
            86400.0,
            "relaxed",
        ),
        (
            [
                F.col("event_type") == "view",
                F.col("event_type") == "click",
                F.col("event_type") == "click",
            ],
            86400.0,
            "strict",
        ),
    ]
    for preds, within, contiguity in cases:
        steps = [PatternStep(p, contiguity=contiguity) for p in preds]
        got = sorted(
            tuple(r)
            for r in run_bounded(
                match_pattern_stream(
                    stream, "user_id", "ts", steps, within, tiebreak_col="event_id"
                )
            )
        )
        batch = sorted(
            tuple(r)
            for r in pattern_sequence(
                batch_df,
                key_col="user_id",
                ts_col="ts",
                steps=preds,
                within_seconds=within,
                contiguity=contiguity,
                tiebreak_col="event_id",
            ).collect()
        )
        assert got == batch, contiguity
        assert len(got) > 0, contiguity


def test_streaming_pattern_sequence_quantified_matches_batch(spark):
    """Quantifier > 1 on the streaming NFA (the CEP ``times(2)`` path):
    a ``times=2`` view step then purchase must reproduce the batch
    pattern_sequence over times(view, 2) + [purchase] on a bounded
    replay under both uniform policies (uniform strict is
    ``times(2).consecutive()`` chained strictly into the final step)."""
    from flinkecuserbehavioranalysis_spark.operators.cep import PatternStep
    from flinkecuserbehavioranalysis_spark.operators.patterns import (
        pattern_sequence,
        times,
    )
    from flinkecuserbehavioranalysis_spark.streaming.cep import match_pattern_stream

    stream = read_events_stream(spark, SF_DIR).select(
        "user_id", "event_type", "ts", "event_id"
    )
    batch_df = load_table(spark, SF_DIR, "events")
    view, purchase = F.col("event_type") == "view", F.col("event_type") == "purchase"
    # the streaming NFA is uniform-contiguity by design (mixed gaps need
    # lookahead an NFA can't commit to greedily) — cover both policies
    for contiguity in ("relaxed", "strict"):
        steps = [
            PatternStep(view, contiguity=contiguity, times=2),
            PatternStep(purchase, contiguity=contiguity),
        ]
        got = sorted(
            tuple(r)
            for r in run_bounded(
                match_pattern_stream(
                    stream, "user_id", "ts", steps, 86400.0, tiebreak_col="event_id"
                )
            )
        )
        batch = sorted(
            tuple(r)
            for r in pattern_sequence(
                batch_df,
                key_col="user_id",
                ts_col="ts",
                steps=[*times(view, 2), purchase],
                within_seconds=86400.0,
                contiguity=contiguity,
                tiebreak_col="event_id",
            ).collect()
        )
        assert got == batch, contiguity
        assert len(got) > 0, contiguity


def test_streaming_map_only_text_ops_match_batch(spark):
    """The map-only corpus operators (quality, repetition, PII scrub)
    are stateless projections, so they must run unchanged on a
    streaming source and produce exactly the batch result on a bounded
    replay — the 'filter the firehose at ingest' deployment shape."""
    from flinkecuserbehavioranalysis_spark.io import load_table
    from flinkecuserbehavioranalysis_spark.operators.text import (
        pii_scan,
        quality_score,
        repetition_stats,
    )
    from flinkecuserbehavioranalysis_spark.streaming.jobs import (
        read_events_stream,
        run_bounded,
    )

    sf = "/root/testdata/sf0.001"
    stream_docs = read_events_stream(spark, sf, table="documents")
    batch_docs = load_table(spark, sf, "documents")
    for op in (
        lambda d: quality_score(d),
        lambda d: repetition_stats(d),
        lambda d: pii_scan(d, "doc_id", "text"),
    ):
        got = sorted(map(tuple, run_bounded(op(stream_docs))))
        want = sorted(map(tuple, op(batch_docs).collect()))
        assert got == want


def test_streaming_funnel_matches_batch(spark):
    """Bounded replay of the keyed funnel twin reproduces the batch
    funnel_conversion reach counts: max(step) per (user, day) from the
    stream's advancement feed aggregates to the same per-day
    n_step1/2/3."""
    from collections import Counter

    from flinkecuserbehavioranalysis_spark.io import load_table
    from flinkecuserbehavioranalysis_spark.operators.patterns import funnel_conversion
    from flinkecuserbehavioranalysis_spark.streaming.jobs import (
        read_events_stream,
        run_bounded,
    )
    from flinkecuserbehavioranalysis_spark.streaming.stateful import streaming_funnel

    sf = "/root/testdata/sf0.001"
    rows = run_bounded(streaming_funnel(read_events_stream(spark, sf)))
    best: dict[tuple, int] = {}
    for r in rows:
        k = (r.user_id, r.day)
        best[k] = max(best.get(k, 0), r.step)
    got: dict[str, list] = {}
    for (u, day), step in best.items():
        d = got.setdefault(day, [0, 0, 0])
        for i in range(step):
            d[i] += 1
    batch = {
        r.day.isoformat(): (r.n_step1, r.n_step2, r.n_step3)
        for r in funnel_conversion(load_table(spark, sf, "events")).collect()
    }
    assert {d: tuple(v) for d, v in got.items()} == batch


def test_streaming_not_followed_by_matches_batch(spark):
    """CEP negation twin on a bounded replay: the NFA's survivors whose
    deadline the final watermark passes must equal the batch compiler's
    anti-join, with undecided tail views (deadline beyond the
    watermark) withheld."""
    from flinkecuserbehavioranalysis_spark.operators.cep import PatternStep, match_pattern
    from flinkecuserbehavioranalysis_spark.streaming.cep import match_pattern_stream

    steps = [
        PatternStep(F.col("event_type") == "view"),
        PatternStep(F.col("event_type") == "purchase", negated=True),
    ]
    stream = read_events_stream(spark, SF_DIR).select("user_id", "event_type", "ts", "event_id")
    got = sorted(
        (r.key, r.step1_ts)
        for r in run_bounded(
            match_pattern_stream(stream, "user_id", "ts", steps, 900.0, tiebreak_col="event_id")
        )
    )
    wm = _max_ts(spark)
    batch = sorted(
        (r.user_id, r.step1_ts)
        for r in match_pattern(load_table(spark, SF_DIR, "events"), "user_id", "ts", steps, 900.0).collect()
        if r.step1_ts + 900.0 <= wm
    )
    assert got == batch
    assert len(got) > 0


def test_streaming_not_followed_by_boundaries_and_pruning(spark, tmp_path):
    """Micro-batch edge semantics of the NFA's trailing negation: an
    equal-deadline killer does NOT kill (end-exclusive), a killer at the
    same ts does NOT kill (strictly-later), a stored absent kills an
    out-of-order later view on insert, and survivors flush via the
    event-time timer on the watermark-advancing batch."""
    import time

    from flinkecuserbehavioranalysis_spark.operators.cep import PatternStep
    from flinkecuserbehavioranalysis_spark.streaming.cep import match_pattern_stream

    in_dir = tmp_path / "nfb_stream"

    def w(rows):
        spark.createDataFrame(
            rows, "user_id long, event_type string, tsd long"
        ).selectExpr(
            "user_id", "event_type", "timestamp_seconds(tsd) as ts"
        ).coalesce(1).write.mode("append").parquet(str(in_dir))
        time.sleep(1.1)

    # b1: u1 view@100 (no killer in (100,110) -> survives);
    #     u1 view@200 + purchase@205 (killed in-batch);
    #     u1 purchase@100 same-ts as a view? -> u2 view@150 with killer
    #     at exactly deadline later (b2)
    w([(1, "view", 100), (1, "view", 200), (1, "purchase", 205), (2, "view", 150)])
    # b2 (wm after b1 = 205 - 50 = 155): u2 purchase@160 == 150+10 ->
    # boundary, does NOT kill 150; u2 view@158 killed by 160 (same batch)
    w([(2, "purchase", 160), (2, "view", 158)])
    # b3: u2 view@159 must be killed ON INSERT by the STORED absent 160
    # (arrived in an earlier batch); u3 sentinel pushes the watermark to
    # 950, flushing every pending deadline
    w([(2, "view", 159), (3, "other", 1000)])

    stream = (
        spark.readStream.schema("user_id long, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(in_dir))
    )
    steps = [
        PatternStep(F.col("event_type") == "view"),
        PatternStep(F.col("event_type") == "purchase", negated=True),
    ]
    out = match_pattern_stream(stream, "user_id", "ts", steps, 10.0, watermark="50 seconds")
    got = sorted((r.key, r.step1_ts) for r in run_bounded(out))
    assert got == [(1, 100), (2, 150)]


def test_streaming_pattern_sequence_optional_matches_batch(spark):
    """An optional-step match_pattern_stream spec (view, click optional,
    purchase — the registered pattern_optional_funnel parameterization)
    must reproduce the batch match_pattern on a bounded replay, NULL
    middle step included."""
    from flinkecuserbehavioranalysis_spark.operators.cep import PatternStep, match_pattern
    from flinkecuserbehavioranalysis_spark.streaming.cep import match_pattern_stream

    view, click, purchase = (
        F.col("event_type") == "view",
        F.col("event_type") == "click",
        F.col("event_type") == "purchase",
    )
    stream = read_events_stream(spark, SF_DIR).select(
        "user_id", "event_type", "ts", "event_id"
    )
    steps = [PatternStep(view), PatternStep(click, optional=True), PatternStep(purchase)]
    got = sorted(
        (
            tuple(r)
            for r in run_bounded(
                match_pattern_stream(
                    stream, "user_id", "ts", steps, 3600.0, tiebreak_col="event_id"
                )
            )
        ),
        key=repr,
    )
    batch = sorted(
        (
            tuple(r)
            for r in match_pattern(
                load_table(spark, SF_DIR, "events"),
                "user_id",
                "ts",
                steps,
                3600.0,
                tiebreak_col="event_id",
            ).collect()
        ),
        key=repr,
    )
    assert got == batch
    assert len(got) > 0
    assert any(r[2] is None for r in got)  # the click-skipped expansion emits


def test_checkpoint_recovery_resumes_aggregation_state(spark, tmp_path):
    """Flink's checkpoint/savepoint story on Structured Streaming: a
    windowed aggregation is stopped mid-stream (1 file per micro-batch)
    and RESTARTED from its checkpoint — the restarted query must resume
    from committed offsets + restored state and converge to exactly the
    batch result over all files (exactly-once, no double counting)."""
    import time

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    ev = load_table(spark, SF_DIR, "events").select("event_type", "ts")
    ev.repartition(4).write.parquet(src)

    def agg(df):
        return (
            df.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").cast("long").alias("ws"), "event_type", "n")
        )

    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    q1 = (
        agg(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("ckpt_run1")
        .option("checkpointLocation", ck)
        .trigger(processingTime="5 seconds")
        .start()
    )
    deadline = time.time() + 90
    while q1.lastProgress is None and time.time() < deadline:
        time.sleep(0.3)
    q1.stop()
    q1.awaitTermination(30)
    n_before = spark.table("ckpt_run1").agg(F.sum("n")).collect()[0][0] or 0

    q2 = (
        agg(spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("ckpt_run2")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.table("ckpt_run2").collect())
    expect = sorted(tuple(r) for r in agg(ev).collect())
    assert got == expect
    # the first run must NOT have seen everything, or recovery wasn't exercised
    total = sum(r[2] for r in expect)
    assert n_before < total, (n_before, total)


def test_streaming_one_or_more_matches_batch(spark):
    """Bounded replay of the two-number loop-state NFA equals the batch
    pattern_one_or_more on the events table (view-run then purchase)."""
    from flinkecuserbehavioranalysis_spark.io import load_table
    from flinkecuserbehavioranalysis_spark.operators.patterns import pattern_one_or_more
    from flinkecuserbehavioranalysis_spark.streaming.jobs import (
        read_events_stream,
        run_bounded,
    )
    from flinkecuserbehavioranalysis_spark.streaming.stateful import (
        streaming_one_or_more,
    )

    kw = dict(
        key_col="user_id",
        ts_col="ts",
        a_pred=F.col("event_type") == "view",
        b_pred=F.col("event_type") == "purchase",
        within_seconds=86400.0,
        tiebreak_col="event_id",
    )
    got = sorted(
        (r.key, r.first_a_ts, r.b_ts, r.n_a)
        for r in run_bounded(
            streaming_one_or_more(
                read_events_stream(spark, SF_DIR).select(
                    "user_id", "event_type", "ts", "event_id"
                ),
                **kw,
            )
        )
    )
    batch = sorted(
        (r.user_id, int(r.first_a_ts.timestamp()), int(r.b_ts.timestamp()), r.n_a)
        for r in pattern_one_or_more(load_table(spark, SF_DIR, "events"), **kw).collect()
    )
    assert got == batch
    assert len(got) > 0


def test_streaming_value_spike_matches_batch(spark):
    """Bounded replay of the one-pair-of-state spike detector equals the
    batch pattern_value_spike query."""
    from flinkecuserbehavioranalysis_spark.plans.queries import QUERIES
    from flinkecuserbehavioranalysis_spark.streaming.jobs import (
        read_events_stream,
        run_bounded,
    )
    from flinkecuserbehavioranalysis_spark.streaming.stateful import (
        streaming_value_spike,
    )

    got = sorted(
        (r.key, r.prev_ts, r.spike_ts, r.prev_value, r.spike_value)
        for r in run_bounded(
            streaming_value_spike(
                read_events_stream(spark, SF_DIR).select(
                    "user_id", "ts", "value", "event_id"
                )
            )
        )
    )
    batch = sorted(
        tuple(r)
        for r in QUERIES["pattern_value_spike"].fn(spark, SF_DIR).collect()
    )
    assert got == batch
    assert len(got) > 0


def test_partitioned_sink_survives_restart(spark, tmp_path):
    """Streaming daily (day, type) counts landed via dynamic partition
    overwrite: stop mid-stream, restart from the checkpoint — the final
    store equals the batch aggregate exactly (idempotent partition
    rewrites, no double counting, untouched partitions preserved)."""
    import time

    from flinkecuserbehavioranalysis_spark.io import load_table
    from flinkecuserbehavioranalysis_spark.streaming.sinks import (
        foreach_batch_partitioned_upsert,
    )

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    store = str(tmp_path / "store")
    ev = load_table(spark, SF_DIR, "events").select("event_type", "ts")
    ev.repartition(4).write.parquet(src)

    def agg(df):
        return df.groupBy(
            F.floor(F.col("ts").cast("long") / F.lit(86400)).cast("long").alias("day"),
            "event_type",
        ).agg(F.count(F.lit(1)).alias("n"))

    def start(trigger_kwargs):
        stream = (
            spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        return (
            agg(stream)
            .writeStream.outputMode("update")
            .foreachBatch(foreach_batch_partitioned_upsert(store, ["day", "event_type"]))
            .option("checkpointLocation", ck)
            .trigger(**trigger_kwargs)
            .start()
        )

    q1 = start({"processingTime": "5 seconds"})
    deadline = time.time() + 90
    while q1.lastProgress is None and time.time() < deadline:
        time.sleep(0.3)
    q1.stop()
    q1.awaitTermination(30)

    q2 = start({"availableNow": True})
    q2.awaitTermination(120)

    # partition columns come back last from a partitioned read — compare as dicts
    gd = {(r.day, r.event_type): r.n for r in spark.read.parquet(store).collect()}
    ed = {(r.day, r.event_type): r.n for r in agg(ev).collect()}
    assert gd == ed and len(gd) > 0


def test_streaming_ann_serving_from_static_index(spark):
    """Online vector serving: a STREAM of query vectors answered per
    micro-batch against a static in-session IVF index (foreachBatch —
    the row_number rank inside query_ivf_index is not a streaming
    aggregation, so the serve step runs on each bounded batch).
    Results equal the batch answers exactly."""
    from flinkecuserbehavioranalysis_spark.io import load_table
    from flinkecuserbehavioranalysis_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
    )
    from flinkecuserbehavioranalysis_spark.streaming.jobs import read_events_stream

    emb = load_table(spark, SF_DIR, "embeddings")
    seeds, assigned = build_ivf_index(emb, n_cells=8, train_iters=2, corpus_probes=2)
    seeds, assigned = seeds.cache(), assigned.cache()
    batch_expect = sorted(
        tuple(r)
        for r in query_ivf_index(
            seeds, assigned, emb.filter(F.col("vec_id") < 5), nprobe=3, k=10
        ).collect()
    )

    qstream = read_events_stream(spark, SF_DIR, "embeddings").filter(
        F.col("vec_id") < 5
    )
    sink: list = []

    def serve(batch_df, epoch_id):
        if batch_df.isEmpty():
            return
        sink.extend(
            query_ivf_index(seeds, assigned, batch_df, nprobe=3, k=10).collect()
        )

    q = qstream.writeStream.foreachBatch(serve).trigger(availableNow=True).start()
    q.awaitTermination(180)
    assert sorted(tuple(r) for r in sink) == batch_expect
    assert len(sink) == 50


def test_streaming_incremental_dedup_against_static_base(spark):
    """Incremental ingest as a STREAM: each micro-batch of new docs
    probes the static base corpus via foreachBatch; accumulated flags
    equal the batch incremental_dedup_flags on the same split."""
    from flinkecuserbehavioranalysis_spark.io import load_table
    from flinkecuserbehavioranalysis_spark.operators.dedup import (
        incremental_dedup_flags,
    )
    from flinkecuserbehavioranalysis_spark.operators.sampling import hash_bucket
    from flinkecuserbehavioranalysis_spark.streaming.jobs import read_events_stream

    docs = load_table(spark, SF_DIR, "documents")
    b = hash_bucket("doc_id")
    base = docs.filter(b < 9000).cache()
    expect = {
        r.doc_id: (r.n_candidates, r.best_jaccard, r.is_dup)
        for r in incremental_dedup_flags(docs.filter(b >= 9000), base).collect()
    }

    new_stream = read_events_stream(spark, SF_DIR, "documents").filter(
        hash_bucket("doc_id") >= 9000
    )
    sink: list = []

    def probe(batch_df, epoch_id):
        if batch_df.isEmpty():
            return
        sink.extend(incremental_dedup_flags(batch_df, base).collect())

    q = new_stream.writeStream.foreachBatch(probe).trigger(availableNow=True).start()
    q.awaitTermination(180)
    got = {r.doc_id: (r.n_candidates, r.best_jaccard, r.is_dup) for r in sink}
    assert got == expect and len(got) > 0


def test_streaming_ivf_ingest_matches_batch_postings(spark, tmp_path):
    """Incremental index ingest: new embeddings stream through the
    frozen codebook's map-only cell assignment into an append sink
    partitioned by cell — after a bounded replay the postings equal
    the batch build exactly (ids, cells, and vector doubles)."""
    from flinkecuserbehavioranalysis_spark.operators.similarity import (
        _as_double,
        build_ivf_index,
        dot,
        ivf_assign,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    seeds, batch_assigned = build_ivf_index(emb, n_cells=8, train_iters=1)

    stream = read_events_stream(spark, SF_DIR, table="embeddings")
    v = stream.select(
        F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("v_vec")
    ).withColumn("v_norm", F.sqrt(dot(F.col("v_vec"), F.col("v_vec"))))
    out_dir = str(tmp_path / "postings")

    def append(batch, _bid):
        batch.write.mode("append").partitionBy("cell").parquet(out_dir)

    run_bounded(ivf_assign(v, seeds), foreach_batch=append)

    got = spark.read.parquet(out_dir)
    want = batch_assigned
    g = {(r.neighbor_id, int(r.cell), tuple(r.v_vec)) for r in got.collect()}
    w = {(r.neighbor_id, int(r.cell), tuple(r.v_vec)) for r in want.collect()}
    assert g == w and len(w) > 0


def test_late_data_dropped_after_watermark_closes_window(spark, tmp_path):
    """T4 (late-data drop): a row arriving after the watermark has
    passed its window's end is DROPPED from an append-mode windowed
    aggregation — two checkpointed availableNow runs: run 1 advances
    the watermark past the old window, run 2 delivers the late row
    (dropped, its window never emits) plus on-time rows (merged into
    run-1 state and emitted when their window closes)."""
    import os
    import time

    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    collected = []

    def write_file(name, rows):
        spark.createDataFrame(rows, "user_id long, e long").select(
            "user_id", F.col("e").cast("timestamp").alias("ts")
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = [
            f for f in os.listdir(str(tmp_path / name)) if f.endswith(".parquet")
        ][0]
        os.rename(str(tmp_path / name / part), os.path.join(src, f"{name}.parquet"))

    def run_once():
        stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").cast("long").alias("ws"), "n")
        )
        q = (
            agg.writeStream.outputMode("append")
            .foreachBatch(lambda b, _i: collected.extend(
                (r.ws, r.n) for r in b.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: t=10000 and t=20000 -> watermark 20000 - 600 = 19400;
    # closed windows [7200) (and nothing in [0)) emit
    write_file("b1", [(1, 10000), (1, 20000)])
    run_once()
    after_run1 = dict(collected)
    assert after_run1.get(7200) == 1 and 0 not in after_run1

    # run 2: late t=100 (window [0) closed long ago), on-time t=20100,
    # and t=25000 which pushes the watermark to 24400, closing [18000)
    time.sleep(0.1)
    write_file("b2", [(1, 100), (1, 20100), (1, 25000)])
    run_once()
    got = dict(collected)
    # late row dropped: had it been accepted, closed window [0) would
    # have emitted n=1 in run 2
    assert 0 not in got
    # run-2 state merged with run-1: [18000) = t=20000 + t=20100
    assert got.get(18000) == 2


def _cep_steps(*specs):
    from flinkecuserbehavioranalysis_spark.operators.cep import PatternStep

    out = []
    for ev, kw in specs:
        out.append(PatternStep(F.col("event_type") == ev, **kw))
    return out


def test_match_pattern_stream_guarded_optional_matches_batch(spark):
    """Streaming CEP compiler on the composite spec (optional + mid-gap
    negation, no trailing negation -> immediate emission): bounded
    ordered replay must equal the batch compiler exactly."""
    from flinkecuserbehavioranalysis_spark.operators.cep import match_pattern
    from flinkecuserbehavioranalysis_spark.streaming.cep import match_pattern_stream

    steps = _cep_steps(
        ("view", {}),
        ("click", {"optional": True}),
        ("error", {"negated": True}),
        ("purchase", {}),
    )
    stream = read_events_stream(spark, SF_DIR).select(
        "user_id", "event_type", "ts", "event_id"
    )
    got = sorted(
        (
            (r.key, r.step1_ts, r.step2_ts, r.step3_ts)
            for r in run_bounded(
                match_pattern_stream(
                    stream, "user_id", "ts", steps, 3600.0, tiebreak_col="event_id"
                )
            )
        ),
        key=repr,
    )
    batch = sorted(
        (
            (r.user_id, r.step1_ts, r.step2_ts, r.step3_ts)
            for r in match_pattern(
                load_table(spark, SF_DIR, "events"),
                "user_id",
                "ts",
                steps,
                3600.0,
                tiebreak_col="event_id",
            ).collect()
        ),
        key=repr,
    )
    assert got == batch
    assert len(got) > 0


def test_match_pattern_stream_trailing_negation_matches_batch(spark):
    """Trailing negation through the streaming compiler: survivors are
    decided by TIME (watermark past first+within), so compare to the
    batch compiler restricted to decided anchors."""
    from flinkecuserbehavioranalysis_spark.operators.cep import match_pattern
    from flinkecuserbehavioranalysis_spark.streaming.cep import match_pattern_stream

    steps = _cep_steps(("view", {}), ("purchase", {"negated": True}))
    within = 900.0
    stream = read_events_stream(spark, SF_DIR).select(
        "user_id", "event_type", "ts", "event_id"
    )
    got = sorted(
        (r.key, r.step1_ts)
        for r in run_bounded(
            match_pattern_stream(stream, "user_id", "ts", steps, within)
        )
    )
    wm = _max_ts(spark)
    batch = sorted(
        (r.user_id, r.step1_ts)
        for r in match_pattern(
            load_table(spark, SF_DIR, "events"), "user_id", "ts", steps, within
        ).collect()
        if r.step1_ts + within <= wm
    )
    assert got == batch
    assert len(got) > 0


def test_match_pattern_stream_strict_times_matches_batch(spark):
    """times(2).consecutive() (login-fail shape) through the streaming
    compiler equals the batch compiler on a bounded replay."""
    from flinkecuserbehavioranalysis_spark.operators.cep import match_pattern
    from flinkecuserbehavioranalysis_spark.streaming.cep import match_pattern_stream

    steps = _cep_steps(("error", {"contiguity": "strict", "times": 2}))
    stream = read_events_stream(spark, SF_DIR).select(
        "user_id", "event_type", "ts", "event_id"
    )
    got = sorted(
        (r.key, r.step1_ts, r.step2_ts)
        for r in run_bounded(
            match_pattern_stream(
                stream, "user_id", "ts", steps, 3600.0, tiebreak_col="event_id"
            )
        )
    )
    batch = sorted(
        (r.user_id, r.step1_ts, r.step2_ts)
        for r in match_pattern(
            load_table(spark, SF_DIR, "events"),
            "user_id",
            "ts",
            steps,
            3600.0,
            tiebreak_col="event_id",
        ).collect()
    )
    assert got == batch
    assert len(got) > 0


def test_match_pattern_stream_multibatch_state_carry(spark, tmp_path):
    """Cross-micro-batch state in the streaming CEP compiler: a chain
    opened in batch 1 advances in batch 2; a mid-gap kill recorded in
    batch 2 blocks the advance in batch 3 (boundary-exclusive both
    ends); a parked trailing-negation completion is killed by a later
    batch's absent and survivors flush on watermark advance."""
    import time

    from flinkecuserbehavioranalysis_spark.streaming.cep import match_pattern_stream

    in_dir = tmp_path / "cep_stream"

    def w(rows):
        spark.createDataFrame(
            rows, "user_id long, event_type string, tsd long"
        ).selectExpr(
            "user_id", "event_type", "timestamp_seconds(tsd) as ts"
        ).coalesce(1).write.mode("append").parquet(str(in_dir))
        time.sleep(1.1)

    # spec: a -> NOT x -> b, within 100
    steps = _cep_steps(("a", {}), ("x", {"negated": True}), ("b", {}))
    # u1: a@100 (b1), b@120 (b2) -> match (no x between)
    # u2: a@100 (b1), x@110 (b2 records kill), b@120 (b3) -> killed
    # u3: a@100, x@100 same-ts (b1): does NOT kill (strictly later);
    #     b@105 (b2) -> match
    # u4: a@100 (b1); x@120 and b@120 same ts (b3): kill needs < b_ts,
    #     120 < 120 false -> match survives
    w([(1, "a", 100), (2, "a", 100), (3, "a", 100), (3, "x", 100), (4, "a", 100)])
    w([(1, "b", 120), (2, "x", 110), (3, "b", 105)])
    w([(2, "b", 120), (4, "x", 120), (4, "b", 120)])

    stream = (
        spark.readStream.schema("user_id long, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(in_dir))
    )
    out = match_pattern_stream(
        stream, "user_id", "ts", steps, 100.0, watermark="500 seconds"
    )
    got = sorted((r.key, r.step1_ts, r.step2_ts) for r in run_bounded(out))
    assert got == [(1, 100, 120), (3, 100, 105), (4, 100, 120)]


def test_match_pattern_stream_multibatch_trailing_negation(spark, tmp_path):
    """Parked completions across batches: (a, b, NOT x) — a completion
    parked in batch 1 is killed by batch 2's x inside the deadline;
    another survives and flushes once the watermark passes first+within."""
    import time

    from flinkecuserbehavioranalysis_spark.streaming.cep import match_pattern_stream

    in_dir = tmp_path / "cep_stream_trail"

    def w(rows):
        spark.createDataFrame(
            rows, "user_id long, event_type string, tsd long"
        ).selectExpr(
            "user_id", "event_type", "timestamp_seconds(tsd) as ts"
        ).coalesce(1).write.mode("append").parquet(str(in_dir))
        time.sleep(1.1)

    steps = _cep_steps(("a", {}), ("b", {}), ("x", {"negated": True}))
    # u1: a@100 b@110 (completes, deadline 150); x@130 in b2 kills it
    # u2: a@100 b@110 (completes); x@150 == deadline in b2 -> end-
    #     exclusive, does NOT kill; sentinel@900 flushes the watermark
    w([(1, "a", 100), (1, "b", 110), (2, "a", 100), (2, "b", 110)])
    w([(1, "x", 130), (2, "x", 150)])
    w([(9, "other", 900)])

    stream = (
        spark.readStream.schema("user_id long, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(in_dir))
    )
    out = match_pattern_stream(
        stream, "user_id", "ts", steps, 50.0, watermark="10 seconds"
    )
    got = sorted((r.key, r.step1_ts, r.step2_ts) for r in run_bounded(out))
    assert got == [(2, 100, 110)]


def test_match_pattern_stream_loop_dispatch_matches_batch(spark):
    """one_or_more loop spec through both compilers: streaming dispatch
    (streaming_one_or_more) equals the batch dispatch
    (pattern_one_or_more) on a bounded replay, renamed columns incl.
    the run length."""
    from flinkecuserbehavioranalysis_spark.operators.cep import match_pattern
    from flinkecuserbehavioranalysis_spark.streaming.cep import match_pattern_stream

    steps = _cep_steps(
        ("view", {"one_or_more": True}), ("purchase", {"contiguity": "strict"})
    )
    stream = read_events_stream(spark, SF_DIR).select(
        "user_id", "event_type", "ts", "event_id"
    )
    got = sorted(
        (r.key, r.step1_ts, r.step2_ts, r.step1_n)
        for r in run_bounded(
            match_pattern_stream(
                stream, "user_id", "ts", steps, 86400.0, tiebreak_col="event_id"
            )
        )
    )
    batch = sorted(
        (r.user_id, r.step1_ts, r.step2_ts, r.step1_n)
        for r in match_pattern(
            load_table(spark, SF_DIR, "events"),
            "user_id",
            "ts",
            steps,
            86400.0,
            tiebreak_col="event_id",
        ).collect()
    )
    assert got == batch
    assert len(got) > 0


def test_match_pattern_stream_times_trailing_negation_matches_batch(spark):
    """The registered pattern_unresolved_error_burst shape through the
    streaming compiler — times(2) strict chain + trailing negation:
    survivors (watermark past first+within) equal the batch compiler
    restricted to decided anchors."""
    from flinkecuserbehavioranalysis_spark.operators.cep import match_pattern
    from flinkecuserbehavioranalysis_spark.streaming.cep import match_pattern_stream

    steps = _cep_steps(
        ("error", {"contiguity": "strict", "times": 2}),
        ("purchase", {"negated": True}),
    )
    within = 3600.0
    stream = read_events_stream(spark, SF_DIR).select(
        "user_id", "event_type", "ts", "event_id"
    )
    got = sorted(
        (r.key, r.step1_ts, r.step2_ts)
        for r in run_bounded(
            match_pattern_stream(
                stream, "user_id", "ts", steps, within, tiebreak_col="event_id"
            )
        )
    )
    wm = _max_ts(spark)
    batch = sorted(
        (r.user_id, r.step1_ts, r.step2_ts)
        for r in match_pattern(
            load_table(spark, SF_DIR, "events"),
            "user_id",
            "ts",
            steps,
            within,
            tiebreak_col="event_id",
        ).collect()
        if r.step1_ts + within <= wm
    )
    assert got == batch
    assert len(got) > 0


def test_streaming_last_touch_matches_batch(spark):
    """Bounded replay of the one-(ts,type)-pair-of-state attribution
    kernel: summing its emitted per-purchase rows per touch_type equals
    the batch last_touch_attribution aggregate exactly."""
    import math

    from flinkecuserbehavioranalysis_spark.plans.queries import QUERIES
    from flinkecuserbehavioranalysis_spark.streaming.jobs import (
        read_events_stream,
        run_bounded,
    )
    from flinkecuserbehavioranalysis_spark.streaming.stateful import (
        streaming_last_touch,
    )

    rows = run_bounded(
        streaming_last_touch(
            read_events_stream(spark, SF_DIR)
            .where(F.col("ts").isNotNull())
            .select("user_id", "ts", "event_type", "value", "event_id")
        )
    )
    got: dict = {}
    for r in rows:
        n, v = got.get(r.touch_type, (0, 0.0))
        fin = r.value if r.value is not None and math.isfinite(r.value) else 0.0
        got[r.touch_type] = (n + 1, v + fin)
    batch = {
        r.touch_type: (r.n_purchases, r.attributed_value or 0.0)
        for r in QUERIES["last_touch_attribution"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(batch)
    for k, (n, v) in got.items():
        assert n == batch[k][0], k
        assert abs(v - batch[k][1]) < 1e-6 * max(1.0, abs(v)), k
    assert sum(n for n, _ in got.values()) > 0


#: The registry replays whose state lives in the JVM state store, with
#: the table each streams and the column its rows are time-ordered by.
JVM_STATE_REPLAYS = {
    "streaming_dedup_replay": ("events", "ts"),
    "streaming_url_dedup_replay": ("documents", "doc_id"),
    "streaming_winnow_dedup_replay": ("documents", "doc_id"),
    "streaming_pv_count_replay": ("events", "ts"),
    "streaming_session_replay": ("events", "ts"),
    "streaming_sessionized_stats_replay": ("events", "ts"),
}
DRILL_FILES, DRILL_STOP_AFTER = 4, 2


@pytest.mark.parametrize("name", list(JVM_STATE_REPLAYS))
def test_jvm_state_replay_restart_matches_uninterrupted(spark, tmp_path, monkeypatch, name):
    """Restart drill: the registry replay runs one file per micro-batch
    over its table cut into time-ordered files.  Stopped after
    ``DRILL_STOP_AFTER`` batches and restarted from its checkpoint, it
    must emit the same rows as one uninterrupted run — the state store's
    committed versions, written through the configured checkpoint file
    manager, are all the restarted query has."""
    import hashlib
    import os

    import pyarrow.parquet as pq

    from flinkecuserbehavioranalysis_spark.plans.queries import QUERIES
    from flinkecuserbehavioranalysis_spark.streaming import jobs

    table, order = JVM_STATE_REPLAYS[name]
    data = pq.read_table(f"{SF_DIR}/{table}.parquet").sort_by(order)
    cuts = [round(i * data.num_rows / DRILL_FILES) for i in range(DRILL_FILES + 1)]
    parts = [data.slice(lo, hi - lo) for lo, hi in zip(cuts, cuts[1:])]
    read = jobs.read_events_stream
    monkeypatch.setattr(
        jobs,
        "read_events_stream",
        lambda spark, sf_dir, table="events": read(spark, sf_dir, table, max_files_per_trigger=1),
    )

    def run(segments: list[int]) -> tuple[str, list[int]]:
        root = tmp_path / f"run_{len(segments)}"
        src = root / "sf" / f"{table}.parquet"
        src.mkdir(parents=True)
        rows, data_batches = [], []

        def land(segment: int) -> None:
            for i in range(sum(segments[:segment]), sum(segments[: segment + 1])):
                path = str(src / f"part_{i}.parquet")
                pq.write_table(parts[i], path)
                # the file source orders files by modification time
                os.utime(path, (1_700_000_000 + i,) * 2)

        def bounded(out, output_mode="append", timeout=300):
            for segment in range(len(segments)):
                if segment:
                    land(segment)
                q = (
                    out.writeStream.outputMode(output_mode)
                    .foreachBatch(lambda df, _epoch: rows.extend(tuple(r) for r in df.collect()))
                    .option("checkpointLocation", str(root / "ckpt"))
                    .trigger(availableNow=True)
                    .start()
                )
                assert q.awaitTermination(timeout), f"{name} did not finish"
                data_batches.append(len([p for p in q.recentProgress if p["numInputRows"]]))
            return spark.createDataFrame(rows, out.schema)

        monkeypatch.setattr(jobs, "run_bounded_df", bounded)
        # the stream's schema is read from the files present when the
        # query plans it
        land(0)
        got = sorted((tuple(r) for r in QUERIES[name].fn(spark, str(root / "sf")).collect()), key=repr)
        assert got, f"{name} emitted no rows"
        return hashlib.sha256(repr(got).encode()).hexdigest(), data_batches

    whole, whole_batches = run([DRILL_FILES])
    restarted, restarted_batches = run([DRILL_STOP_AFTER, DRILL_FILES - DRILL_STOP_AFTER])
    assert whole_batches == [DRILL_FILES]
    assert restarted_batches == [DRILL_STOP_AFTER, DRILL_FILES - DRILL_STOP_AFTER]
    assert restarted == whole
