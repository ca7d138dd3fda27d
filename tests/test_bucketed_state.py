"""Keyed kernels on the bucketed runtime against their batch twins.

Every keyed kernel in ``streaming/`` groups its key into ``KEY_BUCKETS``
hash buckets and keeps each bucket's state as parallel sorted arrays.
One synthetic stream exercises every way the bucket mechanics can go
wrong, and each kernel's output must equal its batch twin over the same
rows:

- every key's events straddle six micro-batches (``maxFilesPerTrigger=1``),
  so each key's first row per batch is seeded from stored state;
- many (key, ts) ties, broken by ``event_id`` only — each file's rows
  are written shuffled, so the kernel's own sort decides;
- ``spark.sql.execution.arrow.maxRecordsPerBatch`` far below a bucket's
  rows per micro-batch, so buckets arrive as several Arrow slices;
- a NULL key interleaved with key 0 (the value a NULL key is filled
  with before sorting): it must be its own key, neither crashing the
  bucket nor reading or writing key 0's slot;
- a restart from the checkpoint after the third file.

The timer kernels also meet keys whose deadline passes in a micro-batch
where the key has rows (processed as rows, not fired), and the
composite-key blacklist meets one user with two ads in one bucket.
Where a batch twin drops NULL keys (a filter or a join on the key),
the comparison covers the non-NULL keys.  Timer outcomes are
compared where the closing watermark decided them.

The login and order-timeout kernels are in the default tier (the
benchmark runs login; order timeout covers the timers); the others are
in the soak tier.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from flinkecuserbehavioranalysis_spark.operators.cep import PatternStep, match_pattern
from flinkecuserbehavioranalysis_spark.operators.joins import as_of_join
from flinkecuserbehavioranalysis_spark.operators.patterns import (
    blacklist_filter,
    consecutive_fail_alerts,
    fail_burst_alerts,
    pattern_one_or_more,
)
from flinkecuserbehavioranalysis_spark.operators.timeout import (
    PAID_AFTER_TIMEOUT,
    PAID_NO_CREATE,
    PAY_OK,
    TIMEOUT,
)
from flinkecuserbehavioranalysis_spark.streaming.cep import match_pattern_stream
from flinkecuserbehavioranalysis_spark.streaming.stateful import (
    KEY_BUCKETS,
    streaming_as_of_enrich,
    streaming_blacklist,
    streaming_fail_burst,
    streaming_funnel,
    streaming_last_touch,
    streaming_login_fail,
    streaming_one_or_more,
    streaming_order_timeout,
    streaming_value_spike,
)

N_FILES, ROWS_PER_FILE, N_KEYS = 6, 500, 50
MAX_ARROW_RECORDS = 5
T0 = 1_700_000_000
DDL = "user_id long, event_type string, ts timestamp, event_id long, value double"


def _events() -> pd.DataFrame:
    """Seeded events, one-second timestamps (so ties are common), 5% of
    rows keyed NULL, key 0 about as busy as the NULL key."""
    rng = np.random.default_rng(7)
    n = N_FILES * ROWS_PER_FILE
    ts = np.sort(rng.integers(0, 900, n))
    users = rng.integers(0, N_KEYS, n).astype(float)
    users[rng.random(n) < 0.05] = np.nan
    users[rng.random(n) < 0.03] = 0
    types = rng.choice(["view", "click", "purchase", "error", None], n, p=[0.3, 0.2, 0.15, 0.3, 0.05])
    values = np.round(rng.exponential(10.0, n), 2)
    values[rng.random(n) < 0.03] = np.nan
    return pd.DataFrame(
        {
            "user_id": pd.array(users, dtype="Int64"),
            "event_type": types,
            "ts": pd.to_datetime(T0 + ts, unit="s").astype("datetime64[us]"),
            # ids follow (ts, random) order: the file order within a tie
            # is shuffled below, so only the tiebreak orders a tie
            "event_id": np.arange(n, dtype="int64"),
            "value": values,
        }
    )


def _write_files(src: str, pdf: pd.DataFrame, lo: int, hi: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    for i in range(lo, hi):
        part = pdf.iloc[i * ROWS_PER_FILE : (i + 1) * ROWS_PER_FILE].sample(frac=1.0, random_state=i)
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            os.path.join(src, f"part_{i:03d}.parquet"),
        )


@pytest.fixture(scope="module")
def replay(spark, tmp_path_factory):
    """Runs a kernel over the six files in two checkpointed segments
    (three files, restart, three files) with small Arrow batches, and
    returns every emitted row."""
    root = tmp_path_factory.mktemp("bucketed")
    pdf = _events()
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"

    def run(name, kernel) -> list[tuple]:
        src, ckpt = str(root / name / "src"), str(root / name / "ckpt")
        os.makedirs(src)
        rows: list[tuple] = []

        def collect(batch_df, _epoch):
            rows.extend(tuple(r) for r in batch_df.collect())

        old = spark.conf.get(conf)
        spark.conf.set(conf, str(MAX_ARROW_RECORDS))
        try:
            for lo, hi in ((0, 3), (3, N_FILES)):
                _write_files(src, pdf, lo, hi)
                stream = spark.readStream.schema(DDL).option("maxFilesPerTrigger", 1).parquet(src)
                q = (
                    kernel(stream)
                    .writeStream.foreachBatch(collect)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                assert q.awaitTermination(300), f"{name} replay did not finish"
                assert len([p for p in q.recentProgress if p["numInputRows"]]) == hi - lo
        finally:
            spark.conf.set(conf, old)
        return rows

    batch = spark.createDataFrame(pdf, DDL)
    return run, batch, pdf


def _sorted(rows) -> list[tuple]:
    return sorted(rows, key=repr)


def test_replay_exercises_every_bucket_edge(spark, replay):
    """The synthetic stream really has the shapes the kernels must
    survive — otherwise the equivalence tests below prove little."""
    _, batch, _ = replay
    per_bucket = (
        batch.withColumn("f", F.floor(F.col("event_id") / ROWS_PER_FILE))
        .groupBy("f", F.pmod(F.xxhash64("user_id"), F.lit(KEY_BUCKETS)))
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert per_bucket > 3 * MAX_ARROW_RECORDS
    ties = batch.groupBy("user_id", "ts").count().where("count > 1").count()
    assert ties > 50
    spans = batch.groupBy("user_id").agg(
        F.countDistinct(F.floor(F.col("event_id") / ROWS_PER_FILE)).alias("files")
    )
    assert spans.agg(F.min("files")).first()[0] == N_FILES
    assert batch.where(F.col("user_id").isNull()).count() > 50
    assert batch.where(F.col("user_id") == 0).count() > 50


def test_login_fail_matches_batch(spark, replay):
    run, batch, _ = replay
    got = run("login", lambda s: streaming_login_fail(s.select("user_id", "event_type", "ts", "event_id")))
    want = [
        tuple(r)
        for r in consecutive_fail_alerts(
            batch, fail_value="error", max_gap_seconds=3600, tiebreak_col="event_id"
        ).collect()
    ]
    assert _sorted(got) == _sorted(want)
    assert any(r[0] is None for r in got) and any(r[0] == 0 for r in got)
    # the tiebreak matters on this data: ordering ties the other way
    # changes the alerts
    flipped = consecutive_fail_alerts(
        batch.withColumn("neg", -F.col("event_id")),
        fail_value="error",
        max_gap_seconds=3600,
        tiebreak_col="neg",
    ).collect()
    assert _sorted(tuple(r) for r in flipped) != _sorted(want)


@pytest.mark.soak
def test_value_spike_matches_batch(spark, replay):
    run, batch, _ = replay
    got = run("spike", streaming_value_spike)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = [
        tuple(r)
        for r in batch.select(
            "user_id",
            F.lag("ts").over(w).alias("prev_ts"),
            "ts",
            F.lag("value").over(w).alias("prev_value"),
            "value",
        )
        .where(
            F.col("prev_value").isNotNull()
            & (F.col("value") >= 2 * F.col("prev_value"))
            & (F.col("ts").cast("double") - F.col("prev_ts").cast("double") <= 3600.0)
        )
        .select(
            "user_id",
            F.col("prev_ts").cast("long"),
            F.col("ts").cast("long"),
            "prev_value",
            "value",
        )
        .collect()
    ]
    assert _sorted(got) == _sorted(want)
    assert any(r[0] is None for r in got)


@pytest.mark.soak
def test_last_touch_matches_batch(spark, replay):
    run, batch, _ = replay
    got = run("last_touch", lambda s: streaming_last_touch(s, within_seconds=300.0))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, -1)
    touch = F.max(
        F.when(
            F.col("event_type").isNull() | (F.col("event_type") != "purchase"),
            F.struct(F.col("ts").cast("double").alias("t"), "event_id", "event_type"),
        )
    ).over(w)
    fresh = F.col("touch").isNotNull() & (F.col("ts").cast("double") - F.col("touch.t") <= 300.0)
    want = [
        tuple(r)
        for r in batch.withColumn("touch", touch)
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").cast("long"),
            F.when(fresh, F.col("touch.event_type")),
            F.when(~F.isnan("value"), F.col("value")),
        )
        .collect()
    ]
    assert _sorted(got) == _sorted(want)
    # both arms of the freshness test and the NULL key all occur
    assert {r[2] is None for r in got} == {True, False}
    assert any(r[0] is None for r in got)


def _max_ts(pdf: pd.DataFrame) -> float:
    """The closing watermark in seconds (0 s delay): the max event time."""
    return pdf["ts"].max().timestamp()


def _epoch(ts: pd.Series) -> np.ndarray:
    return ts.astype("datetime64[ns]").astype("int64").to_numpy() / 1e9


def _not_null_key(rows) -> list[tuple]:
    return _sorted(r for r in rows if r[0] is not None)


#: Event types that become order creates; the rest (errors, NULL) pay.
CREATES = ("view", "click")


def _order_events(stream):
    """The fixture as create/pay events of ten orders per user (a NULL
    user's orders are one NULL order, user 0's include order 0): about
    one event per order and micro-batch, so orders pair, re-open and
    time out, with and without rows in the batch that passes their
    deadline."""
    return stream.select(
        (F.col("user_id") * 10 + F.col("event_id") % 10).alias("order_id"),
        F.when(F.col("event_type").isin(*CREATES), "create").otherwise("pay").alias("event_type"),
        "ts",
    )


def _order_timeout_model(pdf: pd.DataFrame, timeout: float) -> tuple[list[tuple], int]:
    """Spark's per-key event-time semantics on the fixture's micro-batches.

    Orders are keyed as in ``_order_events``.  Batch k reads file k;
    its watermark is the max event time of the files before it (0 s
    delay), and it drops as late the rows at or below the watermark of
    the batch before it.  The end of each replay segment (after file 3,
    and at the end) adds a no-data batch at the advanced watermark.  A
    key with rows folds them into (min create, min pay) and emits once
    both are set; a key without rows whose deadline is strictly below
    the watermark times out.  Also returns how often a key had rows in
    the batch that passed its deadline."""
    files = [pdf.iloc[i * ROWS_PER_FILE : (i + 1) * ROWS_PER_FILE] for i in range(N_FILES)]
    state: dict = {}
    out: list[tuple] = []
    late_ms, wm_ms, passed_with_rows = 0, 0, 0
    for rows in [*files[:3], None, *files[3:], None]:
        seen = set()
        if rows is not None:
            rows = rows[_epoch(rows["ts"]) * 1000 > late_ms]
            for key, g in rows.groupby(rows["user_id"] * 10 + rows["event_id"] % 10, dropna=False):
                key = None if pd.isna(key) else int(key)
                seen.add(key)
                tss = _epoch(g["ts"])
                create = g["event_type"].isin(CREATES).to_numpy()
                c, p, deadline = state.pop(key, (np.nan, np.nan, -1))
                passed_with_rows += 0 <= deadline < wm_ms
                c = np.fmin(c, tss[create].min()) if create.any() else c
                p = np.fmin(p, tss[~create].min()) if (~create).any() else p
                if not (np.isnan(c) or np.isnan(p)):
                    status = PAY_OK if p - c < timeout else PAID_AFTER_TIMEOUT
                    out.append((key, int(np.floor(c)), int(np.floor(p)), status))
                else:
                    anchor = p if np.isnan(c) else c
                    state[key] = (c, p, int((anchor + timeout) * 1000))
        for key in [k for k, v in state.items() if k not in seen and v[2] < wm_ms]:
            c, p, _ = state.pop(key)
            status = TIMEOUT if np.isnan(p) else PAID_NO_CREATE
            out.append(
                (key, None if np.isnan(c) else int(np.floor(c)), None if np.isnan(p) else int(np.floor(p)), status)
            )
        late_ms = wm_ms
        if rows is not None:
            wm_ms = max(wm_ms, int(rows["ts"].max().timestamp() * 1000))
    return out, passed_with_rows


def _on_time(spark, pdf: pd.DataFrame):
    """The rows a timer kernel keeps: the no-data batch that closes the
    first replay segment advances the watermark to the max event time
    of files 0-2, so rows of the later files at or below it are late."""
    head = pdf.iloc[: 3 * ROWS_PER_FILE]
    late = (np.arange(len(pdf)) >= 3 * ROWS_PER_FILE) & (pdf["ts"] <= head["ts"].max()).to_numpy()
    assert 0 < late.sum() < ROWS_PER_FILE
    return spark.createDataFrame(pdf[~late], DDL)


def test_order_timeout_matches_per_key_timers(spark, replay):
    run, _, pdf = replay
    timeout = 100.0
    got = run(
        "order_timeout",
        lambda s: streaming_order_timeout(_order_events(s), timeout_seconds=timeout, watermark="0 seconds"),
    )
    want, passed_with_rows = _order_timeout_model(pdf, timeout)
    assert _sorted(got) == _sorted(want)
    # every outcome occurs, for the NULL key and key 0 too; some keys
    # had rows in the batch whose watermark passed their deadline
    assert {r[3] for r in got} == {PAY_OK, PAID_AFTER_TIMEOUT, TIMEOUT, PAID_NO_CREATE}
    assert any(r[0] is None for r in got) and any(r[0] == 0 for r in got)
    assert passed_with_rows > 0


def _colliding_ad(batch) -> int:
    """An ad id *a* for which some user's (user, 0) and (user, a) keys
    share a hash bucket."""
    users = batch.where(F.col("user_id").isNotNull()).select("user_id").distinct()
    bucket = lambda ad: F.pmod(F.xxhash64("user_id", ad), F.lit(KEY_BUCKETS))  # noqa: E731
    return (
        users.crossJoin(batch.sparkSession.range(1, 500).withColumnRenamed("id", "a"))
        .where(bucket(F.lit(0).cast("long")) == bucket(F.col("a")))
        .agg(F.min("a"))
        .first()[0]
    )


@pytest.mark.soak
def test_blacklist_matches_batch(spark, replay):
    run, batch, _ = replay
    ad = _colliding_ad(batch)
    assert ad is not None

    def with_ad(df):
        return df.withColumn("ad_id", F.pmod("event_id", F.lit(2)) * F.lit(ad).cast("long"))

    got = run("blacklist", lambda s: streaming_blacklist(with_ad(s).select("user_id", "ad_id", "ts"), threshold=20))
    _, warnings = blacklist_filter(with_ad(batch), threshold=20, tiebreak_col="event_id")
    want = [tuple(r) for r in warnings.select("user_id", "ad_id", "day", "warning_msg").collect()]
    assert _sorted(got) == _sorted(want)
    # some keys warn and some do not; the NULL user warns
    assert 0 < len(got) < 2 * (N_KEYS + 1)
    assert any(r[0] is None for r in got)


@pytest.mark.soak
def test_as_of_enrich_matches_batch(spark, replay):
    run, batch, _ = replay

    def tagged(df):
        return df.select(
            "user_id",
            "ts",
            F.when(F.col("event_id") % 7 == 0, 0).otherwise(1).alias("__tag"),
            F.col("event_id").alias("lid"),
            F.col("event_id").alias("rid"),
        )

    got = run("as_of", lambda s: streaming_as_of_enrich(tagged(s), key="user_id"))
    t = tagged(batch)
    right = t.where("__tag = 0").select("user_id", F.col("ts").alias("rts"), "rid")
    # one right row per (key, ts): the twin's pick among tied right rows
    # would be arbitrary
    assert right.groupBy("user_id", "rts").count().where("count > 1").count() == 0
    left = t.where("__tag = 1").select("user_id", "ts", "lid")
    want = [
        tuple(r)
        for r in as_of_join(left, right, key="user_id", left_ts="ts", right_ts="rts", right_payload=["rid"])
        .select("user_id", F.col("ts").cast("long"), "lid", "rid")
        .collect()
    ]
    assert _not_null_key(got) == _not_null_key(want)
    # both arms (a right row seen, none yet) occur; the NULL key enriches
    # from its own right rows only
    assert {r[3] is None for r in got} == {True, False}
    assert any(r[0] is None and r[3] is not None for r in got)


@pytest.mark.soak
def test_fail_burst_matches_batch(spark, replay):
    run, _, pdf = replay
    batch = _on_time(spark, pdf)
    window = 60
    got = run(
        "fail_burst",
        lambda s: streaming_fail_burst(
            s.select("user_id", "event_type", "ts", "event_id"), window_seconds=float(window), min_fails=2
        ),
    )
    want = [
        tuple(r)
        for r in fail_burst_alerts(
            batch, fail_value="error", window_seconds=window, min_fails=2, tiebreak_col="event_id"
        ).collect()
    ]
    # a run whose timer the closing watermark passed is decided on both
    # sides; a later run may be flushed early by a success, or pending
    closed = _max_ts(pdf) - window
    assert _not_null_key(r for r in got if r[1] < closed) == _not_null_key(r for r in want if r[1] < closed)
    assert set(_not_null_key(got)) <= set(want)
    assert any(r[0] is None for r in got) and any(r[0] == 0 for r in got)


@pytest.mark.soak
def test_funnel_matches_batch(spark, replay):
    run, _, pdf = replay
    got = run("funnel", streaming_funnel)
    # the batch funnel's per-(user, day) first-touch anchors: each step
    # takes its type's earliest event strictly after the previous anchor
    want = []
    ev = pdf.assign(t=_epoch(pdf["ts"]), day=pdf["ts"].dt.strftime("%Y-%m-%d"))
    for (user, day), g in ev.groupby(["user_id", "day"], dropna=False):
        anchor = -np.inf
        for step, kind in enumerate(("view", "click", "purchase"), start=1):
            ts = g.loc[(g["event_type"] == kind) & (g["t"] > anchor), "t"]
            if ts.empty:
                break
            anchor = ts.min()
            want.append((None if pd.isna(user) else int(user), day, step, int(np.floor(anchor))))
    assert _sorted(got) == _sorted(want)
    assert {r[2] for r in got} == {1, 2, 3}


@pytest.mark.soak
def test_one_or_more_matches_batch(spark, replay):
    run, batch, _ = replay
    kw = dict(
        key_col="user_id",
        ts_col="ts",
        a_pred=F.col("event_type") == "view",
        b_pred=F.col("event_type") == "purchase",
        within_seconds=120.0,
        tiebreak_col="event_id",
    )
    got = run("one_or_more", lambda s: streaming_one_or_more(s, **kw))
    want = [
        (r[0], int(r[1].timestamp()), int(r[2].timestamp()), r[3])
        for r in pattern_one_or_more(batch, **kw).collect()
    ]
    assert _not_null_key(got) == _not_null_key(want)
    assert any(r[3] > 1 for r in got)
    assert any(r[0] is None for r in got)


@pytest.mark.soak
@pytest.mark.parametrize("shape", ["sequence", "trailing_negation"])
def test_cep_nfa_matches_batch(spark, replay, shape):
    run, batch, pdf = replay
    view, click, purchase = (F.col("event_type") == t for t in ("view", "click", "purchase"))
    if shape == "sequence":
        steps, within = [PatternStep(view), PatternStep(click), PatternStep(purchase)], 300.0
        closed = np.inf
    else:
        steps, within = [PatternStep(view), PatternStep(purchase, negated=True)], 59.5
        closed = _max_ts(pdf) - within
        batch = _on_time(spark, pdf)
    got = run(
        f"cep_{shape}",
        lambda s: match_pattern_stream(s, "user_id", "ts", steps, within, tiebreak_col="event_id"),
    )
    want = [
        tuple(r)
        for r in match_pattern(batch, "user_id", "ts", steps, within, tiebreak_col="event_id").collect()
        if r[1] < closed
    ]
    assert _not_null_key(got) == _not_null_key(want)
    assert len(got) > N_KEYS


def test_replays_leave_no_sink_view(spark):
    """A registry replay is not memoized: each call runs the streaming
    query again into a memory sink, whose temp view must be dropped
    before the call returns, or every call would keep its rows in the
    driver."""
    from conftest import SF_DIR

    from flinkecuserbehavioranalysis_spark.plans.queries import QUERIES
    from flinkecuserbehavioranalysis_spark.streaming.jobs import run_bounded

    def sink_views() -> list[str]:
        return [
            t.name for t in spark.catalog.listTables() if t.name.startswith(("bounded_replay_", "mem_"))
        ]

    replay = QUERIES["streaming_login_fail_replay"].fn
    first, second = (_sorted(tuple(r) for r in replay(spark, SF_DIR).collect()) for _ in range(2))
    assert first == second and first
    stream = spark.readStream.format("rate").option("rowsPerSecond", 10).load()
    assert run_bounded(stream.where("false"), timeout=120) == []
    assert sink_views() == []
