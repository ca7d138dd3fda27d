"""Streaming state-size soak tests (round-5 ask #4 / round-6 verdict #2).

The bounded-replay equivalence tests prove the stateful kernels compute
the right ANSWER; these prove their STATE STAYS BOUNDED — the mechanical
guard against the unbounded-state bug class: drive each kernel through
>= 20 micro-batches (maxFilesPerTrigger=1 over time-ordered file slices)
with 2 checkpoint restarts and assert the state series plateaus at the
operator's designed bound.  Every keyed kernel keeps its keys in hash
buckets (one state row per occupied BUCKET, holding one array entry per
key), so ``stateOperators[].numRowsTotal`` counts buckets; the key
series is ``sum(size(value.groupState.keys))`` read with the
``statestore`` reader at every committed batch id:

- ``match_pattern_stream`` on a positive 3-step chain (no timers) holds
  one key per LIVE chain — keys must track those, never event count:
  constant once every chain-starting key has been seen, no matter how
  many more batches of events flow.
- ``streaming_login_fail`` / ``streaming_last_touch`` hold every key
  seen: the bucket rows plateau at the occupied-bucket count and the
  arrays hold exactly one entry per key.
- ``streaming_order_timeout`` (timers) holds only PENDING one-sided
  orders inside the timeout horizon — the watermark must evict decided
  keys, so the series rises, plateaus at the steady-state pending
  level, and ends at exactly the undecided count (computed
  independently from the synthetic data), far below total keys.

Synthetic minute-scale data (not testdata) so the expected plateau is
closed-form; noop sink (state metrics need no output) + one shared
checkpoint across the three segment runs = 2 genuine restarts.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.soak  # round-9 verdict #3: state-soak family is the soak tier

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from flinkecuserbehavioranalysis_spark.operators.cep import PatternStep
from flinkecuserbehavioranalysis_spark.streaming.cep import match_pattern_stream
from flinkecuserbehavioranalysis_spark.streaming.stateful import (
    KEY_BUCKETS,
    streaming_last_touch,
    streaming_login_fail,
    streaming_order_timeout,
)

N_SLICES = 24  # 8 per segment x 3 segments = 24 data micro-batches
T0 = 1_700_000_000  # any fixed epoch anchor


def _write_slice_files(src_dir: str, pdf: pd.DataFrame, lo: int, hi: int) -> None:
    """Write time-ordered slices [lo, hi) of *pdf* as single parquet
    files (microsecond timestamps — no NANOS legacy conf needed)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pdf.sort_values("ts").reset_index(drop=True)
    bounds = np.linspace(0, len(pdf), N_SLICES + 1).astype(int)
    for i in range(lo, hi):
        sl = pdf.iloc[bounds[i] : bounds[i + 1]].copy()
        sl["ts"] = sl["ts"].astype("datetime64[us]")
        path = os.path.join(src_dir, f"slice_{i:03d}.parquet")
        pq.write_table(pa.Table.from_pandas(sl, preserve_index=False), path)
        # the file source takes files in modification-time order, and
        # files written in one burst often share a millisecond
        os.utime(path, (1_700_000_000 + i,) * 2)


def _state_rows(q) -> list[int]:
    """numRowsTotal of the (single) state operator, one per progress
    record that carries state metrics."""
    out = []
    for p in q.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        ops = d.get("stateOperators") or []
        if ops:
            out.append(int(ops[0]["numRowsTotal"]))
    return out


def _state_keys(spark, ckpt: str) -> list[int]:
    """Keys held in state after each committed batch: the summed length
    of the bucket rows' key arrays."""
    batches = sorted(int(f) for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit())
    return [
        spark.read.format("statestore")
        .option("batchId", b)
        .load(ckpt)
        .select(F.coalesce(F.sum(F.size("value.groupState.keys")), F.lit(0)))
        .first()[0]
        for b in batches
    ]


def _soak(spark, tmp_path, pdf, schema_ddl, kernel) -> list[int]:
    """Three checkpointed availableNow segments (8 slices each, one file
    per trigger) over the same kernel = >= 24 data batches, 2 restarts.
    Returns the concatenated numRowsTotal series."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    series: list[int] = []
    for lo, hi in ((0, 8), (8, 16), (16, 24)):
        _write_slice_files(src, pdf, lo, hi)
        stream = (
            spark.readStream.schema(schema_ddl)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            kernel(stream)
            .writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        series.extend(_state_rows(q))
    return series


@pytest.mark.parametrize(
    "kernel_name", ["login_fail", "pattern_sequence", "last_touch", "funnel", "blacklist"]
)
def test_keyed_nontimeout_state_plateaus_at_key_cardinality(
    spark, tmp_path, kernel_name
):
    """Keyed kernels without timers: state tracks key cardinality, flat
    for the whole soak once every key has appeared (all keys appear in
    the first micro-batch), while 24 batches of events keep arriving.
    ``last_touch`` (round 8, driver-hashed the same round) holds exactly
    one (ts, type) slot per user — the classic unbounded-attribution
    trap is keeping every touch, which this gate would catch as stored
    keys tracking events.  For login_fail and last_touch the state rows
    are occupied hash buckets, and the bucket arrays of the final
    checkpoint hold exactly one entry per key.  The CEP NFA
    (pattern_sequence) keeps only keys with live chains, so its plateau
    is the number of chain-starting keys.  The funnel keeps the
    (user, day) keys of open days only: its day timers drop a day's keys
    once the watermark passes that midnight.  The blacklist keys on
    (user, ad) and drops a key once the watermark passes the midnight
    ending its stored day, so its series falls back to the keys seen on
    the last, still open, day."""
    n_keys, n_events = 40, 1920
    i = np.arange(n_events)
    types = np.array(["view", "click", "purchase", "error"])[i % 4]
    pdf = pd.DataFrame(
        {
            "user_id": (i % n_keys).astype("int64"),
            "event_type": types,
            "ts": pd.to_datetime(T0 + i * 5, unit="s"),
            "event_id": i.astype("int64"),
            "value": (i % 7).astype("float64"),
        }
    )
    expected_keys = n_keys
    if kernel_name == "login_fail":
        kernel = lambda s: streaming_login_fail(s, max_gap_seconds=3600.0)  # noqa: E731
    elif kernel_name == "last_touch":
        kernel = streaming_last_touch
    elif kernel_name == "funnel":
        # the funnel keys on (user, DAY) and the 2.7 h soak window
        # crosses midnight UTC — expected cardinality is (user, day)
        from flinkecuserbehavioranalysis_spark.streaming.stateful import (
            streaming_funnel,
        )

        kernel = streaming_funnel
        days = pdf["ts"].dt.strftime("%Y-%m-%d")
        expected_keys = len(set(zip(pdf["user_id"], days)))
        assert expected_keys > n_keys  # the midnight crossing is real
    elif kernel_name == "blacklist":
        from flinkecuserbehavioranalysis_spark.streaming.stateful import (
            streaming_blacklist,
        )

        # three ads per user on the first day, one on the second: only
        # the day timers can take the key series back down
        midnight = (T0 // 86400 + 1) * 86400
        day1 = F.col("ts") < F.lit(midnight).cast("timestamp")
        ad = F.when(day1, F.floor(F.col("event_id") / n_keys) % 3).otherwise(0)
        kernel = lambda s: streaming_blacklist(  # noqa: E731
            s.select("user_id", ad.cast("long").alias("ad_id"), "ts")
        )
        days = pdf["ts"].dt.strftime("%Y-%m-%d")
        ads = np.where(days == days.min(), (i // n_keys) % 3, 0)
        expected_keys = len(set(zip(pdf["user_id"], ads)))
        assert expected_keys > n_keys and days.nunique() == 2
    else:
        steps = [
            PatternStep(F.col("event_type") == step)
            for step in ("view", "click", "purchase")
        ]
        kernel = lambda s: match_pattern_stream(  # noqa: E731
            s, "user_id", "ts", steps, 3600.0, tiebreak_col="event_id"
        )
        # the NFA keeps state only for a key with a live chain:
        # here the keys that see a view (key k only ever sees type
        # k % 4, and a view every 200 s keeps a 3600 s chain alive)
        expected_keys = pdf.loc[pdf["event_type"] == "view", "user_id"].nunique()
        assert 0 < expected_keys < n_keys
    series = _soak(
        spark,
        tmp_path,
        pdf,
        "user_id long, event_type string, ts timestamp, event_id long, value double",
        kernel,
    )
    assert len(series) >= 20, f"soak too short: {len(series)} state batches"
    if kernel_name in ("funnel", "pattern_sequence", "blacklist"):
        series = _state_keys(spark, str(tmp_path / "ckpt"))
        assert len(series) >= 20, f"soak too short: {len(series)} committed batches"
    if kernel_name == "blacklist":
        # every (user, ad) key of the first day is live until the
        # watermark passes midnight; then only the second day's are
        open_keys = len(set(zip(pdf["user_id"][days == days.max()], ads[days == days.max()])))
        assert max(series) == expected_keys, series
        assert series[-1] == open_keys < expected_keys, series
    elif kernel_name == "funnel":
        # day-2 (user, day) keys only exist after the midnight crossing
        # (slice 16, the batch before the watermark passes midnight): the
        # series peaks at the exact (user, day) cardinality there, then
        # falls to the keys of the last, still open, day
        open_keys = pdf.loc[days == days.max(), "user_id"].nunique()
        assert max(series) == expected_keys, series
        assert series[-1] == open_keys < expected_keys, series
    elif kernel_name in ("login_fail", "last_touch"):
        # every key appears in batch 1: the series must plateau at the
        # number of buckets the keys occupy (same hash as the kernel)
        # and never grow past it ...
        buckets = (
            spark.range(n_keys)
            .select(F.pmod(F.xxhash64(F.col("id")), F.lit(KEY_BUCKETS)).alias("b"))
            .distinct()
            .count()
        )
        assert max(series) == buckets, (series, buckets)
        assert series[1:] == [buckets] * (len(series) - 1), series
        # ... and the bucket arrays hold one entry per key, never more
        stored = (
            spark.read.format("statestore")
            .load(str(tmp_path / "ckpt"))
            .select(F.sum(F.size("value.groupState.keys")))
            .first()[0]
        )
        assert stored == n_keys, stored
    else:
        # every key appears in batch 1 (slice 0 holds 80 events of 40
        # keys): the series must plateau at the chain-holding key count
        # immediately and NEVER grow past it — state tracks keys, not the
        # 24 batches of events
        assert max(series) == expected_keys, series
        assert series[1:] == [expected_keys] * (len(series) - 1), series


def test_cep_nfa_parked_state_drained_by_watermark(spark, tmp_path):
    """The streaming CEP NFA's trailing-negation path (EventTimeTimeout,
    driver-hashed round 8): completed anchors PARK in keyed state until
    a kill or the watermark-fired flush — state must track keys
    with UNDECIDED anchors, drain as the watermark passes deadlines, and
    end at the independently-computed undecided-key count (1), never at
    key or event cardinality."""
    from flinkecuserbehavioranalysis_spark.operators.cep import PatternStep
    from flinkecuserbehavioranalysis_spark.streaming.cep import match_pattern_stream

    n_keys, n_events, within = 40, 1920, 600.0
    i = np.arange(n_events)
    keys = (i % n_keys).astype("int64")
    # type cycles per ROUND (i//40), independent of the key, so every
    # key sees views; keys >= 20 never purchase, so their views survive
    # to the watermark flush instead of dying to an online kill
    types = np.array(["view", "click", "purchase", "error"])[(i // n_keys) % 4]
    types = np.where((keys >= 20) & (types == "purchase"), "click", types)
    pdf = pd.DataFrame(
        {
            "user_id": keys,
            "event_type": types,
            "ts": pd.to_datetime(T0 + i * 5, unit="s"),
        }
    )
    steps = [
        PatternStep(F.col("event_type") == "view"),
        PatternStep(F.col("event_type") == "purchase", negated=True),
    ]
    series = _soak(
        spark,
        tmp_path,
        pdf,
        "user_id long, event_type string, ts timestamp",
        lambda s: match_pattern_stream(s, "user_id", "ts", steps, within),
    )
    assert len(series) >= 20, f"soak too short: {len(series)} state batches"
    series = _state_keys(spark, str(tmp_path / "ckpt"))
    assert len(series) >= 20, f"soak too short: {len(series)} committed batches"
    # ground truth: keys < 20 park each view for 400 s until its
    # purchase kills it; keys >= 20 park each view for `within` until
    # the flush.  At the closing watermark (max ts), the only anchor
    # with deadline >= wm is key 39's final view (exact equality — the
    # strict timer rule keeps it parked), so exactly ONE key holds state
    wm = float(pdf["ts"].max().timestamp())
    view_ts = T0 + 5 * i[(types == "view") & (keys >= 20)]
    expected_keys = len(
        {int(k) for k, t in zip(keys[(types == "view") & (keys >= 20)], view_ts)
         if t + within >= wm}
    )
    assert series[-1] == expected_keys, (series[-5:], expected_keys)
    # state is keyed: one entry per key with live chains, never more
    assert max(series) <= n_keys, (max(series), n_keys)
    # drain keeps pace: the second half's peak never exceeds the first's
    half = len(series) // 2
    assert max(series[half:]) <= max(series[:half]), series


def test_order_timeout_state_evicted_by_watermark(spark, tmp_path):
    """EventTimeTimeout kernel: pending one-sided orders are evicted as
    the watermark passes their deadline — the series rises to the
    steady-state pending level, never tracks total keys, and ends at
    exactly the independently-computed undecided count."""
    timeout_s = 600.0
    n_orders = 720
    i = np.arange(n_orders)
    create_ts = T0 + i * 10  # one create every 10 s, 7200 s span
    # i%3==0: pay +50 s; i%3==1: pay +300 s; i%3==2: never pays
    pays = i[i % 3 != 2]
    pay_ts = create_ts[pays] + np.where(pays % 3 == 0, 50, 300)
    pdf = pd.DataFrame(
        {
            "order_id": np.concatenate([i, pays]).astype("int64"),
            "event_type": ["create"] * n_orders + ["pay"] * len(pays),
            "ts": pd.to_datetime(np.concatenate([create_ts, pay_ts]), unit="s"),
        }
    )
    series = _soak(
        spark,
        tmp_path,
        pdf,
        "order_id long, event_type string, ts timestamp",
        lambda s: streaming_order_timeout(s, timeout_seconds=timeout_s),
    )
    assert len(series) >= 20, f"soak too short: {len(series)} state batches"
    series = _state_keys(spark, str(tmp_path / "ckpt"))
    assert len(series) >= 20, f"soak too short: {len(series)} committed batches"
    # ground truth: watermark closes at max event time - 5 s (the
    # kernel's bounded-out-of-orderness delay); an unpaid create whose
    # deadline the watermark never passed is still pending at the end
    wm_final = pdf["ts"].max().timestamp() - 5.0
    unpaid = create_ts[i % 3 == 2]
    expected_pending = int(np.sum(unpaid + timeout_s >= wm_final))
    assert series[-1] == expected_pending, (series[-5:], expected_pending)
    # eviction kept pace: the peak is the steady-state pending level
    # (orders inside one timeout horizon), nowhere near total keys
    assert max(series) < n_orders / 3, (max(series), n_orders)
    assert max(series) > series[-1], series
    # plateau: once past warm-up the pending level never grows with the
    # batch count — the second half's peak stays at (or below, as the
    # closing watermark drains it) the first half's
    half = len(series) // 2
    assert max(series[half:]) <= max(series[:half]), series
