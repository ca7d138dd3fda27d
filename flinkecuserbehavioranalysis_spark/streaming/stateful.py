"""Custom stateful streaming operators via ``applyInPandasWithState``
(SURVEY.md §2.8 — the Flink ``KeyedProcessFunction`` surface).

These are the streaming twins of the batch formulations in
``operators.patterns`` / ``operators.timeout``; keyed state plays the
role of Flink's ``ValueState``/``ListState`` and the timeout conf plays
the timers:

- **login-fail** (LoginFailTwo.scala:60-91): state = last event per
  user (kept in the user's hash bucket); a fail arriving ≤ gap after a
  stored fail emits a warning; success clears — identical to the
  reference's one-slot ListState.
- **order timeout** (OrderTimeout.scala:58-143): state = (create_ts,
  pay_ts); emit on the pairing event, or on event-time timeout at
  create_ts + deadline (``GroupStateTimeout.EventTimeTimeout`` — fired
  by watermark advance, exactly Flink's event-time timer discipline).

Positive CEP chains — pairs, N-step sequences, ``times``, optional
steps — are not here: ``streaming/cep.match_pattern_stream`` runs every
such pattern as one keyed NFA.  Two pattern kernels stay in this module:
``streaming_one_or_more`` (the loop kernel ``match_pattern_stream``
hands ``one_or_more`` patterns to) and ``streaming_not_followed_by``
(which keeps killers above the watermark so a LATE first event is still
killed; the NFA's trailing negation only kills forward).

Rows inside a micro-batch are buffered to ONE frame per group and
sorted before state transitions — Flink gets this ordering from per-key
FIFO delivery; Spark's shuffle delivers a group as arbitrarily-ordered
Arrow slices, so per-slice sorting alone breaks once a group straddles
a slice boundary (found at sf1).

Group = key for the kernels with timers or list state (``_group_chunks``
sorts by (ts, tiebreak)).  The one-slot NoTimeout kernels — login-fail,
value-spike, last-touch — group by a hash BUCKET of
the key instead, ``pmod(xxhash64(key), KEY_BUCKETS)`` with
``KEY_BUCKETS = 64`` (``_bucketed_one_slot`` sorts by (key, ts,
tiebreak)): Spark's per-group transport, not the kernel, was the floor
of a one-call-per-user kernel, so a micro-batch now makes at most 64
Python calls per kernel, each vectorized over all keys in its bucket.
A bucket's state is parallel arrays sorted by key (``keys`` plus one
array per slot field), so ``numRowsTotal`` counts occupied buckets and
the arrays hold one entry per key seen.  This is a state-schema change:
a checkpoint written by the former per-key layout is refused by Spark's
state-schema check and the query must restart from a new checkpoint.
Each micro-batch rewrites every touched bucket's arrays, which is cheap
while a bucket holds thousands of keys, not millions.

Hot-path discipline: every operator here extracts the pandas frame's
columns to numpy arrays ONCE per batch (``.astype('int64')`` epoch-ns →
float seconds) and loops over plain scalars — never ``iterrows`` (whose
per-row Series construction is ~100× the cost of the transition itself).
Transitions that are order-free (min/max) or expressible as segment
boundaries vectorize fully; inherently sequential ones (pending-list
CEP state) keep a scalar loop over the numpy views.

Watermark gotcha: a row whose event time equals the operator's current
watermark is dropped as late — in particular, epoch-0 timestamps die
against the initial watermark of 0.  Event-time timers fire on the
no-data micro-batch that follows the last data batch (watermark
propagation lags one batch), exactly like a Flink timer firing on
watermark advance.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

def _epoch_s(col: pd.Series) -> np.ndarray:
    """datetime64[ns] column → float epoch seconds, one vectorized cast
    (the array analog of ``pd.Timestamp.timestamp()``)."""
    return col.astype("int64").to_numpy() / 1e9


def _floor_s(x) -> int:
    """Float epoch seconds → floored whole-second long.  Python ``int()``
    truncates toward zero, which diverges from the batch floor contract
    (functions/scalar.floor_long) on pre-1970 sub-second rows — every
    kernel's epoch EMISSION routes through here (gap comparisons stay at
    full double precision, matching the batch kernels).  An array floors
    element-wise to int64."""
    f = np.floor(x)
    return f.astype(np.int64) if isinstance(f, np.ndarray) else int(f)


def _tag(pred: F.Column) -> F.Column:
    """NULL-safe predicate tag column for the pattern kernels.

    A three-valued predicate (``event_type == 'view'`` over a NULL
    type) evaluates to NULL; bare ``pred.cast("int")`` carries that
    NULL through Arrow as NaN, and the kernels' ``astype(bool)`` turns
    NaN into **True** — silently inverting the batch compilers'
    NULL-is-a-NON-match semantics (found by the round-8 degenerate-tier
    probe of streaming_cep_replay).  Coalescing to false pins the
    batch behavior at the tag site, once, for every kernel."""
    return F.coalesce(pred.cast("boolean"), F.lit(False)).cast("int")


def _group_chunks(pdfs: Iterator[pd.DataFrame], sort_cols: list) -> Iterator[pd.DataFrame]:
    """Yield a key's micro-batch group as ONE time-sorted frame.

    ``applyInPandasWithState`` delivers a group as Arrow-batch slices in
    shuffle-arrival order.  Sorting each slice independently is only
    correct while the whole group fits one Arrow batch (always true at
    test SF); once the grouped partition exceeds ``maxRecordsPerBatch``
    (~10k rows), a group can straddle slice boundaries whose RELATIVE
    order is arbitrary, and a sequential kernel would replay events out
    of time order (found by the round-8 sf1 sweep: the union-tagged
    as-of replay read stale right-side state on exactly the keys whose
    group straddled a batch boundary).  Buffering the whole group — per
    key per MICRO-BATCH, never per stream — is the documented
    ProcessWindowFunction-style memory bound these kernels already
    carry.  Sort columns absent from the frame are dropped; a timer-only
    invocation (no data chunks) yields nothing."""
    frames = list(pdfs)
    if not frames:
        return
    pdf = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
    cols = [c for c in sort_cols if c in pdf.columns]
    yield pdf.sort_values(cols) if cols else pdf


#: Hash buckets of the one-slot kernels' key: state is grouped by
#: ``pmod(xxhash64(key), KEY_BUCKETS)``, so a micro-batch makes at most
#: this many Python calls per kernel, whatever the key cardinality.
#: Login kernel alone on a 4-core host, 2k events of 5k users per
#: micro-batch, steady ``addBatch`` median: one call per user ~3.0 s;
#: 16 buckets 0.80-0.91 s, 64 buckets 0.81-0.93 s, 256 buckets
#: 1.16-1.19 s.  64 spreads over more shuffle partitions than 16 at
#: equal cost, and keeps bucket arrays short (~80 keys at 5k users).
KEY_BUCKETS = 64


def _placeholder(dtype: np.dtype) -> np.ndarray:
    """The slot value meaning "no row": NaN, None or False.  Every
    bucketed kernel's predicate is false against it."""
    fill = None if dtype.kind == "O" else np.nan if dtype.kind == "f" else 0
    return np.full(1, fill, dtype=dtype)


def _bucketed_one_slot(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak_col: str | None,
    cols: Sequence[str],
    slot: dict[str, DataType],
    values: Callable[[pd.DataFrame], dict[str, np.ndarray]],
    emit: Callable[..., pd.DataFrame | None],
    out_schema: StructType,
    watermark: str,
    carry: Callable[[pd.DataFrame], np.ndarray] | None = None,
) -> DataFrame:
    """Run a one-slot NoTimeout kernel vectorized over hash buckets of
    its key instead of one Python call per key.

    Each kernel keeps ONE slot of state per key (e.g. login: the last
    event's fail flag and ts).  Spark groups by the key's bucket; the
    bucket's state is parallel arrays sorted by key — ``keys`` plus one
    array per *slot* field.  A NULL key is a key of its own, stored as a
    trailing ``None`` in ``keys``.  Per call this helper:

    1. sorts the bucket's rows by (key, ts, tiebreak) — NaT last, as the
       per-key sort did;
    2. gives each row its predecessor's slot values: the latest earlier
       *carried* row of the same key (all rows carry unless *carry*
       masks some out, e.g. last-touch's purchases);
    3. seeds each key's first rows from the stored arrays
       (``searchsorted`` on ``keys``), or with the placeholder (NaN /
       None / False) for a key never seen;
    4. writes back each key's last carried row, merged into the sorted
       arrays; a key seen with no carried row yet stores the
       placeholder, so state holds every key seen, as the per-key
       operator did.

    ``values(rows)`` maps the sorted rows to the row's own slot values;
    ``emit(rows, key, cur, prev)`` returns the kernel's output rows
    (``key`` is a nullable Int64 array aligned with *rows*) and must
    treat a placeholder ``prev`` as "no predecessor".  The key must be
    integral; the NULL flag travels as its own column so keys beyond
    2^53 survive pandas' NULL-widening to float."""
    key_type = events.schema[key_col].dataType
    if not isinstance(key_type, (IntegerType, LongType)):
        raise TypeError(f"bucketed kernels need an integral key, {key_col} is {key_type}")
    tb = [tiebreak_col] if tiebreak_col and tiebreak_col in events.columns else []
    data = list(dict.fromkeys([ts_col, *tb, *cols]))
    state_schema = StructType(
        [StructField("keys", ArrayType(LongType()))]
        + [StructField(name, ArrayType(t)) for name, t in slot.items()]
    )

    def fn(
        _bucket: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        frames = list(pdfs)
        if not frames:
            return
        pdf = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
        # sort by (key, ts, tiebreak); key segments start at `starts`
        ts = pdf[ts_col]
        order = np.lexsort(
            [pdf[c].to_numpy() for c in reversed(tb)]
            + [
                ts.to_numpy().view("int64"),
                ts.isna().to_numpy(),
                pdf["__key"].to_numpy(),
                pdf["__key_null"].to_numpy(),
            ]
        )
        rows = pdf.take(order).reset_index(drop=True)
        key = rows["__key"].to_numpy().astype(np.int64)
        key_null = rows["__key_null"].to_numpy()
        n = len(rows)
        head = np.ones(n, dtype=bool)
        head[1:] = (key[1:] != key[:-1]) | (key_null[1:] != key_null[:-1])
        starts = np.flatnonzero(head)
        seg = np.cumsum(head) - 1

        # find each key segment's stored slot (NULL key: the trailing one)
        stored = state.get if state.exists else ([],) * (1 + len(slot))
        null_slot = bool(stored[0]) and stored[0][-1] is None
        st_keys = np.array(stored[0][:-1] if null_slot else stored[0], dtype=np.int64)
        m = len(stored[0])
        s_key, s_null = key[starts], key_null[starts]
        pos = np.searchsorted(st_keys, s_key)
        found = np.zeros(len(starts), dtype=bool)
        inside = pos < len(st_keys)
        found[inside] = st_keys[pos[inside]] == s_key[inside]
        found &= ~s_null
        pos[s_null] = len(st_keys)
        found[s_null] = null_slot

        # each row's predecessor: the latest earlier carried row of its
        # key, else the stored slot, else the placeholder (index n + m)
        cur = values(rows)
        carried = np.ones(n, dtype=bool) if carry is None else carry(rows)
        last_c = np.maximum.accumulate(np.where(carried, np.arange(n), -1))
        pred = np.concatenate(([-1], last_c[:-1]))
        in_key = pred >= starts[seg]
        src = np.where(in_key, pred, np.where(found[seg], n + pos[seg], n + m))
        st_vals = {
            name: np.asarray(stored[i + 1], dtype=cur[name].dtype) for i, name in enumerate(slot)
        }
        prev = {
            name: np.concatenate((cur[name], st_vals[name], _placeholder(cur[name].dtype)))[src]
            for name in slot
        }

        # write back each key's last carried row, keys kept sorted
        last = last_c[np.concatenate((starts[1:], [n])) - 1]
        has_c = last >= starts
        upd, new = has_c & found, ~found & ~s_null
        null_new = s_null & ~found
        keys = np.concatenate((st_keys, s_key[new]))
        by_key = np.argsort(keys, kind="stable")
        out_state = [keys[by_key].tolist() + [None] * (null_slot or bool(null_new.any()))]
        for name in slot:
            # a key seen without a carried row stores the placeholder
            seg_val = np.concatenate((cur[name], _placeholder(cur[name].dtype)))[
                np.where(has_c, last, n)
            ]
            v = st_vals[name].copy()
            v[pos[upd]] = seg_val[upd]
            merged = np.concatenate((v[: len(st_keys)], seg_val[new]))[by_key]
            tail = v[len(st_keys) :] if null_slot else seg_val[null_new]
            out_state.append(merged.tolist() + tail.tolist())
        state.update(tuple(out_state))

        out = emit(rows, pd.arrays.IntegerArray(key, key_null), cur, prev)
        if out is not None and len(out):
            yield out

    bucketed = events.withWatermark(ts_col, watermark).select(
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(KEY_BUCKETS)).alias("__bucket"),
        F.coalesce(F.col(key_col), F.lit(0)).alias("__key"),
        F.col(key_col).isNull().alias("__key_null"),
        *data,
    )
    return bucketed.groupBy("__bucket").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


LOGIN_WARNING_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("first_fail_ts", LongType()),
        StructField("last_fail_ts", LongType()),
        StructField("warning_msg", StringType()),
    ]
)
ORDER_RESULT_SCHEMA = StructType(
    [
        StructField("order_id", LongType()),
        StructField("create_ts", LongType()),
        StructField("pay_ts", LongType()),
        StructField("status", StringType()),
    ]
)
_ORDER_STATE = StructType(
    [StructField("create_ts", DoubleType()), StructField("pay_ts", DoubleType())]
)


def streaming_login_fail(
    events: DataFrame,
    fail_value: str = "error",
    max_gap_seconds: float = 3600.0,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming twin of ``operators.patterns.consecutive_fail_alerts``.
    Input columns: user_id, event_type, ts (+ event_id tiebreak).  The
    slot is the user's last event: (is it a fail, its ts)."""
    msg = "login fail 2 times in a short time"

    def values(rows: pd.DataFrame) -> dict[str, np.ndarray]:
        return {"fail": (rows["event_type"] == fail_value).to_numpy(), "ts": _epoch_s(rows["ts"])}

    def emit(rows, key, cur, prev):
        hit = cur["fail"] & prev["fail"] & (cur["ts"] - prev["ts"] < max_gap_seconds)
        if not hit.any():
            return None
        return pd.DataFrame(
            {
                "user_id": key[hit],
                "first_fail_ts": _floor_s(prev["ts"][hit]),
                "last_fail_ts": _floor_s(cur["ts"][hit]),
                "warning_msg": msg,
            }
        )

    return _bucketed_one_slot(
        events, "user_id", "ts", "event_id", ["event_type"],
        {"fail": BooleanType(), "ts": DoubleType()},
        values, emit, LOGIN_WARNING_SCHEMA, watermark,
    )


BLACKLIST_WARNING_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ad_id", LongType()),
        StructField("day", LongType()),
        StructField("warning_msg", StringType()),
    ]
)
_BLACKLIST_STATE = StructType(
    [
        StructField("day", LongType()),
        StructField("cnt", LongType()),
        StructField("sent", LongType()),
    ]
)


def streaming_blacklist(
    events: DataFrame,
    threshold: int = 100,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming twin of ``operators.patterns.blacklist_filter`` —
    the F1 ``KeyedProcessFunction`` (AdAnalysisByProvinceBlack.scala:69-109):
    per (user, ad) keep a running count + sent flag in state; emit ONE
    warning when the count first exceeds *threshold*.  The reference's
    midnight processing-time timer (:81-84) becomes an event-time day
    rollover in state — deterministic under replay, which a wall-clock
    timer is not.  Input columns: user_id, ad_id, ts."""

    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        user_id, ad_id = key
        day, cnt, sent = state.get if state.exists else (None, 0, 0)
        out = []
        for pdf in _group_chunks(pdfs, ["ts"]):
            # integer day ids straight from epoch-ns — the count per day
            # is order-free, so the loop runs over DAY SEGMENTS, not rows
            days = pdf["ts"].astype("int64").to_numpy() // (86400 * 1_000_000_000)
            if not len(days):
                continue
            bounds = np.concatenate(([0], np.flatnonzero(np.diff(days)) + 1, [len(days)]))
            for s, e in zip(bounds[:-1], bounds[1:]):
                d = int(days[s])
                if day is None or d != day:
                    day, cnt, sent = d, 0, 0  # midnight state reset
                cnt += int(e - s)
                if cnt > threshold and not sent:
                    out.append(
                        (int(user_id), int(ad_id), day, f"Click over {threshold} times today")
                    )
                    sent = 1
        state.update((day, cnt, sent))
        if out:
            yield pd.DataFrame(out, columns=["user_id", "ad_id", "day", "warning_msg"])

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", "ad_id")
        .applyInPandasWithState(
            fn, BLACKLIST_WARNING_SCHEMA, _BLACKLIST_STATE, "append", GroupStateTimeout.NoTimeout
        )
    )


def streaming_order_timeout(
    order_events: DataFrame,
    timeout_seconds: float = 900.0,
    watermark: str = "5 seconds",
) -> DataFrame:
    """Streaming twin of ``operators.timeout.create_pay_status``.
    Input columns: order_id, event_type ('create'|'pay'), ts."""
    from ..operators.timeout import PAID_AFTER_TIMEOUT, PAID_NO_CREATE, PAY_OK, TIMEOUT

    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (order_id,) = key
        if state.hasTimedOut:
            create_ts, pay_ts = state.get
            status = TIMEOUT if pay_ts is None else PAID_NO_CREATE
            state.remove()
            yield pd.DataFrame(
                [
                    (
                        int(order_id),
                        None if create_ts is None else _floor_s(create_ts),
                        None if pay_ts is None else _floor_s(pay_ts),
                        status,
                    )
                ],
                columns=["order_id", "create_ts", "pay_ts", "status"],
            )
            return
        create_ts, pay_ts = state.get if state.exists else (None, None)
        for pdf in pdfs:
            # state is (min create, min pay) — order-free, no sort needed
            tss = _epoch_s(pdf["ts"])
            is_create = (pdf["event_type"] == "create").to_numpy()
            c, p = tss[is_create], tss[~is_create]
            if c.size:
                create_ts = float(c.min()) if create_ts is None else min(create_ts, float(c.min()))
            if p.size:
                pay_ts = float(p.min()) if pay_ts is None else min(pay_ts, float(p.min()))
        if create_ts is not None and pay_ts is not None:
            status = PAY_OK if pay_ts - create_ts < timeout_seconds else PAID_AFTER_TIMEOUT
            state.remove()
            yield pd.DataFrame(
                [(int(order_id), _floor_s(create_ts), _floor_s(pay_ts), status)],
                columns=["order_id", "create_ts", "pay_ts", "status"],
            )
        else:
            # one pending side — arm the event-time timer (Flink:
            # OrderTimeout.scala:90-92 create+15min / :116-123 pay-alone)
            state.update((create_ts, pay_ts))
            anchor = create_ts if create_ts is not None else pay_ts
            state.setTimeoutTimestamp(int((anchor + timeout_seconds) * 1000))

    return (
        order_events.withWatermark("ts", watermark)
        .groupBy("order_id")
        .applyInPandasWithState(
            fn, ORDER_RESULT_SCHEMA, _ORDER_STATE, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def streaming_as_of_enrich(
    tagged: DataFrame,
    key: str,
    ts_col: str = "ts",
    payload_cols: tuple[str, ...] = ("rid",),
    left_cols: tuple[str, ...] = ("lid",),
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming twin of ``operators.joins.as_of_join``: enrich each
    left row with the most recent right payload at-or-before it.

    Input is a union-tagged stream (``__tag`` 0 = right/reference side,
    1 = left/probe side — the J2 connect pattern); keyed state holds the
    latest right (ts, payload).  Within a micro-batch rows process in
    (ts, __tag) order, right-before-left at equal timestamps, matching
    the batch operator's <= visibility; across batches the state carries
    the running latest right row, so time-ordered replays (file sources,
    Kafka per-key order) reproduce the batch result exactly.

    Output: key, left ts, *left_cols, *payload_cols (NULLs before the
    first right row).  Payload columns are integer-long by contract
    (the output schema is LongType) and are carried through LongType
    state — no state-side float round-trip.  One residual precision
    caveat: if the tagged input leaves payload slots NULL on left rows
    (they are never read), Arrow→pandas widens the whole column to
    float64 inside the micro-batch, so payload values above 2^53 also
    need the caller to fill those never-read slots with a non-null
    sentinel (e.g. 0) to keep the column int64 end-to-end."""
    from pyspark.sql.types import DoubleType, StructType

    n_pay = len(payload_cols)
    state_schema = StructType(
        [StructField("r_ts", DoubleType())]
        + [StructField(f"p{i}", LongType()) for i in range(n_pay)]
    )
    out_schema = StructType(
        [
            StructField(key, LongType()),
            StructField("ts", LongType()),
        ]
        + [StructField(c, LongType()) for c in left_cols]
        + [StructField(c, LongType()) for c in payload_cols]
    )

    def fn(key_t, pdfs, state):
        stored = state.get if state.exists else (None,) * (1 + n_pay)
        r_ts, pays = stored[0], list(stored[1:])
        out = []
        k0 = int(key_t[0])
        for pdf in _group_chunks(pdfs, [ts_col, "__tag"]):
            tss = _epoch_s(pdf[ts_col])
            is_right = (pdf["__tag"].to_numpy() == 0)
            # forward-fill: index of the latest right row at-or-before
            # each position (-1 = none yet in this batch → carried state)
            last_right = np.maximum.accumulate(
                np.where(is_right, np.arange(len(pdf)), -1)
            )
            pay_arr = {c: pdf[c].to_numpy() for c in payload_cols}
            left_arr = {c: pdf[c].to_numpy() for c in left_cols}
            for pos in np.flatnonzero(~is_right):
                j = last_right[pos]
                cur = [int(pay_arr[c][j]) for c in payload_cols] if j >= 0 else pays
                out.append(
                    (k0, _floor_s(tss[pos]))
                    + tuple(int(left_arr[c][pos]) for c in left_cols)
                    + tuple(cur)
                )
            if is_right.any():
                j = int(np.flatnonzero(is_right)[-1])
                r_ts = float(tss[j])
                pays = [int(pay_arr[c][j]) for c in payload_cols]
        state.update((r_ts, *pays))
        if out:
            yield pd.DataFrame(
                out, columns=[key, "ts", *left_cols, *payload_cols]
            )

    return (
        tagged.withWatermark(ts_col, watermark)
        .groupBy(key)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


FAIL_BURST_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("first_fail_ts", LongType()),
        StructField("last_fail_ts", LongType()),
        StructField("n_fails", LongType()),
        StructField("warning_msg", StringType()),
    ]
)
_FAIL_BURST_STATE = StructType(
    [
        StructField("anchor", DoubleType()),   # first fail of the open run
        StructField("fails", StringType()),    # ','-joined fail times in [anchor, anchor+W]
        StructField("done", LongType()),       # 1 = timer fired for this run
    ]
)


def streaming_fail_burst(
    events: DataFrame,
    fail_value: str = "error",
    window_seconds: float = 3600.0,
    min_fails: int = 2,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming twin of ``operators.patterns.fail_burst_alerts`` — the
    LoginFailOne.scala:62-106 timer-buffer variant, the surface the
    reference exercises hardest: buffer fails per user in ListState,
    arm an event-time timer at first_fail + window (:74), emit on the
    timer if ≥ *min_fails* accumulated, success clears (:79-81).

    State machine per user (event-time order within a batch):

    - success → FLUSH the pending run (emit if ≥ *min_fails* buffered),
      then reset — the fail set in [anchor, anchor+window] is final the
      moment a success lands, so emitting early is exact.  (The
      reference's literal ListState clear at LoginFailOne.scala:79-81
      silently drops a qualifying burst when the success beats the
      timer; the batch twin counts such runs, so this twin does too.)
    - fail, no anchor → anchor it, buffer it, arm the timer at
      anchor + window (``GroupStateTimeout.EventTimeTimeout`` — fired
      by watermark advance, Flink's event-time timer discipline).
    - fail inside [anchor, anchor+window] → buffer it.
    - fail past the window → ignored (the reference's timer has
      conceptually fired; the batch twin drops these too).
    - timeout → emit (anchor, max buffered, count) if count ≥
      *min_fails*; mark the run ``done`` so later fails stay ignored
      until the next success — exactly the batch operator's one-row-
      per-run contract.

    A run whose timer the final watermark never passes (anchor +
    window ≥ max event time) stays pending — the bounded-replay test
    filters the batch twin the same way.  Input columns: user_id,
    event_type, ts (+ event_id tiebreak).  Output = batch schema:
    (user_id, first_fail_ts, last_fail_ts, n_fails, warning_msg)."""

    msg = f"login fail {min_fails} times in {int(window_seconds)}s"

    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            anchor, fails_s, done = state.get
            fails = [float(x) for x in fails_s.split(",") if x] if fails_s else []
            if not done and len(fails) >= min_fails:
                yield pd.DataFrame(
                    [(int(user_id), _floor_s(anchor), _floor_s(max(fails)), len(fails), msg)],
                    columns=["user_id", "first_fail_ts", "last_fail_ts", "n_fails", "warning_msg"],
                )
            # run stays closed (done=1) until a success resets it; no
            # timer re-arm — state is one tuple per user, bounded
            state.update((anchor, "", 1))
            return
        anchor, fails_s, done = state.get if state.exists else (None, "", 0)
        fails = [float(x) for x in fails_s.split(",") if x] if fails_s else []
        out = []
        for pdf in _group_chunks(pdfs, ["ts", "event_id"]):
            tss = _epoch_s(pdf["ts"])
            # NULL event_type counts as a FAIL — the batch twin's
            # success predicate is `event_type <> fail`, which NULL
            # fails (oracle CASE -> 0); treating NULL as success here
            # flushed runs early on NULL-bearing tiers
            is_fail = (
                (pdf["event_type"] == fail_value) | pdf["event_type"].isna()
            ).to_numpy()
            for i in range(len(tss)):
                ts = float(tss[i])
                if not is_fail[i]:
                    if anchor is not None and not done and len(fails) >= min_fails:
                        out.append(
                            (int(user_id), _floor_s(anchor), _floor_s(max(fails)), len(fails), msg)
                        )
                    anchor, fails, done = None, [], 0
                elif done:
                    continue
                elif anchor is None:
                    anchor, fails = ts, [ts]
                elif ts <= anchor + window_seconds:
                    fails.append(ts)
        state.update((anchor, ",".join(repr(t) for t in fails), done))
        if anchor is not None and not done:
            state.setTimeoutTimestamp(int((anchor + window_seconds) * 1000))
        if out:
            yield pd.DataFrame(
                out,
                columns=["user_id", "first_fail_ts", "last_fail_ts", "n_fails", "warning_msg"],
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, FAIL_BURST_SCHEMA, _FAIL_BURST_STATE, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


NFB_SCHEMA = StructType(
    [StructField("key", LongType()), StructField("first_ts", LongType())]
)

_NFB_STATE = StructType(
    [StructField("pending", StringType()), StructField("absents", StringType())]
)


def streaming_not_followed_by(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    first_pred,
    absent_pred,
    within_seconds: float,
    tiebreak_col: str | None = None,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming twin of ``operators.patterns.pattern_not_followed_by``
    — CEP negation (``notFollowedBy...within``) as keyed state.

    Negation is decided by TIME, not by data: a first-event survives
    only once the watermark proves no killer can still arrive.  State
    per key, both lists PRUNED every call:

    - ``pending`` — undecided first-event timestamps.  A new one is
      admitted only if no stored absent already kills it (stored
      absents may be LATER than an out-of-order first event).  Emitted
      (and dropped) once ``first_ts + within <= watermark`` — every
      event at or below the watermark has been delivered, so no killer
      with ``absent_ts < first_ts + within`` can still appear; killed
      entries drop immediately.  Bounded by first-rate × (within +
      watermark delay).
    - ``absents`` — killer timestamps still above the watermark (a
      future first event must have ts > watermark, so only those can
      kill it).  Bounded by absent-rate × watermark delay.

    Survival emission rides ``EventTimeTimeout``: the earliest pending
    deadline arms a timer, so quiet keys flush on watermark advance
    (the trailing no-data micro-batch) exactly like a Flink event-time
    timer; a key with neither list non-empty removes its state.  The
    kill window is the batch operator's value-ordered end-exclusive
    ``first_ts < absent_ts < first_ts + within`` — equal-ts killers
    don't kill, so in-batch sort order never changes the outcome."""
    tagged = events.withColumn("__a", _tag(first_pred)).withColumn(
        "__b", _tag(absent_pred)
    )
    sort_cols = [ts_col] + ([tiebreak_col] if tiebreak_col else [])

    def _parse(s: str | None) -> list[float]:
        return [float(x) for x in s.split(",") if x] if s else []

    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (k,) = key
        if state.exists:
            pending_s, absents_s = state.get
            pending, absents = _parse(pending_s), _parse(absents_s)
        else:
            pending, absents = [], []
        for pdf in _group_chunks(pdfs, sort_cols):
            tss = _epoch_s(pdf[ts_col])
            a_arr = pdf["__a"].to_numpy().astype(bool)
            b_arr = pdf["__b"].to_numpy().astype(bool)
            for i in range(len(tss)):
                ts = float(tss[i])
                if b_arr[i]:
                    pending = [
                        v for v in pending if not (v < ts < v + within_seconds)
                    ]
                    absents.append(ts)
                if a_arr[i]:
                    if not any(ts < at < ts + within_seconds for at in absents):
                        pending.append(ts)
        wm_s = state.getCurrentWatermarkMs() / 1000.0
        survived = sorted(v for v in pending if v + within_seconds <= wm_s)
        pending = [v for v in pending if v + within_seconds > wm_s]
        absents = [at for at in absents if at > wm_s]
        if pending or absents:
            state.update(
                (
                    ",".join(repr(t) for t in pending),
                    ",".join(repr(t) for t in absents),
                )
            )
            if pending:
                deadline_ms = int(min(v + within_seconds for v in pending) * 1000)
            else:
                # absent-only state: self-clean once these can't kill
                deadline_ms = int((max(absents) + 1.0) * 1000)
            state.setTimeoutTimestamp(max(deadline_ms, int(wm_s * 1000) + 1))
        elif state.exists:
            state.remove()
        if survived:
            yield pd.DataFrame(
                [(int(k), int(v)) for v in survived], columns=["key", "first_ts"]
            )

    return (
        tagged.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn, NFB_SCHEMA, _NFB_STATE, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


FUNNEL_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("day", StringType()),
        StructField("step", IntegerType()),
        StructField("step_ts", LongType()),
    ]
)

_FUNNEL_STATE = StructType(
    [
        StructField("t0", DoubleType()),
        StructField("t1", DoubleType()),
        StructField("t2", DoubleType()),
    ]
)


def streaming_funnel(
    events: DataFrame,
    steps: tuple[str, str, str] = ("view", "click", "purchase"),
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming twin of ``operators.patterns.funnel_conversion`` (3-step
    form): keyed by (user, day), state = the three first-touch anchors.

    On a time-ordered stream the greedy transition — take a step event
    iff the step is unclaimed and the previous anchor is strictly
    earlier — selects exactly the batch operator's conditional-min
    chain, so a bounded replay reproduces the batch funnel (asserted in
    tests/test_streaming.py).  One row is emitted per step advancement
    (update-style progress feed); aggregating max(step) per (user, day)
    gives the batch reach counts.  State is three scalar slots per
    active (user, day) — bounded, watermark-evictable."""
    day = F.date_format(F.col(ts_col), "yyyy-MM-dd")
    tagged = events.select(
        F.col(key_col), day.alias("__day"), F.col(type_col), F.col(ts_col)
    )
    step_idx = {s: i for i, s in enumerate(steps)}

    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        u, d = key
        t: list[float | None] = list(state.get) if state.exists else [None, None, None]
        out: list[tuple[int, str, int, int]] = []
        for pdf in _group_chunks(pdfs, [ts_col]):
            tss = _epoch_s(pdf[ts_col])
            types = pdf[type_col].to_numpy()
            for ts, et in zip(tss, types):
                i = step_idx.get(et)
                if i is None or t[i] is not None:
                    continue
                if i == 0 or (t[i - 1] is not None and float(ts) > t[i - 1]):
                    t[i] = float(ts)
                    out.append((int(u), str(d), i + 1, _floor_s(ts)))
        state.update(tuple(t))
        if out:
            yield pd.DataFrame(out, columns=["user_id", "day", "step", "step_ts"])

    return (
        tagged.withWatermark(ts_col, watermark)
        .groupBy(key_col, "__day")
        .applyInPandasWithState(
            fn, FUNNEL_SCHEMA, _FUNNEL_STATE, "append", GroupStateTimeout.NoTimeout
        )
    )


ONE_OR_MORE_SCHEMA = StructType(
    [
        StructField("key", LongType()),
        StructField("first_a_ts", LongType()),
        StructField("b_ts", LongType()),
        StructField("n_a", LongType()),
    ]
)
_ONE_OR_MORE_STATE = StructType(
    [
        StructField("run_len", LongType()),
        StructField("first_a", DoubleType()),
    ]
)


def streaming_one_or_more(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    a_pred,
    b_pred,
    within_seconds: float,
    tiebreak_col: str | None = None,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming twin of ``operators.patterns.pattern_one_or_more`` —
    the CEP loop state an NFA keeps for ``oneOrMore().consecutive()``
    is literally TWO numbers per key: the length of the current
    trailing consecutive-A run and its first timestamp.  Per event in
    (ts, tiebreak) order: A extends (or starts) the run; B with a live
    run emits (first_a, b_ts, len) when the bound holds, and — being a
    non-A — ends the run; anything else resets.  Constant-size state,
    no buffered prefixes, no pruning needed."""
    tagged = events.withColumn("__a", _tag(a_pred)).withColumn(
        "__b", _tag(b_pred)
    )
    sort_cols = [ts_col] + ([tiebreak_col] if tiebreak_col else [])

    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (k,) = key
        run_len, first_a = state.get if state.exists else (0, 0.0)
        out: list[tuple[int, int, int, int]] = []
        for pdf in _group_chunks(pdfs, sort_cols):
            tss = _epoch_s(pdf[ts_col])
            is_b = pdf["__b"].to_numpy().astype(bool)
            is_a = pdf["__a"].to_numpy().astype(bool) & ~is_b
            for i in range(len(tss)):
                ts = float(tss[i])
                if is_a[i]:
                    if run_len == 0:
                        first_a = ts
                    run_len += 1
                    continue
                if is_b[i] and run_len >= 1 and ts <= first_a + within_seconds:
                    out.append((int(k), _floor_s(first_a), _floor_s(ts), int(run_len)))
                run_len, first_a = 0, 0.0
        state.update((run_len, first_a))
        if out:
            yield pd.DataFrame(out, columns=["key", "first_a_ts", "b_ts", "n_a"])

    return (
        tagged.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn, ONE_OR_MORE_SCHEMA, _ONE_OR_MORE_STATE, "append", GroupStateTimeout.NoTimeout
        )
    )


VALUE_SPIKE_SCHEMA = StructType(
    [
        StructField("key", LongType()),
        StructField("prev_ts", LongType()),
        StructField("spike_ts", LongType()),
        StructField("prev_value", DoubleType()),
        StructField("spike_value", DoubleType()),
    ]
)

def streaming_value_spike(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    factor: float = 2.0,
    max_gap_seconds: float = 3600.0,
    tiebreak_col: str | None = "event_id",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming twin of ``pattern_value_spike`` — the IterativeCondition
    pair (next value ≥ factor × previous within gap) needs exactly ONE
    (ts, value) pair of state per key."""

    def values(rows: pd.DataFrame) -> dict[str, np.ndarray]:
        return {"ts": _epoch_s(rows[ts_col]), "value": rows[value_col].to_numpy().astype(float)}

    def emit(rows, key, cur, prev):
        hit = (cur["value"] >= factor * prev["value"]) & (cur["ts"] - prev["ts"] <= max_gap_seconds)
        if not hit.any():
            return None
        return pd.DataFrame(
            {
                "key": key[hit],
                "prev_ts": _floor_s(prev["ts"][hit]),
                "spike_ts": _floor_s(cur["ts"][hit]),
                "prev_value": prev["value"][hit],
                "spike_value": cur["value"][hit],
            }
        )

    return _bucketed_one_slot(
        events, key_col, ts_col, tiebreak_col, [value_col],
        {"ts": DoubleType(), "value": DoubleType()},
        values, emit, VALUE_SPIKE_SCHEMA, watermark,
    )


LAST_TOUCH_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("purchase_ts", LongType()),
        StructField("touch_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def streaming_last_touch(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    purchase_type: str = "purchase",
    within_seconds: float = 604800.0,
    tiebreak_col: str | None = "event_id",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming twin of ``last_touch_attribution``'s per-purchase front
    half: each purchase event emits (user, purchase_ts, touch_type,
    value) where touch_type is the most recent preceding non-purchase
    event's type if it is fresh (within *within_seconds*), else NULL —
    realtime attribution with exactly ONE (ts, type) pair of state per
    key.  Downstream a plain streaming aggregation sums per touch_type,
    exactly like the batch query's final groupBy."""

    def is_purchase(rows: pd.DataFrame) -> np.ndarray:
        return (rows[type_col] == purchase_type).to_numpy()

    def values(rows: pd.DataFrame) -> dict[str, np.ndarray]:
        return {"ts": _epoch_s(rows[ts_col]), "type": rows[type_col].to_numpy(dtype=object)}

    def emit(rows, key, cur, prev):
        hit = is_purchase(rows)
        if not hit.any():
            return None
        fresh = cur["ts"] - prev["ts"] <= within_seconds
        return pd.DataFrame(
            {
                "user_id": key[hit],
                "purchase_ts": _floor_s(cur["ts"][hit]),
                "touch_type": np.where(fresh, prev["type"], None)[hit],
                "value": rows[value_col].to_numpy().astype(float)[hit],
            }
        )

    return _bucketed_one_slot(
        events, key_col, ts_col, tiebreak_col, [type_col, value_col],
        {"ts": DoubleType(), "type": StringType()},
        values, emit, LAST_TOUCH_SCHEMA, watermark,
        carry=lambda rows: ~is_purchase(rows),
    )
