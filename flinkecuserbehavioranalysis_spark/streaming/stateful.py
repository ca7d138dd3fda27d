"""Keyed stateful streaming operators on one bucketed runtime (SURVEY.md
§2.8 — the Flink ``KeyedProcessFunction`` surface).

These are the streaming twins of the batch formulations in
``operators.patterns`` / ``operators.timeout`` / ``operators.joins``;
keyed state plays the role of Flink's ``ValueState``/``ListState`` and
the watermark plays the event-time timers.  Every kernel here, and
``streaming/cep.match_pattern_stream``, runs through ``_keyed_state``,
the package's one ``applyInPandasWithState`` call, and supplies only its
transition.  The runtime owns how keyed state is grouped, ordered,
stored and timed out — the Structured Streaming model of keyed state as
a versioned store with watermark-driven timeouts:

- **Grouping.** Spark groups rows by a hash bucket of the key,
  ``pmod(xxhash64(key cols), KEY_BUCKETS)``, so a micro-batch makes at
  most ``KEY_BUCKETS`` Python calls per kernel whatever the key
  cardinality (Spark's per-group transport, not the transition, was the
  floor of a one-call-per-key kernel).
- **Ordering.** A bucket arrives as Arrow slices in shuffle order; the
  runtime concatenates them and sorts once by (key, ts with NaT last,
  tiebreak).  Flink gets this order from per-key FIFO delivery; sorting
  each slice alone breaks once a key straddles a slice (found at sf1).
- **Storage.** A bucket's state is parallel arrays sorted by key: one
  key array per key column (``keys``, then ``keys1``; a NULL key part is
  ``None`` and sorts last, so a NULL key is a key of its own) plus one
  typed array per slot field.  List state is a nested array, e.g.
  ``array<array<double>>``.  A key the transition leaves without state
  is dropped, and a bucket without keys removes its row, so
  ``numRowsTotal`` counts occupied buckets and ``size(keys)`` counts
  keys.
- **Timers.** A kernel with timers keeps one ``deadline_ms`` per key and
  runs with ``EventTimeTimeout``.  On every call the runtime fires the
  keys that have no rows in the call and whose deadline is strictly
  below ``state.getCurrentWatermarkMs()`` — Spark's per-key rule; keys
  with rows are processed as rows.  The bucket's timeout is its smallest
  deadline raised to the watermark (``setTimeoutTimestamp`` refuses a
  value below it), so a quiet bucket is called on the first watermark
  advance that makes one of its keys due.

A transition comes in one of three styles:

- ``_one_slot``, vectorized over the bucket with one slot per key that
  each row reads from its predecessor: login-fail, value-spike,
  last-touch and as-of enrich;
- a whole-bucket transition written directly against ``_Bucket``, also
  vectorized: order timeout and blacklist (which counts day runs);
- ``_per_key``, a scalar step the runtime loops over key segments:
  fail-burst, funnel, one-or-more and the CEP NFA, which also serves
  CEP negation.

Each micro-batch rewrites every touched bucket's arrays, which is cheap
while a bucket holds thousands of keys, not millions.

The state layout is part of the checkpoint.  Login-fail, value-spike and
last-touch keep the layout they had (``keys`` plus one array per slot,
every key seen kept); a checkpoint any other kernel wrote before it ran
on this runtime is refused by Spark's state-schema check, and the query
must restart from a new checkpoint.

Hot-path discipline: the runtime extracts each column to numpy ONCE per
call (``.astype('int64')`` epoch-ns → float seconds) and per-key steps
loop over plain scalars — never ``iterrows`` (whose per-row Series
construction is ~100× the cost of the transition itself).

Watermark gotcha: a row whose event time equals the operator's current
watermark is dropped as late — in particular, epoch-0 timestamps die
against the initial watermark of 0.  Event-time timers fire on the
no-data micro-batch that follows the last data batch (watermark
propagation lags one batch), exactly like a Flink timer firing on
watermark advance.
"""

from __future__ import annotations

import math
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
    IntegralType,
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


#: Hash buckets of a kernel's key: state is grouped by
#: ``pmod(xxhash64(key cols), KEY_BUCKETS)``, so a micro-batch makes at
#: most this many Python calls per kernel, whatever the key cardinality.
#: Login kernel alone on a 4-core host, 2k events of 5k users per
#: micro-batch, steady ``addBatch`` median: one call per user ~3.0 s;
#: 16 buckets 0.80-0.91 s, 64 buckets 0.81-0.93 s, 256 buckets
#: 1.16-1.19 s.  64 spreads over more shuffle partitions than 16 at
#: equal cost, and keeps bucket arrays short (~80 keys at 5k users).
KEY_BUCKETS = 64

#: ``deadline_ms`` of a key without a timer (Spark's ``NO_TIMESTAMP``).
_NO_DEADLINE = -1


def _dtype(t: DataType) -> Any:
    if isinstance(t, DoubleType):
        return np.float64
    if isinstance(t, BooleanType):
        return np.bool_
    if isinstance(t, IntegralType):
        return np.int64
    return object


def _placeholder(dtype: np.dtype) -> np.ndarray:
    """The slot value meaning "no state": NaN, None, 0 or False.  Every
    one-slot kernel's predicate is false against it."""
    fill = None if dtype.kind == "O" else np.nan if dtype.kind == "f" else 0
    return np.full(1, fill, dtype=dtype)


def _slot_array(values: list, t: DataType) -> np.ndarray:
    """A stored state list as an array of its slot's dtype (NULL doubles
    become NaN); a nested slot is an object array of Python lists."""
    dtype = _dtype(t)
    if dtype is not object:
        return np.array(values, dtype=dtype)
    out = np.empty(len(values), dtype=object)
    for i, v in enumerate(values):
        out[i] = v
    return out


class _Bucket:
    """One call of the runtime on one hash bucket.

    ``rows`` are the call's rows sorted by (key, ts, tiebreak); ``ts`` is
    their epoch seconds and ``col`` their data columns as numpy arrays.
    Key segment ``j`` spans rows ``starts[j]:ends[j]`` (``seg`` maps a
    row to its segment).  Every key with stored state or rows in the
    call is one *entry*, in stored key order: ``entry`` maps a segment
    to its entry and ``rows_of`` an entry to its segment (-1: no rows).
    ``found`` marks entries with stored state and ``due`` those whose
    timer fires in this call (``wm`` is the watermark, timers only).  A
    transition updates the per-entry ``state`` arrays (placeholders
    where not found), ``keep`` and ``deadline`` in place."""

    def __init__(self, rows, ts_col, data, kc, nc, stored, slot, wm_ms):
        self.rows, self.wm, n = rows, wm_ms, len(rows)
        self.ts = _epoch_s(rows[ts_col])
        self.col = {c: rows[c].to_numpy() for c in data}
        self.row_val = [rows[c].to_numpy().astype(np.int64) for c in kc]
        self.row_null = [rows[c].to_numpy().astype(bool) for c in nc]
        head = np.zeros(n, dtype=bool)
        head[:1] = True
        for a in (*self.row_val, *self.row_null):
            head[1:] |= a[1:] != a[:-1]
        self.starts = np.flatnonzero(head)
        self.ends = np.append(self.starts[1:], n).astype(np.int64)
        self.seg = np.cumsum(head) - 1

        # entries: the union of the stored keys and this call's segments,
        # stored before new among equals
        nk, m = len(kc), len(stored[0])
        val = [
            np.concatenate(
                (np.array([0 if v is None else v for v in stored[j]], dtype=np.int64), rv[self.starts])
            )
            for j, rv in enumerate(self.row_val)
        ]
        null = [
            np.concatenate((np.array([v is None for v in stored[j]], dtype=bool), rn[self.starts]))
            for j, rn in enumerate(self.row_null)
        ]
        o = np.lexsort([np.arange(len(val[0]))] + [a for j in reversed(range(nk)) for a in (val[j], null[j])])
        first = np.zeros(len(o), dtype=bool)
        first[:1] = True
        for a in (*val, *null):
            first[1:] |= a[o][1:] != a[o][:-1]
        ent, from_st = np.cumsum(first) - 1, o < m
        st_idx = np.full(int(first.sum()), -1)
        st_idx[ent[from_st]] = o[from_st]
        self.rows_of = np.full(len(st_idx), -1)
        self.rows_of[ent[~from_st]] = o[~from_st] - m
        self.entry = np.empty(len(self.starts), dtype=np.int64)
        self.entry[self.rows_of[self.rows_of >= 0]] = np.flatnonzero(self.rows_of >= 0)
        self.found = st_idx >= 0
        self.ent_val = [a[o[first]] for a in val]
        self.ent_null = [a[o[first]] for a in null]
        pick = np.where(self.found, st_idx, m)
        self.state = {}
        for i, (name, t) in enumerate(slot.items()):
            col = _slot_array(stored[nk + i], t)
            self.state[name] = np.concatenate((col, _placeholder(col.dtype)))[pick]
        self.keep = np.ones(len(st_idx), dtype=bool)
        self.deadline = np.full(len(st_idx), _NO_DEADLINE, dtype=np.int64)
        self.due = np.zeros(len(st_idx), dtype=bool)
        if wm_ms is not None:
            self.deadline = np.append(np.array(stored[-1], dtype=np.int64), _NO_DEADLINE)[pick]
            self.due = (self.rows_of < 0) & (self.deadline >= 0) & (self.deadline < wm_ms)

    def row_key(self, j: int = 0) -> pd.arrays.IntegerArray:
        """Key column *j* of every row, NULL-aware."""
        return pd.arrays.IntegerArray(self.row_val[j], self.row_null[j])

    def entry_key(self, j: int = 0) -> pd.arrays.IntegerArray:
        """Key column *j* of every entry, NULL-aware."""
        return pd.arrays.IntegerArray(self.ent_val[j], self.ent_null[j])

    def key_of(self, i: int) -> Any:
        """Entry *i*'s key as Python values: a scalar, or a tuple for a
        composite key."""
        k = tuple(None if n[i] else int(v[i]) for v, n in zip(self.ent_val, self.ent_null))
        return k[0] if len(k) == 1 else k

    def kept(self) -> tuple[tuple[list, ...], int | None]:
        """The state row of the kept entries (``None`` keys for NULL
        parts) and their smallest deadline, or ``((), None)`` when no
        entry is kept."""
        kept = np.flatnonzero(self.keep)
        if not len(kept):
            return (), None
        keys = []
        for v, nl in zip(self.ent_val, self.ent_null):
            k = v[kept].astype(object)
            k[nl[kept]] = None
            keys.append(k.tolist())
        row = keys + [a[kept].tolist() for a in self.state.values()]
        if self.wm is None:
            return tuple(row), None
        live = self.deadline[kept]
        live = live[live >= 0]
        return tuple(row + [self.deadline[kept].tolist()]), int(live.min()) if len(live) else None


def _keyed_state(
    events: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tiebreak: Sequence[str],
    cols: Sequence[str],
    slot: dict[str, DataType],
    transition: Callable[[_Bucket], pd.DataFrame | None],
    out_schema: StructType,
    watermark: str,
    timers: bool = False,
) -> DataFrame:
    """Run a keyed transition over hash buckets of its integral *keys*.

    *slot* declares the per-key state fields; *transition* sees one
    :class:`_Bucket` per call and returns its output rows.  With
    *timers*, state carries ``deadline_ms`` and the query runs with
    ``EventTimeTimeout``.  The NULL flag of each key column travels as
    its own column, so keys beyond 2^53 survive pandas' NULL-widening to
    float.  Tiebreak columns absent from *events* are ignored."""
    for k in keys:
        t = events.schema[k].dataType
        if not isinstance(t, IntegralType):
            raise TypeError(f"keyed kernels need integral keys, {k} is {t}")
    tb = [c for c in tiebreak if c in events.columns]
    data = list(dict.fromkeys([ts_col, *tb, *cols]))
    kc = [f"__k{j}" for j in range(len(keys))]
    nc = [f"__n{j}" for j in range(len(keys))]
    names = ["keys"] + [f"keys{j}" for j in range(1, len(keys))]
    state_schema = StructType(
        [StructField(n, ArrayType(LongType())) for n in names]
        + [StructField(name, ArrayType(t)) for name, t in slot.items()]
        + ([StructField("deadline_ms", ArrayType(LongType()))] if timers else [])
    )
    empty = ([],) * len(state_schema.fields)

    def fn(
        _bucket: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        frames = [f for f in pdfs if len(f)]
        if frames:
            pdf = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
            ts = pdf[ts_col]
            order = np.lexsort(
                [pdf[c].to_numpy() for c in reversed(tb)]
                + [ts.to_numpy().view("int64"), ts.isna().to_numpy()]
                + [pdf[c].to_numpy() for j in reversed(range(len(keys))) for c in (kc[j], nc[j])]
            )
            rows = pdf.take(order).reset_index(drop=True)
        else:  # a timer-only call
            rows = pd.DataFrame({c: [] for c in [*kc, *nc, *data]})
        wm = state.getCurrentWatermarkMs() if timers else None
        b = _Bucket(rows, ts_col, data, kc, nc, state.get if state.exists else empty, slot, wm)
        out = transition(b)
        row, deadline = b.kept()
        if row:
            state.update(row)
            if deadline is not None:
                state.setTimeoutTimestamp(max(deadline, wm, 1))
        elif state.exists:
            state.remove()
        if out is not None and len(out):
            yield out

    bucketed = events.withWatermark(ts_col, watermark).select(
        F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(KEY_BUCKETS)).alias("__bucket"),
        *[F.coalesce(F.col(k), F.lit(0)).cast("long").alias(c) for k, c in zip(keys, kc)],
        *[F.col(k).isNull().alias(c) for k, c in zip(keys, nc)],
        *data,
    )
    timeout = GroupStateTimeout.EventTimeTimeout if timers else GroupStateTimeout.NoTimeout
    return bucketed.groupBy("__bucket").applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout
    )


def _one_slot(
    values: Callable[[pd.DataFrame], dict[str, np.ndarray]],
    emit: Callable[..., pd.DataFrame | None],
    carry: Callable[[pd.DataFrame], np.ndarray] | None = None,
) -> Callable[[_Bucket], pd.DataFrame | None]:
    """The vectorized transition of a kernel with ONE slot of state per
    key (e.g. login: the last event's fail flag and ts).

    Each row gets its predecessor's slot values: the latest earlier
    *carried* row of its key (all rows carry unless *carry* masks some
    out, e.g. last-touch's purchases), else the key's stored slot, else
    the placeholder (NaN / None / 0 / False).  Each key then stores its
    last carried row; a key seen with no carried row yet keeps the
    placeholder, so state holds every key seen.

    ``values(rows)`` maps the sorted rows to their own slot values;
    ``emit(rows, key, cur, prev)`` returns the output rows (``key`` is a
    nullable Int64 array aligned with *rows*) and must treat a
    placeholder ``prev`` as "no predecessor"."""

    def transition(b: _Bucket) -> pd.DataFrame | None:
        n = len(b.rows)
        cur = values(b.rows)
        carried = np.ones(n, dtype=bool) if carry is None else carry(b.rows)
        last_c = np.maximum.accumulate(np.where(carried, np.arange(n), -1))
        pred = np.concatenate(([-1], last_c[:-1]))
        src = np.where(pred >= b.starts[b.seg], pred, n + b.entry[b.seg])
        prev = {name: np.concatenate((cur[name], b.state[name]))[src] for name in b.state}
        last = last_c[b.ends - 1]
        has_c = last >= b.starts
        for name in b.state:
            b.state[name][b.entry[has_c]] = cur[name][last[has_c]]
        return emit(b.rows, b.row_key(), cur, prev)

    return transition


def _per_key(
    step: Callable[[_Bucket, Any, int, int, tuple | None], tuple[list, tuple | None, int]],
    columns: Sequence[str],
) -> Callable[[_Bucket], pd.DataFrame | None]:
    """The transition that loops a scalar per-key *step* over the keys
    with rows and the keys whose timer fires.

    ``step(b, key, s, e, st)`` sees the key's rows ``s:e`` of the call
    (``s == e``: its timer fired) and its stored slot tuple (None for a
    key without state); it returns (output tuples in *columns* order,
    the new slot tuple or None to drop the key, its ``deadline_ms``)."""

    def transition(b: _Bucket) -> pd.DataFrame | None:
        names = list(b.state)
        out: list[tuple] = []
        for i in np.flatnonzero((b.rows_of >= 0) | b.due):
            j = b.rows_of[i]
            s, e = (int(b.starts[j]), int(b.ends[j])) if j >= 0 else (0, 0)
            st = tuple(b.state[name][i] for name in names) if b.found[i] else None
            rows, st, deadline = step(b, b.key_of(i), s, e, st)
            out += rows
            if st is None:
                b.keep[i] = False
                continue
            for name, v in zip(names, st):
                b.state[name][i] = v
            b.deadline[i] = deadline
        return pd.DataFrame(out, columns=list(columns)) if out else None

    return transition


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

    return _keyed_state(
        events, ["user_id"], "ts", ["event_id"], ["event_type"],
        {"fail": BooleanType(), "ts": DoubleType()},
        _one_slot(values, emit), LOGIN_WARNING_SCHEMA, watermark,
    )


BLACKLIST_WARNING_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ad_id", LongType()),
        StructField("day", LongType()),
        StructField("warning_msg", StringType()),
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
    timer is not.  Input columns: user_id, ad_id, ts.

    The count per day is order-free, so the transition is vectorized
    over runs of one key and one day.  State: (day, cnt, sent) per
    (user, ad); a checkpoint written before the bucketed runtime must
    restart."""
    msg = f"Click over {threshold} times today"

    def transition(b: _Bucket) -> pd.DataFrame | None:
        n = len(b.rows)
        # integer day ids straight from epoch-ns
        days = b.rows["ts"].astype("int64").to_numpy() // (86400 * 1_000_000_000)
        head = np.zeros(n, dtype=bool)
        head[b.starts] = True
        head[1:] |= days[1:] != days[:-1]
        rs = np.flatnonzero(head)
        re = np.append(rs[1:], n)
        rseg = b.seg[rs]
        ent = b.entry[rseg]
        day, cnt, sent = b.state["day"], b.state["cnt"], b.state["sent"]
        # a day run continues the stored count only as the key's first
        # run, on the stored day; any other run is a midnight reset
        cont = (rs == b.starts[rseg]) & b.found[ent] & (day[ent] == days[rs])
        cnt1 = np.where(cont, cnt[ent], 0) + (re - rs)
        sent0 = np.where(cont, sent[ent], 0)
        hit = (cnt1 > threshold) & (sent0 == 0)
        last = re == b.ends[rseg]
        e = ent[last]
        day[e], cnt[e], sent[e] = days[rs][last], cnt1[last], (sent0 | hit)[last]
        if not hit.any():
            return None
        return pd.DataFrame(
            {
                "user_id": b.entry_key(0)[ent[hit]],
                "ad_id": b.entry_key(1)[ent[hit]],
                "day": days[rs][hit],
                "warning_msg": msg,
            }
        )

    return _keyed_state(
        events, ["user_id", "ad_id"], "ts", [], [],
        {"day": LongType(), "cnt": LongType(), "sent": LongType()},
        transition, BLACKLIST_WARNING_SCHEMA, watermark,
    )


def streaming_order_timeout(
    order_events: DataFrame,
    timeout_seconds: float = 900.0,
    watermark: str = "5 seconds",
) -> DataFrame:
    """Streaming twin of ``operators.timeout.create_pay_status``.
    Input columns: order_id, event_type ('create'|'pay'), ts.

    State per order is (min create ts, min pay ts) — order-free, so the
    transition is vectorized over the bucket.  Pairing emits and drops
    the order; one pending side arms the event-time timer at anchor +
    *timeout_seconds* (Flink: OrderTimeout.scala:90-92 create+15min /
    :116-123 pay-alone), which emits ``order timeout`` or ``already
    payed but not found created log``.  A checkpoint written before the
    bucketed runtime must restart."""
    from ..operators.timeout import PAID_AFTER_TIMEOUT, PAID_NO_CREATE, PAY_OK, TIMEOUT

    def transition(b: _Bucket) -> pd.DataFrame | None:
        create, pay = b.state["create_ts"], b.state["pay_ts"]
        has = b.rows_of >= 0
        if len(b.starts):
            is_create = b.col["event_type"] == "create"
            e = b.entry
            create[e] = np.fmin(create[e], np.fmin.reduceat(np.where(is_create, b.ts, np.nan), b.starts))
            pay[e] = np.fmin(pay[e], np.fmin.reduceat(np.where(is_create, np.nan, b.ts), b.starts))
        paired = has & ~np.isnan(create) & ~np.isnan(pay)
        pending = has & ~paired
        anchor = np.where(np.isnan(create), pay, create)
        b.deadline[pending] = ((anchor[pending] + timeout_seconds) * 1000).astype(np.int64)
        done = paired | b.due
        b.keep &= ~done
        if not done.any():
            return None
        status = np.where(
            paired,
            np.where(pay - create < timeout_seconds, PAY_OK, PAID_AFTER_TIMEOUT),
            np.where(np.isnan(pay), TIMEOUT, PAID_NO_CREATE),
        )
        return pd.DataFrame(
            {
                "order_id": b.entry_key()[done],
                "create_ts": pd.array(np.floor(create[done]), dtype="Int64"),
                "pay_ts": pd.array(np.floor(pay[done]), dtype="Int64"),
                "status": status[done],
            }
        )

    return _keyed_state(
        order_events, ["order_id"], "ts", [], ["event_type"],
        {"create_ts": DoubleType(), "pay_ts": DoubleType()},
        transition, ORDER_RESULT_SCHEMA, watermark, timers=True,
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
    1 = left/probe side — the J2 connect pattern); keyed state is ONE
    slot, the latest right (ts, payload), so the transition is
    ``_one_slot`` with the right rows carried.  Rows process in
    (ts, __tag) order, right-before-left at equal timestamps, matching
    the batch operator's <= visibility; across batches the state carries
    the running latest right row, so time-ordered replays (file sources,
    Kafka per-key order) reproduce the batch result exactly.  A
    checkpoint written before the bucketed runtime must restart.

    Output: key, left ts, *left_cols, *payload_cols (NULLs before the
    first right row).  Payload columns are integer-long by contract
    (the output schema is LongType) and are carried through LongType
    state — no state-side float round-trip.  One residual precision
    caveat: if the tagged input leaves payload slots NULL on left rows
    (they are never read), Arrow→pandas widens the whole column to
    float64 inside the micro-batch, so payload values above 2^53 also
    need the caller to fill those never-read slots with a non-null
    sentinel (e.g. 0) to keep the column int64 end-to-end."""
    pay = {f"p{i}": c for i, c in enumerate(payload_cols)}
    out_schema = StructType(
        [
            StructField(key, LongType()),
            StructField("ts", LongType()),
        ]
        + [StructField(c, LongType()) for c in left_cols]
        + [StructField(c, LongType()) for c in payload_cols]
    )

    def is_right(rows: pd.DataFrame) -> np.ndarray:
        return (rows["__tag"] == 0).to_numpy()

    def values(rows: pd.DataFrame) -> dict[str, np.ndarray]:
        # left rows' payload slots are never carried: fill, don't read
        return {"r_ts": _epoch_s(rows[ts_col])} | {
            p: rows[c].fillna(0).to_numpy().astype(np.int64) for p, c in pay.items()
        }

    def emit(rows, k, cur, prev):
        left = ~is_right(rows)
        if not left.any():
            return None
        unseen = np.isnan(prev["r_ts"][left])
        return pd.DataFrame(
            {key: k[left], "ts": _floor_s(cur["r_ts"][left])}
            | {c: rows[c].to_numpy()[left].astype(np.int64) for c in left_cols}
            | {c: pd.arrays.IntegerArray(prev[p][left], unseen) for p, c in pay.items()}
        )

    return _keyed_state(
        tagged, [key], ts_col, ["__tag"], [*payload_cols, *left_cols],
        {"r_ts": DoubleType()} | {p: LongType() for p in pay},
        _one_slot(values, emit, carry=is_right), out_schema, watermark,
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
      anchor + window.
    - fail inside [anchor, anchor+window] → buffer it.
    - fail past the window → ignored (the reference's timer has
      conceptually fired; the batch twin drops these too).
    - timer → emit (anchor, max buffered, count) if count ≥
      *min_fails*; mark the run ``done`` so later fails stay ignored
      until the next success — exactly the batch operator's one-row-
      per-run contract.

    A run whose timer the final watermark never passes (anchor +
    window ≥ max event time) stays pending — the bounded-replay test
    filters the batch twin the same way.  State per user: (anchor,
    fails as ``array<double>``, done); a user with no open run holds
    none.  A checkpoint written before the bucketed runtime must
    restart.  Input columns: user_id, event_type, ts (+ event_id
    tiebreak).  Output = batch schema: (user_id, first_fail_ts,
    last_fail_ts, n_fails, warning_msg)."""

    msg = f"login fail {min_fails} times in {int(window_seconds)}s"

    def step(b: _Bucket, user: Any, s: int, e: int, st: tuple | None):
        anchor, fails, done = (float(st[0]), list(st[1]), int(st[2])) if st else (math.nan, [], 0)
        out = []
        if s == e:  # the timer fired
            if not done and len(fails) >= min_fails:
                out.append((user, _floor_s(anchor), _floor_s(max(fails)), len(fails), msg))
            return out, (anchor, [], 1), _NO_DEADLINE
        et = b.col["event_type"][s:e]
        # NULL event_type counts as a FAIL — the batch twin's success
        # predicate is `event_type <> fail`, which NULL fails (oracle
        # CASE -> 0); treating NULL as success flushed runs early on
        # NULL-bearing tiers
        is_fail = ((et == fail_value) | pd.isna(et)).tolist()
        for ts, fail in zip(b.ts[s:e].tolist(), is_fail):
            if not fail:
                if not math.isnan(anchor) and not done and len(fails) >= min_fails:
                    out.append((user, _floor_s(anchor), _floor_s(max(fails)), len(fails), msg))
                anchor, fails, done = math.nan, [], 0
            elif done:
                continue
            elif math.isnan(anchor):
                anchor, fails = ts, [ts]
            elif ts <= anchor + window_seconds:
                fails.append(ts)
        if math.isnan(anchor) and not done:
            return out, None, _NO_DEADLINE
        deadline = _NO_DEADLINE if done else int((anchor + window_seconds) * 1000)
        return out, (anchor, fails, done), deadline

    return _keyed_state(
        events, ["user_id"], "ts", ["event_id"], ["event_type"],
        {"anchor": DoubleType(), "fails": ArrayType(DoubleType()), "done": LongType()},
        _per_key(step, FAIL_BURST_SCHEMA.names), FAIL_BURST_SCHEMA, watermark, timers=True,
    )


FUNNEL_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("day", StringType()),
        StructField("step", IntegerType()),
        StructField("step_ts", LongType()),
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
    gives the batch reach counts.  The day is keyed as an integral day
    id (days since 1970-01-01 in the session time zone) and rendered
    back as its ``yyyy-MM-dd`` string on output.  State is three scalar
    slots per open (user, day): each key's timer is the end of its day,
    so a day's keys are dropped once the watermark passes its midnight.
    As in every timer kernel, a row at or below the watermark is late
    and dropped, so no row can reopen a closed day (nor, under the
    initial watermark of 0, count at or before the epoch).  A checkpoint
    written before the day timers must restart."""
    date = F.to_date(F.col(ts_col))
    tagged = events.select(
        F.col(key_col),
        F.datediff(date, F.lit("1970-01-01").cast("date")).alias("__day"),
        F.unix_millis(F.date_add(date, 1).cast("timestamp")).alias("__day_end_ms"),
        F.col(type_col),
        F.col(ts_col),
    )
    step_idx = {s: i for i, s in enumerate(steps)}
    out_schema = StructType(
        [FUNNEL_SCHEMA["user_id"], StructField("day", LongType()), *FUNNEL_SCHEMA.fields[2:]]
    )

    def step(b: _Bucket, key: tuple, s: int, e: int, st: tuple | None):
        if s == e:  # the day is over
            return [], None, _NO_DEADLINE
        t = [float(x) for x in st] if st else [math.nan] * 3
        out = []
        for ts, et in zip(b.ts[s:e].tolist(), b.col[type_col][s:e].tolist()):
            i = step_idx.get(et)
            if i is None or not math.isnan(t[i]):
                continue
            if i == 0 or ts > t[i - 1]:  # a NaN (unclaimed) anchor compares False
                t[i] = ts
                out.append((*key, i + 1, _floor_s(ts)))
        end = b.col["__day_end_ms"][s]  # one day per key; NULL without a ts
        return out, tuple(t), _NO_DEADLINE if pd.isna(end) else int(end)

    out = _keyed_state(
        tagged, [key_col, "__day"], ts_col, [], [type_col, "__day_end_ms"],
        {"t0": DoubleType(), "t1": DoubleType(), "t2": DoubleType()},
        _per_key(step, out_schema.names), out_schema, watermark, timers=True,
    )
    day = F.date_add(F.lit("1970-01-01").cast("date"), F.col("day").cast("int"))
    return out.select("user_id", day.cast("string").alias("day"), "step", "step_ts")


ONE_OR_MORE_SCHEMA = StructType(
    [
        StructField("key", LongType()),
        StructField("first_a_ts", LongType()),
        StructField("b_ts", LongType()),
        StructField("n_a", LongType()),
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
    no buffered prefixes, no pruning needed; a key without a live run
    holds none.  A checkpoint written before the bucketed runtime must
    restart."""
    tagged = events.withColumn("__a", _tag(a_pred)).withColumn(
        "__b", _tag(b_pred)
    )

    def step(b: _Bucket, k: Any, s: int, e: int, st: tuple | None):
        run_len, first_a = (int(st[0]), float(st[1])) if st else (0, 0.0)
        out = []
        is_b = b.col["__b"][s:e].astype(bool)
        is_a = (b.col["__a"][s:e].astype(bool) & ~is_b).tolist()
        for ts, a, bb in zip(b.ts[s:e].tolist(), is_a, is_b.tolist()):
            if a:
                if run_len == 0:
                    first_a = ts
                run_len += 1
                continue
            if bb and run_len >= 1 and ts <= first_a + within_seconds:
                out.append((k, _floor_s(first_a), _floor_s(ts), run_len))
            run_len, first_a = 0, 0.0
        return out, (run_len, first_a) if run_len else None, _NO_DEADLINE

    return _keyed_state(
        tagged, [key_col], ts_col, [tiebreak_col] if tiebreak_col else [], ["__a", "__b"],
        {"run_len": LongType(), "first_a": DoubleType()},
        _per_key(step, ONE_OR_MORE_SCHEMA.names), ONE_OR_MORE_SCHEMA, watermark,
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

    return _keyed_state(
        events, [key_col], ts_col, [tiebreak_col] if tiebreak_col else [], [value_col],
        {"ts": DoubleType(), "value": DoubleType()},
        _one_slot(values, emit), VALUE_SPIKE_SCHEMA, watermark,
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

    return _keyed_state(
        events, [key_col], ts_col, [tiebreak_col] if tiebreak_col else [], [type_col, value_col],
        {"ts": DoubleType(), "type": StringType()},
        _one_slot(values, emit, carry=lambda rows: ~is_purchase(rows)),
        LAST_TOUCH_SCHEMA, watermark,
    )
