"""Event-time windowed aggregation + per-window top-N (SURVEY.md §2.3-2.6).

Reference semantics reproduced:

- keyed sliding/tumbling event-time count windows with incremental
  pre-aggregation (``CountAgg`` HotItemsAnalysis/HotItems.scala:70-84,
  NetworkFlowAnalysis/NetworkFlow.scala:78-87) and window-end attachment
  (``WindowResult`` HotItems.scala:91-105) — here a single
  ``groupBy(__ws, keys).count()`` on the window start held as a BIGINT
  of epoch microseconds (``with_window_start``): Catalyst's
  partial/final HashAggregate *is* the incremental accumulator, and the
  window end is ``start + size``.  In batch an event-time window is just
  a grouping key, so the kernels skip ``F.window``'s two-timestamp
  struct (and, for sliding windows, its ``Expand``); the streaming twins
  keep ``F.window`` because watermark state eviction keys on that
  struct;
- per-window top-N rank (``TopNHotItems`` HotItems.scala:108-167,
  ``TopNHotUrls`` NetworkFlow.scala:99-155: ListState buffer + timer +
  driver-side sort) — here ``row_number() OVER (PARTITION BY window
  ORDER BY cnt DESC, key)`` ≤ N: the rank shuffle partitions by window,
  so at 100 TB each window's candidate set (≤ #distinct keys, already
  pre-aggregated) ranks in parallel across executors — no global sort,
  no state buffering, no 1 s sleep throttle (HotItems.scala:163).

Window bounds are emitted as epoch-second BIGINTs (``ws``/``we``) — the
windows are epoch-aligned exactly as Spark's ``window()`` aligns them,
so results are timezone-independent and directly comparable to the
DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


_UNIT_SECONDS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}


def _interval_seconds(spec: str) -> int:
    """Seconds in an ``"N unit"`` interval string (``"5 minutes"``,
    ``"1 day"``); anything else raises ``ValueError``."""
    parts = spec.split()
    unit = parts[-1].lower().removesuffix("s") if len(parts) == 2 else ""
    if unit not in _UNIT_SECONDS or not parts[0].isdigit() or int(parts[0]) <= 0:
        raise ValueError(f"window interval must be 'N unit' (unit in {sorted(_UNIT_SECONDS)}): {spec!r}")
    return int(parts[0]) * _UNIT_SECONDS[unit]


def with_window_start(
    df: DataFrame, ts_col: str, size: str, slide: str | None = None
) -> tuple[DataFrame, int]:
    """*df* with one row per (row, event-time window containing it) and
    the window start in ``__ws`` as BIGINT epoch microseconds; returns
    ``(frame, window size in seconds)``.

    Same windows as ``F.window(ts, size, slide)``: with ``t`` the row's
    microsecond instant, the latest start is ``t - pmod(t, slide)``
    (epoch-aligned, floor for pre-1970 instants) and a sliding window
    adds the ``ceil(size/slide) - 1`` starts before it; when *size* is
    not a multiple of *slide* the earliest may end at or before ``t``
    and is dropped, as ``F.window`` drops it.  Rows with a NULL *ts_col*
    fall in no window."""
    size_s = _interval_seconds(size)
    slide_s = _interval_seconds(slide) if slide else size_s
    size_us, slide_us = size_s * 1_000_000, slide_s * 1_000_000
    t = F.unix_micros(F.col(ts_col))
    last = t - F.pmod(t, F.lit(slide_us))
    k = -(-size_s // slide_s)
    if k == 1:
        ws = last
    else:
        ws = F.explode(F.sequence(last - F.lit((k - 1) * slide_us), last, F.lit(slide_us)))
    out = df.where(F.col(ts_col).isNotNull()).select("*", ws.alias("__ws"))
    if size_s % slide_s:
        out = out.where(t < F.col("__ws") + F.lit(size_us))
    return out, size_s


def _window_bounds(size_s: int) -> list:
    """``ws``/``we`` epoch seconds from ``__ws`` (a whole-second multiple:
    every accepted unit is), the columns ``F.window``'s ``start``/``end``
    cast to long gave."""
    ws = F.expr("__ws div 1000000")
    return [ws.alias("ws"), (ws + F.lit(size_s)).alias("we")]


def windowed_count(
    df: DataFrame,
    ts_col: str,
    size: str,
    slide: str | None = None,
    keys: Sequence[str] = (),
    count_alias: str = "cnt",
) -> DataFrame:
    """Count rows per (event-time window, *keys*).

    One shuffle on ``(window start, keys)``; map-side partial counts make
    the shuffle payload O(#windows x #keys), not O(rows).  Sliding
    windows explode each row into ``size/slide`` window starts before
    the partial aggregation — keep ``size/slide`` modest for the hot
    path (HotItems uses 12: 1h/5m)."""
    starts, size_s = with_window_start(df, ts_col, size, slide)
    return (
        starts.groupBy("__ws", *keys)
        .agg(F.count(F.lit(1)).alias(count_alias))
        .select(*_window_bounds(size_s), *keys, count_alias)
    )


def tumbling_window_count(df: DataFrame, ts_col: str, size: str, keys: Sequence[str] = (), **kw) -> DataFrame:
    """W5/W6 — tumbling windows (PageView.scala:41, UniqueVisitor.scala:44)."""
    return windowed_count(df, ts_col, size, None, keys, **kw)


def sliding_window_count(
    df: DataFrame, ts_col: str, size: str, slide: str, keys: Sequence[str] = (), **kw
) -> DataFrame:
    """W1-W4 — sliding windows (HotItems.scala:55, NetworkFlow.scala:62,
    AdStatisticsByGeo.scala:41, AppMarketingByChannel.scala:93)."""
    return windowed_count(df, ts_col, size, slide, keys, **kw)


def topn_per_window(
    counts: DataFrame,
    n: int,
    partition_cols: Sequence[str] = ("ws", "we"),
    order_col: str = "cnt",
    tiebreak_cols: Sequence[str] = (),
    rank_alias: str = "rank",
) -> DataFrame:
    """K1/K2 — rank keys by count desc within each window, keep top *n*.

    The reference buffers every per-key count in ``ListState`` and sorts on
    a timer (HotItems.scala:111-143); Spark's window-function shuffle on
    ``partition_cols`` distributes the same computation.  *tiebreak_cols*
    make ranking total and deterministic (the reference's ``sortBy`` is
    unstable on ties — we pin key-ascending so results are reproducible
    and oracle-comparable).
    """
    order = [F.col(order_col).desc()] + [F.col(c).asc() for c in tiebreak_cols]
    w = Window.partitionBy(*[F.col(c) for c in partition_cols]).orderBy(*order)
    return (
        # cast → long: DuckDB/ANSI row_number is BIGINT, Spark's is INT
        counts.withColumn(rank_alias, F.row_number().over(w).cast("long"))
        .filter(F.col(rank_alias) <= n)
    )


def rolling_anomaly_zscore(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    lookback: int = 7,
    min_prior: int = 3,
) -> DataFrame:
    """Daily-count anomaly scoring: each (key, day)'s event count
    z-scored against its own trailing *lookback* OBSERVED days (a ROWS
    frame — for a key with gap days the frame reaches further back) —
    the monitoring query every event pipeline runs over its volumes.

    The trailing mean/variance are computed from INTEGER sum /
    sum-of-squares window frames (exact in any engine; a Welford-style
    ``stddev`` builtin would drift between engines), variance via
    E[x²] − E[x]², z rounded to 6 dp at the output boundary.  Days with
    fewer than *min_prior* trailing days or zero variance emit NULL z.

    Scale shape: ONE shuffle builds the (day, key) counts — map-side
    combined, so the windowed stage ranks over day-granularity rows
    (|keys| × |days|, corpus-size independent); the per-key ordered
    frame is O(lookback) state, partition-parallel across keys."""
    # unstamped events have no day — excluded, so a NULL group cannot
    # park at the head of the trailing frame (Spark sorts NULLS FIRST
    # where SQL engines sort them last)
    df = df.where(F.col(ts_col).isNotNull())
    day = F.col(ts_col).cast("date")
    counts = df.groupBy(
        F.col(key_col), day.alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col("day").asc())
        .rowsBetween(-lookback, -1)
    )
    n = F.count(F.lit(1)).over(w)
    s1 = F.sum("cnt").over(w)
    s2 = F.sum(F.col("cnt") * F.col("cnt")).over(w)
    mean = s1 / n
    var = s2 / n - mean * mean
    z = F.when(
        (n >= min_prior) & (var > 0),
        F.round((F.col("cnt") - mean) / F.sqrt(var), 6),
    )
    return counts.select(
        F.col(key_col),
        "day",
        "cnt",
        n.cast("long").alias("n_prior"),
        z.alias("z"),
    )
