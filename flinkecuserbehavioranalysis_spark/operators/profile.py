"""Single-pass table profiling — the ANALYZE/data-quality primitive a
training-data pipeline runs before trusting a new drop of parquet
(null rates, cardinalities, ranges per column).

Extension beyond the reference (its jobs assume clean fixtures); shape
matters at scale: ONE aggregation pass computes every column's
metrics, then a 1-row ``stack`` unpivots driver-side-free into one row
per column — never k passes for k columns."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_table(
    df: DataFrame,
    numeric_cols: Sequence[str] = (),
    string_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-column profile: (column_name, n_rows, n_nulls, n_distinct,
    min_num, max_num, min_str, max_str) — numeric columns fill the
    ``_num`` bounds (cast to double), string columns the ``_str``
    bounds, the other pair is NULL.

    Distinct counts are exact ``count(DISTINCT)`` (k distinct
    aggregates in one pass cost one Expand ×k over the scan —
    engine-comparable).

    String min/max run in a SEPARATE, column-pruned aggregate that is
    cross-joined back onto the 1-row numeric frame: a string min/max
    buffer is not hash-aggregable, and folding it into the multi-
    distinct aggregate demoted the WHOLE pipeline to SortAggregate —
    sorting the k-way-Expanded stream (measured 4.9 s → 0.9 s on
    orders_profile at sf0.1, "SortAggregate ×4 + Sort of the Expand" →
    "HashAggregate Expand branch + one sortless string pass").  The
    extra scan reads only the string columns (parquet column pruning),
    far cheaper at any scale than sorting k·N expanded rows."""
    cols = [*numeric_cols, *string_cols]
    if not cols:
        raise ValueError("profile_table needs at least one column")
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}"),
            F.countDistinct(F.col(c)).alias(f"__nd_{c}"),
        ]
    for c in numeric_cols:
        aggs += [
            F.min(F.col(c)).cast("double").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("double").alias(f"__mx_{c}"),
        ]
    row = df.agg(*aggs)
    if string_cols:
        saggs = []
        for c in string_cols:
            saggs += [
                F.min(F.col(c)).alias(f"__sn_{c}"),
                F.max(F.col(c)).alias(f"__sx_{c}"),
            ]
        srow = df.select(*[F.col(c) for c in string_cols]).agg(*saggs)
        row = row.crossJoin(F.broadcast(srow))
    parts = []
    for c in cols:
        is_num = c in numeric_cols
        mn = f"__mn_{c}" if is_num else "CAST(NULL AS DOUBLE)"
        mx = f"__mx_{c}" if is_num else "CAST(NULL AS DOUBLE)"
        sn = f"__sn_{c}" if not is_num else "CAST(NULL AS STRING)"
        sx = f"__sx_{c}" if not is_num else "CAST(NULL AS STRING)"
        parts.append(f"'{c}', __nn_{c}, __nd_{c}, {mn}, {mx}, {sn}, {sx}")
    stack = (
        f"stack({len(cols)}, {', '.join(parts)}) AS "
        "(column_name, n_nulls, n_distinct, min_num, max_num, min_str, max_str)"
    )
    return row.selectExpr("__rows AS n_rows", stack).select(
        "column_name", "n_rows", "n_nulls", "n_distinct",
        "min_num", "max_num", "min_str", "max_str",
    )


#: TIMESTAMP(NANOS) / datetime64[ns] representable bounds in floored
#: epoch seconds (1677-09-21 00:12:43.145224 / 2262-04-11 23:47:16.854775)
#: — timestamps within a day of these are almost always corrupt-clock
#: artifacts of a nanos-epoch overflow, not real events.
NANOS_MIN_S = -9223372037
NANOS_MAX_S = 9223372036

#: default sane-window bounds: [2000-01-01, 2035-01-01) epoch seconds
SANE_LO_S = 946684800
SANE_HI_S = 2051222400


def clock_audit(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str | None = None,
    sane_lo_s: int = SANE_LO_S,
    sane_hi_s: int = SANE_HI_S,
) -> DataFrame:
    """Timestamp-sanity report — the audit a 100 TB ingest runs before
    trusting a new drop's clocks (the times degenerate tier made these
    corruption classes concrete): one row per classification with
    counts, distinct keys, and floored epoch-second bounds.

    Classes (first match wins): ``unstamped`` (NULL), ``epoch_zero``
    (the classic 1970-01-01 00:00:00 default), ``nanos_edge`` (within a
    day of the datetime64[ns] limits — nanos-epoch overflow artifacts),
    ``pre_epoch`` (negative epoch), ``before_sane`` / ``after_sane``
    (outside [*sane_lo_s*, *sane_hi_s*)), ``ok``.

    Scale shape: map-only classification into a ≤7-group aggregate —
    one shuffle of at most 7 rows per partition (partial aggregation
    collapses everything map-side)."""
    s = F.col(ts_col).cast("long")
    kind = (
        F.when(F.col(ts_col).isNull(), "unstamped")
        .when(s == 0, "epoch_zero")
        .when((s <= NANOS_MIN_S + 86400) | (s >= NANOS_MAX_S - 86400), "nanos_edge")
        .when(s < 0, "pre_epoch")
        .when(s < sane_lo_s, "before_sane")
        .when(s >= sane_hi_s, "after_sane")
        .otherwise("ok")
    )
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.min(s).alias("min_s"),
        F.max(s).alias("max_s"),
    ]
    if key_col is not None:
        aggs.append(F.count_distinct(F.col(key_col)).alias("n_keys"))
    return df.groupBy(kind.alias("kind")).agg(*aggs)


def quarantine_by_ts(
    df: DataFrame,
    ts_col: str = "ts",
    sane_lo_s: int = SANE_LO_S,
    sane_hi_s: int = SANE_HI_S,
) -> DataFrame:
    """Adds a ``__ts_status`` column — ``kept`` / ``quarantined`` /
    ``unstamped`` — the repair policy that routes corrupt-clock rows to
    a quarantine sink instead of silently polluting every downstream
    day bucket.  Map-only; pair with a partitioned write on the status
    column for the split."""
    s = F.col(ts_col).cast("long")
    status = (
        F.when(F.col(ts_col).isNull(), "unstamped")
        .when((s < sane_lo_s) | (s >= sane_hi_s), "quarantined")
        .otherwise("kept")
    )
    return df.withColumn("__ts_status", status)
