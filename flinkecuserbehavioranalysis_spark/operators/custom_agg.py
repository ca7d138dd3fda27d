"""Holistic window aggregates via ``applyInPandas`` (SURVEY.md §2.10).

The reference's ``WindowFunction`` / ``ProcessWindowFunction`` /
``AllWindowFunction`` extension points buffer a whole window's rows and
compute over them (A2/A3/A5 — e.g. UvCountByWindow's Set build,
UniqueVisitor.scala:52-66).  Spark's equivalent surface for aggregates
Catalyst can't express is ``groupBy(...).applyInPandas``: each window
group arrives as one Arrow-backed pandas frame.

Use this ONLY for genuinely holistic computations — anything expressible
as a builtin aggregate (count, distinct, percentile_approx) should stay
JVM-side.  At 100 TB the group-at-a-time buffering means window×key
groups must fit executor memory — same constraint the reference's
ProcessWindowFunction has, minus the single-node ceiling.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import floor_div


def windowed_quantiles(
    df: DataFrame,
    ts_col: str = "ts",
    size_seconds: int = 3600,
    value_col: str = "value",
    quantiles: Sequence[float] = (0.5, 0.9),
    max_group_rows: int | None = 10_000_000,
) -> DataFrame:
    """Exact per-window quantiles of *value_col* (linear interpolation —
    the ``quantile_cont`` contract) via one applyInPandas per tumbling
    window.  Output: ws, we, q<NN> per quantile, n.

    Each window group is buffered as ONE pandas frame, so groups must
    fit executor memory.  *max_group_rows* enforces that bound: a cheap
    map-side-combinable pre-count runs first and raises ``ValueError``
    naming the offending window BEFORE any group is buffered (instead
    of an opaque executor OOM mid-job).  Set it to ``None`` to skip the
    extra scan, or use ``windowed_quantiles_approx`` — the bounded-
    memory sketch twin — when groups can exceed the bound."""
    qcols = [f"q{int(q * 100)}" for q in quantiles]
    schema = "ws long, we long, " + ", ".join(f"{c} double" for c in qcols) + ", n long"

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        ws = int(pdf["ws"].iloc[0])
        vals = pdf[value_col]
        row = {"ws": ws, "we": ws + size_seconds, "n": len(pdf)}
        for q, c in zip(quantiles, qcols):
            row[c] = round(float(vals.quantile(q, interpolation="linear")), 6)
        return pd.DataFrame([row])

    # unstamped rows belong to no window (mirrors F.window, which emits
    # zero windows for a NULL event time); NULL values stay — quantiles
    # skip NaN/NULL identically on both paths
    base = df.where(F.col(ts_col).isNotNull()).select(
        (floor_div(F.col(ts_col).cast("long"), size_seconds) * size_seconds).alias("ws"),
        F.col(value_col),
    )
    if max_group_rows is not None:
        hot = (
            base.groupBy("ws")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_group_rows)
            .limit(1)
            .collect()
        )
        if hot:
            raise ValueError(
                f"windowed_quantiles: window ws={hot[0]['ws']} has {hot[0]['n']} rows "
                f"(> max_group_rows={max_group_rows}); the exact path buffers each "
                "window in one pandas frame — use windowed_quantiles_approx for "
                "groups this large, or raise max_group_rows explicitly."
            )
    return base.groupBy("ws").applyInPandas(agg, schema).select("ws", "we", *qcols, "n")


def windowed_quantiles_approx(
    df: DataFrame,
    ts_col: str = "ts",
    size_seconds: int = 3600,
    value_col: str = "value",
    quantiles: Sequence[float] = (0.5, 0.9),
    accuracy: int = 10_000,
) -> DataFrame:
    """Sketch-based twin of ``windowed_quantiles``: ``percentile_approx``
    (Greenwald-Khanna, JVM-side, map-side combinable) — the 100 TB path.

    Where the exact operator buffers each window group in one pandas
    frame (group must fit an executor), the sketch is a bounded-size
    mergeable summary: partial aggregation runs map-side, the shuffle
    carries one sketch per (window, partition), and no Python stage
    exists in the plan.  Error ≤ 1/*accuracy* in rank terms —
    tolerance-tested against the exact twin (same posture as the HLL
    UV query vs exact distinct).  Same output schema (ws, we, q<NN>…,
    n)."""
    qcols = [f"q{int(q * 100)}" for q in quantiles]
    # unstamped rows belong to no window (mirrors F.window, which emits
    # zero windows for a NULL event time); NULL values stay — quantiles
    # skip NaN/NULL identically on both paths
    base = df.where(F.col(ts_col).isNotNull()).select(
        (floor_div(F.col(ts_col).cast("long"), size_seconds) * size_seconds).alias("ws"),
        F.col(value_col),
    )
    pct = F.percentile_approx(
        F.col(value_col), [float(q) for q in quantiles], F.lit(accuracy)
    )
    agg = base.groupBy("ws").agg(pct.alias("__qs"), F.count(F.lit(1)).alias("n"))
    return agg.select(
        "ws",
        (F.col("ws") + size_seconds).alias("we"),
        *[F.round(F.col("__qs")[i], 6).alias(c) for i, c in enumerate(qcols)],
        "n",
    )
