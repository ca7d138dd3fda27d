"""In-engine linear-classifier training (extension — training-data
pipeline, iterative algorithm family).

A corpus pipeline wants a LEARNED quality gate next to the rule-based
one (FastText-style filters in C4/CCNet/RefinedWeb are linear models
over cheap text features).  Training such a model is an iterative
aggregation — exactly the shape this engine already runs for k-means,
PageRank and BPE: per-round, one partial-aggregated pass over a
checkpointed map-only feature frame, with dimension-bounded driver state.

The classifier here is the BATCH PERCEPTRON on integer features:

    w_0 = 0
    round r:  E_r = { i : y_i * (w_{r-1} . x_i) <= 0 }
              w_r = w_{r-1} + sum_{i in E_r} y_i * x_i

Everything is int64 — no learning rate, no float accumulation — so the
trained weights and the whole training curve are bit-identical in any
engine and any partitioning (the update is a SUM of integer vectors,
summation-order free).  That is what lets a SQL oracle replay training
round by round, the same discipline as ``kmeans_fit``'s decimal
centroids (similarity.py) and ``bpe_learn_merges``' fold.

Scale shape: the feature projection is map-only and checkpointed once;
each round is ONE aggregation to a single row (partial aggregates
map-side, d+2 longs per partition crossing the wire).  Driver state is
the (d+1)-vector w — dimension-bounded, never data-bounded (the PCA
rule: stage fan-out is for data, not for a handful of scalars).
Int64 headroom: |w . x| stays exact while total misclassified feature
mass is < 2^63 / max|x| — ~1e14 rows at these feature magnitudes; past
that, rescale features (the update stays integer under any integer
feature scaling).

Reference provenance: the reference has no ML surface at all — this is
part of the north-star training-data extensions (SURVEY.md §7), not
reference parity.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def perceptron_curve(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    rounds: int = 3,
) -> tuple[list[tuple[int, int, int]], list[int]]:
    """Train a batch perceptron and return its training curve.

    *df* must provide int-typed *feature_cols* and a *label_col* in
    {+1, -1}; rows with a NULL feature or label never match the
    misclassification predicate (three-valued logic) and are excluded
    from ``n_total`` up front, so the curve is over the clean subset.
    A bias feature is prepended automatically (x_0 = 1).

    Prediction is ``sign(w . x)`` with the boundary counted as an
    error (y * dot <= 0) — the classic convention that makes w_0 = 0
    misclassify everything and gives round 0 the majority-class error.

    Returns ``(curve, weights)`` where curve rows are
    ``(round, n_errors, n_total)`` for rounds 0..*rounds* (n_errors
    evaluated under that round's weights, BEFORE the next update) and
    *weights* is the final integer vector [w_0 .. w_d].

    Eager by contract (like ``duplicate_components``): each round's
    single-row aggregate is collected to advance the dimension-bounded
    driver state.
    """
    feats = ["__x0", *feature_cols]
    clean = df
    for c in (*feature_cols, label_col):
        clean = clean.filter(F.col(c).isNotNull())
    x = clean.select(
        F.lit(1).cast("long").alias("__x0"),
        *[F.col(c).cast("long").alias(c) for c in feature_cols],
        F.col(label_col).cast("long").alias("__y"),
    ).localCheckpoint()
    w = [0] * len(feats)
    curve: list[tuple[int, int, int]] = []
    for r in range(rounds + 1):
        dot = sum(
            (F.lit(wi) * F.col(c) for wi, c in zip(w, feats)),
            start=F.lit(0).cast("long"),
        )
        mis = (F.col("__y") * dot) <= 0
        row = x.agg(
            F.count(F.lit(1)).alias("n_tot"),
            F.sum(F.when(mis, 1).otherwise(0)).alias("n_err"),
            *[
                F.sum(F.when(mis, F.col("__y") * F.col(c))).alias(f"u{i}")
                for i, c in enumerate(feats)
            ],
        ).collect()[0]
        curve.append((r, int(row["n_err"] or 0), int(row["n_tot"])))
        if r < rounds:
            w = [wi + int(row[f"u{i}"] or 0) for i, wi in enumerate(w)]
    return curve, w


def curve_frame(spark: SparkSession, curve: list[tuple[int, int, int]]) -> DataFrame:
    """The training curve as a DataFrame with the error rate attached —
    (round, n_errors, n_total, error_rate); rate NULL on an empty
    training set (no 0/0)."""
    df = spark.createDataFrame(
        [(int(r), int(e), int(t)) for r, e, t in curve],
        "round BIGINT, n_errors BIGINT, n_total BIGINT",
    )
    return df.withColumn(
        "error_rate",
        F.when(
            F.col("n_total") > 0,
            F.round(F.col("n_errors").cast("double") / F.col("n_total").cast("double"), 6),
        ),
    )


def score_expr(weights: Sequence[int], feature_exprs: Sequence) -> F.Column:
    """Map-side scoring with FROZEN integer weights: ``sign(w . x)``
    with the boundary classed negative (the training convention —
    dot <= 0 predicts -1).  The weights ride the plan as int64
    literals, so the projection is shuffle-free, whole-stage-codegen,
    and works unchanged on batch and STREAMING frames (the bpe
    ``apply_merges`` train-offline/apply-online pattern).

    *weights* is [w_0 .. w_d] including the bias; *feature_exprs* are
    the d feature Columns (the bias x_0 = 1 is implied)."""
    if len(weights) != len(feature_exprs) + 1:
        raise ValueError(
            f"score_expr: {len(weights)} weights need "
            f"{len(weights) - 1} features, got {len(feature_exprs)}"
        )
    dot = sum(
        (F.lit(int(w)) * x for w, x in zip(weights[1:], feature_exprs)),
        start=F.lit(int(weights[0])).cast("long"),
    )
    return F.when(dot > 0, F.lit(1)).otherwise(F.lit(-1)).cast("long")
