"""Exact heavy hitters in two passes with bounded memory (extension —
scale utility; no reference analog, the reference's per-key counts
always shuffle the full key set).

The shape that matters at 100 TB: a plain ``groupBy(key).count()``
shuffles EVERY distinct key; when only the items above a frequency
threshold are wanted (hot users, hot items, abusive IPs — the inputs
to every salting decision), the full-cardinality shuffle is waste.
The classic fix (Misra–Gries '82; mergeable-summaries form of Agarwal
et al., PODS'12) is:

1. **candidates** — each partition keeps an O(k) Misra–Gries summary
   (map-only, no shuffle).  Merge step per Arrow batch: add the
   batch's exact counts, then if more than *k* keys remain, subtract
   the (k+1)-th largest count from all and drop the non-positive —
   the standard mergeable-summary decrement.  GUARANTEE: any key with
   global frequency > N/k survives in at least one partition's
   summary — if key f had freq_p ≤ decrement-loss ≤ n_p/k in every
   partition, summing gives freq ≤ N/k, a contradiction (averaging
   pigeonhole).  The union of summaries is therefore a SUPERSET of
   the true θ-heavy hitters for any θ ≥ 1/k.
2. **exact recount** — semi-join the fact table on the (≤ k ×
   n_partitions, broadcastable) candidate set and count exactly; only
   candidate-keyed rows shuffle.  Output counts are EXACT, so the
   whole operator is oracle-checkable against the plain
   GROUP BY ... HAVING formulation — approximation lives only in the
   pruning pass, never in the answer.

NULL keys join no frequency contract (engine NULL-group semantics
differ from the candidate join's) and are excluded on both sides,
including from the denominator N.  ``candidate_counts`` is the two
passes; each caller applies its own threshold to its counts and N
(``heavy_hitters_exact``: cnt > t·N; the ``text_hot_tokens`` query:
freq ≥ ⌈φ·N⌉).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def mg_candidates(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """Misra–Gries candidate keys (single column *key_col*, deduplicated
    across partitions) — step 1 above: at most *k* keys and O(k) memory
    per task whatever the key cardinality."""

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict = {}
        for b in batches:
            for key, c in b[key_col].value_counts().items():
                counts[key] = counts.get(key, 0) + int(c)
            if len(counts) > k:
                cut = sorted(counts.values(), reverse=True)[k]
                counts = {x: c - cut for x, c in counts.items() if c > cut}
        yield pd.DataFrame({key_col: list(counts)})

    keyed = df.select(key_col).filter(F.col(key_col).isNotNull())
    return keyed.mapInPandas(summarize, StructType([keyed.schema[key_col]])).distinct()


def candidate_counts(
    df: DataFrame, key_col: str, k: int, count_name: str = "cnt"
) -> DataFrame:
    """The exact recount: every Misra–Gries candidate of capacity *k*
    with its EXACT count, plus ``__n``, the non-NULL-key row count N
    for the caller's frequency threshold.  Only candidate-keyed rows
    shuffle; the candidate set (≤ k per partition) is broadcast.
    Returns (key_col, count_name, __n)."""
    keyed = df.filter(F.col(key_col).isNotNull())
    total = keyed.select(F.count(F.lit(1)).alias("__n"))
    return (
        keyed.join(F.broadcast(mg_candidates(keyed, key_col, k)), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias(count_name))
        .crossJoin(F.broadcast(total))
    )


def heavy_hitters_exact(
    df: DataFrame,
    key_col: str,
    threshold: float,
    k: int | None = None,
    count_name: str = "cnt",
) -> DataFrame:
    """Keys whose frequency exceeds *threshold* × N (N = non-null-key
    row count), with EXACT counts — two-pass candidate/verify.  *k*
    defaults to ceil(2/threshold), comfortably above the 1/threshold
    superset bound."""
    if not 0 < threshold < 1:
        raise ValueError("heavy_hitters_exact: threshold must be in (0, 1)")
    k = k if k is not None else math.ceil(2.0 / threshold)
    return (
        candidate_counts(df, key_col, k, count_name)
        .filter(F.col(count_name) > F.lit(threshold) * F.col("__n"))
        .drop("__n")
    )
