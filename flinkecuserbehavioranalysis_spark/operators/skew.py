"""Skew-resilient aggregation (scale utility — no reference analog; the
reference pins parallelism to 1 and never meets skew, SURVEY.md §3.4).

AQE's skew-join splitting handles most batch skew automatically
(session.py enables it); this two-phase salted aggregation is for the
cases AQE can't fix: a groupBy where one key holds a large share of all
rows (the classic hot-user/hot-item problem), or streaming aggregations
where AQE is disabled.

Phase 1 shuffles on (key, salt) — the hot key fans out over
*salt_buckets* reducers; phase 2 shuffles the tiny partial table on the
key alone.  Only algebraic aggregates (count/sum/min/max) compose this
way; holistic ones need different machinery (sketches).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_count(
    df: DataFrame,
    keys: Sequence[str],
    salt_from: str,
    salt_buckets: int = 16,
    count_alias: str = "cnt",
) -> DataFrame:
    """``groupBy(keys).count()`` with a salted first phase.

    *salt_from* is any column with per-row variation (an id, a
    timestamp) — the salt is a deterministic hash of it, so results are
    reproducible run-to-run (``rand()`` salts are not)."""
    salt = F.pmod(F.xxhash64(F.col(salt_from)), F.lit(salt_buckets))
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(F.count(F.lit(1)).alias("__pc"))
    )
    return partial.groupBy(*keys).agg(F.sum("__pc").alias(count_alias))
