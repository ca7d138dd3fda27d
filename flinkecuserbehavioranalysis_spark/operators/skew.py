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
from pyspark.sql.types import MapType


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


def attach_deterministic_salt(df: DataFrame, n: int) -> DataFrame:
    """Attach a ``__salt`` column in ``[0, n)`` that is a *deterministic*
    function of the input's row multiset, safe to shuffle on.

    ``xxhash64(all columns) + monotonically_increasing_id()`` alone is
    the SPARK-23207 hazard class: the id term depends on in-partition
    row order, which is unstable when the input is post-shuffle, so a
    retried map task can assign different salts than the attempt whose
    outputs were already consumed — duplicating or dropping rows under
    partial stage re-execution.  The remedy here mirrors Spark's own
    fix for round-robin ``repartition``: a local (per-partition,
    no-shuffle) sort first, which pins the row order to a pure function
    of the partition's row multiset, making the position-based id — and
    hence the salt — reproducible across retries.

    The id term is kept *after* the sort because it is what spreads
    FULL-DUPLICATE rows (identical event rows on a hot key are common;
    a pure column hash would send them all to one reducer).  Map-typed
    columns are unorderable in Spark and are excluded from the sort key;
    they still feed the hash via their remaining sortable siblings only,
    which is fine — the sort only needs to pin order, not hash quality.
    """
    sortable = [
        f.name for f in df.schema.fields if not isinstance(f.dataType, MapType)
    ]
    ordered = df.sortWithinPartitions(*sortable) if sortable else df
    return ordered.withColumn(
        "__salt",
        F.pmod(
            F.xxhash64(*[F.col(c) for c in sortable])
            + F.monotonically_increasing_id(),
            F.lit(n),
        ),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: a hot key on the big side would pin one
    reducer in a plain shuffle join, so each big-side row picks one of
    *salt* sub-keys (deterministic hash of the whole row — rows of the
    same hot key spread across *salt* reducers) while the small side is
    REPLICATED once per sub-key via a broadcast-seed explode.  Join on
    (key, salt) then drop the salt: same rows as the plain join, hot
    keys now bounded by |hot| / salt per task.

    Complements AQE's skew-split (which handles sort-merge skew at
    runtime): salting also covers the cases AQE can't re-plan, e.g. a
    downstream keyed aggregation that must consume the join's
    partitioning.  For a genuinely broadcast-able small side prefer
    ``F.broadcast`` — salting only pays when BOTH sides shuffle.

    Only big-side-preserving join types are legal: a right/full join
    would emit each unmatched small-side row once PER SALT replica."""
    if how not in ("inner", "left", "left_outer", "leftouter", "left_semi",
                   "leftsemi", "left_anti", "leftanti"):
        raise ValueError(f"salted_join does not support how={how!r} "
                         "(small side is replicated per salt)")
    if "__salt" in big.columns or "__salt" in small.columns:
        raise ValueError("salted_join: inputs must not carry a __salt column")
    # Deterministic salt (local sort + hash + position): reproducible
    # across task retries, yet still spreads full-duplicate rows.  See
    # attach_deterministic_salt for the SPARK-23207 argument.
    big_salted = attach_deterministic_salt(big, salt)
    small_rep = small.crossJoin(
        F.broadcast(
            small.sparkSession.range(salt).select(F.col("id").cast("long").alias("__salt"))
        )
    )
    out = big_salted.join(small_rep, [on, "__salt"], how)
    return out.drop("__salt")
