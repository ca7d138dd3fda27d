"""Distributed global ranking — exact ``row_number``/``ntile`` over an
arbitrary total order WITHOUT a single-partition window stage.

Spark's ``Window.orderBy(...)`` with no ``partitionBy`` moves every row
to one partition (WindowExec warns exactly that) — correct, but a
non-starter at 100 TB.  The classic fix, factored here out of
``text.build_vocab``'s auto-shard branch so every ranking surface shares
one implementation:

1. ``repartitionByRange(shards, *order)`` — range partitioning totally
   orders the shards (every row in shard i sorts before every row in
   shard i+1), sampling the key distribution to balance them;
2. ``row_number`` WITHIN each shard (parallel, shard-local sort);
3. a *shards*-row driver aggregate of per-shard counts → prefix-sum
   offsets, broadcast back and added to the local rank.

Offset + local rank IS the global rank because of (1).  The only
driver-side materialization is the *shards*-row count collect — the
operator is eager to that extent (documented at every call site).

``global_ntile`` layers SQL ``NTILE(n)`` semantics on top: with N total
rows, the first ``N mod n`` buckets get ``ceil(N/n)`` rows and the rest
``floor(N/n)`` — computed as a closed-form expression over the global
rank, bit-identical to the single-partition ``ntile`` window function
(property-tested against it, ties and N < n included).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def global_rank(
    df: DataFrame,
    order: list[Column],
    rank_col: str = "rank",
    shards: int | None = None,
) -> tuple[DataFrame, int]:
    """Exact global ``row_number() OVER (ORDER BY *order*)`` as *rank_col*
    (long, 1-based), plus the total row count (free from the offsets
    collect).  Ties broken by the order list itself — pass a unique
    tiebreak column last for determinism, exactly as a single-partition
    ``row_number`` would require.

    ``shards=None`` (default, round-12) range-partitions WITHOUT a fixed
    count: the exchange starts at ``spark.sql.shuffle.partitions`` (env/
    conf-driven, never a local constant) and AQE's partition coalescing
    merges ADJACENT range partitions by advisory size — tiny post-scan
    relations collapse to a handful of tasks instead of 64 near-empty
    ones (guide §2.2; round-11 PERF showed 32 cores *slower* than 8 on
    this family from exactly that overhead), while at 100 TB bytes/
    parallelism dominates and the exchange keeps full fan-out.  AQE
    coalescing only merges CONTIGUOUS reducer ranges (never splits one —
    skew-splitting applies to joins/rebalance, not user repartitions),
    so the shard total order that makes offset+local-rank a global rank
    is preserved; the offsets collect reads whatever partitioning
    materialized.  Pass an explicit ``shards`` to pin the layout (tests
    assert shard-count invariance with it)."""
    from pyspark.sql import Window

    ranged = (
        df.repartitionByRange(shards, *order)
        if shards is not None
        else df.repartitionByRange(*order)
    )
    # the offsets collect and the ranked frame must read the SAME shard
    # layout, so the shards are materialized once: the lazy checkpoint
    # runs with the collect and the ranked frame reads its blocks.  No
    # CacheManager entry is left behind; the blocks go with the frame.
    part = ranged.withColumn("__pid", F.spark_partition_id()).localCheckpoint(
        eager=False
    )
    offs = {
        r["__pid"]: r["n"]
        for r in part.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    cum, running = {}, 0
    for pid in sorted(offs):
        cum[pid] = running
        running += offs[pid]
    off_df = df.sparkSession.createDataFrame(
        [(pid, off) for pid, off in cum.items()], "__pid int, __off long"
    )
    w_in = Window.partitionBy("__pid").orderBy(*order)
    ranked = (
        part.withColumn("__r", F.row_number().over(w_in))
        .join(F.broadcast(off_df), "__pid")
        .withColumn(rank_col, (F.col("__off") + F.col("__r")).cast("long"))
        .drop("__pid", "__r", "__off")
    )
    return ranked, running


def centered_rows_agg(
    df: DataFrame,
    order: list[Column],
    aggs: dict[str, Column],
    preceding: int = 3,
    following: int = 3,
    rank_col: str = "__crw_rank",
    shards: int | None = None,
) -> DataFrame:
    """Exact ``<agg> OVER (ORDER BY *order* ROWS BETWEEN p PRECEDING AND
    f FOLLOWING)`` WITHOUT the single-partition WindowExec a keyless
    ``Window.orderBy`` forces.

    Shape: :func:`global_rank` gives every row its position in the total
    order (range-partitioned, parallel); each row then contributes to the
    ``p+f+1`` window centers it falls inside via a broadcast offset-seed
    explode, and a KEYED aggregation on the center rank computes each
    window — so the whole frame is two ordinary shuffles plus a
    ``(p+f+1)×`` fan-out of the input, all of it partition-parallel.
    Aggregates must be algebraic over the fan-out (sum/count/min/max —
    each window member arrives as its own row).

    Returns the ranked input joined with one column per *aggs* entry;
    window frames truncated at either end of the data keep SQL ROWS
    semantics (they simply aggregate fewer rows — pair with a
    ``count(*)`` agg to filter full windows, as the time-series
    decomposition does)."""
    ranked, total = global_rank(df, order, rank_col=rank_col, shards=shards)
    deltas = df.sparkSession.range(-following, preceding + 1).select(
        F.col("id").alias("__delta")
    )
    contrib = (
        ranked.crossJoin(F.broadcast(deltas))
        .withColumn("__center", F.col(rank_col) + F.col("__delta"))
        .filter((F.col("__center") >= 1) & (F.col("__center") <= total))
    )
    win = contrib.groupBy("__center").agg(
        *[c.alias(name) for name, c in aggs.items()]
    )
    return ranked.join(win, ranked[rank_col] == win["__center"]).drop(
        "__center", rank_col
    )


def global_ntile(
    df: DataFrame,
    order: list[Column],
    n: int,
    bucket_col: str = "bucket",
    shards: int | None = None,
) -> DataFrame:
    """SQL ``NTILE(n) OVER (ORDER BY *order*)`` without the
    single-partition window: global rank via :func:`global_rank`, then
    the closed-form bucket assignment — with ``q, rem = divmod(N, n)``,
    ranks ``1 .. rem*(q+1)`` land in the ``rem`` big buckets of size
    ``q+1``; the rest fill size-``q`` buckets.  N < n degenerates to
    bucket = rank, matching ``ntile``."""
    ranked, total = global_rank(df, order, rank_col="__gr", shards=shards)
    q, rem = divmod(total, n)
    big = rem * (q + 1)
    r = F.col("__gr")
    bucket = (
        F.when(r <= big, F.floor((r - 1) / F.lit(q + 1)))
        .otherwise(F.lit(rem) + F.floor((r - big - 1) / F.lit(max(q, 1))))
        + 1
    )
    return ranked.withColumn(bucket_col, bucket.cast("long")).drop("__gr")
