"""operators/ranking.py — distributed global_rank / global_ntile must be
bit-identical to the single-partition window functions they replace
(ties, skewed key distributions, N < n, and empty input included)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from flinkecuserbehavioranalysis_spark.operators.ranking import global_ntile, global_rank


def _df(spark, vals):
    return spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "id long, v long")


CASES = [
    list(range(100)),
    [7] * 40,  # all ties — order falls to the id tiebreak
    [1, 1, 2, 2, 3] * 13,  # heavy ties, N=65
    [5, 3, 9],  # N < shards and N < n
]


@pytest.mark.parametrize("vals", CASES)
def test_global_rank_matches_single_partition_row_number(spark, vals):
    df = _df(spark, vals)
    order = [F.col("v").desc(), F.col("id").asc()]
    ranked, total = global_rank(df, order, rank_col="r", shards=8)
    got = {(r.id, r.r) for r in ranked.collect()}
    w = Window.orderBy(*order)
    want = {
        (r.id, r.r)
        for r in df.withColumn("r", F.row_number().over(w).cast("long")).collect()
    }
    assert got == want
    assert total == len(vals)


@pytest.mark.parametrize("vals", CASES)
@pytest.mark.parametrize("n", [1, 3, 10])
def test_global_ntile_matches_window_ntile(spark, vals, n):
    df = _df(spark, vals)
    order = [F.col("v").desc(), F.col("id").asc()]
    got = {
        (r.id, r.b)
        for r in global_ntile(df, order, n, bucket_col="b", shards=8).collect()
    }
    w = Window.orderBy(*order)
    want = {
        (r.id, r.b)
        for r in df.withColumn("b", F.ntile(n).over(w).cast("long")).collect()
    }
    assert got == want


def test_global_rank_empty_input(spark):
    df = _df(spark, []).filter(F.lit(False))
    ranked, total = global_rank(df, [F.col("v").asc()], rank_col="r", shards=4)
    assert total == 0 and ranked.count() == 0


def test_ntile_more_buckets_than_rows_degenerates_to_rank(spark):
    df = _df(spark, [10, 20, 30])
    out = global_ntile(
        df, [F.col("v").asc(), F.col("id").asc()], 10, bucket_col="b", shards=4
    )
    assert {(r.v, r.b) for r in out.collect()} == {(10, 1), (20, 2), (30, 3)}


@pytest.mark.parametrize("vals", CASES)
@pytest.mark.parametrize("frame", [(3, 3), (0, 2), (4, 0), (1, 1)])
def test_centered_rows_agg_matches_keyless_window(spark, vals, frame):
    """operators/ranking.py centered_rows_agg — the global_rank +
    offset-explode + keyed-agg plan must be bit-identical to the
    single-partition ROWS BETWEEN window it replaces, including
    truncated frames at both ends, ties, and asymmetric frames."""
    from flinkecuserbehavioranalysis_spark.operators.ranking import centered_rows_agg

    p, f = frame
    df = _df(spark, vals)
    order = [F.col("v").asc(), F.col("id").asc()]
    got = {
        (r.id, r.s, r.c)
        for r in centered_rows_agg(
            df, order, {"s": F.sum("v"), "c": F.count(F.lit(1))},
            preceding=p, following=f, shards=8,
        ).collect()
    }
    w = Window.orderBy(*order).rowsBetween(-p, f)
    want = {
        (r.id, r.s, r.c)
        for r in df.select(
            "id", F.sum("v").over(w).alias("s"), F.count(F.lit(1)).over(w).alias("c")
        ).collect()
    }
    assert got == want


def test_centered_rows_agg_empty_input(spark):
    from flinkecuserbehavioranalysis_spark.operators.ranking import centered_rows_agg

    df = _df(spark, []).limit(0)
    out = centered_rows_agg(df, [F.col("v")], {"s": F.sum("v")}, 3, 3, shards=4)
    assert out.count() == 0
