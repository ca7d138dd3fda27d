"""operators/heavy_hitters.py — the Misra-Gries candidate pass must be
a SUPERSET of the true heavy hitters on any partitioning, and the
two-pass operator's output must equal the naive exact formulation."""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import given, settings, strategies as st

from flinkecuserbehavioranalysis_spark.operators.heavy_hitters import (
    heavy_hitters_exact,
    mg_candidates,
)


def _naive(vals, threshold):
    c = Counter(v for v in vals if v is not None)
    n = sum(c.values())
    return {k: v for k, v in c.items() if v > threshold * n}


# zipf-ish: heavy mass on few keys, long tail — the regime the operator exists for
_STREAM = st.lists(
    st.one_of(
        st.sampled_from([0, 0, 0, 0, 1, 1, 2]),      # hot keys
        st.integers(min_value=3, max_value=400),     # tail
        st.none(),                                   # null keys excluded by contract
    ),
    min_size=1,
    max_size=300,
)


@pytest.mark.soak
@given(_STREAM, st.sampled_from([0.05, 0.1, 0.3]), st.integers(2, 8))
@settings(max_examples=12, deadline=None)
def test_two_pass_equals_naive_under_any_partitioning(spark, vals, threshold, parts):
    df = spark.createDataFrame(
        [(v,) for v in vals], "k long"
    ).repartition(parts)  # the guarantee must hold per partitioning
    got = {
        r["k"]: r["cnt"]
        for r in heavy_hitters_exact(df, "k", threshold=threshold).collect()
    }
    assert got == _naive(vals, threshold)


@pytest.mark.soak
@given(_STREAM, st.integers(2, 8))
@settings(max_examples=12, deadline=None)
def test_candidates_superset_of_theta_heavy_hitters(spark, vals, parts):
    k = 10  # superset bound holds for any theta >= 1/k
    df = spark.createDataFrame([(v,) for v in vals], "k long").repartition(parts)
    cand = {r["k"] for r in mg_candidates(df, "k", k).collect()}
    assert set(_naive(vals, 1.0 / k)) <= cand


def test_mg_decrement_chain_adversarial(spark):
    """The k+1-distinct-keys round-robin stream decrements every
    counter each step — the classic MG adversary; the one genuinely
    heavy key must still survive with exact final count."""
    k = 4
    vals = [99] * 60 + list(range(1, k + 2)) * 10  # 99 is 60/110 > half
    df = spark.createDataFrame([(v,) for v in vals], "k long").repartition(3)
    got = {r["k"]: r["cnt"] for r in heavy_hitters_exact(df, "k", 0.5, k=k).collect()}
    assert got == {99: 60}


def test_threshold_validation():
    with pytest.raises(ValueError):
        heavy_hitters_exact(None, "k", threshold=0.0)
    with pytest.raises(ValueError):
        heavy_hitters_exact(None, "k", threshold=1.0)
