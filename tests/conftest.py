"""Shared test fixtures: one local SparkSession + a DuckDB oracle-compare
helper mirroring the driver's t2 check (row count + schema-insensitive
column order + order-insensitive value comparison)."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flinkecuserbehavioranalysis_spark.schemas import TESTDATA_TABLES
from flinkecuserbehavioranalysis_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

#: Soak-tier representatives that stay in the DEFAULT run (round-11
#: verdict #1): one per soak-only test family, so a plain
#: ``pytest tests/`` still exercises every family's plumbing while the
#: full soak sweep (440 tests, ~25 min) is opt-in via SPARK_GRAFT_SOAK=1
#: or an explicit ``-m soak`` selection.  The oracle sweep keeps its
#: existing fast tier (FAST_ORACLE_SUBSET, one per extension family)
#: and scripts/verify.py still runs ALL oracles before every record.
_SOAK_REPRESENTATIVES = (
    "test_queries_oracle.py::test_query_matches_oracle[weekly_revenue_wow]",
    "test_streaming.py::test_streaming_windowed_count_matches_batch",
    "test_streaming.py::test_foreach_batch_store_sinks_survive_epoch_replay",
    # the CEP NFA's trailing-negation kill by a killer stored one
    # micro-batch before its out-of-order anchor
    "test_streaming.py::test_streaming_not_followed_by_boundaries_and_pruning",
    "test_properties.py::test_sessionize_matches_naive",
    "test_degenerate_inputs.py::test_null_injected_matches_oracle[top_urls]",
    "test_state_soak.py::test_order_timeout_state_evicted_by_watermark",
    "test_scale_utilities.py::test_bench_contract_single_json_line",
    "test_bpe.py::test_bpe_matches_classic[word_freqs0]",
    "test_multimodal.py::test_decode_meta_is_deterministic_function_of_payload",
    "test_heavy_hitters.py::test_two_pass_equals_naive_under_any_partitioning",
    "test_corpus_quality.py::test_stratified_quota_invariants_property",
    "test_operator_semantics.py::test_triangle_stats_known_graph",
)


def _named_by_node_id(config, item) -> bool:
    """True when a ``path::name`` command-line argument selects *item*
    (the test itself, one of its parametrizations, or its class)."""
    name = item.nodeid.partition("::")[2]
    for arg in config.args:
        path, sep, rest = arg.partition("::")
        if not sep or (config.invocation_params.dir / path).resolve() != item.path:
            continue
        if name == rest or name.startswith((rest + "[", rest + "::")):
            return True
    return False


def pytest_collection_modifyitems(config, items):
    """Default run = fast tier + one representative per soak family.

    The FULL soak sweep still runs with SPARK_GRAFT_SOAK=1 (the
    pre-record gate) or any explicit ``-m`` expression naming soak; a
    bare ``pytest tests/`` stays well inside the driver's kill window
    (round-11 verdict #1: the 32–40 min full suite was killed at ~96%,
    reading as a red gate despite zero failures).  A soak test named by
    node id (``tests/x.py::test_y``) always runs."""
    if os.environ.get("SPARK_GRAFT_SOAK", "") not in ("", "0"):
        return
    if "soak" in (config.getoption("-m") or ""):
        return
    skip = pytest.mark.skip(
        reason="soak tier is opt-in: set SPARK_GRAFT_SOAK=1 (or -m soak)"
    )
    for item in items:
        if (
            "soak" in item.keywords
            and not any(item.nodeid.endswith(rep) for rep in _SOAK_REPRESENTATIVES)
            and not _named_by_node_id(config, item)
        ):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # round to 9 significant digits so engine-identical doubles match
        # even if a repr differs in the last ulp
        return float(f"{v:.9g}")
    if isinstance(v, int):
        return v
    try:  # Decimal → float
        import decimal

        if isinstance(v, decimal.Decimal):
            return float(f"{float(v):.9g}")
    except Exception:
        pass
    return str(v)


def normalized_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    # sort by repr — total order even with None/mixed-type cells
    return sorted((tuple(_norm_cell(r[i]) for i in idx) for r in rows), key=repr)


def assert_matches_oracle(spark, ddb, qdef, sf_dir=SF_DIR, min_rows=1):
    """Run the Spark query and its DuckDB oracle; assert equal results."""
    sdf = qdef.fn(spark, sf_dir)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]
    res = ddb.execute(qdef.oracle)
    d_cols = [d[0].lower() for d in res.description]
    d_rows = res.fetchall()
    assert sorted(s_cols) == sorted(d_cols), f"columns differ: {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"row count differs: spark={len(s_rows)} duckdb={len(d_rows)}"
    assert len(s_rows) >= min_rows, f"degenerate result: {len(s_rows)} rows"
    sn, dn = normalized_rows(s_cols, s_rows), normalized_rows(d_cols, d_rows)
    if sn != dn:
        diff_s = [r for r in sn if r not in dn][:5]
        diff_d = [r for r in dn if r not in sn][:5]
        raise AssertionError(
            f"value mismatch: {len([r for r in sn if r not in dn])} spark-only rows; "
            f"spark sample {diff_s}; duckdb sample {diff_d}"
        )
