"""Every registered query with a SQL oracle must match DuckDB exactly
(the driver's t2 correctness gate, run here at sf0.001 for speed)."""

from __future__ import annotations

import pytest

from flinkecuserbehavioranalysis_spark.plans.queries import QUERIES

from conftest import assert_matches_oracle

ORACLE_QUERIES = sorted(n for n, q in QUERIES.items() if q.oracle is not None)

#: Fast-tier oracle subset (round-9 verdict #3): the 17 reference jobs
#: plus one representative per extension family — enough to catch a
#: broken shared helper (io, scalar twins, fixedpoint, window SQL
#: builders) in the dev loop.  The FULL sweep runs in the soak tier and
#: in scripts/verify.py (the per-round gate), so nothing loses coverage.
FAST_ORACLE_SUBSET = [
    # reference parity
    "page_view_count", "hot_items_topn", "top_urls", "unique_visitors",
    "ad_clicks_by_province", "ad_blacklist_warnings", "ad_blacklist_passed",
    "app_marketing_by_channel", "app_marketing_total", "login_fail_detect",
    "pattern_view_then_purchase", "order_fulfillment_status", "tx_match",
    "interval_join_shipments", "sessionize_users", "pricing_summary",
    "region_revenue", "top_revenue_customers",
    # one per extension family
    "dedup_exact", "dedup_minhash_lsh", "dedup_components",
    "dedup_prefix_jaccard", "dedup_url_canonical", "ann_brute_force_topk",
    "embedding_label_centroids", "text_token_stats", "text_quality",
    "multimodal_decode_meta", "windowed_value_quantiles",
    "event_last_order_asof", "bpe_learn_merges", "heavy_hitter_provinces",
    "fuzzy_part_name_pairs", "quality_perceptron_flags",
    "corpus_temperature_mix", "item_cooccurrence_similarity",
    "doc_quality_gopher_rules", "docs_paragraph_dedup",
    "corpus_contamination_ngram_overlap", "reservoir_sample_documents",
    "domain_quality_mix_report", "token_ngram_perplexity",
    "events_sessionized_stats", "doc_token_entropy", "corpus_dsir_weights",
    "token_zipf_fit", "streaming_cep_replay", "streaming_funnel_replay",
]


@pytest.mark.parametrize(
    "name", [n for n in FAST_ORACLE_SUBSET if n in ORACLE_QUERIES]
)
def test_query_matches_oracle_fast(spark, ddb, name):
    assert_matches_oracle(spark, ddb, QUERIES[name])


@pytest.mark.soak
@pytest.mark.parametrize(
    "name", [n for n in ORACLE_QUERIES if n not in set(FAST_ORACLE_SUBSET)]
)
def test_query_matches_oracle(spark, ddb, name):
    assert_matches_oracle(spark, ddb, QUERIES[name])


def test_registry_nonempty():
    assert len(QUERIES) >= 10


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_flagship_runs_as_pure_sql(spark):
    """The engine is Spark SQL-first: the flagship HotItems windowed
    top-N expressed as ONE spark.sql() string (window TVF + rank
    filter) returns exactly the operator pipeline's rows — the
    DataFrame and SQL surfaces are the same engine."""
    from flinkecuserbehavioranalysis_spark.io import load_table
    from flinkecuserbehavioranalysis_spark.plans.queries import QUERIES

    from conftest import SF_DIR

    base = QUERIES["hot_items_topn"].fn(spark, SF_DIR)
    cols = base.columns
    expect = sorted(tuple(r[c] for c in cols) for r in base.collect())
    load_table(spark, SF_DIR, "events").createOrReplaceTempView("__sql_events")
    got = spark.sql(
        """
        WITH w AS (
          SELECT window(ts, '1 hour', '5 minutes') AS win,
                 pmod(event_id, 50) AS item_id, count(*) AS cnt
          FROM __sql_events WHERE event_type = 'view'
          GROUP BY 1, 2),
        r AS (
          SELECT CAST(win.start AS LONG) AS ws, CAST(win.end AS LONG) AS we,
                 item_id, cnt,
                 row_number() OVER (PARTITION BY win ORDER BY cnt DESC, item_id) AS rnk
          FROM w)
        SELECT * FROM r WHERE rnk <= 3
        """
    )
    assert sorted(tuple(r[c] for c in cols) for r in got.collect()) == expect


def test_rotation_orders_never_checked_first():
    """The driver hashes the first 50 of queries() each round; the
    rotation must (a) be a permutation of the registry, (b) front-load
    names with no CORRECTNESS_r*.json row yet and (c) push
    already-checked names to the back, least-recently-checked first;
    ties go oracle-backed first, then registration order."""
    import json
    from pathlib import Path

    import __spark_entry__ as e

    order = e._rotation_order()
    assert sorted(order) == sorted(QUERIES), "rotation must be a permutation"

    last = {}
    for rec in sorted(Path(e.__file__).resolve().parent.glob("CORRECTNESS_r*.json")):
        try:
            names = json.loads(rec.read_text())
            rnd = int("".join(ch for ch in rec.stem if ch.isdigit()) or 0)
        except (ValueError, OSError, json.JSONDecodeError):
            continue
        for n in names:
            last[n] = max(last.get(n, 0), rnd)
    # never-checked (-1) first, then by last-checked round ascending;
    # within a round, oracle-backed first, then registration order
    reg_pos = {n: i for i, n in enumerate(QUERIES)}
    keys = [(last.get(n, -1), QUERIES[n].oracle is None, reg_pos[n]) for n in order]
    assert keys == sorted(keys)


#: The batch CEP registry queries: every one compiles through
#: ``operators/cep.match_pattern`` or ``patterns.pattern_sequence``.
BATCH_CEP_QUERIES = [
    "login_fail_detect",
    "pattern_view_then_purchase",
    "pattern_funnel_3step",
    "pattern_clean_conversion",
    "pattern_view_no_purchase",
    "pattern_optional_funnel",
    "pattern_guarded_optional_funnel",
    "pattern_unresolved_error_burst",
    "pattern_view_burst_purchase",
]


def test_batch_cep_queries_invariant_under_shuffle_partitions(spark):
    """The CEP compilers' window passes and anti-joins partition on the
    key, so the rows (sorted, hashed) must not depend on the shuffle
    partition count: 1 and 61 give the default run's hash at sf0.01."""
    import hashlib
    import os

    from conftest import SF_DIR

    def digest(name: str) -> str:
        rows = sorted(repr(tuple(r)) for r in QUERIES[name].fn(spark, sf).collect())
        assert rows, name
        return hashlib.sha256("\n".join(rows).encode()).hexdigest()

    sf = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    key = "spark.sql.shuffle.partitions"
    want = {n: digest(n) for n in BATCH_CEP_QUERIES}
    before = spark.conf.get(key)
    try:
        for parts in ("1", "61"):
            spark.conf.set(key, parts)
            got = {n: digest(n) for n in BATCH_CEP_QUERIES}
            assert got == want, f"shuffle.partitions={parts}"
    finally:
        spark.conf.set(key, before)
