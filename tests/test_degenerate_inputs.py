"""Degenerate-input hardening (round 5): empty tables, k > n regimes, and
NULL-injected value columns.

The driver's testdata is entirely null-free, so the oracle gate can never
see the bug class where Spark and SQL disagree on NULL handling — or
where a Python/Arrow kernel simply crashes on a NULL payload.  Round 5
swept the full registry against three degenerate tiers
(scripts/make_degenerate_data.py) and fixed every divergence; these
tests pin the specific semantics those fixes encode, each against the
live DuckDB oracle on a freshly built degenerate dataset:

- NULL embeddings are excluded from every vector operator (the
  ``_drop_null_vec`` contract = the oracles' ``embedding IS NOT NULL``);
- NULL predicates in CEP kernels are NON-matches that still break
  strict contiguity (``pattern_one_or_more``'s segment counter must not
  skip them — the SUM-over-NULL bridge bug);
- NULL lang never reaches the packed lang-ID profile (codegen NPE);
- NULL payloads are excluded from the multimodal decode stages;
- an empty PQ training sample encodes nothing instead of crashing;
- the whole registry returns (not raises) on fully EMPTY tables.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from flinkecuserbehavioranalysis_spark.io import load_table
from flinkecuserbehavioranalysis_spark.plans.queries import QUERIES
from flinkecuserbehavioranalysis_spark.schemas import TESTDATA_TABLES

from conftest import SF_DIR, normalized_rows

# the riskiest query per fixed failure class — each ran red in the
# round-5 null sweep before the fix it now regression-pins
NULL_SWEEP_QUERIES = [
    "ann_brute_force_topk",  # oracle list_inner_product NULL
    "ann_pq_topk",  # NoneType in the PQ encode kernel
    "embedding_kmeans_stats",  # extra NULL-cluster group (8 vs 7 rows)
    "embedding_drift_by_dim",  # unguarded oracle counted NULL-vec rows
    "text_lang_id_ngram",  # NULL-lang profile group -> codegen NPE
    "multimodal_frame_sample",  # len(None) in the Arrow kernel
    "text_rolling_hash",  # list_prepend(0, NULL) = [0] vs NULL fold
    "top_urls",  # concat-vs-NULL divergence on props
    "pattern_view_burst_purchase",  # segment-counter NULL bridge
    "top_session_paths",  # array_join([NULL]) = '' vs string_agg NULL
    "value_equidepth_histogram",  # NULLS FIRST/LAST rank divergence
    "token_drift_chisq",  # (guard shared with the tiny tier)
]


@pytest.fixture(scope="module")
def degen_dirs(tmp_path_factory):
    """Build the empty/tiny/nulls tiers once from the test SF."""
    from scripts.make_degenerate_data import build

    out = str(tmp_path_factory.mktemp("degen"))
    build(SF_DIR, out)
    return out


def _oracle_con(sf_dir: str):
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


@pytest.mark.soak
@pytest.mark.parametrize("name", NULL_SWEEP_QUERIES)
def test_null_injected_matches_oracle(spark, degen_dirs, name):
    sf = os.path.join(degen_dirs, "nulls")
    qd = QUERIES[name]
    sdf = qd.fn(spark, sf)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]
    con = _oracle_con(sf)
    try:
        res = con.execute(qd.oracle)
        d_cols = [d[0].lower() for d in res.description]
        d_rows = res.fetchall()
    finally:
        con.close()
    assert sorted(s_cols) == sorted(d_cols)
    assert normalized_rows(s_cols, s_rows) == normalized_rows(d_cols, d_rows)


def test_null_vectors_excluded_by_contract(spark, degen_dirs):
    """kmeans assignment covers exactly the non-null vectors."""
    sf = os.path.join(degen_dirs, "nulls")
    emb = load_table(spark, sf, "embeddings")
    n_nonnull = emb.where(F.col("embedding").isNotNull()).count()
    assert n_nonnull < emb.count()  # the tier really has null vectors
    out = QUERIES["embedding_outlier_flags"].fn(spark, sf)
    assert out.count() == n_nonnull


def test_one_or_more_null_breaks_contiguity(spark):
    """A NULL-type event between two views must break the consecutive
    run (the segment counter bridge bug): view, NULL, view, purchase
    yields a 1-view run, not a 2-view run."""
    from flinkecuserbehavioranalysis_spark.operators.patterns import pattern_one_or_more

    rows = [
        (1, 10.0, "view"),
        (1, 11.0, None),
        (1, 12.0, "view"),
        (1, 13.0, "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts double, event_type string")
    out = pattern_one_or_more(
        df,
        key_col="user_id",
        ts_col="ts",
        a_pred=F.col("event_type") == "view",
        b_pred=F.col("event_type") == "purchase",
        within_seconds=3600.0,
    ).collect()
    assert len(out) == 1
    assert out[0]["n_a"] == 1  # only the view at t=12 is contiguous
    assert out[0]["first_a_ts"] == 12


def test_empty_pq_training_sample_yields_empty_index(spark):
    """pq_topk over a corpus whose training sample is empty returns an
    empty result (SQL cross-join-with-empty-seeds shape), not an
    IndexError inside the encode kernel."""
    from flinkecuserbehavioranalysis_spark.operators.similarity import pq_fit, pq_topk

    df = spark.createDataFrame(
        [(i, [float(i)] * 8) for i in range(3)], "vec_id long, embedding array<double>"
    )
    empty_train = df.where(F.lit(False))
    book = pq_fit(empty_train, dim=8, m=2, k=4, train_iters=1)
    out = pq_topk(df, df, dim=8, m=2, k_codes=4, k=5, book=book)
    assert out.count() == 0


# the riskiest query per fixed nulls2-tier (NULL ts / key / measure /
# date) failure class — each ran red before the fix it now pins
NULL2_SWEEP_QUERIES = [
    "page_view_count",  # oracle kept a NULL tumbling-window group
    "sessionize_users",  # NULL-ts ordering inflated session counts
    "login_fail_burst",  # NULL-user alerts survive window-min but not JOIN USING
    "event_last_order_asof",  # NULL probe/build rows spuriously matched
    "daily_revenue_trend",  # NULL-date group offset the cumulative sum
    "cheapest_supplier_per_part",  # NULLS FIRST rank picked a NULL price
    "tx_match",  # concat_ws-vs-concat NULL tx ids
    "windowed_value_quantiles",  # int(None) in the applyInPandas kernel
    "event_type_transitions",  # NULL-ts rows shifted lag adjacency
    "region_quarterly_growth",  # NULL quarter broke the lag chain
]


@pytest.mark.soak
@pytest.mark.parametrize("name", NULL2_SWEEP_QUERIES)
def test_null2_injected_matches_oracle(spark, degen_dirs, name):
    sf = os.path.join(degen_dirs, "nulls2")
    qd = QUERIES[name]
    sdf = qd.fn(spark, sf)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]
    con = _oracle_con(sf)
    try:
        res = con.execute(qd.oracle)
        d_cols = [d[0].lower() for d in res.description]
        d_rows = res.fetchall()
    finally:
        con.close()
    assert sorted(s_cols) == sorted(d_cols)
    assert normalized_rows(s_cols, s_rows) == normalized_rows(d_cols, d_rows)


EMPTY_SPOT_CHECKS = [
    # (query, rows expected on all-empty tables) — the shapes most
    # likely to assume non-empty input
    ("daily_purchase_spine", 0),  # collected bounds interpolated into SQL
    ("text_topic_clusters", 0),  # kmeans training on zero rows
    ("customer_rfm_segments", 0),  # three chained global-ntile passes
    ("ann_ivf_pq_topk", 0),  # both trained indexes empty
    ("dedup_minhash_lsh", 0),  # banded join over nothing
    ("corpus_mix_rebalance", 0),  # ratio math over zero languages
    ("token_drift_chisq", 0),  # zero-token halves guard
    ("revenue_forecast_backtest", 1),  # one all-NULL summary row
    ("embedding_principal_component", 0),  # driver-side matvec: max() over an
    #   empty covariance crashed before the round-7 empty-cells early return
    # round-8 replays: an empty bounded source must drain to an empty
    # sink (the asof replay also writes an EMPTY scratch reference side)
    ("streaming_cep_replay", 0),
    ("streaming_cep_negation_replay", 0),
    ("streaming_last_touch_replay", 0),
    ("streaming_asof_replay", 0),
]


@pytest.mark.parametrize("name,n_rows", EMPTY_SPOT_CHECKS)
def test_empty_tables_return_cleanly(spark, degen_dirs, name, n_rows):
    sf = os.path.join(degen_dirs, "empty")
    out = QUERIES[name].fn(spark, sf)
    assert out.count() == n_rows


@pytest.mark.soak
def test_streaming_twins_drop_null_event_times(spark, degen_dirs):
    """Structured Streaming generates no window for a NULL event time
    (the watermark node passes the row, the window generator emits
    nothing) — the batch twins now pin the SAME exclusion, so a bounded
    replay over NULL-bearing events must still match batch exactly."""
    from flinkecuserbehavioranalysis_spark.operators.sessions import sessionize
    from flinkecuserbehavioranalysis_spark.operators.windows import windowed_count
    from flinkecuserbehavioranalysis_spark.streaming.jobs import (
        read_events_stream,
        run_bounded,
        streaming_session_window,
        streaming_windowed_count,
    )

    sf = os.path.join(degen_dirs, "nulls2")
    ev = load_table(spark, sf, "events")
    assert ev.where(F.col("ts").isNull()).count() > 0  # the tier has them
    wm = ev.agg(F.max(F.col("ts").cast("double"))).collect()[0][0]

    # tumbling count twin
    stream = read_events_stream(spark, sf)
    got = run_bounded(streaming_windowed_count(stream, size="1 hour"), "append")
    batch = (
        windowed_count(ev, "ts", "1 hour").filter(F.col("we") <= wm).collect()
    )
    key = lambda r: (r["ws"], r["we"], r["cnt"])  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, batch))
    assert len(got) > 0

    # session twin (NULL user_id rows keep flowing — only NULL ts drops)
    got_s = run_bounded(
        streaming_session_window(read_events_stream(spark, sf), gap="30 minutes")
    )
    b = (
        sessionize(ev, gap_seconds=1800, tiebreak_col="event_id")
        .groupBy("user_id", "session_start", "session_end")
        .agg(F.sum("n_events").alias("n_events"))
        .filter(F.col("session_end") + 1800 <= wm)
        .collect()
    )
    closed = [r for r in got_s if r["session_end"] + 1800 <= wm]
    ks = lambda r: (  # noqa: E731
        r["user_id"],
        r["session_start"],
        r["session_end"],
        r["n_events"],
    )
    assert sorted(map(ks, closed), key=repr) == sorted(map(ks, b), key=repr)
    assert len(closed) > 0


UNICODE_SWEEP_QUERIES = [
    # the text paths where code-point vs byte semantics could diverge:
    # trigram substring walks, token splits, hashes of multibyte text
    "text_lang_id_ngram",
    "text_token_stats",
    "text_rolling_hash",
    "text_fingerprint",
    "text_hashed_vectors",
    "documents_chunked",
]


@pytest.mark.soak
@pytest.mark.parametrize("name", UNICODE_SWEEP_QUERIES)
def test_unicode_text_matches_oracle(spark, degen_dirs, name):
    """CJK / astral-plane emoji / RTL / accent splices: Spark and DuckDB
    must agree on substring/length (both code-point based) and on hashes
    (both over UTF-8 bytes).  This tier swept 184/184 clean on first
    run — these pins keep the text kernels that way."""
    sf = os.path.join(degen_dirs, "unicode")
    qd = QUERIES[name]
    sdf = qd.fn(spark, sf)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]
    con = _oracle_con(sf)
    try:
        res = con.execute(qd.oracle)
        d_cols = [d[0].lower() for d in res.description]
        d_rows = res.fetchall()
    finally:
        con.close()
    assert sorted(s_cols) == sorted(d_cols)
    assert normalized_rows(s_cols, s_rows) == normalized_rows(d_cols, d_rows)


SPECIALS_SWEEP_QUERIES = [
    # the riskiest query per fixed failure class from the specials tier
    # (NaN / ±Inf / -0.0 measures; NaN / 1e308 vector components) — each
    # ran red (crash or divergence) before the fix it now pins
    "ann_quantized_topk",  # NaN -> INT cast overflow in int8 quantize
    "ann_pq_topk",  # Python 'cannot convert float infinity to integer'
    "embedding_label_centroids",  # DECIMAL(28,12) overflow on 1e308 sums
    "embedding_covariance_matrix",  # driver-side collect crash on Inf cells
    "props_numeric_stats",  # NaN min/max ordering divergence
    "value_histogram",  # ±Inf bucket cast: oracle crash, Spark bucket-9 mask
    "pattern_value_spike",  # NaN >= 2*prev comparison divergence
    "value_equidepth_histogram",  # NaN rank-ordering divergence
    "value_ks_drift_by_type",  # oracle CAST(floor(NaN) AS BIGINT) crash
]


@pytest.mark.soak
@pytest.mark.parametrize("name", SPECIALS_SWEEP_QUERIES)
def test_special_floats_match_oracle(spark, degen_dirs, name):
    """Corrupt numeric features (NaN / ±Inf / -0.0 measures, NaN / 1e308
    vector components) must neither crash an engine nor diverge: vector
    operators exclude non-finite / insane components by contract
    (_drop_null_vec) and measure-statistics kernels exclude non-finite
    measures (_finite), with identical guards in the oracles."""
    sf = os.path.join(degen_dirs, "specials")
    qd = QUERIES[name]
    sdf = qd.fn(spark, sf)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]
    con = _oracle_con(sf)
    try:
        res = con.execute(qd.oracle)
        d_cols = [d[0].lower() for d in res.description]
        d_rows = res.fetchall()
    finally:
        con.close()
    assert sorted(s_cols) == sorted(d_cols)
    assert normalized_rows(s_cols, s_rows) == normalized_rows(d_cols, d_rows)


def test_invalid_vectors_excluded_by_contract(spark, degen_dirs):
    """A vector with a NaN or astronomic (1e308) component is dropped at
    every operator entry — corrupt features never reach a distance."""
    from flinkecuserbehavioranalysis_spark.operators.similarity import _drop_null_vec

    sf = os.path.join(degen_dirs, "specials")
    emb = load_table(spark, sf, "embeddings")
    kept = _drop_null_vec(emb, "embedding")
    bad = emb.count() - kept.count()
    assert bad > 0  # the tier really injected corrupt vectors
    # and every kept vector is fully finite and sane
    n_bad_kept = kept.where(
        F.exists(
            F.col("embedding").cast("array<double>"),
            lambda x: x.isNull() | F.isnan(x) | (F.abs(x) > F.lit(1e6)),
        )
    ).count()
    assert n_bad_kept == 0


def test_drift_statistics_empty_half_returns_empty(spark, degen_dirs, tmp_path):
    """A drift statistic against an EMPTY comparison half is undefined —
    both engines must return zero rows, not divide by zero (ANSI crash).
    Regime: every event/vector lands in md5 half A (a filtered subset or
    tail partition does this in production)."""
    one = tmp_path / "onehalf"
    one.mkdir()
    src = os.path.join(degen_dirs, "nulls")
    con = duckdb.connect()
    half = "('0x' || substring(md5(CAST({k} AS VARCHAR)), 1, 8))::VARCHAR::UBIGINT % 10000 < 5000"
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{src}/events.parquet') "
        f"WHERE {half.format(k='event_id')}) TO '{one}/events.parquet' (FORMAT PARQUET)"
    )
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{src}/embeddings.parquet') "
        f"WHERE {half.format(k='vec_id')}) TO '{one}/embeddings.parquet' (FORMAT PARQUET)"
    )
    con.close()
    for name in ("value_ks_drift_by_type", "embedding_drift_by_dim"):
        qd = QUERIES[name]
        assert qd.fn(spark, str(one)).count() == 0, name
        ocon = _oracle_con(str(one))
        try:
            assert len(ocon.execute(qd.oracle).fetchall()) == 0, name
        finally:
            ocon.close()


def test_principal_component_zero_variance_returns_nulls(spark, tmp_path):
    """A zero covariance matrix (constant embedding corpus) makes every
    power-iteration normalization a 0/0 — which BOTH engines evaluate
    as NULL (Spark non-ANSI and DuckDB return NULL on /0, not IEEE
    NaN), and NULL then propagates through every later round.  The
    driver-side matvec loop must short-circuit to those NULL rows, not
    raise ZeroDivisionError (round-7 advice: the registry returns,
    never raises, on degenerate tables)."""
    tier = tmp_path / "constemb"
    tier.mkdir()
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT vec_id, [0.5::FLOAT for _ in range(64)] AS embedding "
        f"FROM (SELECT unnest(range(20)) AS vec_id)) "
        f"TO '{tier}/embeddings.parquet' (FORMAT PARQUET)"
    )
    con.close()
    qd = QUERIES["embedding_principal_component"]
    sdf = qd.fn(spark, str(tier))
    s_rows = normalized_rows(
        [c.lower() for c in sdf.columns], [tuple(r) for r in sdf.collect()]
    )
    ocon = _oracle_con(str(tier))
    try:
        cur = ocon.execute(qd.oracle)
        o_rows = normalized_rows(
            [c.lower() for c, *_ in cur.description], cur.fetchall()
        )
    finally:
        ocon.close()
    assert len(s_rows) == 64
    assert s_rows == o_rows
    # sorted column order: (dim, eigenvalue_est, loading)
    assert all(r[1] is None and r[2] is None for r in s_rows)


GROUPING_SET_QUERIES = [
    "region_nation_revenue_rollup",
    "marketing_channel_cube",
    "event_type_dow_cube",
    "revenue_grouping_sets",
]


@pytest.mark.parametrize("name", GROUPING_SET_QUERIES)
def test_grouping_sets_emit_nothing_over_empty_input(spark, degen_dirs, name):
    """ANSI SQL emits a grand-total grouping-set row even over EMPTY
    input; Spark's Expand-based rollup/cube does not.  The engine pins
    Spark's populated-sets-only semantics and the oracles carry a
    matching ``HAVING count(*) > 0`` (a no-op on any non-empty input)."""
    sf = os.path.join(degen_dirs, "empty")
    qd = QUERIES[name]
    assert qd.fn(spark, sf).count() == 0
    con = _oracle_con(sf)
    try:
        assert len(con.execute(qd.oracle).fetchall()) == 0
    finally:
        con.close()

TIMES_SWEEP_QUERIES = [
    # the riskiest query per fixed failure class from the times tier
    # (epoch-0 / pre-1970 / nanos-range-edge timestamps in events.ts,
    # 1900/9999 date sentinels in orders/lineitem) — each ran red
    # before the fix it now pins
    "login_fail_detect",  # CEP double->long cast truncated -0.75 to 0
    "pattern_optional_funnel",  # same truncation in the variant union
    "ad_blacklist_warnings",  # epoch_day truncated pre-1970 days
    "tx_match",  # day-keyed tx id shifted a day pre-1970
    "windowed_value_quantiles",  # window start truncated, not floored
    "high_k_hourly_by_type",  # hour-bucket start truncated
    "hourly_activity_bitmask",  # negative hour -> DuckDB shift crash
    "daily_purchase_spine",  # 213k-day span blew the recursion limit
    "event_type_dow_cube",  # DuckDB integer // TRUNCATES (dow shifted)
    "weekly_uv_exact",  # nested day//7 truncation (extra week group)
    "cohort_ltv_curves",  # month-cohort // truncation
    "region_quarterly_growth",  # quarter // truncation
    # temporal-hygiene family (added AFTER the tier closed green —
    # these exist because of it, and the tier is where they bite)
    "events_clock_audit",
    "orders_date_sentinel_audit",
    "events_ts_quarantine_split",
]


@pytest.mark.soak
@pytest.mark.parametrize("name", TIMES_SWEEP_QUERIES)
def test_extreme_timestamps_match_oracle(spark, degen_dirs, name):
    """Extreme-but-valid timestamps (epoch 0, pre-1970 NEGATIVE epochs
    with sub-second parts, the datetime64[ns] range edges 1677/2262,
    1900/9999 date sentinels): every epoch-bucket derivation must FLOOR.
    Two engine traps pinned here: Spark's double->long cast truncates
    toward zero (timestamp->long floors), and DuckDB's ``//`` truncates
    on INTEGER operands (it floors only on DOUBLE) — so the Spark side
    routes through floor_long/floor_div and the oracles spell
    ``floor(epoch(ts) / N)`` rather than integer ``// N``."""
    sf = os.path.join(degen_dirs, "times")
    qd = QUERIES[name]
    sdf = qd.fn(spark, sf)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]
    con = _oracle_con(sf)
    try:
        res = con.execute(qd.oracle)
        d_cols = [d[0].lower() for d in res.description]
        d_rows = res.fetchall()
    finally:
        con.close()
    assert sorted(s_cols) == sorted(d_cols)
    assert normalized_rows(s_cols, s_rows) == normalized_rows(d_cols, d_rows)


def test_floor_division_contract_on_negatives(spark):
    """floor_long / floor_div floor (match math.floor and DuckDB double
    //); a plain double->long cast would truncate toward zero."""
    import math

    from flinkecuserbehavioranalysis_spark.functions.scalar import floor_div, floor_long

    vals = [-0.75, -1.0, -86399.5, -616855046.5, 0.0, 0.75, 86400.25]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = {
        r["x"]: (r["fl"], r["fd"])
        for r in df.select(
            "x",
            floor_long(F.col("x")).alias("fl"),
            floor_div(F.col("x"), 86400).alias("fd"),
        ).collect()
    }
    for v in vals:
        assert got[v] == (math.floor(v), math.floor(v / 86400)), v


@pytest.mark.soak
def test_spine_recursion_fallback_paths(spark, degen_dirs):
    """daily_purchase_spine keeps the WITH RECURSIVE surface for sane
    spans (UnionLoop in the plan) and falls back to the distributed
    spark.range for multi-century degenerate spans — same rows either
    way (the oracle pin above), never a recursion-limit error."""
    qd = QUERIES["daily_purchase_spine"]
    sane = qd.fn(spark, SF_DIR)
    assert "UnionLoop" in sane._jdf.queryExecution().optimizedPlan().toString()
    wide = qd.fn(spark, os.path.join(degen_dirs, "times"))
    assert "UnionLoop" not in wide._jdf.queryExecution().optimizedPlan().toString()
    # the wide spine really is the multi-century calendar, one row per day
    days = wide.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi"), F.count(F.lit(1)).alias("n")
    ).first()
    assert days["n"] == days["hi"] - days["lo"] + 1 > 100_000

SKEW_SWEEP_QUERIES = [
    # hot-key / duplicate-flood tier: one user owns ~40% of events plus
    # a 2,000-row byte-identical flood, one customer ~20% of orders,
    # ~10% of documents/embeddings are identical copies.  The tier
    # swept 184/184 clean on first run — these pins keep the paths that
    # COULD diverge under ties and duplicate floods that way
    "dedup_exact",  # the 2,000-row flood collapses to one keeper
    "dedup_minhash_lsh",  # giant LSH bucket (every dup in one band key)
    "ann_brute_force_topk",  # k-NN ties among identical vectors
    "semantic_dedup_flags",  # within-cluster quadratic on a dup cluster
    "hot_items_topn",  # per-window top-N with one dominating key
    "skewed_event_type_counts",  # the salted-aggregation surface itself
    "sessionize_users",  # one user's sessions = 40% of the table
    "user_concentration_report",  # global rank with a hot head
    # exact-collapse-before-near-dup paths (added after the tier showed
    # the duplicate clique dominating pair machinery at sf0.1)
    "ann_cosine_lsh_neardup",  # expanded member-level pair list
    "dedup_lsh_verified",  # text twin of the expansion
    "dedup_components",  # connectivity-edges canonical map
    "embedding_neardup_components",
]


@pytest.mark.soak
@pytest.mark.parametrize("name", SKEW_SWEEP_QUERIES)
def test_hot_keys_and_duplicate_floods_match_oracle(spark, degen_dirs, name):
    """Pathological skew must not change ANSWERS: identical-vector k-NN
    ties resolve by deterministic tiebreak on both engines, duplicate
    floods collapse in dedup, and hot-key aggregations/windows agree
    with the oracle exactly (scale posture for the same shapes is
    AQE skew splits + salting, SCALE.md)."""
    sf = os.path.join(degen_dirs, "skew")
    qd = QUERIES[name]
    sdf = qd.fn(spark, sf)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]
    con = _oracle_con(sf)
    try:
        res = con.execute(qd.oracle)
        d_cols = [d[0].lower() for d in res.description]
        d_rows = res.fetchall()
    finally:
        con.close()
    assert sorted(s_cols) == sorted(d_cols)
    assert normalized_rows(s_cols, s_rows) == normalized_rows(d_cols, d_rows)


def test_clock_audit_classification(spark):
    """clock_audit's first-match-wins classes on hand-built rows: NULL,
    epoch zero, the nanos edges, a pre-epoch second, a 1990s row
    (before_sane), a far-future row (after_sane), and a sane row."""
    from flinkecuserbehavioranalysis_spark.operators.profile import clock_audit

    rows = [
        (None, 1),
        ("1970-01-01 00:00:00", 2),
        ("1677-09-21 00:12:44", 3),
        ("2262-04-11 23:47:16", 4),
        ("1969-12-31 23:59:59.25", 5),
        ("1995-06-01 12:00:00", 6),
        ("2040-01-01 00:00:00", 7),
        ("2024-03-01 08:30:00", 8),
    ]
    df = spark.createDataFrame(rows, "ts string, user_id int").withColumn(
        "ts", F.to_timestamp("ts")
    )
    got = {r["kind"]: (r["n"], r["n_keys"]) for r in clock_audit(df, "ts", "user_id").collect()}
    assert got == {
        "unstamped": (1, 1),
        "epoch_zero": (1, 1),
        "nanos_edge": (2, 2),
        "pre_epoch": (1, 1),
        "before_sane": (1, 1),
        "after_sane": (1, 1),
        "ok": (1, 1),
    }
    # and the pre-epoch sub-second row FLOORS into min_s
    pre = {r["kind"]: r["min_s"] for r in clock_audit(df, "ts").collect()}
    assert pre["pre_epoch"] == -1


@pytest.mark.soak
def test_dedup_edges_equal_pairlist_components(spark, degen_dirs):
    """The 100 TB-safe connectivity-edge inputs (rep pairs + member→rep
    edges, linear in duplicates) must produce EXACTLY the canonical map
    the full member-level pair list produces — on the duplicate-flood
    tier where the two differ most."""
    from flinkecuserbehavioranalysis_spark.operators.dedup import (
        canonicalize_duplicates,
        lsh_dedup_edges,
        lsh_verified_pairs,
    )
    from flinkecuserbehavioranalysis_spark.operators.similarity import (
        cosine_lsh_dedup_edges,
        cosine_lsh_pairs,
    )

    sf = os.path.join(degen_dirs, "skew")
    docs = load_table(spark, sf, "documents")
    via_pairs = canonicalize_duplicates(docs, lsh_verified_pairs(docs, threshold=0.5))
    via_edges = canonicalize_duplicates(docs, lsh_dedup_edges(docs, threshold=0.5))
    assert sorted(map(tuple, via_pairs.collect())) == sorted(
        map(tuple, via_edges.collect())
    )
    emb = load_table(spark, sf, "embeddings")
    vp = canonicalize_duplicates(
        emb, cosine_lsh_pairs(emb, threshold=0.4), id_col="vec_id",
        a_col="vec_a", b_col="vec_b",
    )
    ve = canonicalize_duplicates(
        emb, cosine_lsh_dedup_edges(emb, threshold=0.4), id_col="vec_id",
        a_col="vec_a", b_col="vec_b",
    )
    assert sorted(map(tuple, vp.collect())) == sorted(map(tuple, ve.collect()))
    # the edge relation really is linear where the pair list is quadratic
    n_pairs = lsh_verified_pairs(docs, threshold=0.5).count()
    n_edges = lsh_dedup_edges(docs, threshold=0.5).count()
    assert n_edges < n_pairs  # the flood tier guarantees a gap


@pytest.mark.soak
def test_streaming_kernels_floor_pre_epoch_emissions(spark, degen_dirs):
    """Bounded replay of a stateful kernel over the extreme-timestamp
    tier: emitted epoch-second longs must FLOOR (the batch contract) —
    Python int() in the kernels would truncate the pre-1970 sub-second
    rows and diverge from the batch twin."""
    from flinkecuserbehavioranalysis_spark.operators.cep import PatternStep
    from flinkecuserbehavioranalysis_spark.operators.patterns import pattern_sequence
    from flinkecuserbehavioranalysis_spark.streaming.cep import match_pattern_stream
    from flinkecuserbehavioranalysis_spark.streaming.jobs import (
        read_events_stream,
        run_bounded,
    )

    sf = os.path.join(degen_dirs, "times")
    ev = load_table(spark, sf, "events")
    assert ev.where(F.col("ts") < F.lit("1970-01-01").cast("timestamp")).count() > 0
    view, purchase = F.col("event_type") == "view", F.col("event_type") == "purchase"
    steps = [PatternStep(view), PatternStep(purchase, contiguity="strict")]
    got = sorted(
        (r.key, r.step1_ts, r.step2_ts)
        for r in run_bounded(
            match_pattern_stream(
                read_events_stream(spark, sf).select("user_id", "event_type", "ts", "event_id"),
                "user_id",
                "ts",
                steps,
                3600.0,
                tiebreak_col="event_id",
            )
        )
    )
    batch = sorted(
        (r.user_id, r.step1_ts, r.step2_ts)
        for r in pattern_sequence(
            ev,
            key_col="user_id",
            ts_col="ts",
            steps=[view, purchase],
            within_seconds=3600.0,
            contiguity="strict",
            tiebreak_col="event_id",
        ).collect()
    )
    assert got == batch and len(got) > 0


STREAMING_REPLAY_QUERIES = [
    "streaming_login_fail_replay",
    "streaming_blacklist_replay",
    "streaming_order_timeout_replay",
    "streaming_fail_burst_replay",
    "streaming_dedup_replay",
    "streaming_pv_count_replay",
    "streaming_session_replay",
    # round 8 (round-7 verdict #5): the CEP NFA, last-touch attribution
    # and as-of enrich kernels' replays — same domain discipline, plus
    # event_id IS NOT NULL (they sort/emit on the tiebreak, so a NULL
    # tiebreak is outside the kernel-representable domain)
    "streaming_cep_replay",
    "streaming_cep_negation_replay",
    "streaming_last_touch_replay",
    "streaming_asof_replay",
    # round 10 (round-9 verdict #5): session_window + landing state, and
    # canonicalize-then-dedup ingest; same domain discipline (event_id /
    # doc_id IS NOT NULL on both sides)
    "streaming_sessionized_stats_replay",
    "streaming_url_dedup_replay",
    # the N-step NFA replay, run through match_pattern_stream; same
    # domain discipline (event_id IS NOT NULL)
    "streaming_pattern_sequence_replay",
]


@pytest.mark.soak
@pytest.mark.parametrize("tier", ["nulls", "nulls2", "times"])
@pytest.mark.parametrize("name", STREAMING_REPLAY_QUERIES)
def test_streaming_replays_match_oracle_on_degenerate_tiers(
    spark, degen_dirs, tier, name
):
    """The driver-hashable bounded replays on the tiers that broke them
    (round 7): NULL keys/timestamps reached the pandas kernels as
    NaN/NaT (int(NaN) crash, negative timer timestamps), the year-9999
    DATE sentinel overflowed the Arrow->pandas serializer, and NULL
    event_type flushed fail-burst runs the batch twin counts.  Each
    replay now filters its stream input to the kernel-representable
    domain (keyed, stamped, post-epoch, datetime64[ns]-range) with the
    SAME filter in its oracle; aggregation lateness is pinned on the
    WINDOW END (a ts=0 row's [0,1h) window survives the initial
    watermark, pre-epoch-ending windows drop)."""
    sf = os.path.join(degen_dirs, tier)
    qd = QUERIES[name]
    sdf = qd.fn(spark, sf)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]
    con = _oracle_con(sf)
    try:
        res = con.execute(qd.oracle)
        d_cols = [d[0].lower() for d in res.description]
        d_rows = res.fetchall()
    finally:
        con.close()
    assert sorted(s_cols) == sorted(d_cols)
    assert normalized_rows(s_cols, s_rows) == normalized_rows(d_cols, d_rows)
