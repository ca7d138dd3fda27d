"""Physical-plan guards — the 100 TB posture checks (SURVEY.md §4).

These assert the *shape* Catalyst produces, not timings: filters reach
the parquet scan, column pruning holds, dimension joins broadcast,
global top-K avoids a full sort, aggregations are partial/final."""

from __future__ import annotations

import contextlib
import io

import pytest

from flinkecuserbehavioranalysis_spark.plans.queries import QUERIES

from conftest import SF_DIR


def _explain(spark, name: str) -> str:
    df = QUERIES[name].fn(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    plan = _explain(spark, "page_view_count")
    assert "PushedFilters" in plan
    assert "EqualTo(event_type,view)" in plan


def test_column_pruning(spark):
    plan = _explain(spark, "page_view_count")
    # scan must read only the filter + window columns, not value/props
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, plan
    assert "props" not in read_schema[0] and "value" not in read_schema[0]


def test_dimension_joins_broadcast(spark):
    plan = _explain(spark, "region_revenue")
    assert plan.count("BroadcastHashJoin") >= 2  # nation & region never shuffle


def test_global_topk_avoids_full_sort(spark):
    plan = _explain(spark, "top_revenue_customers")
    assert "TakeOrderedAndProject" in plan  # partial top-K, not a global Sort+Limit


def test_partial_aggregation(spark):
    plan = _explain(spark, "pricing_summary")
    # partial → exchange → final: two HashAggregates around one shuffle
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_windowed_count_single_shuffle(spark):
    plan = _explain(spark, "page_view_count")
    # one exchange for the (window) grouping — no extra repartitions
    agg_exchanges = plan.count("Arguments: hashpartitioning")
    assert agg_exchanges == 1, plan


def test_date_range_pushdown_reaches_both_scans(spark):
    plan = _explain(spark, "shipping_priority_topk")
    assert "GreaterThanOrEqual(l_shipdate" in plan, plan
    assert "LessThan(o_orderdate" in plan, plan
    assert "TakeOrderedAndProject" in plan


def test_lang_id_ngram_scoring_is_map_only(spark):
    """Round-2 redesign: the corpus-side scoring pass must be map-only —
    a broadcast of the packed profile into a projection, with no
    SortMergeJoin anywhere and no shuffle proportional to raw trigram
    volume.  The only exchanges allowed are the ones building the
    sampled profile (distinct, df count, window, pack).

    The registered query's memoized frame is localCheckpoint-truncated
    (r11), so the plan shape under guard lives in the OPERATOR graph —
    inspect lang_id_ngram directly (exactly what the memo's build
    lambda wraps)."""
    import contextlib
    import io

    from flinkecuserbehavioranalysis_spark.io import load_table
    from flinkecuserbehavioranalysis_spark.operators.text import lang_id_ngram

    df = lang_id_ngram(load_table(spark, SF_DIR, "documents"), profile_fraction=0.5)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row packed profile
    # profile branch reads the hash-sampled relation: the md5-bucket
    # filter must appear in the plan
    assert "pmod" in plan and "md5" in plan
    # profile-side shuffles only: distinct + dfreq + window + pack agg
    # (formatted explain lists every node twice — tree + detail — so
    # count the detail headers, which appear exactly once per node)
    import re

    n_shuffles = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_shuffles <= 4, plan


def test_bm25_topk_plan_shape(spark):
    plan = _explain(spark, "text_bm25_topk")
    # global top-k must be a partial TakeOrdered, never Sort+Limit
    assert "TakeOrderedAndProject" in plan
    # term filter applies before the tf shuffle (generated-column filter
    # on the exploded token, present as an IN on the query terms)
    assert "spark,hash,window" in plan.replace(" ", "").replace("'", ""), plan
    # the |terms|-row df table joins broadcast
    assert "BroadcastHashJoin" in plan


def test_map_only_text_ops_have_zero_exchange(spark):
    """The per-row quality/scrub/chunk operators claim map-only plans —
    pin it: no Exchange anywhere (a shuffle appearing here means a
    regression broke the 100 TB scan-speed story)."""
    for name in ("text_repetition_stats", "events_pii_scan", "documents_chunked"):
        plan = _explain(spark, name)
        assert "Exchange" not in plan, f"{name} gained a shuffle:\n{plan}"


def test_winnow_fingerprints_is_map_only_with_generate_barrier(spark):
    """docs_winnow_fingerprints claims a ZERO-shuffle plan AND linear
    per-document cost.  The linearity depends on the explode(array(...))
    Generate node pinning the key array to one evaluation per row —
    without it CollapseProject inlines the m-element hash transform into
    the per-window lambda (O(m²·k) md5 calls, measured as a timeout at
    2 000 grams).  Pin both properties."""
    plan = _explain(spark, "docs_winnow_fingerprints")
    assert "Exchange" not in plan, f"winnow gained a shuffle:\n{plan}"
    assert "Generate" in plan, f"the materialization barrier vanished:\n{plan}"


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark shingle set must broadcast (never shuffle the
    corpus gram stream against it), and the only SortMergeJoin allowed
    is the id-keyed totals join."""
    plan = _explain(spark, "corpus_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") <= 1


def test_tfidf_broadcasts_df_and_ranks_per_doc(spark):
    plan = _explain(spark, "text_tfidf_top_terms")
    assert plan.count("BroadcastHashJoin") >= 1  # vocabulary-sized df table
    assert "TakeOrderedAndProject" not in plan  # per-doc window rank, no global sort


def test_keyless_range_join_is_not_nested_loop(spark):
    """events_near_purchases joins two large fact slices on a pure time
    range; the binned rewrite must give Catalyst an equi-key — a
    BroadcastNestedLoopJoin/CartesianProduct here would be quadratic at
    scale."""
    plan = _explain(spark, "events_near_purchases")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_disjunctive_predicates_push_to_both_scans(spark):
    """Q19-style OR'd (brand,size,quantity) branches: Catalyst must
    extract each side's OR-union and push it into the parquet scan —
    both scans carry an Or(...) pushed filter (brand/size on part,
    quantity ranges on lineitem)."""
    plan = _explain(spark, "disjunctive_brand_revenue")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert sum("Or(" in l for l in pushed) >= 2, plan
    assert any("p_brand" in l for l in pushed) and any("l_quantity" in l for l in pushed)


def test_profile_is_single_pass(spark):
    """orders_profile computes the count/null/distinct/numeric metrics
    in ONE Expand aggregation (the oracle's UNION ALL re-scans per
    column; the engine must not — k exact distincts ride one Expand,
    not k scans).  String min/max rides ONE extra column-pruned scan:
    folded into the multi-distinct aggregate, its non-hash-aggregable
    string buffer demoted the whole Expand pipeline to SortAggregate —
    a Sort of the k-way-expanded stream (measured 2.8 s → 1.25 s warm
    at sf0.1, round-11 optimization).  Guard all three properties: one
    Expand, at most two scans, and NO Sort node anywhere (the string
    pass is a global aggregate, sortless)."""
    import re

    plan = _explain(spark, "orders_profile")
    # formatted explain names each physical node once in the detail
    # section as "(n) Scan parquet" — count node ids, not mentions
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 2, plan
    assert len(re.findall(r"\(\d+\) Expand", plan)) == 1, plan
    assert not re.findall(r"\(\d+\) Sort\b", plan), plan


def test_runtime_bloom_filter_join_pruning(spark):
    """The 100 TB fact-fact join insurance: with runtime bloom filters
    on, a selective dimension-side predicate injects a
    bloom_filter_agg on the build side and a might_contain probe into
    the fact scan side — rows that cannot join are dropped BEFORE the
    shuffle.  (Local tables are below the default application-side
    10 GB threshold, so the test pins it to 0 — on a real cluster the
    defaults trigger exactly on the big-scan case this protects.)"""
    import contextlib
    import io as _io

    import pyspark.sql.functions as F

    from flinkecuserbehavioranalysis_spark.io import load_table

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        l = load_table(spark, SF_DIR, "lineitem")
        o = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
        rows = j.collect()
        assert len(rows) == 1 and rows[0].n > 0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_join_strategy_hints_are_honored(spark):
    """Engine surface: per-join strategy hints — the escape hatch when
    stats mislead Catalyst.  shuffle_hash must produce a
    ShuffledHashJoin (no sort phase), merge a SortMergeJoin, on the
    same orders-lineitem join."""
    from flinkecuserbehavioranalysis_spark.io import load_table

    o = load_table(spark, SF_DIR, "orders")
    l = load_table(spark, SF_DIR, "lineitem")
    for hint, node in (("shuffle_hash", "ShuffledHashJoin"), ("merge", "SortMergeJoin")):
        j = o.hint(hint).join(l, o.o_orderkey == l.l_orderkey)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        assert node in buf.getvalue(), (hint, node)


def test_decile_ranking_has_no_single_partition_window(spark):
    """customer_value_deciles' NTILE must come from the distributed
    global-rank machinery: every window stage in the plan is keyed by
    the shard id (partition-local), never an unpartitioned Window."""
    plan = _explain(spark, "customer_value_deciles")
    import re

    for m in re.finditer(r"Window \[", plan):
        seg = plan[m.start() : m.start() + 300]
        assert "__pid" in seg, seg  # partition-local rank only


def test_local_supplier_revenue_broadcasts_both_dims(spark):
    plan = _explain(spark, "local_supplier_revenue")
    assert plan.count("BroadcastHashJoin") >= 2  # supplier & nation


def test_grouping_sets_expand_after_preaggregation(spark):
    """The 3-way Expand must sit ABOVE the base-group aggregation (cost
    = base groups x levels), not directly on the lineitem scan."""
    plan = _explain(spark, "revenue_grouping_sets")
    assert "Expand" in plan
    scan_pos = plan.find("Scan parquet")
    expand_pos = plan.find("Expand")
    agg_before_expand = plan.count("HashAggregate", 0, expand_pos) >= 1
    assert agg_before_expand and scan_pos != -1
    # and the pre-aggregation reads only the 4 needed columns
    rs = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert rs and "l_partkey" not in rs[0] and "l_shipdate" not in rs[0]


def test_native_sessions_single_shuffle(spark):
    """session_window aggregation = one exchange on user_id, then the
    merging-sessions aggregate; no extra sort-based repartition."""
    plan = _explain(spark, "events_native_sessions")
    assert "hashpartitioning(user_id" in plan
    assert plan.count("Exchange") <= 2  # agg exchange (+AQE reuse at most)


def test_token_drift_broadcasts_totals_and_takes_ordered(spark):
    plan = _explain(spark, "token_drift_chisq")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan


def test_lateral_limit_decorrelates_without_nested_loop(spark):
    """customer_top_orders_lateral: the correlated LATERAL ... LIMIT 2
    must decorrelate into a window + key equi-join — never a
    per-customer nested loop.  It does NOT get the WindowGroupLimit
    fast path (pinned below so a Spark upgrade that fixes this is
    noticed); the direct window formulation does."""
    plan = _explain(spark, "customer_top_orders_lateral")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" not in plan  # decorrelation misses the fast path

    # the formulation hot paths should use: rank filter over an ordered
    # partition window compiles to partial+final WindowGroupLimit
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flinkecuserbehavioranalysis_spark.io import load_table

    o = load_table(spark, SF_DIR, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    df = o.withColumn("rn", F.row_number().over(w)).filter("rn <= 2")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert buf.getvalue().count("WindowGroupLimit") >= 2  # partial + final


def test_keyless_windows_are_bounded(spark):
    """The documented keyless-WindowExec queries (round-4 verdict
    "What's wrong" #4) must (a) keep exactly the expected number of
    unpartitioned Window nodes — a new one appearing means someone
    windowed an UNBOUNDED relation — and (b) feed them only
    calendar-/vocab-/codebook-bounded pre-aggregates, asserted here via
    the query's output cardinality staying within its documented bound
    at the test SF."""
    import re

    # name -> (max keyless windows in plan, output-rows bound at sf0.001+)
    bounded = {
        "daily_revenue_trend": 2000,     # calendar days in the dataset
        "weekly_revenue_wow": 600,       # calendar weeks
        "vocab_growth_curve": 16,        # decile histogram
        "revenue_forecast_backtest": 2000,  # backtest days
        "daily_revenue_decomposition": 2500,  # calendar days, full-window rows
        "ann_pq_topk": 200,              # query top-k
        "text_vocab": 200_000,           # below the auto-shard cap
    }
    for name, row_bound in bounded.items():
        df = QUERIES[name].fn(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # keyless window: a Window node whose detail block has an empty
        # partition spec — formatted explain prints the arguments line
        # with the partition expressions between the aggregate list and
        # the ORDER BY; an empty list renders as `, [], [`.
        n_keyless = len(
            re.findall(r"Arguments: \[[^\]]*\], \[\], \[", plan)
        )
        n_window = len(re.findall(r"\(\d+\) Window\b", plan))
        assert n_window >= 1 or n_keyless >= 0  # plan sanity
        assert n_keyless <= 2, (
            f"{name}: {n_keyless} keyless Window nodes — a new "
            "unpartitioned window appeared; check it is bounded"
        )
        n = df.count()
        assert n <= row_bound, (
            f"{name}: windowed output {n} rows exceeds the documented "
            f"bound {row_bound} — the keyless window input may be unbounded"
        )


def test_promo_revenue_broadcasts_part(spark):
    plan = _explain(spark, "promo_revenue_by_month")
    assert "BroadcastHashJoin" in plan          # part dim never shuffles
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2     # partial + final month agg


def test_top_supplier_max_is_broadcast_not_sort(spark):
    plan = _explain(spark, "top_supplier_revenue")
    # the 1-row max and the supplier dim both broadcast; the only sort
    # allowed is inside the supplier-keyed aggregation, never a global one
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan                 # no rank() formulation


def test_q9_star_broadcasts_all_three_dims(spark):
    plan = _explain(spark, "nation_parttype_list_margin")
    assert plan.count("BroadcastHashJoin") >= 3  # part, supplier, nation
    assert "SortMergeJoin" not in plan


def test_bpe_fertility_vocab_join_broadcasts(spark):
    plan = _explain(spark, "bpe_corpus_fertility")
    # trained vocab→symbol-count relation is vocab-sized → broadcast onto
    # the corpus word stream; the corpus side must never shuffle to join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tokenization_runs_once_per_row(spark):
    """round-11 optimization guard: an array expression referenced
    INSIDE a higher-order-function lambda re-evaluates once per
    ELEMENT — with the split inline, n-gram assembly re-tokenized the
    document once per position (O(n²)).  top_ngrams and the shingle
    explode must therefore project split() to a column first: the
    physical plan carries exactly ONE split() occurrence."""
    import contextlib
    import io

    from flinkecuserbehavioranalysis_spark.io import load_table
    from flinkecuserbehavioranalysis_spark.operators.dedup import shingles

    for name in ("text_top_bigrams", "vocab_growth_curve"):
        plan = _explain(spark, name)
        assert plan.count("split(") == 1, (name, plan.count("split("))
    # the MinHash family's tokenization lives in the signature build,
    # which the session memo localCheckpoint-truncates out of the
    # registered query's plan (r11) — guard the operator graph directly
    df = shingles(load_table(spark, SF_DIR, "documents"), "doc_id", "text", 3, distinct=False)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("split(") == 1, ("minhash shingles", plan.count("split("))
