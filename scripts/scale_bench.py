"""Measured scale slopes: run a family list at two SF dirs, report t_big/t_small.

Round-4 verdict ask #1 — convert the 100 TB story from plan-shape
argument to measurement.  For each query the frame cache is cleared
first (``--no-memo`` discipline), so every number is the family's full
attributable cost; timing is the same noop-sink materialization as
bench.py.  A slope is the ratio of wall times between the two dirs; at
a 10× row-count ratio a healthy operator lands well under 10 (fixed
overhead amortizes), linear lands ≈ 10, and anything past ``--flag``
(default 13) is flagged SUPER-LINEAR for investigation.

Usage:
  python scripts/scale_bench.py [--small /root/testdata/sf0.1]
      [--big /tmp/spark_graft_scale/sf1] [--queries q1,q2 | --suite]
      [--flag 13.0]
Prints one JSON line: {"slopes": {name: {"t_small": s, "t_big": s,
"slope": r}}, "flagged": [...]}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The representative family list: every LLM-pipeline family's costliest
# member plus the heaviest fact-table shapes from the bench tail.
SUITE = [
    # dedup family
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_lsh_verified",
    "dedup_components",
    "dedup_ngram_jaccard",
    "dedup_simhash_pairs",
    "dedup_containment",
    "semantic_dedup_flags",
    "corpus_keep_verdict",
    "corpus_decontaminate",
    # similarity family
    "ann_brute_force_topk",
    "ann_ivf_topk",
    "ann_pq_topk",
    "embedding_principal_component",
    # text family
    "token_kn_perplexity",  # round 10: costliest LM-scorer (shares pins with ngram)
    "corpus_source_overlap",  # round 10: gram self-join forensics
    "text_topic_clusters",
    "text_top_bigrams",
    "text_vocab",
    "text_lang_id_ngram",
    "text_tfidf_top_terms",
    "text_bm25_topk",
    "vocab_growth_curve",
    "text_fingerprint",
    # fact-table shapes
    "pricing_summary",
    "hot_items_topn",
    "top_urls",
    "unique_visitors",
    "sole_late_suppliers",
    "top_revenue_customers",
    "value_equidepth_histogram",
    "region_nation_revenue_rollup",
    "customer_rfm_segments",
    "user_concentration_report",
    "skewed_event_type_counts",
    # patterns
    "pattern_funnel_3step",
    "pattern_guarded_optional_funnel",
    "login_fail_burst",
    "sessionize_users",
    # tokenizer + split-safety + TPC-H additions (round-5 continuation)
    "bpe_learn_merges",
    "bpe_corpus_fertility",
    "pack_bpe_sequences",
    "split_leakage_audit",
    "dataset_split_cluster_safe",
    "promo_revenue_by_month",
    "top_supplier_revenue",
    "nation_parttype_list_margin",
    "heavy_hitter_provinces",
    "events_kanonymity_report",
    "corpus_token_budget",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", default="/root/testdata/sf0.1")
    ap.add_argument("--big", default="/tmp/spark_graft_scale/sf1")
    ap.add_argument("--queries", default=None)
    ap.add_argument("--flag", type=float, default=13.0)
    ap.add_argument("--repeat", type=int, default=1)
    args = ap.parse_args()

    from flinkecuserbehavioranalysis_spark.cache import clear_cache
    from flinkecuserbehavioranalysis_spark.plans.queries import QUERIES
    from flinkecuserbehavioranalysis_spark.session import get_spark

    names = args.queries.split(",") if args.queries else SUITE
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark("scale_bench")
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: str, sf_dir: str) -> float:
        clear_cache()
        best = None
        for _ in range(args.repeat):
            t0 = time.perf_counter()
            QUERIES[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            clear_cache()
        return round(best, 3)

    # warmup both scan paths
    QUERIES["page_view_count"].fn(spark, args.small).write.format("noop").mode(
        "overwrite"
    ).save()
    QUERIES["page_view_count"].fn(spark, args.big).write.format("noop").mode(
        "overwrite"
    ).save()

    slopes: dict[str, dict] = {}
    flagged: list[str] = []
    for n in names:
        ts = run(n, args.small)
        tb = run(n, args.big)
        r = round(tb / ts, 2) if ts > 0 else None
        slopes[n] = {"t_small": ts, "t_big": tb, "slope": r}
        mark = " SUPER-LINEAR" if r is not None and r > args.flag else ""
        print(f"  {n:38s} {ts:8.2f}s {tb:8.2f}s  x{r}{mark}", file=sys.stderr)
        if mark:
            flagged.append(n)
    print(json.dumps({"slopes": slopes, "flagged": flagged}))


if __name__ == "__main__":
    main()
