"""Regenerate PLANS.md: formatted physical plans + extracted plan
metrics for the headline bench queries at sf0.01.

Usage: python tools/dump_plans.py [sf_dir]

The artifact is review evidence for the 100 TB posture: for each
headline query it records the pushed filters, read schemas (column
pruning), broadcast-join count, and shuffle count, followed by the
`explain('formatted')` output (truncated to the plan-tree + scan
details; codegen ids elided).
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
MAX_LINES = 90

HEADLINE = [
    "q1_pricing_summary",
    "nation_revenue",
    "topk_lineitems_per_order",
    "eps_core_points",
    "minhash_near_dups",
    "embedding_cosine_topk",
    "events_sessions",
    "events_asof_error",
    "doc_winnow_fingerprints",
    "sole_returner_suppliers",
    "market_share_by_year",
    "profit_by_nation_year",
    "lineitem_profile",
    "events_funnel",
    "doc_tfidf_cosine_pairs",
    "embedding_kmeans",
    "nation_pagerank",
    "doc_corpus_filter",
    "ivf_ann_topk_exact",
    "dbscan_assign_customer",
    # round-3 additions
    "part_bfs_hops",
    "ivf_recall_eval",
    "minhash_jaccard_error",
    "doc_bigram_fluency",
    "part_triangle_histogram",
    "events_user_ewma",
    "events_dedup_window",
    "events_pit_join",
    "part_k_core",
    "part_sssp",
    "near_dup_jaccard_prefix",
    # round-4 additions
    "doc_shard_order",
    "source_ngram_overlap",
    "source_caps",
    "source_temperature_sample",
    "orders_expectations",
    "totalprice_drift",
    "lang_source_drift",
    "events_user_state_diff",
    "part_order_hits",
    "dedup_vs_reference",
    # round-5 additions
    "doc_lang_heavy_hitters",
    "approx_event_type_topk",
    # round-6 additions
    "totalprice_ks_drift",
    "doc_boilerplate_strip",
    "embedding_semantic_dedup",
    "priority_totalprice_ttest",
    "lang_nchars_ks_drift",
    "totalprice_quantile_drift",
    # round-7 additions
    "doc_dup_spans",
    "doc_dup_span_strip",
    "kmember_quantized_embeddings",
    "source_token_waterfill",
    "source_budget_sample",
    # round-8 additions
    "doc_dup_span_strip_keep_first",
    "simhash_near_dup_pairs",
    "kmember_search_quantized_embeddings",
    "multimodal_real_dimensions",
    "embedding_pca_trace",
    "approx_event_error_buckets",
    # round-8 third batch (retrieval / SNM / LPA / BPE / graph)
    "doc_bm25_topk",
    "doc_inverted_postings",
    "doc_phrase_search",
    "doc_sorted_neighbors",
    "nation_communities",
    "doc_bpe_merges",
    "doc_bpe_tokens",
    "doc_bpe_vocab",
    "nation_ppr",
    "embedding_knn_graph",
    "embedding_mutual_knn_clusters",
    # round-10 additions (JVM-side text cleanup: single codegen
    # projection over the scan is the evidence)
    "doc_html_strip",
    "doc_unicode_nfc",
    "doc_url_domains",
]


def main() -> None:
    import __spark_entry__ as entry
    from dbscan_pyspark_spark.plans.inspect import (
        broadcast_join_count,
        formatted_plan,
        pushed_filters,
        scan_columns,
        shuffle_count,
    )
    from dbscan_pyspark_spark.session import get_session

    spark = get_session("dump-plans")
    qs = entry.queries()
    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        f"Generated by `tools/dump_plans.py` at `{SF_DIR}`, Spark "
        f"{spark.version}, AQE on. For each query: plan metrics extracted by",
        "`plans/inspect.py`, then `explain('formatted')` truncated to "
        f"{MAX_LINES} lines.",
        "",
        "These plans are the scale argument made concrete: filters sit in",
        "`PushedFilters` on the scan, `ReadSchema` carries only referenced",
        "columns, bounded build sides appear as `BroadcastHashJoin`, and no",
        "query contains a `CartesianProduct`.",
        "",
    ]
    for name in HEADLINE:
        df = qs[name](spark, SF_DIR)
        pf = pushed_filters(df)
        cols = scan_columns(df)
        metrics = [
            f"- broadcast joins: {broadcast_join_count(df)}, "
            f"shuffles: {shuffle_count(df)}",
            f"- pushed filters per scan: {pf}",
            f"- read schemas per scan: {[','.join(c) for c in cols]}",
        ]
        plan = formatted_plan(df)
        lines = plan.rstrip().splitlines()
        if len(lines) > MAX_LINES:
            lines = lines[:MAX_LINES] + [f"... ({len(lines) - MAX_LINES} more lines)"]
        out += [f"## {name}", ""]
        out += metrics
        out += ["", "```", *lines, "```", ""]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(HEADLINE)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
