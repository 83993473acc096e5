#!/usr/bin/env python
"""Regenerate docs/PLANS.md: the executed physical plan of every
headline query at sf0.1, with the scale-relevant features
(pushdown, pruning, join strategy, shuffle count) summarized per
query. HEADLINE below is the plan book's key list, in book order;
scripts/io_audit.py audits the result. Run after changing any
operator:

    python scripts/dump_plans.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_spark_spark import registry  # noqa: E402
from data_pipeline_spark_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "filter_pred",
    "agg_basic",
    "agg_distinct",
    "agg_grouping_sets",
    "join_inner_equi",
    "join_broadcast",
    "join_outer",
    "join_range_asof",
    "window_rank",
    "window_analytic",
    "sort_limit",
    "scalar_json",
    "stream_window_agg",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_span_exact",
    "dedup_semantic",
    "dedup_containment",
    "quality_unigram_logprob",
    "keyword_search_bm25",
    "vocab_oov_report",
    "sim_search",
    "sim_search_pq",
    "sim_search_ivfpq",
    "sim_search_ivfpq_trained",
    "retrieval_hybrid_rrf",
    "corpus_duplication_profile",
    "corpus_duplication_profile_hashed",
    "text_stats",
    "repetition_stats",
    "ts_resample_ohlc",
    "agg_hll_mergeable",
    "udf_surface",
    "merge_upsert",
    "join_fuzzy_string",
    "join_bloom_runtime",
    "window_twa",
    "basket_pair_affinity",
    "basket_pair_affinity_apriori",
    "tidy_supercat_hourly",
    "mv_incremental_refresh",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_volume",
    "tpch_q10_returned_items",
    "tpch_q18_large_orders",
    "tpch_q21_suppliers_who_kept_waiting",
    "agg_weighted_median",
    "doc_fingerprint_winnow",
    "tokenizer_unigram_segment",
    "quality_bigram_perplexity",
    "corpus_pack_apply",
    "tpch_q9_product_type_profit",
    "retrieval_prf_expand",
    "ts_cusum_changepoint",
    "agg_countmin_sketch",
    "skyline_pareto",
    "agg_ddsketch_quantile",
    "abtest_welch_ttest",
    "dedup_bloom_incremental",
    "privacy_dp_count",
    "privacy_dp_sum",
    "corpus_filter_gopher",
    "agg_skew_kurtosis",
    "ts_acf",
    "abtest_ratio_delta",
    "agg_anova_oneway",
    "ts_seasonal_strength",
    "cohort_rfm_segments",
    "agg_chi_square_indep",
    "abtest_cuped",
    "agg_entropy_profile",
    "cohort_survival_km",
    "label_fleiss_kappa",
    "label_cohens_kappa",
    "text_readability",
    "geo_cell_stats",
    "abtest_two_proportion_z",
]


def main() -> None:
    registry.load_all()
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    out = [
        "# Physical plans — bench headline queries",
        "",
        f"Generated by `scripts/dump_plans.py` at `{sf_dir}` "
        "(simple explain, pre-AQE-finalization). Summary line per query: "
        "pushed filters, read schema width, join strategies, shuffle count.",
        "",
    ]
    for name in HEADLINE:
        df = registry.QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        pushed = sum(
            1 for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if m.strip()
        )
        read_cols = [
            len(s.split(","))
            for s in re.findall(r"ReadSchema: struct<([^>]*)>", plan)
            if s.strip()
        ]
        features = {
            "scans_with_pushdown": pushed,
            "read_cols_per_scan": read_cols,
            "broadcast_joins": plan.count("BroadcastHashJoin"),
            "sortmerge_joins": plan.count("SortMergeJoin"),
            "bnl_joins": plan.count("BroadcastNestedLoopJoin"),
            "shuffles": plan.count("Exchange hashpartitioning")
            + plan.count("Exchange rangepartitioning")
            + plan.count("Exchange RoundRobinPartitioning"),
        }
        out.append(f"## {name}")
        out.append("")
        out.append(f"`{features}`")
        out.append("")
        out.append("```")
        out.append(plan.strip())
        out.append("```")
        out.append("")

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path} ({len(HEADLINE)} plans)")


if __name__ == "__main__":
    main()
