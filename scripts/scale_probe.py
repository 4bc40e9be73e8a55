"""Scale-curve probe: measure wall-time of the headline + heaviest
queries at sf0.001 / sf0.01 / sf0.1 and fit the log-log slope of time vs
scale factor — converting "the plans are scale-safe" from a plan-shape
argument into a measurement. A query whose work grows linearly with data
shows slope <= ~1 between the two largest SFs (fixed overhead pushes it
BELOW 1); a quadratic term (all-pairs join, unbounded candidate blowup)
shows up as slope -> 2 long before it melts a cluster.

Method: one warm Spark session; every query runs once per SF in
ascending-SF order (small first, so parquet-footer warm-up bias favors
flagging, not hiding). slope_mid = log10(t(0.1) / t(0.01)) is the
decision statistic — the decade where data dominates overhead;
slope_low = log10(t(0.01) / t(0.001)) is reported for context only.
Queries in EXPECTED_SUPERLINEAR are labeled by-design (audit tiers that
deliberately run exact all-pairs kernels); anything else with
slope_mid > FLAG_SLOPE fails the probe (exit 1).

Writes SCALE.md (checked in each round) and prints one JSON line.
Run from the repo root: python scripts/scale_probe.py
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from log_analysis_system_spark.queries import QUERIES, load_all
from log_analysis_system_spark.session import get_spark

# Testdata root is parameterized like SPARK_GRAFT_CPUS so the battery runs
# on any host layout (ADVICE r5).
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_DIRS = {
    0.001: f"{TESTDATA}/sf0.001",
    0.01: f"{TESTDATA}/sf0.01",
    0.1: f"{TESTDATA}/sf0.1",
}

FLAG_SLOPE = 1.3

# Heaviest operators beyond the bench rows (bench_pins.json): the class
# where a quadratic term could hide (pair joins, iterative loops, grids,
# full-corpus scoring). A name in both lists is probed once.
EXTRA_QUERIES = [
    "dedup_containment",
    "dedup_containment_capped",
    "dedup_ngram_jaccard",
    "exact_substring_spans",
    "substring_span_scrub",
    "corpus_dup_profile",
    "bpe_vocab_train",
    "bigram_lm_perplexity",
    "score_correlation",
    "source_jsd",
    "source_overlap_matrix",
    "sequence_entropy",
    "bm25_rank",
    "embedding_near_dup",
    "semantic_dedup_keep",
    "pagerank_trade_graph",
    "incremental_dedup_delta",
    "drift_psi",
    "ngram_diversity",
    "dedup_keep_best",
    "unigram_lm_segment_stats",
    "bpe_vocab_train_batched",
    "decontaminate_spans",
    "temperature_mixture_weights",
    "hybrid_rrf_topk",
    "multimodal_resize",
    "pack_sequences",
    "gopher_quality_rules",
    "excess_loss_mixture_weights",
    "contamination_by_source",
    "epoch_shuffle_manifest",
    "matryoshka_recall_audit",
    "mad_outlier_days",
    "shard_integrity_manifest",
    "fuzzy_customer_pairs",
    "frequent_event_triples",
    "bloom_membership_audit",
    "modality_integrity_checks",
    "salted_skew_join",
    "kneser_ney_perplexity",
    "pca_top_component",
    "tokenizer_fertility_audit",
    "jl_projection_audit",
    "dataset_cartography",
    "ppjoin_jaccard",
    "ppjoin_prune_audit",
    "unimax_mixture_allocation",
    "scd2_dimension_build",
    "scd2_asof_enrich",
    "multimodal_phash_neardup",
    "length_bucket_batching",
    "incremental_agg_maintenance",
    "label_propagation_communities",
    "forecast_backtest_mase",
    "dedup_simhash_neardup",
    "pareto_price_size_frontier",
    "hll_precision_curve",
    "dedup_method_agreement",
    "retrieval_eval_ndcg",
    "coreset_kcenter",
    "discriminator_auc",
    "calibration_ece",
    "discriminator_group_fairness",
    "l_diversity_audit",
    "kcore_trade_graph",
    "hits_trade_graph",
    "rolling_distinct_users",
    "weighted_value_percentiles",
    "cuped_adjusted_lift",
    "t_closeness_audit",
    "grouped_ols_two_factor",
    "winsorized_price_stats",
    "sprt_conversion_monitor",
    "diff_in_diff_lift",
    "zipf_law_fit",
    "xmr_control_chart",
    "theil_sen_trend",
    "mann_kendall_trend",
    "acf_daily_revenue",
    "mutual_information_features",
    "rendezvous_sharding",
    "peak_concurrency",
    "vocab_coverage_estimate",
    "textrank_keywords",
    "fellegi_sunter_em",
    "table_stats_analyze",
    "betweenness_centrality",
    "wasserstein_source_drift",
    "rbo_rank_agreement",
    "ann_ivfpq_topk",
    "pq_index_refresh",
    "quantile_summary_rollup",
    "incremental_join_maintenance",
    "propensity_stratified_att",
    "gini_stump_conversion",
    "ipf_margin_raking",
    "degree_assortativity",
    "ams_f2_estimate",
    "modularity_communities",
    "randomized_response_rate",
    "rake_keywords",
    "aqp_revenue_estimate",
    "holt_winters_daily",
    "croston_demand_forecast",
    "burst_detection_days",
    "wordpiece_vocab_train",
]

# Superlinear BY DESIGN, with the reason the slope is acceptable.
EXPECTED_SUPERLINEAR = {
    "lsh_recall_audit": "audit tier: runs the exact all-pairs kernel ON "
    "PURPOSE to measure banded-LSH recall; excluded from production paths",
}


def main() -> int:
    load_all()
    loadavg = [round(v, 2) for v in os.getloadavg()]
    nproc = len(os.sched_getaffinity(0))
    print(f"# loadavg={loadavg} nproc={nproc}", file=sys.stderr)

    with open(os.path.join(ROOT, "bench_pins.json")) as fh:
        bench_queries = list(json.load(fh)["queries"])
    names = list(dict.fromkeys(bench_queries + EXTRA_QUERIES))
    spark = get_spark(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()  # JVM/codegen warm-up

    times: dict[str, dict[float, float]] = {n: {} for n in names}
    for sf in sorted(SF_DIRS):
        sf_dir = SF_DIRS[sf]
        for name in names:
            t0 = time.perf_counter()
            n_rows = QUERIES[name](spark, sf_dir).count()
            dt = round(time.perf_counter() - t0, 3)
            times[name][sf] = dt
            print(f"# sf={sf} {name}: {dt:.3f}s rows={n_rows}", file=sys.stderr)

    rows = []
    flagged = []
    for name in names:
        t = times[name]
        slope_mid = round(math.log10(t[0.1] / t[0.01]), 2)
        slope_low = round(math.log10(t[0.01] / t[0.001]), 2)
        expected = name in EXPECTED_SUPERLINEAR
        flag = slope_mid > FLAG_SLOPE and not expected
        if flag:
            flagged.append(name)
        rows.append((name, t[0.001], t[0.01], t[0.1], slope_low, slope_mid,
                     "BY-DESIGN" if expected and slope_mid > FLAG_SLOPE
                     else ("FLAG" if flag else "")))

    rows.sort(key=lambda r: -r[5])
    end_load = [round(v, 2) for v in os.getloadavg()]
    with open("SCALE.md", "w") as f:
        f.write(
            "# SCALE — measured time-vs-scale-factor curves\n\n"
            "Generated by `python scripts/scale_probe.py` (one warm "
            "session, one run per (query, sf), ascending SF).\n\n"
            f"- nproc {nproc}, loadavg start {loadavg} / end {end_load}\n"
            f"- decision statistic: slope_mid = log10(t(0.1)/t(0.01)) — "
            f"linear-work queries land <= ~1.0 (fixed overhead pulls them "
            f"below); > {FLAG_SLOPE} is flagged unless the query is a "
            f"documented by-design exact audit tier\n"
            f"- slope_low = log10(t(0.01)/t(0.001)) is overhead-dominated "
            f"(sub-second jobs) and reported for context only\n\n"
            "| query | t(sf0.001) s | t(sf0.01) s | t(sf0.1) s | "
            "slope_low | slope_mid | verdict |\n"
            "|---|---|---|---|---|---|---|\n"
        )
        for r in rows:
            f.write(
                f"| {r[0]} | {r[1]:.2f} | {r[2]:.2f} | {r[3]:.2f} "
                f"| {r[4]:.2f} | {r[5]:.2f} | {r[6]} |\n"
            )
        f.write("\nBy-design superlinear tiers:\n\n")
        for k, v in EXPECTED_SUPERLINEAR.items():
            f.write(f"- `{k}`: {v}\n")
        if flagged:
            f.write(
                f"\n**FLAGGED (unexplained superlinear): {flagged}**\n"
            )
        else:
            f.write(
                "\nNo unexplained superlinear query: every production "
                "path's measured growth over the data-dominated decade is "
                "at-or-below linear.\n"
            )

    print(json.dumps({
        "metric": "scale_probe_slope_mid_max",
        "value": rows[0][5],
        "unit": "log10(t)/log10(sf)",
        "flagged": flagged,
        "loadavg": loadavg,
        "nproc": nproc,
    }))
    spark.stop()
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
