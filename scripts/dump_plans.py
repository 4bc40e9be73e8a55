"""Dump physical plans of registry queries. Run from the repo root:

    python scripts/dump_plans.py                      # regenerate PLANS.md
    python scripts/dump_plans.py <out_dir> <query>... # explain("formatted")

With no arguments it rewrites PLANS.md: the executed plans of the headline
queries with their scale-critical properties called out. With arguments it
writes each named query's formatted plan to ``<out_dir>/<query>.txt`` —
run it in two checkouts and diff the directories to compare plans.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, ".")

from log_analysis_system_spark.queries import QUERIES, load_all
from log_analysis_system_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"

# query -> the property the plan must exhibit (mirrors tests/test_plans.py)
SHOWCASE = {
    "session_agg": "one user-keyed exchange serves both sessionize windows "
    "AND the per-session aggregate (grouping keys are user-prefixed)",
    "pricing_summary": "filter pushed to the parquet scan (PushedFilters), "
    "pruned ReadSchema, two-phase partial_sum aggregation",
    "area_top3": "every dimension join is BroadcastHashJoin — no sort-merge "
    "anywhere in the snowflake",
    "top10_category": "global top-k compiles to TakeOrderedAndProject "
    "(per-partition heap + merge), never a full Sort",
    "dedup_minhash_lsh": "signatures are a zero-shuffle projection; banded "
    "candidates join on (band, sig) equi-keys",
    "stratified_sample": "per-stratum top-k: a WindowGroupLimit Partial below "
    "the stratum exchange ships at most 100 rows per stratum per map task",
    "robust_outlier_events": "per-type med/MAD broadcast back onto the raw "
    "scan; the fact side is never reshuffled",
    "session_path_topk": "one sort window feeds both leads; LIMIT is a "
    "TakeOrderedAndProject heap",
    "dq_profile_lineitem": "N-column profile in ONE Expand-based aggregate "
    "over a pruned scan — exactly one FileScan",
    "hourly_anomalies": "stats aggregated over the rollup, broadcast back; "
    "raw scan touched once, flags in pure integer arithmetic",
    "semantic_clusters": "k-means assignment = broadcast centroid "
    "crossJoin + per-vector argmax window; the corpus is never reshuffled",
    "semantic_dedup_keep": "pair search shuffles on cluster_id only — the "
    "quadratic term is bounded by the largest cluster, not the corpus",
    "bm25_rank": "per-doc tf is an array filter inside the scan projection "
    "(no explode); corpus stats are one scalar aggregate broadcast back — "
    "one exchange total plus the top-10 heap",
    "ts_similarity_topk": "profiles + sufficient statistics build in one "
    "per-user aggregate; the bounded query set broadcasts against the "
    "corpus, so no pairwise shuffle exists",
    "hybrid_rrf_topk": "both ranker pools are bounded per query; the "
    "fusion join sees only slim (query, neighbor, rank) rows",
    # round-4 flagships
    "multimodal_decode": "payload build + REAL codec decode is one "
    "shuffle-free Arrow projection over a 2-column pruned scan",
    "exact_substring_spans": "anchors join on the gram hash (never "
    "all-pairs); diagonal runs merge in one (doc_a, doc_b)-keyed window",
    "bigram_lm_perplexity": "zero-shuffle transform+explode bigram "
    "extraction; LM tables broadcast back — no SortMergeJoin",
    "bpe_tokenize": "trained vocab broadcasts as a word->syms map; the "
    "corpus is never re-segmented",
    "holt_forecast_revenue": "reduce-first recursion: orders aggregate to "
    "months before the recursive CTE touches anything",
    "source_embedding_separation": "dim x corpus flatten map-side combines "
    "to dim x sources; the centroid pair join broadcasts",
    # round-5 flagships
    "score_correlation": "both global ranks run through global_rank "
    "(range-partition + O(parallelism) offset broadcast) — zero "
    "order-only Window nodes; gate now covers the whole registry",
    "dedup_containment_capped": "candidates come only from df_cap'd rare "
    "shingles (hot stop-grams never enter the self-join); survivors "
    "re-score exactly via array_intersect",
    "unigram_lm_vocab": "the whole Viterbi dp is ONE codegen aggregate() "
    "fold per word (nested argmin via least() on structs) — zero "
    "shuffles for the E-step beyond the per-word candidate collect",
    "zorder_skipping_stats": "one events scan feeds both layout models; "
    "file stats are bounded (<= 256-row) hash-aggs; probes broadcast",
    # late round-6 flagships
    "label_propagation_communities": "each LPA round is vote-count + "
    "integer-argmax hash-aggs (map-side combinable); lineage truncated "
    "per round, final rollup one exchange over checkpointed labels",
    "forecast_backtest_mase": "the fact table collapses to the per-DAY "
    "series in one hash-agg before any order-only window runs "
    "(calendar-bounded frame, allowlist-justified)",
    "dedup_simhash_neardup": "32-bit fingerprints in one hash-agg; banded "
    "Hamming self-join is equi-keyed on (band_idx, band_val) — threshold "
    "< bands makes the banding provably lossless",
    "pareto_price_size_frontier": "reduce-first skyline: one hash-agg to "
    "the bounded per-size table + one prefix-min window — never the "
    "O(n^2) dominance join",
    "hll_precision_curve": "all four lgK sketches + the exact count build "
    "in ONE hash-agg pass (map-side combinable partials)",
    # round-7 flagships
    "mmr_diversified_topk": "pool, pairwise pool similarity, and every "
    "greedy round state are RESULT-sized (pool = top-C per query); the "
    "corpus is touched once by the candidate scan; all joins equi-keyed",
    "point_in_time_features": "strictly-before window frames over the "
    "(customer, day) rollup + a densified day-minus-one equi-join — "
    "leak-freedom is structural, and no inequality as-of join exists",
    # round-7 second-wave flagships
    "discriminator_auc": "scores histogram to one row per distinct value "
    "before ranking; the negatives-below prefix runs through "
    "grouped_prefix_sum — never all-pairs, zero order-only windows",
    "rolling_distinct_users": "the non-decomposable sliding distinct is a "
    "plain COUNT over disjoint per-user coverage intervals joined against "
    "the broadcast bounded hour table — no window-sized state",
    "kcore_trade_graph": "each peel round is one degree hash-agg + two "
    "semi-joins on the shrinking edge list; early-exits on the edge-count "
    "fixpoint (bounded scalar)",
    "cuped_adjusted_lift": "one user-keyed hash-agg; the pooled "
    "6-scalar moment aggregate broadcasts back as a 1-row cross join — "
    "nothing data-sized moves after the fact scan",
    # round-8 flagships
    "survival_churn_hazard": "custkey-partitioned lead collapses to the "
    "duration histogram; risk sets and cumulative hazard are prefix sums "
    "over O(distinct gap lengths) — the fact table never re-shuffles",
    "bootstrap_revenue_ci": "all 40 Poisson replicas in one map-side-"
    "combinable aggregate (shuffle carries 40 partial sums per task); "
    "the CI sorts the 40-row replica list inside an aggregate — no "
    "window, no resampled data movement",
    "sorted_neighborhood_dedup": "block-partitioned sort windows (no "
    "global sort), O(n*w) candidates, exact shingle verify joins the "
    "slim candidate list — candidate volume independent of similarity "
    "structure",
    "winsorized_price_stats": "exact p05/p95 order statistics from the "
    "per-(group, cent-value) histogram — group-partitioned windows over "
    "bounded value domains, never a per-row sort",
    # round-8 second-wave flagships
    "link_prediction_scores": "the quadratic pair term keys on the SHARED "
    "customer with hub degrees capped before the self-join; the capped "
    "bipartite table materializes once and feeds all four consumers",
    "isotonic_calibration": "PAV via the minimax identity: the corpus "
    "reduces to <=101 length buckets in one hash-agg; the O(B^3) minimax "
    "runs entirely on broadcast joins of that bounded table",
    "compaction_plan": "planner input is file METADATA (one row per file); "
    "the running sum goes through grouped_prefix_sum — no single-task "
    "global window — and day-order bins preserve min-max pruning",
    "join_cardinality_estimate": "both join sides reduce to fixed 4x4096 "
    "CMS counter tables in map-side-combinable aggregates; the estimate "
    "joins two KB-sized sketches — the join size question answered "
    "without the join",
    "source_influence_jackknife": "one pass to per-source sufficient "
    "statistics; every leave-one-out refit is O(1) arithmetic on "
    "(global - source) tuples — |sources| refits, zero re-scans",
}

HEADER = """\
# PLANS — executed physical plans of the headline queries

Regenerated by `scripts/dump_plans.py` (sf0.01 inputs; plan SHAPE is
scale-invariant — AQE may re-pick join strategies by size at runtime, which
is the point). Each section states the property that makes the plan viable
at 100 TB; `tests/test_plans.py` (and the per-family plan gates in other
test files) assert these properties structurally, so a regressing refactor
fails CI before any benchmark notices.
"""


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def dump_formatted(spark, out_dir: str, names: list[str]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        spark.catalog.clearCache()
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(formatted_plan(QUERIES[name](spark, SF_DIR)))
        print(f"wrote {path}")


def write_plans_md(spark) -> None:
    out = [HEADER]
    for name, prop in SHOWCASE.items():
        plan = (
            QUERIES[name](spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        out.append(f"\n## {name}\n\n**Scale property:** {prop}\n")
        out.append("```\n" + plan.strip() + "\n```\n")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


def main() -> None:
    if len(sys.argv) == 2:
        sys.exit(__doc__)
    load_all()
    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    if len(sys.argv) > 2:
        dump_formatted(spark, sys.argv[1], sys.argv[2:])
    else:
        write_plans_md(spark)
    spark.stop()


if __name__ == "__main__":
    main()
