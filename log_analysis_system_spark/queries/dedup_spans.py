"""Span-level dedup and benchmark decontamination (the repeated-substring
family split out of ``dedup.py`` in round 7 — same registry entries, same
oracles, no behavior change):

- exact repeated-substring spans (anchor k-grams + diagonal run merge —
  the ExactSubstr dedup of Lee et al. 2022, "Deduplicating Training Data
  Makes Language Models Better", re-expressed as joins/windows),
- keep-first span scrubbing + per-source duplication profile,
- cross-source overlap matrix,
- cross-set (train vs eval) span mining and benchmark decontamination.

Pair-tier dedup (minhash/simhash/jaccard/containment/ppjoin) stays in
``dedup.py``; these operators work on token INTERVALS inside documents
rather than whole-document pair similarity. Reference parity note: the
reference has no span-level ops (extension surface, like the rest of the
LLM-pipeline family).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import read_table
from . import query
from .dedup import shingles

# ------------------------------------- exact repeated-substring spans

SPAN_K = 8            # anchor k-gram width (tokens); spans >= K are findable
SPAN_MIN_TOKENS = 12  # report shared spans of at least this many tokens
SPAN_DF_CAP = 32      # drop anchor grams present in more than this many docs


@query(
    "exact_substring_spans",
    oracle=f"""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (
    SELECT doc_id, i AS pos,
           md5(array_to_string(w[i:i+{SPAN_K - 1}], ' ')) AS h
    FROM (SELECT doc_id, w,
                 unnest(generate_series(1, greatest(len(w) - {SPAN_K} + 1, 0)))
                     AS i
          FROM words)
),
keep AS (SELECT h FROM g GROUP BY h
         HAVING count(DISTINCT doc_id) BETWEEN 2 AND {SPAN_DF_CAP}),
p AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.pos AS pos_a, b.pos AS pos_b
    FROM g a JOIN keep USING (h) JOIN g b USING (h)
    WHERE a.doc_id < b.doc_id
),
isl AS (
    SELECT doc_a, doc_b, pos_a, pos_b,
           pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, pos_a - pos_b
                                      ORDER BY pos_a) AS island
    FROM p
)
SELECT doc_a, doc_b,
       CAST(min(pos_a) AS BIGINT) AS start_a,
       CAST(min(pos_b) AS BIGINT) AS start_b,
       CAST(max(pos_a) - min(pos_a) + {SPAN_K} AS BIGINT) AS span_tokens
FROM isl
GROUP BY doc_a, doc_b, pos_a - pos_b, island
HAVING max(pos_a) - min(pos_a) + {SPAN_K} >= {SPAN_MIN_TOKENS}
""",
)
def q_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT cross-document repeated-substring mining — the distributed
    form of suffix-array training-data dedup (the public ExactSubstr
    method: find every substring of >= L tokens shared verbatim between
    documents). Catches the cross-doc boilerplate spans whole-doc MinHash
    misses (span is a small fraction of either doc) and fixed-window chunk
    hashing misses (alignment-sensitive): any shared span of >= SPAN_K
    tokens contains a shared anchor k-gram at EVERY offset, so matching
    anchors between a doc pair form consecutive runs on one diagonal
    (pos_a - pos_b constant), and each maximal run IS a maximal shared
    span with exact token length run_len + K - 1.

    Plan: anchor extraction is a zero-shuffle explode+slice projection;
    one hash-agg on the 32-byte gram key finds shared anchors; the
    candidate join is an equi-join on gram hash (never all-pairs) with a
    doc-frequency cap (> SPAN_DF_CAP docs => dropped, the stop-gram bound
    every LSH family here uses — spans ALL of whose anchors are hotter
    than the cap are not reported, the documented approximation at scale);
    run-merging is one window + hash-agg keyed by (doc_a, doc_b), bounded
    by true span overlap, not corpus size. Reports (doc pair, 1-based
    token starts, exact span token length) for spans >= SPAN_MIN_TOKENS."""
    docs = read_table(spark, sf_dir, "documents")
    return shared_substring_spans(
        docs, k=SPAN_K, min_tokens=SPAN_MIN_TOKENS, df_cap=SPAN_DF_CAP
    )


def shared_substring_spans(
    docs: DataFrame, k: int, min_tokens: int, df_cap: int
) -> DataFrame:
    """Operator body of exact_substring_spans (see that query's docstring
    for the algorithm and scale analysis). docs: (doc_id, text)."""
    from pyspark.sql import Window

    base = docs.select("doc_id", F.split("text", " ").alias("toks")).where(
        F.size("toks") >= k
    )
    grams = base.select(
        "doc_id",
        F.explode(F.expr(f"sequence(1, size(toks) - {k} + 1)")).alias("pos"),
        "toks",
    ).select(
        "doc_id",
        "pos",
        F.md5(F.array_join(F.expr(f"slice(toks, pos, {k})"), " ")).alias("h"),
    )
    keep = (
        grams.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("ndocs"))
        .where((F.col("ndocs") >= 2) & (F.col("ndocs") <= df_cap))
        .select("h")
    )
    kept = grams.join(keep, "h")
    ga = kept.select(
        "h", F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a")
    )
    gb = kept.select(
        "h", F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b")
    )
    pairs = (
        ga.join(gb, "h")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pos_a", "pos_b")
    )
    diag = F.col("pos_a") - F.col("pos_b")
    w = Window.partitionBy("doc_a", "doc_b", diag).orderBy("pos_a")
    isl = pairs.withColumn(
        "island", F.col("pos_a") - F.row_number().over(w)
    )
    spans = isl.groupBy("doc_a", "doc_b", diag.alias("diag"), "island").agg(
        F.min("pos_a").cast("long").alias("start_a"),
        F.min("pos_b").cast("long").alias("start_b"),
        (F.max("pos_a") - F.min("pos_a") + k).cast("long").alias(
            "span_tokens"
        ),
    )
    return spans.where(F.col("span_tokens") >= min_tokens).select(
        "doc_a", "doc_b", "start_a", "start_b", "span_tokens"
    )


# Shared CTE chain: per-doc interval-union coverage of repeated spans
# (the scrub accounting) — used by substring_span_scrub (doc grain) and
# corpus_dup_profile (source grain).
_SCRUB_CTE = f"""words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (
    SELECT doc_id, i AS pos,
           md5(array_to_string(w[i:i+{SPAN_K - 1}], ' ')) AS h
    FROM (SELECT doc_id, w,
                 unnest(generate_series(1, greatest(len(w) - {SPAN_K} + 1, 0)))
                     AS i
          FROM words)
),
keep AS (SELECT h FROM g GROUP BY h
         HAVING count(DISTINCT doc_id) BETWEEN 2 AND {SPAN_DF_CAP}),
p AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.pos AS pos_a, b.pos AS pos_b
    FROM g a JOIN keep USING (h) JOIN g b USING (h)
    WHERE a.doc_id < b.doc_id
),
isl AS (
    SELECT doc_a, doc_b, pos_a, pos_b,
           pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, pos_a - pos_b
                                      ORDER BY pos_a) AS island
    FROM p
),
spans AS (
    SELECT doc_b AS doc_id, min(pos_b) AS s,
           min(pos_b) + max(pos_a) - min(pos_a) + {SPAN_K} - 1 AS e
    FROM isl
    GROUP BY doc_a, doc_b, pos_a - pos_b, island
    HAVING max(pos_a) - min(pos_a) + {SPAN_K} >= {SPAN_MIN_TOKENS}
),
flagged AS (
    SELECT doc_id, s, e,
           max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
    FROM spans
),
merged AS (
    SELECT doc_id, min(s) AS s, max(e) AS e
    FROM (SELECT doc_id, s, e,
                 sum(CASE WHEN prev_max IS NULL OR s > prev_max
                          THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY s, e
                           ROWS UNBOUNDED PRECEDING) AS grp
          FROM flagged)
    GROUP BY doc_id, grp
),
cov AS (
    SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS covered
    FROM merged GROUP BY doc_id
)"""


def union_merge_intervals(iv: DataFrame) -> DataFrame:
    """Union-merge per-doc token intervals (doc_id, s, e) into disjoint
    maximal intervals — the running-max island windows shared by the
    scrub and decontamination accounting (a token inside two overlapping
    spans must count once). Both windows key on doc_id; interval counts
    per doc are bounded by span structure, not corpus size."""
    from pyspark.sql import Window

    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        iv.withColumn("prev_max", F.max("e").over(w_prev))
        .withColumn(
            "grp",
            F.sum(
                F.when(
                    F.col("prev_max").isNull()
                    | (F.col("s") > F.col("prev_max")),
                    1,
                ).otherwise(0)
            ).over(w_cum),
        )
        .groupBy("doc_id", "grp")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .select("doc_id", "s", "e")
    )


@query(
    "substring_span_scrub",
    oracle=f"""
WITH {_SCRUB_CTE}
SELECT w.doc_id, CAST(len(w.w) AS BIGINT) AS n_tokens,
       CAST(coalesce(c.covered, 0) AS BIGINT) AS scrubbed_tokens,
       CAST(len(w.w) - coalesce(c.covered, 0) AS BIGINT) AS retained_tokens
FROM words w LEFT JOIN cov c USING (doc_id)
""",
)
def q_substring_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ACTION on top of exact_substring_spans: scrub every
    repeated span from the LATER copy (keep-first policy — only the
    higher doc_id's side of each shared span is removed, so one canonical
    copy of the boilerplate always survives), reporting per doc the token
    count, the tokens scrubbed, and the tokens retained. Overlapping span
    intervals within a doc are UNION-merged first (running-max island
    windows — same trick as the diagonal runs), so a token inside two
    overlapping spans is counted once.

    Scale: adds one doc_b-keyed window + hash-agg on top of the span
    miner's plan — interval counts per doc are bounded by span structure,
    not corpus size; the corpus text itself is never shuffled (only
    (doc_id, start, end) triples move)."""
    docs = read_table(spark, sf_dir, "documents")
    spans = shared_substring_spans(
        docs, k=SPAN_K, min_tokens=SPAN_MIN_TOKENS, df_cap=SPAN_DF_CAP
    )
    iv = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("span_tokens") - 1).alias("e"),
    )
    cov = union_merge_intervals(iv).groupBy("doc_id").agg(
        F.sum(F.col("e") - F.col("s") + 1).alias("covered")
    )
    n_tok = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    return n_tok.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("covered"), F.lit(0)).cast("long").alias(
            "scrubbed_tokens"
        ),
        (F.col("n_tokens") - F.coalesce(F.col("covered"), F.lit(0)))
        .cast("long")
        .alias("retained_tokens"),
    )


@query(
    "source_overlap_matrix",
    oracle="""
WITH words AS (SELECT source, string_split(text, ' ') AS w FROM documents),
s AS (
    SELECT DISTINCT source,
           CASE WHEN len(w) >= 3 THEN w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                ELSE array_to_string(w, ' ') END AS shingle
    FROM (SELECT source, w,
                 unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
          FROM words)
),
sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sh FROM s GROUP BY 1),
inter AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS inter_n
    FROM s a JOIN s b ON a.shingle = b.shingle AND a.source < b.source
    GROUP BY 1, 2
)
SELECT i.source_a, i.source_b, i.inter_n,
       sa.n_sh AS n_a, sb.n_sh AS n_b,
       round(i.inter_n / CAST(sa.n_sh + sb.n_sh - i.inter_n AS DOUBLE), 6)
           AS jaccard
FROM inter i
JOIN sizes sa ON sa.source = i.source_a
JOIN sizes sb ON sb.source = i.source_b
""",
)
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE contamination matrix: pairwise Jaccard overlap of each
    source's distinct 3-word shingle set — the curation dashboard that
    tells you which corpus sources are copying from each other (or from a
    shared upstream) BEFORE doc-level dedup decides what to drop. Doc-level
    rows (dedup_*) answer "which documents collide"; this answers "which
    SOURCES systematically collide", which drives mixture weights and
    crawl-exclusion decisions.

    Scale: the per-source shingle set is one distinct-projection; the
    pairwise join is an equi-join on the shingle (never all-pairs across
    docs), and each shingle contributes at most |sources|^2 pair rows —
    bounded by the source count (tens), not the corpus. One hash-agg per
    pair cell; |sources|^2 output rows."""
    docs = read_table(spark, sf_dir, "documents")
    s = (
        shingles(docs.select(F.col("source").alias("doc_id"), "text"))
        .withColumnRenamed("doc_id", "source")
        .distinct()
    )
    sizes = s.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    a = s.select(F.col("source").alias("source_a"), "shingle")
    b = s.select(F.col("source").alias("source_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("inter_n"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n_sh").alias("n_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n_sh").alias("n_b")
    )
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "inter_n",
            "n_a",
            "n_b",
            F.round(
                F.col("inter_n")
                / (F.col("n_a") + F.col("n_b") - F.col("inter_n")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "corpus_dup_profile",
    oracle=f"""
WITH {_SCRUB_CTE},
per_doc AS (
    SELECT w.doc_id, CAST(len(w.w) AS BIGINT) AS n_tokens,
           CAST(coalesce(c.covered, 0) AS BIGINT) AS scrubbed
    FROM words w LEFT JOIN cov c USING (doc_id)
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(p.n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(p.scrubbed) AS BIGINT) AS dup_tokens,
       CAST(sum(p.scrubbed) * 1000000 // sum(p.n_tokens) AS BIGINT)
           AS dup_ppm
FROM per_doc p JOIN documents d USING (doc_id)
GROUP BY d.source
""",
)
def q_corpus_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-grain duplication health report: per source, how many tokens
    sit inside cross-document repeated spans (keep-first accounting from
    `substring_span_scrub`) — the number a curation dashboard tracks over
    time, and the input to down-weighting duplicate-heavy sources in
    `source_mixture_weights`. dup_ppm is exact integer arithmetic.

    Scale: one source-keyed hash-agg on top of the scrub plan; output is
    |sources| rows."""
    docs = read_table(spark, sf_dir, "documents")
    per_doc = q_substring_span_scrub(spark, sf_dir).select(
        "doc_id", "n_tokens", F.col("scrubbed_tokens").alias("scrubbed")
    )
    return (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("scrubbed").alias("dup_tokens"),
            F.expr(
                "CAST(sum(scrubbed) * 1000000 div sum(n_tokens) AS BIGINT)"
            ).alias("dup_ppm"),
        )
    )


# ----------------------------------- benchmark decontamination (span level)

# Train-side per-anchor document cap for cross-set span mining. Unlike the
# self-dedup SPAN_DF_CAP (where hot grams are boilerplate NOISE to drop),
# decontamination's most important spans are exactly the most-replicated
# ones, so no eval-side cap exists and the train-side cap is set high: it
# only bounds the per-anchor join fan-out (|eval docs with g| x cap) and a
# production run raises it, never the shape.
DECON_TRAIN_DF_CAP = 1000
# cross_substring_spans' volume argument assumes the eval slice is a small
# benchmark, not a second corpus: the eval side is deliberately UNCAPPED
# (leaked passages must be reported, never dropped), so an "eval = half the
# corpus" caller would get quadratic pair volume silently. Guard at 20% —
# well above any real benchmark fraction (test data sits at 10%) — and make
# misuse loud instead of slow; pass max_eval_frac=None to override.
DECON_MAX_EVAL_FRAC = 0.2


def _eval_in_sql() -> str:
    from .training_prep import EVAL_SOURCES

    if not EVAL_SOURCES:
        raise ValueError("EVAL_SOURCES must be non-empty")
    quoted = ", ".join("'" + s.replace("'", "''") + "'" for s in EVAL_SOURCES)
    return f"({quoted})"


def cross_substring_spans(
    docs: DataFrame,
    is_eval: Column,
    k: int = SPAN_K,
    min_tokens: int = SPAN_MIN_TOKENS,
    train_df_cap: int = DECON_TRAIN_DF_CAP,
    max_eval_frac: float | None = DECON_MAX_EVAL_FRAC,
) -> DataFrame:
    """Verbatim token spans of >= ``min_tokens`` shared between a TRAIN
    document and an EVAL document (``is_eval`` boolean column over docs)
    — (doc_t, doc_e, start_t, start_e, span_tokens).

    Unlike piping `shared_substring_spans` through a post-filter, this
    miner never materializes train-train (or eval-eval) pairs: candidate
    anchors must appear in >= 1 eval doc AND 1..cap train docs, and the
    pair join is eval-side x train-side only — in a realistic corpus the
    eval slice is tiny, so the joined volume is bounded by the benchmark,
    not the corpus pair structure. Same anchor k-gram + diagonal
    (pos_t - pos_e) island merging as the self-dedup miner; exact span
    lengths.

    ``max_eval_frac`` enforces the "eval slice is tiny" contract the
    uncapped-eval design depends on: one bounded guard job (a 2-scalar
    count over the pruned doc_id/is_eval columns) raises if the eval
    share of the corpus exceeds the cap, instead of letting a mislabeled
    split run a silently quadratic join. None disables the guard (e.g.
    for deliberate corpus-vs-corpus overlap studies that accept the
    cost)."""
    from pyspark.sql import Window

    if max_eval_frac is not None:
        n_tot, n_ev = docs.select(
            F.count(F.lit(1)),
            F.sum(is_eval.cast("long")),
        ).first()
        if n_tot and (n_ev or 0) > max_eval_frac * n_tot:
            raise ValueError(
                f"cross_substring_spans: eval slice is {n_ev}/{n_tot} docs "
                f"({(n_ev or 0) / n_tot:.1%}) > max_eval_frac="
                f"{max_eval_frac:.0%} — the uncapped-eval miner assumes a "
                f"small benchmark slice; pass max_eval_frac=None to run a "
                f"deliberate corpus-vs-corpus overlap study anyway"
            )

    base = docs.select(
        "doc_id", is_eval.alias("is_eval"), F.split("text", " ").alias("toks")
    ).where(F.size("toks") >= k)
    grams = base.select(
        "doc_id",
        "is_eval",
        F.explode(F.expr(f"sequence(1, size(toks) - {k} + 1)")).alias("pos"),
        "toks",
    ).select(
        "doc_id",
        "is_eval",
        "pos",
        F.md5(F.array_join(F.expr(f"slice(toks, pos, {k})"), " ")).alias("h"),
    )
    stats = grams.groupBy("h").agg(
        F.countDistinct(
            F.when(F.col("is_eval"), F.col("doc_id"))
        ).alias("ev_docs"),
        F.countDistinct(
            F.when(~F.col("is_eval"), F.col("doc_id"))
        ).alias("tr_docs"),
    )
    keep = stats.where(
        (F.col("ev_docs") >= 1)
        & F.col("tr_docs").between(1, train_df_cap)
    ).select("h")
    kept = grams.join(keep, "h")
    gt = kept.where(~F.col("is_eval")).select(
        "h", F.col("doc_id").alias("doc_t"), F.col("pos").alias("pos_t")
    )
    ge = kept.where(F.col("is_eval")).select(
        "h", F.col("doc_id").alias("doc_e"), F.col("pos").alias("pos_e")
    )
    pairs = gt.join(ge, "h").select("doc_t", "doc_e", "pos_t", "pos_e")
    diag = F.col("pos_t") - F.col("pos_e")
    w = Window.partitionBy("doc_t", "doc_e", diag).orderBy("pos_t")
    isl = pairs.withColumn("island", F.col("pos_t") - F.row_number().over(w))
    spans = isl.groupBy("doc_t", "doc_e", diag.alias("diag"), "island").agg(
        F.min("pos_t").cast("long").alias("start_t"),
        F.min("pos_e").cast("long").alias("start_e"),
        (F.max("pos_t") - F.min("pos_t") + k).cast("long").alias(
            "span_tokens"
        ),
    )
    return spans.where(F.col("span_tokens") >= min_tokens).select(
        "doc_t", "doc_e", "start_t", "start_e", "span_tokens"
    )


def contamination_intervals(docs: DataFrame, is_eval: Column) -> DataFrame:
    """The scrub cut-list: per TRAIN doc, the disjoint union-merged token
    intervals (doc_id, s, e) shared verbatim with the eval slice — what a
    surgical scrubber actually consumes (`decontaminate_spans` is the
    per-doc accounting view over this)."""
    spans = cross_substring_spans(docs, is_eval)
    return union_merge_intervals(
        spans.select(
            F.col("doc_t").alias("doc_id"),
            F.col("start_t").alias("s"),
            (F.col("start_t") + F.col("span_tokens") - 1).alias("e"),
        )
    )


def _decon_merged_cte() -> str:
    """Shared DuckDB CTE chain of the decontamination family — documents
    through the cross-set miner to ``merged`` (the per-train-doc disjoint
    contamination intervals). Both the accounting oracle
    (`decontaminate_spans`) and the scrub-emission oracle
    (`decontaminate_scrub`) build on this, mirroring how both Spark
    queries share `contamination_intervals`. Composed with
    training_prep.EVAL_SOURCES (imported later), so callers are
    callables resolved by load_all."""
    return f"""d AS (
    SELECT doc_id, source, string_split(text, ' ') AS w,
           source IN {_eval_in_sql()} AS is_eval
    FROM documents
),
g AS (
    SELECT doc_id, is_eval, i AS pos,
           md5(array_to_string(w[i:i+{SPAN_K - 1}], ' ')) AS h
    FROM (SELECT doc_id, is_eval, w,
                 unnest(generate_series(1, greatest(len(w) - {SPAN_K} + 1, 0)))
                     AS i
          FROM d)
),
keep AS (
    SELECT h FROM g GROUP BY h
    HAVING count(DISTINCT CASE WHEN is_eval THEN doc_id END) >= 1
       AND count(DISTINCT CASE WHEN NOT is_eval THEN doc_id END)
           BETWEEN 1 AND {DECON_TRAIN_DF_CAP}
),
p AS (
    SELECT t.doc_id AS doc_t, e.doc_id AS doc_e,
           t.pos AS pos_t, e.pos AS pos_e
    FROM g t JOIN keep USING (h) JOIN g e USING (h)
    WHERE NOT t.is_eval AND e.is_eval
),
isl AS (
    SELECT doc_t, doc_e, pos_t, pos_e,
           pos_t - row_number() OVER (PARTITION BY doc_t, doc_e, pos_t - pos_e
                                      ORDER BY pos_t) AS island
    FROM p
),
cspans AS (
    SELECT doc_t AS doc_id, min(pos_t) AS s,
           max(pos_t) + {SPAN_K} - 1 AS e
    FROM isl
    GROUP BY doc_t, doc_e, pos_t - pos_e, island
    HAVING max(pos_t) - min(pos_t) + {SPAN_K} >= {SPAN_MIN_TOKENS}
),
flagged AS (
    SELECT doc_id, s, e,
           max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
    FROM cspans
),
merged AS (
    SELECT doc_id, min(s) AS s, max(e) AS e
    FROM (SELECT doc_id, s, e,
                 sum(CASE WHEN prev_max IS NULL OR s > prev_max
                          THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY s, e
                           ROWS UNBOUNDED PRECEDING) AS grp
          FROM flagged)
    GROUP BY doc_id, grp
)"""


def _decon_spans_oracle() -> str:
    return f"""
WITH {_decon_merged_cte()},
per_doc AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(e - s + 1) AS BIGINT) AS cont
    FROM merged GROUP BY doc_id
)
SELECT d.doc_id, d.source, CAST(len(d.w) AS BIGINT) AS n_tokens,
       CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(p.cont, 0) AS BIGINT) AS contaminated_tokens,
       CAST(coalesce(p.cont, 0) * 1000000 // len(d.w) AS BIGINT)
           AS contaminated_ppm
FROM d LEFT JOIN per_doc p USING (doc_id)
WHERE NOT d.is_eval
"""


@query("decontaminate_spans", oracle=_decon_spans_oracle)
def q_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-level benchmark decontamination (the ExactSubstr method
    applied ACROSS corpora): for EVERY training document — clean docs
    included, with zeros — the number and total tokens of verbatim spans
    shared with the eval slice (training_prep.EVAL_SOURCES), after
    per-doc interval union. Stronger than `decontaminate_ngram` (which
    flags whole docs on one shared n-gram): this measures HOW MUCH of
    each doc is benchmark text; `contamination_intervals` exposes the
    exact (doc_id, s, e) cut-list a scrubber consumes.

    Mining is the dedicated cross-set miner (`cross_substring_spans`):
    no train-train pairs are ever materialized, anchors need >= 1 eval
    occurrence, and — unlike the self-dedup tier, where hot grams are
    droppable boilerplate — there is NO eval-side cap, so the most
    heavily leaked benchmark passages are reported, not silently skipped
    (the train-side cap only bounds join fan-out and is set far above
    any test-scale df). Eval docs are never touched."""
    from .training_prep import EVAL_SOURCES

    docs = read_table(spark, sf_dir, "documents")
    is_eval = F.col("source").isin(*EVAL_SOURCES)
    merged = contamination_intervals(docs, is_eval)
    per_doc = merged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("cont"),
    )
    train_meta = docs.where(~is_eval).select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    return train_meta.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "source",
        "n_tokens",
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce(F.col("cont"), F.lit(0)).cast("long").alias(
            "contaminated_tokens"
        ),
        F.expr(
            "CAST(coalesce(cont, 0) * 1000000 div n_tokens AS BIGINT)"
        ).alias("contaminated_ppm"),
    )


def _decon_scrub_oracle() -> str:
    return f"""
WITH {_decon_merged_cte()},
pos AS (
    SELECT doc_id, source, w,
           unnest(generate_series(1, len(w))) AS i
    FROM d WHERE NOT is_eval
),
cut AS (
    SELECT DISTINCT p.doc_id, p.i
    FROM pos p JOIN merged m
      ON m.doc_id = p.doc_id AND p.i BETWEEN m.s AND m.e
)
SELECT p.doc_id, any_value(p.source) AS source,
       CAST(any_value(len(p.w)) AS BIGINT) AS n_tokens,
       CAST(count(*) FILTER (WHERE c.i IS NULL) AS BIGINT) AS kept_tokens,
       CAST(count(*) FILTER (WHERE c.i IS NOT NULL) AS BIGINT) AS cut_tokens,
       coalesce(string_agg(CASE WHEN c.i IS NULL THEN p.w[p.i] END,
                           ' ' ORDER BY p.i), '') AS scrubbed_text
FROM pos p LEFT JOIN cut c ON c.doc_id = p.doc_id AND c.i = p.i
GROUP BY p.doc_id
"""


@query("decontaminate_scrub", oracle=_decon_scrub_oracle)
def q_decontaminate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination ACTION — the last step of the pipeline a user
    actually runs: emit the SCRUBBED training corpus, with every token
    interval that `contamination_intervals` flagged as verbatim benchmark
    text excised. Per train doc: original and kept/cut token counts plus
    the scrubbed text itself (clean docs pass through byte-identical;
    fully-contaminated docs come out empty, not dropped — downstream
    filters decide on the counts). Eval docs are never emitted or
    modified. Completes the family: `decontaminate_spans` is the
    accounting view, this is the emission; both consume the same
    cut-list, and the cross-set protocol mirrors what
    `substring_span_scrub` does for self-duplication.

    Scale: the cut-list is the span miner's output union-merged per doc
    (`union_merge_intervals`, shared with `substring_span_scrub`) and is
    interval-count bounded by span structure, not corpus size. The corpus
    text itself is touched exactly once: intervals are collect_list-ed
    per doc (bounded per-row array) and the excision is a single codegen
    `filter()` over the token array with an `exists()` interval probe —
    no token-level explode, no token-level shuffle; the only exchanges
    move (doc_id, s, e) triples and the final doc-keyed join."""
    from .training_prep import EVAL_SOURCES

    docs = read_table(spark, sf_dir, "documents")
    is_eval = F.col("source").isin(*EVAL_SOURCES)
    ivs = (
        contamination_intervals(docs, is_eval)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("s", "e"))).alias("ivs"))
    )
    train = docs.where(~is_eval).select(
        "doc_id", "source", F.split("text", " ").alias("toks")
    )
    joined = train.join(ivs, "doc_id", "left").withColumn(
        "ivs",
        F.coalesce(
            "ivs", F.expr("CAST(array() AS array<struct<s:long,e:long>>)")
        ),
    )
    kept = F.expr(
        "filter(toks, (t, i) -> "
        "NOT exists(ivs, iv -> i + 1 BETWEEN iv.s AND iv.e))"
    )
    return joined.select(
        "doc_id",
        "source",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("kept_tokens"),
        (F.size("toks") - F.size(kept)).cast("long").alias("cut_tokens"),
        F.array_join(kept, " ").alias("scrubbed_text"),
    )


def _decon_source_oracle() -> str:
    return f"""
WITH {_decon_merged_cte()},
per_doc AS (
    SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS cont
    FROM merged GROUP BY doc_id
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE coalesce(p.cont, 0) > 0) AS BIGINT)
           AS contaminated_docs,
       CAST(sum(len(d.w)) AS BIGINT) AS n_tokens,
       CAST(sum(coalesce(p.cont, 0)) AS BIGINT) AS contaminated_tokens,
       CAST(sum(coalesce(p.cont, 0)) * 1000000 // sum(len(d.w)) AS BIGINT)
           AS contaminated_ppm
FROM d LEFT JOIN per_doc p USING (doc_id)
WHERE NOT d.is_eval
GROUP BY d.source
"""


@query("contamination_by_source", oracle=_decon_source_oracle)
def q_contamination_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE benchmark-contamination rollup — the dashboard number
    that decides which sources need crawl-exclusion or re-scraping
    (the cross-set sibling of `corpus_dup_profile`'s self-dup profile):
    per training source, doc and token volume, how many docs carry any
    verbatim eval span, and the contaminated token share in integer ppm.
    Pure rollup over the `decontaminate_spans` per-doc accounting — one
    extra |sources|-row hash-agg on the same plan."""
    per_doc = q_decontaminate_spans(spark, sf_dir)
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("contaminated_tokens") > 0).cast("long")).alias(
            "contaminated_docs"
        ),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("contaminated_tokens").alias("contaminated_tokens"),
        F.expr(
            "CAST(sum(contaminated_tokens) * 1000000 div sum(n_tokens) "
            "AS BIGINT)"
        ).alias("contaminated_ppm"),
    )


