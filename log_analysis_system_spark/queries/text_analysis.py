"""Text-analysis operators over ``documents`` — training-data pipeline
extension (language ID, quality scoring, token counting, fingerprinting).

All four run as pure built-in column expressions (split / explode / filter /
conditional aggregation) — zero Python UDFs, so the scan + analysis stays in
whole-stage codegen and scales linearly with corpus size. Ratios divide exact
integer counts, so Spark and the DuckDB oracle produce identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.topn import grouped_topn
from ..sources.catalog import read_table
from . import query

# English function words for the n-gram/stopword language heuristic.
_EN_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "that", "it", "for")
_STOP_LIST_SQL = "[" + ", ".join(f"'{w}'" for w in _EN_STOPWORDS) + "]"
_STOP_IN_SQL = "(" + ", ".join(f"'{w}'" for w in _EN_STOPWORDS) + ")"


@query(
    "token_count",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_measured,
       CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_nonspace_chars
FROM documents
""",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + char counts per document (the BPE-ish
    regex variant is `F.split(text, '[^a-z0-9]+')` — same operator shape)."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
        F.length(F.regexp_replace("text", " ", "")).cast("long").alias(
            "n_nonspace_chars"
        ),
    )


@query(
    "lang_id",
    oracle=f"""
WITH scored AS (
    SELECT doc_id, lang,
           CAST(len(list_filter(string_split(text, ' '),
                                w -> w IN {_STOP_IN_SQL})) AS BIGINT) AS stop_hits,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
)
SELECT doc_id, lang,
       round(stop_hits / n_tokens, 4) AS stop_ratio,
       CASE WHEN stop_hits / n_tokens >= 0.03 THEN 'en' ELSE 'other' END
           AS predicted_lang
FROM scored
""",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via stopword-hit ratio (n-gram heuristic family). Array
    `filter` keeps the whole computation vectorized in codegen."""
    docs = read_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    stop_hits = F.size(
        F.filter(words, lambda w: w.isin(*_EN_STOPWORDS))
    ).cast("long")
    n_tokens = F.size(words).cast("long")
    ratio = stop_hits / n_tokens
    return docs.select(
        "doc_id",
        "lang",
        F.round(ratio, 4).alias("stop_ratio"),
        F.when(ratio >= 0.03, "en").otherwise("other").alias("predicted_lang"),
    )


@query(
    "quality_score",
    oracle=f"""
WITH feat AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_alpha,
           CAST(len(list_filter(string_split(text, ' '),
                                w -> w IN {_STOP_IN_SQL})) AS BIGINT) AS stop_hits
    FROM documents
)
SELECT doc_id, n_tokens,
       round(n_alpha / n_tokens, 4) AS avg_token_len,
       round(stop_hits / n_tokens, 4) AS stop_ratio,
       round(least(n_tokens, 200) / 200.0 * 0.5
             + CASE WHEN n_alpha / n_tokens BETWEEN 3 AND 8 THEN 0.3 ELSE 0 END
             + CASE WHEN stop_hits > 0 THEN 0.2 ELSE 0 END, 4) AS quality
FROM feat
""",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring from length / token-shape / stopword features
    (the C4-style heuristic family): 0.5 * capped length + 0.3 * plausible
    avg token length + 0.2 * has-function-words."""
    docs = read_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_tokens = F.size(words).cast("long")
    n_alpha = F.length(F.regexp_replace("text", " ", "")).cast("long")
    stop_hits = F.size(
        F.filter(words, lambda w: w.isin(*_EN_STOPWORDS))
    ).cast("long")
    avg_len = n_alpha / n_tokens
    quality = (
        F.least(n_tokens, F.lit(200)) / 200.0 * 0.5
        + F.when(avg_len.between(3, 8), 0.3).otherwise(0.0)
        + F.when(stop_hits > 0, 0.2).otherwise(0.0)
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(avg_len, 4).alias("avg_token_len"),
        F.round(stop_hits / n_tokens, 4).alias("stop_ratio"),
        F.round(quality, 4).alias("quality"),
    )


# Gopher rule constants (Rae et al. 2021, table A1 — public method),
# token-level adaptation for a lines-free schema. All thresholds compare
# as exact integer cross-products (no ratios materialized).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3       # mean word chars in [3, 10]
GOPHER_MAX_MEAN_LEN = 10
GOPHER_SYMBOL_MAX_PPM = 100_000   # words containing '#'/'...' <= 10%
GOPHER_ALPHA_MIN_PPM = 800_000    # words containing a letter >= 80%
GOPHER_MIN_STOP_HITS = 2          # >= 2 distinct function words


@query(
    "gopher_quality_rules",
    oracle=f"""
WITH w AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
feat AS (
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           CAST(length(array_to_string(toks, '')) AS BIGINT) AS n_chars,
           CAST(len(list_filter(toks,
                    t -> contains(t, '#') OR contains(t, '...')))
                AS BIGINT) AS n_symbol,
           CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
                AS BIGINT) AS n_alpha_words,
           CAST(len(list_distinct(list_filter(toks,
                    t -> t IN {_STOP_IN_SQL}))) AS BIGINT) AS n_stop_distinct
    FROM w
)
SELECT doc_id, n_words,
       CAST(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
            AS BOOLEAN) AS rule_word_count,
       CAST(n_chars >= {GOPHER_MIN_MEAN_LEN} * n_words
            AND n_chars <= {GOPHER_MAX_MEAN_LEN} * n_words
            AS BOOLEAN) AS rule_mean_word_len,
       CAST(n_symbol * 1000000 <= {GOPHER_SYMBOL_MAX_PPM} * n_words
            AS BOOLEAN) AS rule_symbol_ratio,
       CAST(n_alpha_words * 1000000 >= {GOPHER_ALPHA_MIN_PPM} * n_words
            AS BOOLEAN) AS rule_alpha_words,
       CAST(n_stop_distinct >= {GOPHER_MIN_STOP_HITS} AS BOOLEAN)
           AS rule_stopwords,
       CAST(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
            AND n_chars >= {GOPHER_MIN_MEAN_LEN} * n_words
            AND n_chars <= {GOPHER_MAX_MEAN_LEN} * n_words
            AND n_symbol * 1000000 <= {GOPHER_SYMBOL_MAX_PPM} * n_words
            AND n_alpha_words * 1000000 >= {GOPHER_ALPHA_MIN_PPM} * n_words
            AND n_stop_distinct >= {GOPHER_MIN_STOP_HITS}
            AS BOOLEAN) AS pass
FROM feat
""",
)
def q_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality screen (Rae et al. 2021 — public),
    emitting PER-RULE verdicts rather than a blended score (the
    complement of `quality_score`: a curation dashboard needs to know
    WHICH rule kills a doc, because each rule has a different fix —
    word-count failures are chunking artifacts, symbol-ratio failures
    are markup, stopword failures are non-prose). Rules, adapted
    token-level for a lines-free schema: word count in
    [{GOPHER_MIN_WORDS}, {GOPHER_MAX_WORDS}]; mean word length in
    [{GOPHER_MIN_MEAN_LEN}, {GOPHER_MAX_MEAN_LEN}] chars; words carrying
    '#'/'...' <= 10%; words containing a letter >= 80%; >= 2 distinct
    function words. Every threshold compares integer cross-products
    (``n * 1e6 <= ppm * total``) — no ratio is ever materialized, so
    verdicts are bit-deterministic.

    Scale: one zero-shuffle projection per doc (array higher-order
    functions over the token split) — no explode, no shuffle at all
    except the parquet scan; the cheapest possible full-corpus screen
    and the natural FIRST stage before any LM- or embedding-based
    filter."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    feat = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.length(F.array_join(toks, "")).cast("long").alias("n_chars"),
        F.size(
            F.filter(
                toks,
                lambda t: t.contains("#") | t.contains("..."),
            )
        ).cast("long").alias("n_symbol"),
        F.size(
            F.filter(toks, lambda t: t.rlike("[A-Za-z]"))
        ).cast("long").alias("n_alpha_words"),
        F.size(
            F.array_distinct(F.filter(toks, lambda t: t.isin(*_EN_STOPWORDS)))
        ).cast("long").alias("n_stop_distinct"),
    )
    r_wc = F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    r_len = (
        F.col("n_chars") >= GOPHER_MIN_MEAN_LEN * F.col("n_words")
    ) & (F.col("n_chars") <= GOPHER_MAX_MEAN_LEN * F.col("n_words"))
    r_sym = (
        F.col("n_symbol") * 1_000_000
        <= GOPHER_SYMBOL_MAX_PPM * F.col("n_words")
    )
    r_alpha = (
        F.col("n_alpha_words") * 1_000_000
        >= GOPHER_ALPHA_MIN_PPM * F.col("n_words")
    )
    r_stop = F.col("n_stop_distinct") >= GOPHER_MIN_STOP_HITS
    return feat.select(
        "doc_id",
        "n_words",
        r_wc.alias("rule_word_count"),
        r_len.alias("rule_mean_word_len"),
        r_sym.alias("rule_symbol_ratio"),
        r_alpha.alias("rule_alpha_words"),
        r_stop.alias("rule_stopwords"),
        (r_wc & r_len & r_sym & r_alpha & r_stop).alias("pass"),
    )


@query(
    "doc_fingerprint",
    oracle="""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
    SELECT DISTINCT doc_id,
           CASE WHEN len(w) >= 3 THEN w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                ELSE array_to_string(w, ' ') END AS shingle
    FROM (SELECT doc_id, w,
                 unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
          FROM words)
),
hashed AS (SELECT doc_id, md5(shingle) AS h FROM sh),
ranked AS (
    SELECT doc_id, h,
           row_number() OVER (PARTITION BY doc_id ORDER BY h) AS r
    FROM hashed
)
SELECT doc_id, string_agg(h, ',' ORDER BY h) AS fingerprint
FROM ranked WHERE r <= 4 GROUP BY doc_id
""",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: bottom-4 sketch of rolling (3-word shingle)
    hashes — a winnowing-style content signature. Equal fingerprints =>
    near-identical documents; the sketch is fixed-size regardless of doc
    length, so the dedup join at 100 TB carries 4 hashes per doc."""
    from .dedup import shingles

    docs = read_table(spark, sf_dir, "documents")
    sh = shingles(docs)
    hashed = sh.select(
        "doc_id", F.md5(F.col("shingle").cast("binary")).alias("h")
    )
    from pyspark.sql import Window

    ranked = hashed.withColumn(
        "r", F.row_number().over(Window.partitionBy("doc_id").orderBy("h"))
    )
    return (
        ranked.where(F.col("r") <= 4)
        .groupBy("doc_id")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("h"))).alias("fingerprint")
        )
    )


# PII-masking / normalization patterns. Both engines use these verbatim:
# Spark compiles them with java.util.regex, DuckDB with RE2 — the subset
# below (character classes, +, alternation-free) behaves identically in both.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
URL_RE = "https?://[^ \\t\\n]+"
WS_RE = "[ \\t\\n]+"


def normalize_text(col):
    """Training-pipeline text normalization as one codegen'd expression:
    mask emails/URLs, collapse whitespace, trim, lowercase."""
    masked = F.regexp_replace(
        F.regexp_replace(col, EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
    )
    return F.lower(F.trim(F.regexp_replace(masked, WS_RE, " ")))


@query(
    "text_normalize",
    oracle=f"""
WITH norm AS (
    SELECT doc_id,
           lower(trim(regexp_replace(
               regexp_replace(
                   regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                   '{URL_RE}', '<URL>', 'g'),
               '{WS_RE}', ' ', 'g'))) AS norm_text
    FROM documents
)
SELECT doc_id, norm_text,
       CAST(length(norm_text) AS BIGINT) AS norm_chars,
       CAST(len(string_split(norm_text, ' ')) AS BIGINT) AS norm_tokens
FROM norm
""",
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization / PII masking over the corpus: email + URL masking,
    whitespace collapse, trim, lowercase — the standard pre-dedup cleanup
    stage of a training-data pipeline. Pure `regexp_replace` chain: one
    narrow map stage, no shuffle, scales embarrassingly at 100 TB."""
    docs = read_table(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("long").alias("norm_chars"),
        F.size(F.split(norm, " ")).cast("long").alias("norm_tokens"),
    )


@query(
    "text_metrics",
    oracle=f"""
WITH feat AS (
    SELECT doc_id, lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_alpha,
           CAST(len(list_filter(string_split(text, ' '),
                                w -> w IN {_STOP_IN_SQL})) AS BIGINT) AS stop_hits,
           lower(trim(regexp_replace(
               regexp_replace(
                   regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                   '{URL_RE}', '<URL>', 'g'),
               '{WS_RE}', ' ', 'g'))) AS norm_text
    FROM documents
)
SELECT doc_id, lang, n_tokens, n_chars,
       round(n_alpha / n_tokens, 4) AS avg_token_len,
       round(stop_hits / n_tokens, 4) AS stop_ratio,
       CASE WHEN stop_hits / n_tokens >= 0.03 THEN 'en' ELSE 'other' END
           AS predicted_lang,
       round(least(n_tokens, 200) / 200.0 * 0.5
             + CASE WHEN n_alpha / n_tokens BETWEEN 3 AND 8 THEN 0.3 ELSE 0 END
             + CASE WHEN stop_hits > 0 THEN 0.2 ELSE 0 END, 4) AS quality,
       CAST(length(norm_text) AS BIGINT) AS norm_chars
FROM feat
""",
)
def q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused per-document text metrics: token/char counting, stopword
    language ID, quality scoring, and normalized length in ONE projection
    over ONE scan — the shape a 100 TB curation pass wants (each metric as
    its own query re-reads the corpus; fused, the scan amortizes across
    all of them). Pure codegen expressions, zero shuffle, zero UDFs.
    Composes the same operators exposed individually as `token_count`,
    `lang_id`, `quality_score`, and `text_normalize`."""
    docs = read_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_tokens = F.size(words).cast("long")
    n_alpha = F.length(F.regexp_replace("text", " ", "")).cast("long")
    stop_hits = F.size(
        F.filter(words, lambda w: w.isin(*_EN_STOPWORDS))
    ).cast("long")
    avg_len = n_alpha / n_tokens
    stop_ratio = stop_hits / n_tokens
    quality = (
        F.least(n_tokens, F.lit(200)) / 200.0 * 0.5
        + F.when(avg_len.between(3, 8), 0.3).otherwise(0.0)
        + F.when(stop_hits > 0, 0.2).otherwise(0.0)
    )
    return docs.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.round(avg_len, 4).alias("avg_token_len"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.when(stop_ratio >= 0.03, "en").otherwise("other").alias(
            "predicted_lang"
        ),
        F.round(quality, 4).alias("quality"),
        F.length(normalize_text(F.col("text"))).cast("long").alias("norm_chars"),
    )


TFIDF_TOP_K = 3
_TFIDF_SCALE = 1_000_000


@query(
    "tfidf_top_terms",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT t.doc_id, t.term,
           (t.tf * {_TFIDF_SCALE} * (n.n_docs + 1)) // (d.df + 1) AS score_q
    FROM tf t JOIN df d USING (term) CROSS JOIN n
),
ranked AS (
    SELECT *, CAST(row_number() OVER (
                  PARTITION BY doc_id ORDER BY score_q DESC, term) AS BIGINT)
              AS rnk
    FROM scored
)
SELECT doc_id, term, score_q, rnk FROM ranked WHERE rnk <= {TFIDF_TOP_K}
""",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{K} distinguishing terms per document by quantized tf-idf.

    Determinism policy: idf's logarithm is library-dependent in the last
    ulp, so the score is the exact integer tf * SCALE * (N+1) div (df+1)
    (same term ordering per document as tf/df rank weighting; documented
    engine-exact variant). Two shuffles at scale: tf groupBy (doc, term)
    and the df groupBy (term) joined back on term — the term join is the
    natural inverted-index co-partitioning."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    # corpus size stays IN-PLAN (1-row cross join), never a driver-side
    # count() at plan-build time.
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = tf.join(df, "term").crossJoin(n).select(
        "doc_id",
        "term",
        F.expr(
            f"(tf * {_TFIDF_SCALE}L * (n_docs + 1)) div (df + 1)"
        ).alias("score_q"),
    )
    return grouped_topn(
        scored,
        ["doc_id"],
        [F.desc("score_q"), F.asc("term")],
        TFIDF_TOP_K,
        rank_col="rnk",
    ).withColumn("rnk", F.col("rnk").cast("long"))


_RARITY_SCALE = 1_000_000


@query(
    "doc_rarity_score",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
freq AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
total AS (SELECT count(*) AS n_total FROM tok),
scored AS (
    SELECT t.doc_id,
           ({_RARITY_SCALE} * tt.n_total) // f.cnt AS rarity_q
    FROM tok t JOIN freq f USING (term) CROSS JOIN total tt
)
SELECT doc_id, count(*) AS n_tokens,
       CAST(sum(rarity_q) // count(*) AS BIGINT) AS avg_rarity_q
FROM scored GROUP BY doc_id
""",
)
def q_doc_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average inverse token frequency — the integer-exact
    stand-in for LM-perplexity quality filtering (CCNet-style): documents
    full of corpus-rare tokens score high (gibberish/noise candidates),
    boilerplate scores low. rarity(term) = SCALE * total_tokens div
    count(term) — a true -log-prob needs libm's ln, which differs across
    engines in the last ulp, so the engine keeps the monotone integer
    transform instead (same ordering, oracle-exact). Plan: one token
    explode feeding both the frequency groupBy and (re-exploded) the
    inverted-index join back on term; corpus total stays in-plan as a
    1-row cross join."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    freq = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = tok.agg(F.count(F.lit(1)).alias("n_total"))
    scored = tok.join(freq, "term").crossJoin(F.broadcast(total)).select(
        "doc_id",
        F.expr(f"({_RARITY_SCALE}L * n_total) div cnt").alias("rarity_q"),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.expr("sum(rarity_q) div count(1)").alias("avg_rarity_q"),
    )


_REP_N = 3  # n-gram order for the repetition signal


@query(
    "doc_repetition",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
g AS (
    SELECT doc_id, words,
           CASE WHEN len(words) >= {_REP_N}
                THEN [array_to_string(words[i:i+{_REP_N}-1], ' ')
                      FOR i IN range(1, len(words) - {_REP_N} + 2)]
                ELSE [array_to_string(words, ' ')] END AS grams
    FROM w
)
SELECT doc_id,
       CAST(len(words) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct_tokens,
       round(1.0 - len(list_distinct(words)) / len(words), 4)
           AS dup_token_ratio,
       CAST(len(grams) AS BIGINT) AS n_grams,
       round(1.0 - len(list_distinct(grams)) / len(grams), 4)
           AS dup_gram_ratio
FROM g
""",
)
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (the Gopher-rule family): duplicate
    token fraction and duplicate {n}-gram fraction. Boilerplate, SEO spam,
    and decoding loops score high and get filtered before training. Pure
    array expressions — size/array_distinct over the in-row token list —
    so the whole operator is a zero-shuffle codegen projection at any
    scale; no explode, no aggregation."""
    docs = read_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(words) >= _REP_N,
        F.expr(
            f"transform(sequence(0, size(split(text, ' ')) - {_REP_N}), "
            f"i -> concat_ws(' ', slice(split(text, ' '), i + 1, {_REP_N})))"
        ),
    ).otherwise(F.array(F.concat_ws(" ", words)))
    n_tok = F.size(words).cast("long")
    n_dtok = F.size(F.array_distinct(words)).cast("long")
    n_grams = F.size(grams).cast("long")
    n_dgrams = F.size(F.array_distinct(grams)).cast("long")
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_dtok.alias("n_distinct_tokens"),
        F.round(1.0 - n_dtok / n_tok, 4).alias("dup_token_ratio"),
        n_grams.alias("n_grams"),
        F.round(1.0 - n_dgrams / n_grams, 4).alias("dup_gram_ratio"),
    )


# ------------------------------------------------------ count-min sketch

CMS_W = 16  # counters per row — deliberately tiny so collisions are REAL
CMS_D = 4   # hash rows; estimate = min over rows


def _cms_rows_sql() -> str:
    """(d, bucket) pairs for one term under the affine md5 hash family
    (DuckDB side). Mirrors the Spark expression bit for bit."""
    from .dedup import MINHASH_A, MINHASH_B, MINHASH_P

    rows = ", ".join(
        f"({d}, ((CAST(('0x' || substr(md5(term), 1, 7)) AS BIGINT) "
        f"* {MINHASH_A[d]} + {MINHASH_B[d]}) % {MINHASH_P}) % {CMS_W})"
        for d in range(CMS_D)
    )
    return rows


def _cms_oracle() -> str:
    return f"""
WITH terms AS (
    SELECT unnest(string_split(text, ' ')) AS term FROM documents
),
hashed AS (
    SELECT term, v.d, v.bucket
    FROM terms, (VALUES {_cms_rows_sql()}) v(d, bucket)
),
sketch AS (
    SELECT d, bucket, count(*) AS counter FROM hashed GROUP BY 1, 2
),
truth AS (SELECT term, count(*) AS true_n FROM terms GROUP BY 1),
probe AS (
    SELECT DISTINCT t.term, h.d, h.bucket FROM truth t
    JOIN hashed h ON h.term = t.term
),
est AS (
    SELECT p.term, min(s.counter) AS cms_n
    FROM probe p JOIN sketch s ON s.d = p.d AND s.bucket = p.bucket
    GROUP BY 1
)
SELECT t.term, CAST(t.true_n AS BIGINT) AS true_n,
       CAST(e.cms_n AS BIGINT) AS cms_n,
       e.cms_n >= t.true_n AS never_underestimates
FROM truth t JOIN est e ON e.term = t.term
"""


@query("countmin_terms", oracle=_cms_oracle())
def q_countmin_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the term stream: a {CMS_D}x{CMS_W} counter
    table (affine md5 hash family, shared with minhash) summarizes every
    term occurrence; a term's frequency estimate is the MIN of its
    {CMS_D} counters. Emits estimate vs exact count per term plus the
    sketch's defining guarantee (never underestimates) — checked exactly
    by the oracle, not asserted.

    Scale design: the sketch build is ONE hash aggregate whose key space
    is fixed at D x W counters regardless of corpus size — partials
    combine map-side and the merged table is KBs; this is the mergeable-
    summary pattern (same class as hypertable partials and the HLL
    rollup) that turns a 100 TB frequency question into a
    constant-memory pass. W is set collision-heavy here so the test data
    exercises genuine overestimation; a deployment sizes W ~ e/eps."""
    from .dedup import MINHASH_A, MINHASH_B, MINHASH_P

    docs = read_table(spark, sf_dir, "documents")
    terms = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    base = F.conv(F.substring(F.md5(F.col("term").cast("binary")), 1, 7), 16, 10).cast(
        "long"
    )
    pairs = terms.select(
        "term",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        (
                            (base * MINHASH_A[d] + MINHASH_B[d]) % MINHASH_P
                            % CMS_W
                        ).alias("bucket"),
                    )
                    for d in range(CMS_D)
                ]
            )
        ).alias("h"),
    ).select("term", "h.d", "h.bucket")
    sketch = pairs.groupBy("d", "bucket").agg(
        F.count(F.lit(1)).alias("counter")
    )
    truth = terms.groupBy("term").agg(F.count(F.lit(1)).alias("true_n"))
    probe = pairs.distinct()
    est = (
        probe.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("term")
        .agg(F.min("counter").alias("cms_n"))
    )
    return truth.join(est, "term").select(
        "term",
        "true_n",
        "cms_n",
        (F.col("cms_n") >= F.col("true_n")).alias("never_underestimates"),
    )


# ------------------------------------------------- source curation report


def _source_report_oracle() -> str:
    from .dedup import (
        _BAND_KEYS_SQL,
        _MINHASH_MINS,
        JACCARD_THRESHOLD,
        SHINGLE_CTE,
    )

    return f"""
WITH {SHINGLE_CTE},
sig AS (SELECT doc_id, {_MINHASH_MINS} FROM sh GROUP BY doc_id),
bands AS (
    SELECT doc_id, unnest([{_BAND_KEYS_SQL}]) AS band_key FROM sig
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
ver AS (
    SELECT c.doc_a, c.doc_b, count(*) AS inter_n,
           any_value(sa.n_sh) AS na, any_value(sb.n_sh) AS nb
    FROM cand c
    JOIN sh a ON a.doc_id = c.doc_a
    JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    GROUP BY c.doc_a, c.doc_b
),
dups AS (
    SELECT DISTINCT doc_b AS doc_id FROM ver
    WHERE inter_n / (na + nb - inter_n) >= {JACCARD_THRESHOLD}
),
feat AS (
    SELECT doc_id, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(floor(round(
               least(CAST(len(string_split(text, ' ')) AS BIGINT), 200)
                   / 200.0 * 0.5
               + CASE WHEN CAST(length(replace(text, ' ', '')) AS BIGINT)
                           / CAST(len(string_split(text, ' ')) AS BIGINT)
                      BETWEEN 3 AND 8 THEN 0.3 ELSE 0 END
               + CASE WHEN len(list_filter(string_split(text, ' '),
                          w -> w IN {_STOP_IN_SQL})) > 0
                      THEN 0.2 ELSE 0 END, 4) * 1000) AS BIGINT) AS q_milli
    FROM documents
)
SELECT f.source,
       count(*) AS n_docs,
       CAST(sum(f.n_tokens) AS BIGINT) AS n_tokens,
       CAST(floor(CAST(sum(f.q_milli) AS DOUBLE) / count(*)) AS BIGINT)
           AS mean_quality_milli,
       CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS near_dup_docs,
       CAST(floor(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                  * 1000000.0 / count(*)) AS BIGINT) AS near_dup_ppm
FROM feat f LEFT JOIN dups d ON d.doc_id = f.doc_id
GROUP BY 1
"""


@query("source_curation_report", oracle=_source_report_oracle())
def q_source_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation dashboard — the keep/downweight/drop table a
    crawl pipeline reviews per snapshot (RefinedWeb-style per-domain
    triage): document/token volume, mean heuristic quality, and the
    near-duplicate rate (fraction of the source's docs that are the
    DROPPED side of a verified MinHash near-dup pair). Float-sum-free:
    per-doc quality is floored to integer milli-units before aggregation
    (the per-doc double is engine-identical — `quality_score` proves it —
    and integer sums are order-independent), so the report is
    bit-deterministic at any parallelism.

    Scale shape: one pass for features (zero-shuffle projection + one
    hash-agg on source), with the dup-doc set coming from the banded-LSH
    pipeline — result-sized, AQE-broadcast into the per-source rollup."""
    from .dedup import q_dedup_minhash_lsh

    docs = read_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_tokens = F.size(words).cast("long")
    n_alpha = F.length(F.regexp_replace("text", " ", "")).cast("long")
    stop_hits = F.size(
        F.filter(words, lambda w: w.isin(*_EN_STOPWORDS))
    ).cast("long")
    avg_len = n_alpha / n_tokens
    quality = (
        F.least(n_tokens, F.lit(200)) / 200.0 * 0.5
        + F.when(avg_len.between(3, 8), 0.3).otherwise(0.0)
        + F.when(stop_hits > 0, 0.2).otherwise(0.0)
    )
    feat = docs.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
        F.floor(F.round(quality, 4) * 1000).cast("long").alias("q_milli"),
    )
    dups = (
        q_dedup_minhash_lsh(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1).cast("long"))
    )
    joined = feat.join(dups, "doc_id", "left").withColumn(
        "is_dup", F.coalesce("is_dup", F.lit(0))
    )
    agg = joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("q_milli").alias("sum_q"),
        F.sum("is_dup").alias("near_dup_docs"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        F.floor(F.col("sum_q").cast("double") / F.col("n_docs"))
        .cast("long")
        .alias("mean_quality_milli"),
        "near_dup_docs",
        F.floor(F.col("near_dup_docs") * 1000000.0 / F.col("n_docs"))
        .cast("long")
        .alias("near_dup_ppm"),
    )


# --------------------------------------------- heavy hitters (Misra-Gries)

MG_K = 4        # counters per state group
MG_GROUPS = 2   # hash-partitioned summaries


@query(
    "heavy_hitters_verdict",
    oracle="""
WITH terms AS (
    SELECT unnest(string_split(text, ' ')) AS term FROM documents
)
SELECT term, CAST(count(*) AS BIGINT) AS true_n,
       TRUE AS within_bound,
       TRUE AS tracked_if_heavy
FROM terms GROUP BY 1
""",
)
def q_heavy_hitters_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch Misra-Gries heavy hitters with the error guarantee checked
    EXACTLY, per term, as the oracle verdict: after hash-partitioning
    terms into {MG_GROUPS} independent k={MG_K} summaries (fold order
    pinned by (doc_id, position) — MG is arrival-order-dependent), every
    term must satisfy the MG bound
        est <= true AND (true - est) * (k+1) <= n_processed - n_retained
    and any term heavier than N_g/(k+1) must be tracked — both sides in
    exact integer arithmetic, so a single wrong counter flips a boolean
    and fails the hash. Companion of the streaming form
    (streaming/heavy_hitters.py), which runs the same fold per micro-batch
    with bounded keyed state.

    Scale shape: the fold is one applyInPandas over {MG_GROUPS} groups —
    each group's state is k counters regardless of stream length; the
    verdict join is a broadcast of the k x groups tracked set onto the
    exact-count aggregate."""
    import pandas as pd
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "term")
    ).select(
        "term",
        (F.col("doc_id") * 100000 + F.col("pos")).alias("ord"),
        F.pmod(F.xxhash64("term"), F.lit(MG_GROUPS)).alias("grp"),
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ord")
        slots: dict = {}
        n_proc = 0
        for it in pdf["term"]:
            n_proc += 1
            if it in slots:
                slots[it] += 1
            elif len(slots) < MG_K:
                slots[it] = 1
            else:
                for name in list(slots):
                    slots[name] -= 1
                    if slots[name] == 0:
                        del slots[name]
        grp = int(pdf["grp"].iloc[0])
        names = sorted(slots)
        return pd.DataFrame(
            {
                "grp": [grp] * len(names),
                "item": names,
                "est": [slots[n] for n in names],
                "n_processed": [n_proc] * len(names),
                "n_retained": [sum(slots.values())] * len(names),
            }
        )

    summary = terms.groupBy("grp").applyInPandas(
        fold,
        schema="grp long, item string, est long, n_processed long, n_retained long",
    )
    exact = terms.groupBy("grp", "term").agg(
        F.count(F.lit(1)).alias("true_n")
    )
    n_g = exact.groupBy("grp").agg(F.sum("true_n").alias("n_grp"))
    joined = (
        exact.join(
            F.broadcast(
                summary.select(
                    "grp",
                    F.col("item").alias("term"),
                    "est",
                    "n_processed",
                    "n_retained",
                )
            ),
            ["grp", "term"],
            "left",
        )
        .join(F.broadcast(n_g), "grp")
        # per-group totals hold for every row of the group, tracked or not
        .withColumn(
            "n_processed",
            F.first("n_processed", ignorenulls=True).over(
                Window.partitionBy("grp")
            ),
        )
        .withColumn(
            "n_retained",
            F.first("n_retained", ignorenulls=True).over(
                Window.partitionBy("grp")
            ),
        )
    )
    est0 = F.coalesce("est", F.lit(0))
    within = (est0 <= F.col("true_n")) & (
        (F.col("true_n") - est0) * (MG_K + 1)
        <= F.col("n_processed") - F.col("n_retained")
    )
    tracked_ok = (
        ~(F.col("true_n") * (MG_K + 1) > F.col("n_grp"))
    ) | F.col("est").isNotNull()
    return joined.select(
        "term",
        "true_n",
        within.alias("within_bound"),
        tracked_ok.alias("tracked_if_heavy"),
    )


# --------------------------------------------------------- BM25 ranking

BM25_TERMS = ("hash", "join", "scan")  # fixed query, literal in both engines
BM25_K1 = "1.2"
BM25_B = "0.75"
BM25_TOP = 10


def _bm25_score_sql(prefix: str = "") -> str:
    """The BM25 score as ONE textual expression shared verbatim by Spark SQL
    and DuckDB, so every double operation runs in the same written order on
    both engines: idf_t = ln(1 + (n_docs - df_t + 0.5) / (df_t + 0.5)),
    tf-part = tf*(k1+1) / (tf + k1*(1 - b + b*len*n_docs/tot)), summed over
    the query terms left-to-right. All inputs (tf/df/len/n_docs/tot) are
    exact bigints; len*n_docs stays integer so the single double division
    by tot is the only rounding point in the length normalization."""
    k1, b = BM25_K1, BM25_B
    parts = []
    for i in range(len(BM25_TERMS)):
        t = f"{prefix}tf{i}"
        d = f"{prefix}df{i}"
        parts.append(
            f"ln(1 + (n_docs - {d} + 0.5) / ({d} + 0.5)) * "
            f"({t} * ({k1} + 1)) / "
            f"({t} + {k1} * (1 - {b} + {b} * (len * n_docs) / tot))"
        )
    return " + ".join(parts)


_BM25_TF_DUCK = ",\n           ".join(
    f"CAST(len(list_filter(w, x -> x = '{t}')) AS BIGINT) AS tf{i}"
    for i, t in enumerate(BM25_TERMS)
)
_BM25_DF_DUCK = ",\n           ".join(
    f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
    for i in range(len(BM25_TERMS))
)


@query(
    "bm25_rank",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
tf AS (
    SELECT doc_id, CAST(len(w) AS BIGINT) AS len,
           {_BM25_TF_DUCK}
    FROM tok
),
g AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len) AS BIGINT) AS tot,
           {_BM25_DF_DUCK}
    FROM tf
),
scored AS (
    SELECT tf.doc_id,
           round({_bm25_score_sql()}, 6) AS score
    FROM tf, g
    WHERE tf0 + tf1 + tf2 > 0
)
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
FROM scored
ORDER BY score DESC, doc_id
LIMIT {BM25_TOP}
""",
)
def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking for a fixed literal term query — the classic
    IR relevance function over the corpus (tf-idf's saturating,
    length-normalized successor; `tfidf_top_terms` is the per-doc term
    profile twin).

    Per-doc term frequencies come from `F.filter` over the split token
    array — a zero-shuffle codegen projection, no explode (the corpus rows
    never fan out). Corpus statistics (N, total length, per-term document
    frequencies) are ONE scalar aggregate broadcast back via crossJoin, so
    the whole query is one agg shuffle + the global top-{BM25_TOP} cut.
    The score expression string is shared verbatim with the DuckDB oracle,
    making every double rounding point identical on both engines."""
    from ..operators.topn import global_topn

    docs = read_table(spark, sf_dir, "documents")
    tf_cols = [
        F.expr(f"CAST(size(filter(w, x -> x = '{t}')) AS BIGINT)").alias(
            f"tf{i}"
        )
        for i, t in enumerate(BM25_TERMS)
    ]
    tf = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    ).select(
        "doc_id", F.size("w").cast("long").alias("len"), *tf_cols
    )
    g = tf.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("len").alias("tot"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    scored = (
        tf.crossJoin(F.broadcast(g))
        .where(sum(F.col(f"tf{i}") for i in range(len(BM25_TERMS))) > 0)
        .select(
            "doc_id",
            F.round(F.expr(_bm25_score_sql()), 6).alias("score"),
        )
    )
    ranked = global_topn(
        scored, [F.desc("score"), F.asc("doc_id")], BM25_TOP
    )
    from pyspark.sql import Window

    # partitionBy(lit(1)): the frame is the top-10 result, but an
    # unpartitioned window spec would still log the single-partition
    # warning — keep warning output clean so real regressions stand out.
    return ranked.withColumn(
        "rnk",
        F.row_number()
        .over(
            Window.partitionBy(F.lit(1)).orderBy(
                F.desc("score"), F.asc("doc_id")
            )
        )
        .cast("long"),
    )


# ---------------------------------------------------------- feature hashing

FH_BUCKETS = 16   # hashed feature dimension


@query(
    "hashed_features",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
h AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(tok), 1, 7)) AS BIGINT) % {FH_BUCKETS}
               AS bucket,
           CAST(('0x' || substr(md5(tok), 8, 1)) AS BIGINT) % 2 * 2 - 1
               AS sgn
    FROM tok
)
SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS w
FROM h GROUP BY 1, 2
HAVING sum(sgn) <> 0
""",
)
def q_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing-trick vectorizer): every token maps to
    one of {FH_BUCKETS} buckets by md5, with an md5-derived ±1 sign so
    collisions cancel in expectation — the fixed-dimension, vocabulary-free
    text featurization a distributed ML pipeline uses when a fitted
    vocabulary (CountVectorizer) would itself be a shuffle + a huge
    broadcast. Output is the sparse relational form (doc_id, bucket, w),
    zero rows for cancelled buckets.

    md5-derived buckets/signs are the repo's portable-hash policy (exact
    same values in DuckDB), making the vectorizer itself oracle-checkable —
    unlike murmur-based hashingTF whose hash differs across engines. One
    explode + one (doc_id, bucket) hash-aggregate; no vocabulary state."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    md5 = F.md5(F.col("tok").cast("binary"))
    h = tok.select(
        "doc_id",
        (F.conv(F.substring(md5, 1, 7), 16, 10).cast("long") % FH_BUCKETS)
        .alias("bucket"),
        (F.conv(F.substring(md5, 8, 1), 16, 10).cast("long") % 2 * 2 - 1)
        .alias("sgn"),
    )
    return (
        h.groupBy("doc_id", "bucket")
        .agg(F.sum("sgn").alias("w"))
        .where(F.col("w") != 0)
    )


# ------------------------------------------------------- collocations

COLLOC_MIN_N = 5
COLLOC_TOP = 20


@query(
    "bigram_collocations",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
uni AS (
    SELECT t.tok, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest(w) AS tok FROM toks) t GROUP BY 1
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS big_n FROM uni),
bi AS (
    SELECT w[i] AS w1, w[i + 1] AS w2, CAST(count(*) AS BIGINT) AS n_ab
    FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i FROM toks)
    GROUP BY 1, 2
    HAVING count(*) >= {COLLOC_MIN_N}
)
SELECT w1, w2, n_ab,
       CAST(n_ab * t.big_n * 1000000 // (u1.n * u2.n) AS BIGINT) AS lift_ppm
FROM bi
JOIN uni u1 ON u1.tok = bi.w1
JOIN uni u2 ON u2.tok = bi.w2
CROSS JOIN tot t
ORDER BY lift_ppm DESC, w1, w2
LIMIT {COLLOC_TOP}
""",
)
def q_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation detection: ADJACENT word pairs ranked by association
    lift (observed bigram rate / independence expectation) — phrases that
    occur together more than chance ("new york"-style units). Distinct
    from `term_cooccurrence`/`term_lift`, which count DOCUMENT-level
    co-membership; collocations are an ordering property of the token
    stream. Ranking uses integer-ppm lift (PMI's log is monotone in it,
    so the top-k is identical) — no floats anywhere.

    Scale shape: bigrams come from a zero-shuffle slice/zip projection of
    each document's token array; unigram and bigram counts are two hash
    aggregates over slim token rows; marginals join back by word. At
    extreme corpus sizes the n_ab*N product wants a decimal accumulator —
    loud ANSI overflow, not silent."""
    from ..operators.topn import global_topn

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.col("text"), " ").alias("w"))
    uni = toks.select(F.explode("w").alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = uni.agg(F.sum("n").alias("big_n"))
    pairs = toks.select(
        F.explode(
            F.expr(
                "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1),"
                " (a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bi = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= COLLOC_MIN_N)
    )
    scored = (
        bi.join(
            F.broadcast(uni.select(F.col("tok").alias("w1"),
                                   F.col("n").alias("n1"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("tok").alias("w2"),
                                   F.col("n").alias("n2"))),
            "w2",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "w1", "w2", "n_ab",
            F.expr(
                "CAST(n_ab * big_n * 1000000 div (n1 * n2) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    return global_topn(
        scored, [F.desc("lift_ppm"), F.asc("w1"), F.asc("w2")], COLLOC_TOP
    )


# --------------------------------------------- classifier evaluation

@query(
    "langid_confusion",
    oracle=f"""
WITH pred AS (
    SELECT lang AS actual,
           CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                                          w -> w IN {_STOP_IN_SQL}))
                          AS BIGINT)
                     / CAST(len(string_split(text, ' ')) AS BIGINT) >= 0.03
                THEN 'en' ELSE 'other' END AS predicted
    FROM documents
),
cells AS (
    SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n
    FROM pred GROUP BY 1, 2
),
m AS (
    SELECT c.*,
           CAST(sum(n) OVER (PARTITION BY actual) AS BIGINT) AS row_n,
           CAST(sum(n) OVER (PARTITION BY predicted) AS BIGINT) AS col_n
    FROM cells c
)
SELECT actual, predicted, n,
       CAST(n * 1000000 // col_n AS BIGINT) AS precision_ppm,
       CAST(n * 1000000 // row_n AS BIGINT) AS recall_ppm
FROM m
""",
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation for the language-ID heuristic: the confusion
    matrix of actual vs predicted language, with per-cell precision
    (n / predicted-class total) and recall (n / actual-class total) in
    integer ppm — the model-quality report any in-pipeline classifier
    (quality gates, lang-ID, PII detectors) needs before its output
    drives filtering decisions. Diagonal cells carry the per-class
    precision/recall; off-diagonal cells name the confusions.

    One scan computes predictions in codegen (the same expression
    `lang_id` emits), one aggregate builds the bounded |labels|^2 cell
    table, and the marginals are windows OVER that bounded table — the
    evaluation never rescans the corpus."""
    docs = read_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    stop_hits = F.size(
        F.filter(words, lambda w: w.isin(*_EN_STOPWORDS))
    ).cast("long")
    ratio = stop_hits / F.size(words).cast("long")
    pred = docs.select(
        F.col("lang").alias("actual"),
        F.when(ratio >= 0.03, "en").otherwise("other").alias("predicted"),
    )
    cells = pred.groupBy("actual", "predicted").agg(
        F.count(F.lit(1)).alias("n")
    )
    from pyspark.sql import Window

    m = cells.withColumn(
        "row_n", F.sum("n").over(Window.partitionBy("actual"))
    ).withColumn("col_n", F.sum("n").over(Window.partitionBy("predicted")))
    return m.select(
        "actual",
        "predicted",
        "n",
        F.expr("CAST(n * 1000000 div col_n AS BIGINT)").alias(
            "precision_ppm"
        ),
        F.expr("CAST(n * 1000000 div row_n AS BIGINT)").alias("recall_ppm"),
    )


# ------------------------------------------- bigram-LM perplexity scoring

LM_SCALE = 1_000_000  # micro-nats: floor(ln(p) * 1e6) per bigram


@query(
    "bigram_lm_perplexity",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
bg AS (
    SELECT doc_id, w[i] AS w1, w[i+1] AS w2
    FROM (SELECT doc_id, w,
                 unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i
          FROM toks)
),
c1 AS (
    SELECT w1 AS word, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1
),
c12 AS (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2
),
vocab AS (
    SELECT CAST(count(DISTINCT word) AS BIGINT) AS v
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
),
scored AS (
    SELECT b.doc_id,
           CAST(floor(ln((c12.c + 1) / CAST(c1.c + vocab.v AS DOUBLE))
                      * {LM_SCALE}) AS BIGINT) AS ll_micro
    FROM bg b
    JOIN c12 ON c12.w1 = b.w1 AND c12.w2 = b.w2
    JOIN c1 ON c1.word = b.w1
    CROSS JOIN vocab
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(ll_micro) AS BIGINT) AS ll_micro_nats,
       round(-sum(ll_micro) / (count(*) * {LM_SCALE}.0), 6) AS xent_nats
FROM scored GROUP BY doc_id
""",
)
def q_bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True n-gram LM quality scoring: train an add-one-smoothed bigram LM
    on the corpus itself and score every document's cross-entropy under it
    — the classic perplexity-based quality filter (high xent = the doc's
    transitions are unusual for this corpus), a stronger signal than the
    unigram inverse-frequency proxy (`doc_rarity_score`).

    Determinism recipe: each bigram's log-probability is floored to
    integer MICRO-NATS first (ln on identical integer-derived doubles
    agrees across engines; floor pins the last bit), so the per-doc sum
    is an exact bigint under any partitioning; the single double division
    + round(6) happens once at the output edge. JVM Math.log and libm log
    may differ in the last ulp, so a pre-floor value within ~1 ulp of an
    integer could floor differently per engine —
    tests/test_micro_nat_boundary.py measures the actual boundary
    clearance of every pre-floor value on the test data (min > 1e-7,
    ~10x the worst cross-engine spread) so the hazard is audited, not
    assumed away.

    Scale: bigram extraction is the zero-shuffle transform+explode
    projection (no per-doc window); the LM tables (c1, c12, V) are
    corpus-bounded aggregates that broadcast back onto the bigram stream;
    the only corpus-sized shuffles are the count hash-aggs and the final
    per-doc rollup. In-sample scoring is intentional (corpus self-model);
    train/score splits compose exactly like `bpe_oov_audit`."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("w"))
    bg = toks.where(F.size("w") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), "
                "i -> struct(element_at(w, i) as w1, "
                "element_at(w, i + 1) as w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    c1 = bg.groupBy(F.col("w1").alias("word")).agg(
        F.count(F.lit(1)).alias("c1")
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .agg(F.countDistinct("word").alias("v"))
    )
    scored = (
        bg.join(F.broadcast(c12), ["w1", "w2"])
        .join(F.broadcast(c1), bg.w1 == F.col("word"))
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.floor(
                F.log(
                    (F.col("c12") + 1)
                    / (F.col("c1") + F.col("v")).cast("double")
                )
                * LM_SCALE
            ).cast("long").alias("ll_micro"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("ll_micro").alias("ll_micro_nats"),
        F.round(
            -F.sum("ll_micro")
            / (F.count(F.lit(1)) * F.lit(float(LM_SCALE))),
            6,
        ).alias("xent_nats"),
    )


# Perplexity band, in ppm of the scored-doc count: drop the most
# predictable 5% (boilerplate/templates the LM has memorized) AND the
# least predictable 5% (encoding garbage, wrong-language shards) — the
# CCNet/Gopher-style two-sided LM filter.
PPL_BAND_LO_PPM = 50_000
PPL_BAND_HI_PPM = 950_000

_PPL_BAND_CTE = f"""
toks AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
bg AS (
    SELECT doc_id, w[i] AS w1, w[i+1] AS w2
    FROM (SELECT doc_id, w,
                 unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i
          FROM toks)
),
c1 AS (
    SELECT w1 AS word, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1
),
c12 AS (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2
),
vocab AS (
    SELECT CAST(count(DISTINCT word) AS BIGINT) AS v
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
),
perdoc AS (
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST((-sum(CAST(floor(ln((c12.c + 1)
                                     / CAST(c1.c + vocab.v AS DOUBLE))
                                  * {LM_SCALE}) AS BIGINT)))
                // count(*) AS BIGINT) AS xent_micro
    FROM bg b
    JOIN c12 ON c12.w1 = b.w1 AND c12.w2 = b.w2
    JOIN c1 ON c1.word = b.w1
    CROSS JOIN vocab
    GROUP BY b.doc_id
),
ranked AS (
    SELECT doc_id, n_bigrams, xent_micro,
           CAST(row_number() OVER (ORDER BY xent_micro, doc_id) - 1
                AS BIGINT) AS rnk,
           CAST(count(*) OVER () AS BIGINT) AS n_scored
    FROM perdoc
)"""


@query(
    "perplexity_band_filter",
    oracle=f"""
WITH {_PPL_BAND_CTE}
SELECT doc_id, n_bigrams, xent_micro, rnk,
       CAST(rnk * 1000000 >= {PPL_BAND_LO_PPM} * n_scored
            AND rnk * 1000000 < {PPL_BAND_HI_PPM} * n_scored
            AS BOOLEAN) AS keep
FROM ranked
""",
)
def q_perplexity_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided perplexity-band corpus filter (the CCNet/Gopher LM
    filter): rank every scoreable doc by integer micro-nat cross-entropy
    under the corpus bigram LM (`bigram_lm_perplexity`'s exact sums) and
    keep only the middle band — the bottom {PPL_BAND_LO_PPM // 10_000}%
    is memorized boilerplate, the top is noise. Band membership is pure
    integer arithmetic on (rank, scored-count) ppm products, and the
    per-doc statistic is the bigint ``(-ll_micro) div n_bigrams``, so
    keep decisions are bit-deterministic. Docs with fewer than 2 tokens
    have no bigram evidence and are excluded from ranking (a production
    pipeline routes them to a length filter instead — `text_metrics`).

    Scale: per-doc scoring inherits the bigram LM plan (broadcast LM
    tables onto the zero-shuffle bigram stream); the global order uses
    operators/sampling.global_rank — range-partition + per-partition
    offsets, never a single-partition window; the scored-count scalar is
    a broadcast 1-row join."""
    from ..operators.sampling import global_rank

    perdoc = q_bigram_lm_perplexity(spark, sf_dir).select(
        "doc_id",
        "n_bigrams",
        F.expr(
            "CAST((-ll_micro_nats) div n_bigrams AS BIGINT)"
        ).alias("xent_micro"),
    )
    ranked = global_rank(
        perdoc, [F.asc("xent_micro"), F.asc("doc_id")], rank_col="rnk"
    ).withColumn("rnk", F.col("rnk").cast("long"))
    n = perdoc.agg(F.count(F.lit(1)).alias("n_scored"))
    return ranked.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "n_bigrams",
        "xent_micro",
        "rnk",
        (
            (F.col("rnk") * 1_000_000 >= PPL_BAND_LO_PPM * F.col("n_scored"))
            & (F.col("rnk") * 1_000_000 < PPL_BAND_HI_PPM * F.col("n_scored"))
        ).alias("keep"),
    )


# ----------------------------------- persisted text index (build/serve)

def build_text_index(docs: DataFrame, index_dir: str) -> None:
    """Index-build half of the BM25 lifecycle: persist the inverted
    postings (term, doc_id, tf), the per-doc lengths, and the 1-row
    corpus stats (n_docs, total length). Postings are PARTITIONED by the
    leading md5 hex nibble of the term (16 buckets), so a serve-time
    query touches only its terms' partitions — partition pruning does the
    index seek; no full postings scan ever happens at serve.

    Scale: one explode + (term, doc) hash-agg over the corpus — the same
    single-shuffle shape as tfidf; the write is bucketed by construction
    (partitionBy column derives from the shuffle key)."""
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    postings = tok.groupBy("word", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    ).withColumn("bucket", F.substring(F.md5("word"), 1, 1))
    postings.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{index_dir}/postings"
    )
    doclen = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("len"),
    )
    doclen.write.mode("overwrite").parquet(f"{index_dir}/doclen")
    doclen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("len").alias("tot")
    ).write.mode("overwrite").parquet(f"{index_dir}/stats")


def search_text_index(
    spark: SparkSession, index_dir: str, terms: tuple[str, ...] = BM25_TERMS,
    top_k: int = BM25_TOP,
) -> DataFrame:
    """Serve half: BM25-rank the corpus for ``terms`` from the PERSISTED
    index alone — no corpus rescan, no re-tokenization. Reads only the
    query terms' postings partitions (pruned on the md5-nibble bucket),
    derives exact df from them, and scores candidates (docs holding >= 1
    query term) with the SAME textual BM25 expression as the inline
    `bm25_rank`, so serve == inline bit-for-bit (pytest-pinned)."""
    import hashlib

    from ..operators.topn import global_topn

    buckets = sorted({hashlib.md5(t.encode()).hexdigest()[0] for t in terms})
    postings = (
        spark.read.parquet(f"{index_dir}/postings")
        .where(F.col("bucket").isin(buckets) & F.col("word").isin(list(terms)))
    )
    tf = postings.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("word") == t, F.col("tf")).otherwise(0)
            ).cast("long").alias(f"tf{i}")
            for i, t in enumerate(terms)
        ]
    )
    dfs = postings.groupBy().agg(
        *[
            F.countDistinct(
                F.when(F.col("word") == t, F.col("doc_id"))
            ).cast("long").alias(f"df{i}")
            for i, t in enumerate(terms)
        ]
    )
    stats = spark.read.parquet(f"{index_dir}/stats")
    doclen = spark.read.parquet(f"{index_dir}/doclen")
    scored = (
        tf.join(doclen, "doc_id")
        .crossJoin(F.broadcast(dfs))
        .crossJoin(F.broadcast(stats))
        .selectExpr(
            "doc_id", f"round({_bm25_score_sql()}, 6) AS score"
        )
    )
    from pyspark.sql import Window

    ranked = global_topn(scored, [F.desc("score"), F.asc("doc_id")], top_k)
    return ranked.withColumn(
        "rnk",
        F.row_number()
        .over(
            Window.partitionBy(F.lit(1)).orderBy(
                F.desc("score"), F.asc("doc_id")
            )
        )
        .cast("long"),
    )


@query(
    "dedup_exact_normalized",
    oracle=f"""
WITH norm AS (
    SELECT doc_id,
           lower(trim(regexp_replace(
               regexp_replace(
                   regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                   '{URL_RE}', '<URL>', 'g'),
               '{WS_RE}', ' ', 'g'))) AS norm_text
    FROM documents
)
SELECT md5(norm_text) AS norm_hash,
       CAST(min(doc_id) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS dup_count,
       CAST(sum(CASE WHEN nt != text THEN 1 ELSE 0 END) AS BIGINT)
           AS n_changed
FROM (SELECT n.doc_id, n.norm_text, n.norm_text AS nt, d.text
      FROM norm n JOIN documents d USING (doc_id))
GROUP BY md5(norm_text)
""",
)
def q_dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup tier BETWEEN exact and near-dup: exact dedup on the
    NORMALIZED text (email/URL masks, whitespace collapse, trim,
    lowercase — the same `normalize_text` expression `text_normalize`
    pins cross-dialect), catching trivially-reformatted duplicates
    (case, spacing, swapped contact details) that raw-byte `dedup_exact`
    misses but that don't need MinHash's probabilistic machinery.
    n_changed counts group members whose text was altered by
    normalization — the audit column for how much work the masks did.

    Scale: identical shape to dedup_exact — the shuffle carries only
    (32-byte hash, id, changed-bit) after a codegen'd projection."""
    docs = read_table(spark, sf_dir, "documents")
    n = docs.select(
        "doc_id",
        "text",
        normalize_text(F.col("text")).alias("norm_text"),
    )
    return (
        n.select(
            F.md5(F.col("norm_text").cast("binary")).alias("norm_hash"),
            "doc_id",
            (F.col("norm_text") != F.col("text")).cast("long").alias("chg"),
        )
        .groupBy("norm_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
            F.sum("chg").alias("n_changed"),
        )
    )


# --------------------------------- source JSD (distributional distance)

JSD_SCALE = 1_000_000  # micro-nats per (pair, word) contribution


@query(
    "source_jsd",
    oracle=f"""
WITH w AS (
    SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
),
wc AS (
    SELECT source, word, CAST(count(*) AS BIGINT) AS n
    FROM w WHERE word <> '' GROUP BY 1, 2
),
tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS nt FROM wc GROUP BY 1),
vocab AS (SELECT DISTINCT word FROM wc),
grid AS (
    SELECT t.source, v.word, coalesce(c.n, 0) AS n, t.nt
    FROM tot t CROSS JOIN vocab v
    LEFT JOIN wc c ON c.source = t.source AND c.word = v.word
),
contrib AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(floor({JSD_SCALE} * (
               CASE WHEN a.n > 0
                    THEN 0.5 * (a.n / CAST(a.nt AS DOUBLE))
                         * ln((a.n / CAST(a.nt AS DOUBLE))
                              / ((a.n / CAST(a.nt AS DOUBLE)
                                  + b.n / CAST(b.nt AS DOUBLE)) / 2))
                    ELSE 0 END
             + CASE WHEN b.n > 0
                    THEN 0.5 * (b.n / CAST(b.nt AS DOUBLE))
                         * ln((b.n / CAST(b.nt AS DOUBLE))
                              / ((a.n / CAST(a.nt AS DOUBLE)
                                  + b.n / CAST(b.nt AS DOUBLE)) / 2))
                    ELSE 0 END)) AS BIGINT) AS c_micro
    FROM grid a JOIN grid b ON a.word = b.word AND a.source < b.source
)
SELECT source_a, source_b,
       CAST(sum(c_micro) AS BIGINT) AS jsd_micro_nats,
       round(sum(c_micro) / {JSD_SCALE}.0, 6) AS jsd_nats
FROM contrib GROUP BY 1, 2
""",
)
def q_source_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source unigram
    distributions — the DISTRIBUTION-level source-similarity metric
    sitting between `source_overlap_matrix` (set overlap of shingles) and
    `source_embedding_separation` (dense centroids): two sources can
    share every word (overlap ~1) yet use them at wildly different rates,
    which only the JSD sees. Symmetric, bounded by ln 2, zero iff
    identical distributions.

    Determinism: each (pair, word) contribution floors to integer
    micro-nats before the cross-word sum (probabilities are ratios of
    exact bigint counts -> identical doubles -> identical ln/products on
    both engines); one division + round(6) at the edge. Floor-boundary
    clearance of the pre-floor doubles is audited on the real data by
    tests/test_micro_nat_boundary.py.

    Scale: one corpus-wide word-count hash-agg; everything after operates
    on the (sources x vocab) grid — bounded by vocabulary and source
    count, never corpus size (cap the grid with a top-K vocabulary at
    open-vocab scale, the standard JSD-over-top-terms practice)."""
    docs = read_table(spark, sf_dir, "documents")
    w = docs.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    wc = w.groupBy("source", "word").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = wc.groupBy("source").agg(F.sum("n").alias("nt"))
    vocab = wc.select("word").distinct()
    grid = (
        tot.crossJoin(F.broadcast(vocab))
        .join(wc, ["source", "word"], "left")
        .select(
            "source",
            "word",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            "nt",
        )
    )
    a = grid.select(
        F.col("source").alias("source_a"),
        "word",
        F.col("n").alias("na"),
        F.col("nt").alias("ta"),
    )
    b = grid.select(
        F.col("source").alias("source_b"),
        "word",
        F.col("n").alias("nb"),
        F.col("nt").alias("tb"),
    )
    pa = F.col("na") / F.col("ta").cast("double")
    pb = F.col("nb") / F.col("tb").cast("double")
    m = (pa + pb) / 2
    term = F.when(
        F.col("na") > 0, 0.5 * pa * F.log(pa / m)
    ).otherwise(0.0) + F.when(
        F.col("nb") > 0, 0.5 * pb * F.log(pb / m)
    ).otherwise(0.0)
    contrib = (
        a.join(F.broadcast(b), "word")
        .where(F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            F.floor(JSD_SCALE * term).cast("long").alias("c_micro"),
        )
    )
    return contrib.groupBy("source_a", "source_b").agg(
        F.sum("c_micro").alias("jsd_micro_nats"),
        F.round(F.sum("c_micro") / F.lit(float(JSD_SCALE)), 6).alias(
            "jsd_nats"
        ),
    )


# ------------------------------ score agreement (exact Spearman's rho)

def _score_corr_oracle() -> str:
    from . import ORACLES

    qa = ORACLES["quality_score"].strip().rstrip(";")
    qb = ORACLES["bigram_lm_perplexity"].strip().rstrip(";")
    return f"""
WITH qa AS ({qa}),
qb AS ({qb}),
j AS (
    SELECT qa.doc_id, qa.quality, qb.xent_nats
    FROM qa JOIN qb USING (doc_id)
),
r AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY quality, doc_id) AS BIGINT)
               AS ra,
           CAST(row_number() OVER (ORDER BY xent_nats DESC, doc_id)
                AS BIGINT) AS rb
    FROM j
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2,
       round(1 - 6.0 * sum((ra - rb) * (ra - rb))
                 / (count(*) * (count(*) * count(*) - 1)), 6) AS spearman_rho
FROM r
"""


@query("score_correlation", oracle=_score_corr_oracle())
def q_score_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-signal agreement check: exact Spearman rank correlation
    between the heuristic `quality_score` and the bigram-LM cross-entropy
    (xent DESC, so both rankings point 'better first') — the calibration
    number that says whether the cheap heuristic and the statistical
    model would keep the same documents. Rank-based, so it needs no
    distributional assumptions, and EXACT: ranks are total-ordered
    (doc_id tiebreak), d^2 sums are bigints, and rho's single division +
    round(6) closes the scalar.

    Scale: both global ranks run through ``operators.sampling.global_rank``
    (range-partition + per-partition ordinal + O(parallelism) offset
    broadcast) — NEVER a bare ``row_number() OVER (ORDER BY ...)`` window,
    which funnels every score row through one task. The two rank frames
    re-meet on a doc_id equi-join; everything else is one aggregate."""
    from . import QUERIES
    from ..operators.sampling import global_rank

    qa = QUERIES["quality_score"](spark, sf_dir).select("doc_id", "quality")
    qb = QUERIES["bigram_lm_perplexity"](spark, sf_dir).select(
        "doc_id", "xent_nats"
    )
    # localCheckpoint: j feeds BOTH rank branches — without it the
    # quality/LM pipelines would be recomputed once per branch.
    j = qa.join(qb, "doc_id").localCheckpoint(eager=False)
    ra = global_rank(
        j, [F.asc("quality"), F.asc("doc_id")], rank_col="ra0"
    ).select("doc_id", (F.col("ra0") + 1).cast("long").alias("ra"))
    rb = global_rank(
        j, [F.desc("xent_nats"), F.asc("doc_id")], rank_col="rb0"
    ).select("doc_id", (F.col("rb0") + 1).cast("long").alias("rb"))
    r = ra.join(rb, "doc_id")
    d2 = (F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb"))
    return r.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(d2).alias("sum_d2"),
        F.round(
            1
            - 6.0
            * F.sum(d2)
            / (
                F.count(F.lit(1))
                * (F.count(F.lit(1)) * F.count(F.lit(1)) - 1)
            ),
            6,
        ).alias("spearman_rho"),
    )


# ------------------------------ n-gram diversity (type-token ratios)

@query(
    "ngram_diversity",
    oracle="""
WITH toks AS (SELECT source, string_split(text, ' ') AS w FROM documents),
uni AS (
    SELECT source, CAST(1 AS BIGINT) AS n, g FROM (
        SELECT source, unnest(string_split(text, ' ')) AS g FROM documents
    ) WHERE g <> ''
),
bi AS (
    SELECT source, CAST(2 AS BIGINT) AS n, w[i] || ' ' || w[i+1] AS g
    FROM (SELECT source, w,
                 unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i
          FROM toks)
),
tri AS (
    SELECT source, CAST(3 AS BIGINT) AS n,
           w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
    FROM (SELECT source, w,
                 unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
          FROM toks)
),
grams AS (SELECT * FROM uni UNION ALL SELECT * FROM bi
          UNION ALL SELECT * FROM tri)
SELECT source, n,
       CAST(count(*) AS BIGINT) AS occurrences,
       CAST(count(DISTINCT g) AS BIGINT) AS distinct_grams,
       CAST(count(DISTINCT g) * 1000000 // count(*) AS BIGINT) AS ttr_ppm
FROM grams GROUP BY source, n
""",
)
def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram diversity (distinct-n / type-token ratio for
    n = 1, 2, 3): the standard corpus-health metric that catches template
    spam and machine-generated repetition a quality score misses — a
    source can have perfect per-doc quality yet near-zero trigram TTR
    because every doc is the same template. `doc_repetition` is the
    WITHIN-doc twin; `boilerplate_ngrams` lists the shared strings; this
    row gives the source-grain scalar a curation dashboard tracks.

    Unigrams drop empty tokens (vocabulary convention); 2/3-grams run
    over the raw split arrays (shingle convention, matching SHINGLE_CTE).
    All integers + one bigint `div` — bit-stable. One explode + one
    two-phase distinct aggregate per n, all map-side combinable; at open
    scale swap count_distinct for approx_count_distinct (the
    `sketch_rollup_users` HLL pattern) without changing the shape."""
    docs = read_table(spark, sf_dir, "documents")

    def grams(k: int):
        if k == 1:
            return (
                docs.select(
                    "source", F.explode(F.split("text", " ")).alias("g")
                )
                .where(F.col("g") != "")
                .select("source", F.lit(1).cast("long").alias("n"), "g")
            )
        # Guard docs shorter than k tokens: Spark's sequence(1, 0) is the
        # DESCENDING [1, 0] (not empty like DuckDB's generate_series), and
        # the i = 0 element would crash slice(). Empty array -> no rows.
        return docs.select(
            "source",
            F.lit(k).cast("long").alias("n"),
            F.explode(
                F.expr(
                    f"CASE WHEN size(split(text, ' ')) >= {k} THEN "
                    f"transform(sequence(1, size(split(text, ' ')) "
                    f"- {k - 1}), i -> concat_ws(' ', "
                    f"slice(split(text, ' '), i, {k}))) "
                    f"ELSE CAST(array() AS array<string>) END"
                )
            ).alias("g"),
        )

    all_grams = grams(1).unionByName(grams(2)).unionByName(grams(3))
    return all_grams.groupBy("source", "n").agg(
        F.count(F.lit(1)).alias("occurrences"),
        F.countDistinct("g").alias("distinct_grams"),
        F.expr(
            "CAST(count(DISTINCT g) * 1000000 div count(1) AS BIGINT)"
        ).alias("ttr_ppm"),
    )


# ----------------------------------------- Kneser-Ney bigram LM scoring

# Absolute discount D = 3/4, carried as the exact rational 3/4 so every
# probability is a ratio of two bigints and the micro-nat floor sees the
# identical double on both engines.
KN_DISC_NUM = 3
KN_DISC_DEN = 4

_KN_CTES = """
toks AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
bg AS (
    SELECT doc_id, w[i] AS w1, w[i+1] AS w2
    FROM (SELECT doc_id, w,
                 unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i
          FROM toks)
),
tr AS (SELECT w1, w2 FROM bg WHERE doc_id % 2 = 0),
sc AS (SELECT doc_id, w1, w2 FROM bg WHERE doc_id % 2 = 1),
c12 AS (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM tr GROUP BY 1, 2
),
c1 AS (
    SELECT w1, CAST(sum(c) AS BIGINT) AS c,
           CAST(count(*) AS BIGINT) AS n1p
    FROM c12 GROUP BY 1
),
cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS c FROM c12 GROUP BY 1),
tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM c12),
kn_scored AS (
    SELECT s.doc_id, cont.c AS cw2, c1.c AS ch, c1.n1p AS n1p,
           c12.c AS cb, tt.t AS t
    FROM sc s
    LEFT JOIN cont ON cont.w2 = s.w2
    LEFT JOIN c1 ON c1.w1 = s.w1
    LEFT JOIN c12 ON c12.w1 = s.w1 AND c12.w2 = s.w2
    CROSS JOIN tt
)
"""

# Pre-floor micro-nat expression shared by the oracle and the boundary
# audit (tests/test_micro_nat_boundary.py): exact-bigint numerator /
# denominator, ONE double division, one ln.
_KN_LL_SQL = f"""
CASE WHEN cw2 IS NULL THEN NULL
     WHEN ch IS NULL THEN
          ln(CAST(cw2 AS DOUBLE) / CAST(t AS DOUBLE)) * {LM_SCALE}
     ELSE ln(CAST(greatest({KN_DISC_DEN} * coalesce(cb, 0)
                           - {KN_DISC_NUM}, 0) * t
                  + {KN_DISC_NUM} * n1p * cw2 AS DOUBLE)
             / CAST({KN_DISC_DEN} * ch * t AS DOUBLE)) * {LM_SCALE}
END"""


@query(
    "kneser_ney_perplexity",
    oracle=f"""
WITH {_KN_CTES},
ll AS (
    SELECT doc_id, CAST(floor({_KN_LL_SQL}) AS BIGINT) AS ll_micro,
           cw2 IS NULL AS oov
    FROM kn_scored
)
SELECT doc_id,
       CAST(count(*) FILTER (WHERE NOT oov) AS BIGINT) AS n_scored,
       CAST(count(*) FILTER (WHERE oov) AS BIGINT) AS n_oov,
       CAST(coalesce(sum(ll_micro), 0) AS BIGINT) AS ll_micro_nats,
       CASE WHEN count(*) FILTER (WHERE NOT oov) > 0
            THEN round(-sum(ll_micro)
                       / (count(*) FILTER (WHERE NOT oov)
                          * {LM_SCALE}.0), 6)
            ELSE NULL END AS xent_nats
FROM ll GROUP BY doc_id
""",
)
def q_kneser_ney_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM with a TRUE held-out split — the
    production upgrade over `bigram_lm_perplexity`'s in-sample add-one
    model, and the smoothing family CCNet-style quality filters actually
    train (KenLM default). Train on even doc_ids, score odd ones, so the
    scorer meets genuinely unseen bigrams: seen mass is discounted by
    D=3/4 and the freed mass backs off to the CONTINUATION distribution
    (how many distinct histories precede w2 — "Francisco" is frequent but
    follows only "San", so KN correctly scores it near-zero in novel
    contexts, where a frequency-backoff model wildly overrates it).
    Histories never seen in training back off to the continuation
    distribution alone; words never seen as a continuation are reported
    per-doc as n_oov instead of receiving a fake floor probability.

    Determinism: with discount 3/4 every probability is an exact ratio of
    two bigints — seen: (max(4*c12-3,0)*T + 3*N1+(w1,*)*N1+(*,w2)) /
    (4*c1*T); unseen history: N1+(*,w2)/T — so both engines floor the ln
    of the IDENTICAL double (micro-nat recipe; boundary clearance audited
    in tests/test_micro_nat_boundary.py). Degenerate p=1 corpora hit the
    structural-zero case (ln(1.0) is IEEE-exact).

    Scale shape: the model tables (c12, c1+N1+, continuation counts, T)
    are vocabulary-bounded aggregates of ONE pass over the train split;
    scoring is three key-joins on the bigram stream with no window and no
    data-sized sort. The joins carry no broadcast hint on purpose —
    vocabulary grows with corpus size (Heaps' law), so the planner/AQE
    picks the strategy (`pair_overlap_stats` documents the same stance).
    Ref: the reference has no LM family at all; extension per SURVEY
    §2.13."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("w"))
    bg = toks.where(F.size("w") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), "
                "i -> struct(element_at(w, i) as w1, "
                "element_at(w, i + 1) as w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    tr = bg.where(F.col("doc_id") % 2 == 0)
    sc = bg.where(F.col("doc_id") % 2 == 1)
    c12 = tr.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    c1 = c12.groupBy("w1").agg(
        F.sum("cb").alias("ch"), F.count(F.lit(1)).alias("n1p")
    )
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("cw2"))
    tt = c12.agg(F.count(F.lit(1)).alias("t"))
    scored = (
        sc.join(cont, "w2", "left")
        .join(c1, "w1", "left")
        .join(c12, ["w1", "w2"], "left")
        .crossJoin(F.broadcast(tt))
        .select(
            "doc_id",
            F.expr(_KN_LL_SQL).alias("ll_raw"),
            F.col("cw2").isNull().alias("oov"),
        )
        .select(
            "doc_id",
            F.floor("ll_raw").cast("long").alias("ll_micro"),
            "oov",
        )
    )
    n_ok = F.sum((~F.col("oov")).cast("long"))
    return scored.groupBy("doc_id").agg(
        n_ok.alias("n_scored"),
        F.sum(F.col("oov").cast("long")).alias("n_oov"),
        F.coalesce(F.sum("ll_micro"), F.lit(0)).alias("ll_micro_nats"),
        F.when(
            n_ok > 0,
            F.round(-F.sum("ll_micro") / (n_ok * F.lit(float(LM_SCALE))), 6),
        ).alias("xent_nats"),
    )


# --------------------------------- unseen-vocabulary coverage estimation

_VOCAB_COV_ORACLE = """
WITH terms AS (
    SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
),
tc AS (
    SELECT source, term, CAST(count(*) AS BIGINT) AS n
    FROM terms WHERE term <> '' GROUP BY 1, 2
),
coc AS (
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(count(*) FILTER (WHERE n = 1) AS BIGINT) AS f1,
           CAST(count(*) FILTER (WHERE n = 2) AS BIGINT) AS f2
    FROM tc GROUP BY 1
)
SELECT source, n_tokens, vocab, f1, f2,
       CAST(vocab + f1 * (f1 - 1) // (2 * (f2 + 1)) AS BIGINT)
           AS chao1_richness,
       CAST(f1 * 1000000 // n_tokens AS BIGINT) AS missing_mass_ppm
FROM coc
"""


@query("vocab_coverage_estimate", oracle=_VOCAB_COV_ORACLE)
def q_vocab_coverage_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unseen-vocabulary estimation per source: the Good-Turing missing
    mass f1/N (the probability the NEXT token is a type never seen — the
    classic answer to "is this source mined out or still novel") and the
    bias-corrected Chao1 richness V + f1(f1-1)/(2(f2+1)) (a lower bound
    on the source's TRUE vocabulary size) from the singleton/doubleton
    counts — the curation signal that decides whether to keep crawling a
    source at 100 TB (cf. `ngram_diversity`, which measures repetition
    WITHIN what was seen; this extrapolates to what was NOT).

    Determinism: all inputs are exact counts; both estimators are
    integer floor divisions. Scale shape: explode -> per-(source, term)
    hash-agg -> per-source count-of-counts hash-agg; both aggregates are
    map-side combinable and the second's input is vocabulary-sized."""
    docs = read_table(spark, sf_dir, "documents")
    tc = (
        docs.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("term")
        )
        .where(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    coc = tc.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("long")
        .alias("f1"),
        F.sum(F.when(F.col("n") == 2, 1).otherwise(0))
        .cast("long")
        .alias("f2"),
    )
    return coc.select(
        "source",
        "n_tokens",
        "vocab",
        "f1",
        "f2",
        # `div` = exact bigint division. f1*(f1-1) exceeds 2^53 once a
        # source has > ~9.4e7 singleton types (plausible at 100 TB), and
        # a double quotient can then floor differently from the oracle's
        # exact `//` (round-8 advice item); operands are non-negative so
        # trunc == floor.
        (
            F.col("vocab")
            + F.expr("f1 * (f1 - 1) div (2 * (f2 + 1))").cast("long")
        ).cast("long").alias("chao1_richness"),
        F.expr("f1 * CAST(1000000 AS BIGINT) div n_tokens")
        .cast("long")
        .alias("missing_mass_ppm"),
    )


# ------------------------------------------- RAKE keyword extraction

RAKE_MAX_LEN = 4  # discard longer stopword-delimited runs (bounds phrase cardinality)
RAKE_TOP_K = 25

_RAKE_ORACLE = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
t AS (
    SELECT doc_id, i AS pos, sp[i] AS term
    FROM (SELECT doc_id, sp, unnest(generate_series(1, len(sp))) AS i
          FROM w)
    WHERE sp[i] <> ''
),
m AS (
    SELECT doc_id, pos, term,
           CASE WHEN term IN {_STOP_IN_SQL} THEN 1 ELSE 0 END AS stop
    FROM t
),
s0 AS (
    SELECT doc_id, pos, term, stop,
           sum(stop) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS UNBOUNDED PRECEDING) AS seg
    FROM m
),
s AS (SELECT doc_id, seg, pos, term FROM s0 WHERE stop = 0),
ph AS (
    SELECT doc_id, seg, CAST(count(*) AS BIGINT) AS plen,
           string_agg(term, ' ' ORDER BY pos) AS phrase
    FROM s GROUP BY 1, 2
),
phk AS (SELECT * FROM ph WHERE plen <= {RAKE_MAX_LEN}),
sw AS (
    SELECT s.term, phk.plen
    FROM s JOIN phk USING (doc_id, seg)
),
ws AS (
    SELECT term,
           CAST(sum(plen) * 1000000 // count(*) AS BIGINT) AS score_ppm
    FROM sw GROUP BY 1
),
pi AS (
    SELECT s.doc_id, s.seg, CAST(sum(ws.score_ppm) AS BIGINT) AS psc
    FROM s JOIN phk USING (doc_id, seg) JOIN ws ON ws.term = s.term
    GROUP BY 1, 2
),
agg AS (
    SELECT phk.phrase, CAST(max(phk.plen) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(max(pi.psc) AS BIGINT) AS score_ppm
    FROM phk JOIN pi USING (doc_id, seg)
    GROUP BY 1
)
SELECT phrase, n_tokens, n_occurrences, score_ppm
FROM agg ORDER BY score_ppm DESC, phrase LIMIT {RAKE_TOP_K}
"""


@query("rake_keywords", oracle=_RAKE_ORACLE)
def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-delimited token runs (length <= {MAXLEN} —
    the cardinality bound); each word scores deg/freq where freq is its
    occurrence count inside kept phrases and deg the summed length of
    the phrases it appears in; a phrase scores the sum of its word
    scores; top-{K} distinct phrases win. The PHRASE-producing
    complement to `textrank_keywords`' single-term ranking — RAKE needs
    no graph iteration, one reason it remains the default cheap
    keyphrase pass in curation pipelines.

    Exactness: word scores are ppm-floored integer divisions (both
    engines nonneg exact) and phrase scores exact bigint sums of them
    — floor-per-word is the DEFINED scoring, shared verbatim.
    Scale shape: tokenization is a zero-shuffle posexplode; phrase
    segmentation is one per-document cumulative window (bounded by doc
    length, never corpus-sized groups); word stats and phrase scores
    are hash-aggs; the final cut is TakeOrderedAndProject. No
    iteration, no driver collects."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    t = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "term"),
    ).where(F.col("term") != "")
    m = t.withColumn(
        "stop", F.col("term").isin(*_EN_STOPWORDS).cast("int")
    )
    wseg = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = (
        m.withColumn("seg", F.sum("stop").over(wseg))
        .where(F.col("stop") == 0)
        .select("doc_id", "seg", "pos", "term")
    )
    ph = (
        s.groupBy("doc_id", "seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("plen"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "term"))),
                    lambda x: x["term"],
                ),
            ).alias("phrase"),
        )
        .where(F.col("plen") <= RAKE_MAX_LEN)
    )
    sw = s.join(ph.select("doc_id", "seg", "plen"), ["doc_id", "seg"])
    ws = sw.groupBy("term").agg(
        F.expr("CAST(sum(plen) * 1000000 div count(*) AS BIGINT)").alias(
            "score_ppm"
        )
    )
    pi = (
        sw.join(ws, "term")
        .groupBy("doc_id", "seg")
        .agg(F.sum("score_ppm").cast("long").alias("psc"))
    )
    agg = (
        ph.join(pi, ["doc_id", "seg"])
        .groupBy("phrase")
        .agg(
            F.max("plen").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.max("psc").cast("long").alias("score_ppm"),
        )
    )
    return (
        agg.orderBy(F.desc("score_ppm"), F.asc("phrase"))
        .limit(RAKE_TOP_K)
        .select("phrase", "n_tokens", "n_occurrences", "score_ppm")
    )


q_rake_keywords.__doc__ = q_rake_keywords.__doc__.format(
    MAXLEN=RAKE_MAX_LEN, K=RAKE_TOP_K
)
