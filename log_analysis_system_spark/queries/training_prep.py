"""Training-data preparation operators: decontamination, sequence packing,
boilerplate detection, PII redaction, curriculum binning, and mixture
weighting over the ``documents`` table.

No reference counterpart (the reference is clickstream analytics) — this is
the LLM-pipeline extension surface (BASELINE.json north star), the stages a
100 TB pretraining corpus goes through between raw scrape and tokenizer:

- eval-set decontamination: drop training docs sharing long n-grams with a
  held-out benchmark (the standard GPT-3/PaLM-style 'test set overlap'
  filter). The eval side is ALWAYS small (benchmarks are KBs-MBs), so the
  gram join broadcasts the eval grams — the 100 TB side never shuffles.
- sequence packing: concatenate docs in deterministic order per language
  stream and cut into fixed token-budget shards ('concat-and-chunk' packing).
  Expressed as one per-lang cumulative-sum window — the partition key is the
  language stream, so no global sort and no single-partition window.
- boilerplate n-grams: document-frequency heavy hitters (headers/footers
  repeated across a crawl). Two hash aggregates; the explode is the only
  fan-out and collapses immediately into (gram, df) pairs.
- PII redaction: pure-regex codegen scrub (emails / IPv4 / long digit runs);
  patterns restricted to syntax with identical semantics in Java regex and
  RE2 so Spark and the DuckDB oracle agree byte-for-byte.
- quality deciles: curriculum binning via ntile over a deterministic
  (quality, doc_id) total order per language.
- mixture weights: per-language token shares vs a uniform target — the
  static data-mixing reweight (DoReMi-style inputs) as one aggregate.

All six are zero-UDF column expressions — whole-stage codegen end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.sampling import grouped_prefix_sum
from ..sources.catalog import read_table
from . import query

# ------------------------------------------------------------- shared bits

EVAL_SOURCES = ("src0", "src1")  # simulated held-out benchmark slice
_EVAL_IN = "('src0', 'src1')"
DECON_N = 5  # n-gram order for contamination matching
PACK_BUDGET = 512  # tokens per packed shard
BOILERPLATE_N = 2
BOILERPLATE_MIN_DF = 25  # ~5% of the sf0.01 corpus


def _word_ngrams(n: int) -> F.Column:
    """Distinct word n-grams of ``text`` as an array column (docs shorter
    than ``n`` words yield none — a short doc cannot carry a full gram).
    The short-doc case needs an explicit guard: Spark's ``sequence(1, 0)``
    DESCENDS to [1, 0] and the 0 start would crash ``slice``."""
    return F.when(
        F.size(F.split("text", " ")) >= n,
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, size(split(text, ' ')) - {n - 1}),"
                f" i -> concat_ws(' ', slice(split(text, ' '), i, {n})))"
            )
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))


_NGRAM_CTE = """
words AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
grams AS (
    SELECT DISTINCT doc_id, source,
           array_to_string(w[i:i+{nm1}], ' ') AS gram
    FROM (SELECT doc_id, source, w,
                 unnest(generate_series(1, len(w) - {nm1})) AS i
          FROM words
          WHERE len(w) >= {n})
)
""".format(n=DECON_N, nm1=DECON_N - 1)


# ------------------------------------------------------- decontamination

@query(
    "decontaminate_ngram",
    oracle=f"""
WITH {_NGRAM_CTE},
eval_grams AS (
    SELECT DISTINCT gram FROM grams WHERE source IN {_EVAL_IN}
)
SELECT g.doc_id, count(*) AS n_hit_grams
FROM grams g JOIN eval_grams e USING (gram)
WHERE g.source NOT IN {_EVAL_IN}
GROUP BY 1
""",
)
def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs (source not in the eval
    slice) that share at least one word {DECON_N}-gram with any eval doc,
    with the count of distinct shared grams (the evidence a filter would log
    before dropping the doc).

    Scale shape: the eval side aggregates to a distinct-gram set that is
    small by construction (benchmarks don't grow with the corpus), so the
    join is a broadcast hash join against the exploded training grams —
    the corpus-sized side is never shuffled, and the per-doc count is a
    map-side-combinable hash aggregate on doc_id.
    """
    docs = read_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", "source", F.explode(_word_ngrams(DECON_N)).alias("gram")
    )
    eval_grams = (
        grams.where(F.col("source").isin(*EVAL_SOURCES))
        .select("gram")
        .distinct()
    )
    train = grams.where(~F.col("source").isin(*EVAL_SOURCES))
    return (
        train.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )


# ------------------------------------------------------- sequence packing

@query(
    "pack_sequences",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
),
c AS (
    SELECT doc_id, lang, n_tokens,
           sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
    FROM toks
)
SELECT doc_id, lang, n_tokens,
       CAST((cum - n_tokens) // {PACK_BUDGET} AS BIGINT) AS shard_id,
       CAST((cum - n_tokens) % {PACK_BUDGET} AS BIGINT) AS shard_offset
FROM c
""",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: per language stream, documents are
    concatenated in doc_id order and cut into {PACK_BUDGET}-token shards; a
    document belongs to the shard where its first token lands (the standard
    drop-nothing packing used before tokenizer sharding).

    Scale shape: ``grouped_prefix_sum`` — a window partitioned by the bare
    ``lang`` would make each language ONE task (five languages = five
    stragglers at 100 TB), so the running sum is computed per
    (range-partition, lang) slice and lifted to the stream-global value by
    a broadcast offset join over the O(parallelism x langs) totals table.
    Task size is bounded by partition size, never language size, and the
    result is placement-independent (CPUS-sweep checked).
    """
    docs = read_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("long")
    toks = docs.select("doc_id", "lang", n_tokens.alias("n_tokens"))
    cum = grouped_prefix_sum(
        toks, ["lang"], [F.asc("doc_id")], F.col("n_tokens"), out_col="__cum"
    )
    start = (F.col("__cum") - F.col("n_tokens")).cast("long")
    return cum.select(
        "doc_id",
        "lang",
        "n_tokens",
        (start / PACK_BUDGET).cast("long").alias("shard_id"),
        (start % PACK_BUDGET).cast("long").alias("shard_offset"),
    )


# --------------------------------------------------- boilerplate n-grams

@query(
    "boilerplate_ngrams",
    oracle=f"""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
grams AS (
    SELECT DISTINCT doc_id, array_to_string(w[i:i+1], ' ') AS gram
    FROM (SELECT doc_id, w,
                 unnest(generate_series(1, len(w) - 1)) AS i
          FROM words WHERE len(w) >= 2)
)
SELECT gram, count(*) AS doc_freq
FROM grams GROUP BY 1 HAVING count(*) >= {BOILERPLATE_MIN_DF}
""",
)
def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: word {BOILERPLATE_N}-grams present in at least
    {BOILERPLATE_MIN_DF} distinct documents (repeated headers / footers /
    navigation chrome in a crawl). The output feeds a removal pass.

    Scale shape: explode → distinct per doc (array_distinct before the
    explode, so the fan-out is already deduped) → one hash aggregate on the
    gram. Document frequency is a count of (gram, doc) pairs — map-side
    combinable. For 100 TB the HAVING threshold prunes the long tail early
    because partial counts below df threshold can't pass the final filter;
    a count-min sketch pre-pass is the documented alternative when even the
    (gram, df) pairs overflow.
    """
    docs = read_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(_word_ngrams(BOILERPLATE_N)).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .where(F.col("doc_freq") >= BOILERPLATE_MIN_DF)
    )


# ------------------------------------------------------------ PII redact

# Patterns chosen for identical semantics in Java regex (Spark) and RE2
# (DuckDB): plain character classes and bounded repetition only.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
_PII_IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
_PII_DIGITS = r"[0-9]{9,}"


def redact_pii(text: F.Column) -> F.Column:
    """Replace emails, IPv4 addresses, and 9+-digit runs with typed tags.
    Order matters: IPv4 before digit-runs so an address is not half-eaten."""
    out = F.regexp_replace(text, _PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, _PII_IPV4, "<IP>")
    return F.regexp_replace(out, _PII_DIGITS, "<NUM>")


@query(
    "pii_redact",
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT)
           AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PII_IPV4}')) AS BIGINT)
           AS n_ips,
       CAST(len(regexp_extract_all(
                regexp_replace(text, '{_PII_IPV4}', '<IP>', 'g'),
                '{_PII_DIGITS}')) AS BIGINT) AS n_digit_runs,
       CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
                '{_PII_EMAIL}', '<EMAIL>', 'g'),
                '{_PII_IPV4}', '<IP>', 'g'),
                '{_PII_DIGITS}', '<NUM>', 'g')) AS BIGINT) AS redacted_len
FROM documents
""",
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: per-document counts of redacted spans by type plus the
    redacted text length (the audit record a compliance pass emits). The
    synthetic corpus contains no PII — counts are legitimately zero here;
    `tests/test_training_prep.py` drives the same expressions over crafted
    fixtures with real hits.

    Scale shape: row-local regex projection, zero shuffle, whole-stage
    codegen; the only cost is the regex engine itself, which is why the
    patterns are anchored character classes (no catastrophic backtracking).
    """
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count("text", F.lit(_PII_IPV4)).cast("long").alias("n_ips"),
        F.regexp_count(
            F.regexp_replace("text", _PII_IPV4, "<IP>"), F.lit(_PII_DIGITS)
        )
        .cast("long")
        .alias("n_digit_runs"),
        F.length(redact_pii(F.col("text"))).cast("long").alias("redacted_len"),
    )


# ------------------------------------------------------ curriculum decile

@query(
    "quality_deciles",
    oracle="""
WITH feat AS (
    SELECT doc_id, lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
)
SELECT doc_id, lang,
       CAST(ntile(10) OVER (PARTITION BY lang
                            ORDER BY n_tokens DESC, doc_id) AS BIGINT)
           AS decile
FROM feat
""",
)
def q_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum binning: decile rank of each doc within its language by a
    quality proxy (token count), ties broken by doc_id so the ntile is a
    total order and both engines agree exactly.

    Scale shape: ``grouped_prefix_sum`` of 1s gives each doc its 1-based
    rank within its language WITHOUT a bare-lang window (which would make
    each language a single straggler task at 100 TB); ntile's exact bucket
    arithmetic — the first n mod 10 deciles get one extra row — is then a
    row-local formula over (rank, per-lang count), with the tiny per-lang
    count table broadcast. Output is bit-identical to the window ntile the
    oracle states.
    """
    docs = read_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("long")
    feat = docs.select("doc_id", "lang", n_tokens.alias("n_tokens"))
    ranked = grouped_prefix_sum(
        feat,
        ["lang"],
        [F.desc("n_tokens"), F.asc("doc_id")],
        F.lit(1).cast("long"),
        out_col="__r1",
    )
    counts = feat.groupBy("lang").agg(F.count(F.lit(1)).alias("__n"))
    r0 = F.col("__r1") - 1
    n, k = F.col("__n"), F.lit(10)
    big, small = n % k, F.floor(n / k).cast("long")
    # ntile(k): the first (n mod k) buckets hold ceil(n/k) rows each.
    decile = (
        F.when(r0 < big * (small + 1), F.floor(r0 / (small + 1)))
        .otherwise(big + F.floor((r0 - big * (small + 1)) / F.greatest(small, F.lit(1))))
        .cast("long")
        + 1
    )
    return ranked.join(F.broadcast(counts), "lang").select(
        "doc_id", "lang", decile.alias("decile")
    )


# ------------------------------------------------------- mixture weights

_MIX_SCALE = 1_000_000


@query(
    "source_mixture_weights",
    oracle=f"""
WITH per_lang AS (
    SELECT lang, count(*) AS n_docs,
           sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS n_tokens
    FROM documents GROUP BY 1
),
tot AS (SELECT sum(n_tokens) AS all_tokens, count(*) AS n_langs FROM per_lang)
SELECT lang, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_tokens * {_MIX_SCALE} // all_tokens AS BIGINT) AS share_ppm,
       CAST({_MIX_SCALE} * all_tokens // (n_langs * n_tokens) AS BIGINT)
           AS weight_ppm
FROM per_lang, tot
""",
)
def q_source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static mixture reweighting: per-language token share and the
    resampling weight that moves the mix to a uniform-over-languages target
    (weight = target_share / actual_share), in integer parts-per-million so
    both engines agree bit-for-bit.

    Scale shape: one hash aggregate (per-lang token sums) plus a broadcast
    of the single-row total — the classic two-level aggregation; nothing
    here grows with corpus size except the first map-side sum.
    """
    docs = read_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("long")
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tokens).alias("n_tokens"),
    )
    tot = per_lang.agg(
        F.sum("n_tokens").alias("all_tokens"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    j = per_lang.crossJoin(F.broadcast(tot))
    # integer floor-division on both engines: operands stay far below 2^53,
    # so the double intermediate is exact and cast("long") == floor here
    share_ppm = F.floor(
        (F.col("n_tokens") * _MIX_SCALE) / F.col("all_tokens")
    ).cast("long")
    weight_ppm = F.floor(
        (F.lit(_MIX_SCALE) * F.col("all_tokens"))
        / (F.col("n_langs") * F.col("n_tokens"))
    ).cast("long")
    return j.select(
        "lang",
        "n_docs",
        "n_tokens",
        share_ppm.alias("share_ppm"),
        weight_ppm.alias("weight_ppm"),
    )


@query(
    "temperature_mixture_weights",
    oracle=f"""
WITH per_src AS (
    SELECT source,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY 1
),
s AS (
    SELECT source, n_tokens,
           CAST(floor(sqrt(n_tokens) * 1000) AS BIGINT) AS sqrt_milli
    FROM per_src
),
tot AS (
    SELECT CAST(sum(n_tokens) AS BIGINT) AS all_tokens,
           CAST(sum(sqrt_milli) AS BIGINT) AS all_sqrt
    FROM s
)
SELECT source, n_tokens, sqrt_milli,
       CAST(n_tokens * 1000000 // all_tokens AS BIGINT) AS natural_ppm,
       CAST(sqrt_milli * 1000000 // all_sqrt AS BIGINT) AS temp_ppm
FROM s, tot
""",
)
def q_temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha = 0.5) sampling mix over sources: the
    multilingual-LM standard that upweights small sources without letting
    any source dominate — sample_i proportional to p_i^alpha. With
    alpha = 1/2 the power is ``sqrt``, which IEEE 754 REQUIRES to be
    correctly rounded (unlike ln/exp), so floor(sqrt(n)·1000) is
    bit-identical on every engine with no boundary audit needed; the
    normalization is then pure bigint `div`. Compare ``natural_ppm``
    (alpha = 1) with ``temp_ppm`` (alpha = 0.5) to see the flattening.

    Scale shape: one per-source hash-agg + a 1-row broadcast total —
    output is |sources| rows."""
    docs = read_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("n_tokens")
    )
    s = per_src.withColumn(
        "sqrt_milli",
        F.floor(F.sqrt(F.col("n_tokens")) * 1000).cast("long"),
    )
    tot = s.agg(
        F.sum("n_tokens").alias("all_tokens"),
        F.sum("sqrt_milli").alias("all_sqrt"),
    )
    return s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        "sqrt_milli",
        F.expr("CAST(n_tokens * 1000000 div all_tokens AS BIGINT)").alias(
            "natural_ppm"
        ),
        F.expr("CAST(sqrt_milli * 1000000 div all_sqrt AS BIGINT)").alias(
            "temp_ppm"
        ),
    )


# ------------------------------------------------------- mixture schedule

SCHED_SCALE = 1 << 20  # integer stride resolution (exact in double)
SCHED_LIMIT = 100      # schedule slots emitted


@query(
    "mixture_schedule",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
    FROM documents
),
ranked AS (
    SELECT doc_id, source,
           row_number() OVER (PARTITION BY source
                              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               - 1 AS rnk
    FROM toks
),
sizes AS (SELECT source, sum(nt) AS n_tokens FROM toks GROUP BY 1)
SELECT r.doc_id, r.source, CAST(r.rnk AS BIGINT) AS rank_in_source,
       CAST(floor(CAST(r.rnk AS DOUBLE) * {SCHED_SCALE} / s.n_tokens)
            AS BIGINT) AS sched_key
FROM ranked r JOIN sizes s USING (source)
ORDER BY sched_key, source, doc_id
LIMIT {SCHED_LIMIT}
""",
)
def q_mixture_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixing schedule (stride scheduling): interleave
    sources into one global training order at frequencies proportional to
    their token mass — doc ``r`` of source ``s`` is scheduled at key
    ``floor(r * SCALE / tokens_s)``, so a source with 2x the tokens surfaces
    2x as often, uniformly across the epoch instead of in source-sized
    runs. Within a source the order is an md5 shuffle (stable across runs
    and engines). Emits the first SCHED_LIMIT slots; companions:
    `source_mixture_weights` (the target weights), `pack_sequences` (what
    happens to each slot next).

    Scale design: the per-source rank runs through ``grouped_prefix_sum``'s
    md5-nibble slice fast path — one hash exchange on (slice, source),
    never a one-task-per-source window — and the final cut is an
    ``ORDER BY ... LIMIT`` that compiles to TakeOrderedAndProject
    (per-partition heap + driver merge of SCHED_LIMIT rows), not a global
    sort. The per-source token totals are a broadcast dimension."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("nt"),
    )
    md5k = F.md5(F.col("doc_id").cast("string").cast("binary"))
    ranked = grouped_prefix_sum(
        docs,
        ["source"],
        [F.asc(md5k), F.asc("doc_id")],
        F.lit(1).cast("long"),
        out_col="rn",
        slice_col=F.conv(F.substring(md5k, 1, 1), 16, 10),
    ).withColumn("rnk", F.col("rn") - 1)
    sizes = docs.groupBy("source").agg(F.sum("nt").alias("n_tokens"))
    keyed = ranked.join(F.broadcast(sizes), "source").select(
        "doc_id",
        "source",
        F.col("rnk").alias("rank_in_source"),
        F.floor(
            F.col("rnk") * F.lit(SCHED_SCALE) / F.col("n_tokens")
        ).cast("long").alias("sched_key"),
    )
    return keyed.orderBy("sched_key", "source", "doc_id").limit(SCHED_LIMIT)


# ------------------------------------------------------ context chunking

CHUNK_TOKENS = 32   # context-window length (tokens)
CHUNK_STRIDE = 24   # step between chunk starts (=> CHUNK_TOKENS-STRIDE overlap)


@query(
    "chunk_documents",
    oracle=f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS w,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n
    FROM documents
),
c AS (
    SELECT doc_id, n,
           unnest(generate_series(0,
               CASE WHEN n <= {CHUNK_TOKENS} THEN 0
                    ELSE CAST(ceil((n - {CHUNK_TOKENS}) / {CHUNK_STRIDE}.0)
                         AS BIGINT) END)) AS chunk_idx
    FROM t
)
SELECT c.doc_id, CAST(c.chunk_idx AS BIGINT) AS chunk_idx,
       least({CHUNK_TOKENS}, c.n - c.chunk_idx * {CHUNK_STRIDE})
           AS chunk_tokens,
       md5(array_to_string(
           list_slice(t.w, c.chunk_idx * {CHUNK_STRIDE} + 1,
                      c.chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' '))
           AS chunk_md5
FROM c JOIN t USING (doc_id)
""",
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split every document into
    CHUNK_TOKENS-token windows advancing by CHUNK_STRIDE (so consecutive
    chunks overlap by CHUNK_TOKENS-STRIDE tokens — the standard long-doc
    preprocessing before packing/tokenization; the trailing chunk keeps
    whatever remains). Emits per-chunk token count and content md5, so the
    oracle verifies the chunk BOUNDARIES and BYTES, not just counts.

    Scale design: pure per-row projection + one explode — zero shuffles,
    whole-stage codegen end to end (same class as text_metrics); chunk
    count per doc is data-bounded (ceil(n/stride)), never collected."""
    C, S = CHUNK_TOKENS, CHUNK_STRIDE
    docs = read_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("w"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n"),
    )
    n_extra = F.when(F.col("n") <= C, F.lit(0).cast("long")).otherwise(
        F.ceil((F.col("n") - C) / F.lit(float(S))).cast("long")
    )
    c = t.select(
        "doc_id",
        "w",
        "n",
        F.explode(F.sequence(F.lit(0).cast("long"), n_extra)).alias(
            "chunk_idx"
        ),
    )
    start = F.col("chunk_idx") * S
    return c.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.least(F.lit(C).cast("long"), F.col("n") - start).alias(
            "chunk_tokens"
        ),
        F.md5(
            F.concat_ws(
                " ", F.slice(F.col("w"), (start + 1).cast("int"), C)
            ).cast("binary")
        ).alias("chunk_md5"),
    )


# ---------------------------------------------------- training manifest

MANIFEST_BUDGET = 256  # tokens per training shard

# chunk boundaries as a reusable CTE (same math as chunk_documents' oracle,
# plus the source column the packing stream keys on)
_CHUNKS_CTE = f"""
t AS (
    SELECT doc_id, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n
    FROM documents
),
chunks AS (
    SELECT doc_id, source, chunk_idx,
           least({CHUNK_TOKENS}, n - chunk_idx * {CHUNK_STRIDE})
               AS chunk_tokens
    FROM (
        SELECT doc_id, source, n,
               unnest(generate_series(0,
                   CASE WHEN n <= {CHUNK_TOKENS} THEN 0
                        ELSE CAST(ceil((n - {CHUNK_TOKENS})
                                       / {CHUNK_STRIDE}.0) AS BIGINT) END))
                   AS chunk_idx
        FROM t
    )
)
"""


@query(
    "training_manifest",
    oracle=f"""
WITH {_CHUNKS_CTE},
packed AS (
    SELECT source, doc_id, chunk_tokens,
           sum(chunk_tokens) OVER (PARTITION BY source
                                   ORDER BY doc_id, chunk_idx
                                   ROWS UNBOUNDED PRECEDING) AS cum
    FROM chunks
)
SELECT source,
       CAST((cum - chunk_tokens) // {MANIFEST_BUDGET} AS BIGINT) AS shard_id,
       count(*) AS n_chunks,
       count(DISTINCT doc_id) AS n_docs,
       CAST(sum(chunk_tokens) AS BIGINT) AS shard_tokens
FROM packed
GROUP BY 1, 2
""",
)
def q_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training manifest: chunk every document into overlapping
    context windows (chunk_documents math), concatenate each source's
    chunks in (doc_id, chunk_idx) order, cut the stream into
    MANIFEST_BUDGET-token shards (a chunk belongs to the shard where its
    first token lands — drop-nothing packing), and emit the per-shard
    manifest (chunk/doc counts, token fill) a loader consumes. This is the
    post-curation half of the pipeline as ONE declarative plan:
    `corpus_pipeline` decides WHAT survives; this decides WHERE each
    surviving token lands.

    Scale design: chunking is a zero-shuffle explode; the running token
    sum uses ``grouped_prefix_sum`` so no source becomes a single task;
    the manifest aggregate is map-side combinable on (source, shard_id).
    Only shard-level rows come back — O(corpus_tokens / BUDGET), never
    chunk-level.

    Token counts here are the whitespace proxy (chunk geometry is defined
    in word space); `training_manifest_bpe` (queries/bpe.py) is the
    honest-budget variant that cuts shards on TRAINED BPE token counts."""
    C, S = CHUNK_TOKENS, CHUNK_STRIDE
    docs = read_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n"),
    )
    n_extra = F.when(F.col("n") <= C, F.lit(0).cast("long")).otherwise(
        F.ceil((F.col("n") - C) / F.lit(float(S))).cast("long")
    )
    chunks = t.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(0).cast("long"), n_extra)).alias(
            "chunk_idx"
        ),
        "n",
    ).select(
        "doc_id",
        "source",
        "chunk_idx",
        F.least(
            F.lit(C).cast("long"), F.col("n") - F.col("chunk_idx") * S
        ).alias("chunk_tokens"),
    )
    packed = grouped_prefix_sum(
        chunks,
        ["source"],
        [F.asc("doc_id"), F.asc("chunk_idx")],
        F.col("chunk_tokens"),
        out_col="__cum",
    )
    start = (F.col("__cum") - F.col("chunk_tokens")).cast("long")
    return (
        packed.withColumn(
            "shard_id", (start / MANIFEST_BUDGET).cast("long")
        )
        .groupBy("source", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("chunk_tokens").alias("shard_tokens"),
        )
    )


# ---------------------------------------- DSIR hashed importance resampling

# Curated target slice for importance resampling (distinct from
# EVAL_SOURCES, which must NEVER influence training composition — the
# decontamination family exists to keep eval out; the DSIR target is a
# quality exemplar like a vetted reference corpus).
DSIR_TARGET_SOURCES = ("src2", "src3")
DSIR_BUCKETS = 256        # hashed unigram feature space: md5 first 2 hex
DSIR_SCALE = 1_000_000    # micro-nats per bucket log-ratio
DSIR_KEEP_PPM = 250_000   # resample the top 25% by importance weight


def _dsir_in_sql() -> str:
    quoted = ", ".join(
        "'" + s.replace("'", "''") + "'" for s in DSIR_TARGET_SOURCES
    )
    return f"({quoted})"


def _dsir_oracle() -> str:
    return f"""
WITH occ AS (
    SELECT doc_id, source, source IN {_dsir_in_sql()} AS is_target,
           substr(md5(word), 1, 2) AS b
    FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
          FROM documents)
    WHERE word <> ''
),
bstats AS (
    SELECT b,
           CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct,
           CAST(sum(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT) AS cr
    FROM occ GROUP BY b
),
tot AS (
    SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr
    FROM bstats
),
llr AS (
    SELECT b,
           CAST(floor(ln(CAST((ct + 1) * (nr + {DSIR_BUCKETS}) AS DOUBLE)
                         / CAST((cr + 1) * (nt + {DSIR_BUCKETS}) AS DOUBLE))
                      * {DSIR_SCALE}) AS BIGINT) AS llr_micro
    FROM bstats CROSS JOIN tot
),
perdoc AS (
    SELECT o.doc_id, any_value(o.source) AS source,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(l.llr_micro) AS BIGINT) AS weight_micro
    FROM occ o JOIN llr l USING (b)
    WHERE NOT o.is_target
    GROUP BY o.doc_id
),
ranked AS (
    SELECT doc_id, source, n_words, weight_micro,
           CAST(row_number() OVER (ORDER BY weight_micro DESC, doc_id) - 1
                AS BIGINT) AS rnk,
           CAST(count(*) OVER () AS BIGINT) AS n_pool
    FROM perdoc
)
SELECT doc_id, source, n_words, weight_micro, rnk,
       CAST(rnk * 1000000 < {DSIR_KEEP_PPM} * n_pool AS BOOLEAN) AS selected
FROM ranked
"""


@query("dsir_importance_resample", oracle=_dsir_oracle)
def q_dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023 —
    public method) over hashed unigram features: score every RAW-pool doc
    by how much its hashed-word distribution looks like the curated
    TARGET slice, sum of per-occurrence log(p_target(b)/p_raw(b)) in
    integer micro-nats, and select the top {DSIR_KEEP_PPM // 10_000}% by
    global importance rank. Hash features (md5 hex prefix →
    {DSIR_BUCKETS} buckets, identical bytes on both engines) make the
    estimator vocabulary-free: the LLR table is a CONSTANT
    {DSIR_BUCKETS}-row broadcast no matter the corpus, the deliberate
    contrast to the Heaps'-law word tables `tokenize_with_bpe_index`
    documents. Add-one smoothing on both numerator and denominator;
    ln on exact bigint-product ratios + floor → the micro-nat
    determinism recipe of `bigram_lm_perplexity`.

    Scale: one token-stream scan → {DSIR_BUCKETS}-row hash-agg (+1-row
    totals) → broadcast joins back onto the stream → per-doc sum →
    global_rank (range partition + offsets, no single-partition
    window). Nothing corpus-sized ever broadcasts or funnels."""
    from ..operators.sampling import global_rank

    docs = read_table(spark, sf_dir, "documents")
    occ = (
        docs.select(
            "doc_id",
            "source",
            F.col("source").isin(*DSIR_TARGET_SOURCES).alias("is_target"),
            F.explode(F.split("text", " ")).alias("word"),
        )
        .where(F.col("word") != "")
        .withColumn("b", F.expr("substring(md5(word), 1, 2)"))
    )
    bstats = occ.groupBy("b").agg(
        F.sum(F.col("is_target").cast("long")).alias("ct"),
        F.sum((~F.col("is_target")).cast("long")).alias("cr"),
    )
    tot = bstats.agg(
        F.sum("ct").alias("nt"), F.sum("cr").alias("nr")
    )
    llr = bstats.crossJoin(F.broadcast(tot)).select(
        "b",
        F.floor(
            F.log(
                F.expr(
                    f"CAST((ct + 1) * (nr + {DSIR_BUCKETS}) AS DOUBLE)"
                    f" / CAST((cr + 1) * (nt + {DSIR_BUCKETS}) AS DOUBLE)"
                )
            )
            * DSIR_SCALE
        ).cast("long").alias("llr_micro"),
    )
    perdoc = (
        occ.where(~F.col("is_target"))
        .join(F.broadcast(llr), "b")
        .groupBy("doc_id")
        .agg(
            F.any_value("source").alias("source"),
            F.count(F.lit(1)).alias("n_words"),
            F.sum("llr_micro").cast("long").alias("weight_micro"),
        )
    )
    ranked = global_rank(
        perdoc, [F.desc("weight_micro"), F.asc("doc_id")], rank_col="rnk"
    ).withColumn("rnk", F.col("rnk").cast("long"))
    n = perdoc.agg(F.count(F.lit(1)).alias("n_pool"))
    return ranked.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "source",
        "n_words",
        "weight_micro",
        "rnk",
        (F.col("rnk") * 1_000_000 < DSIR_KEEP_PPM * F.col("n_pool")).alias(
            "selected"
        ),
    )


# ------------------------------------- excess-loss mixture reweighting

XLM_SCALE = 1_000_000  # micro-nats / ppm


def _excess_loss_oracle() -> str:
    return f"""
WITH toks AS (
    SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
),
bg AS (
    SELECT source, w[i] AS w1, w[i+1] AS w2
    FROM (SELECT source, w,
                 unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i
          FROM toks)
),
c1 AS (SELECT w1 AS word, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1),
c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
vocab AS (
    SELECT CAST(count(DISTINCT word) AS BIGINT) AS v
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
),
persrc AS (
    SELECT b.source,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(CAST(floor(ln((c12.c + 1)
                                  / CAST(c1.c + vocab.v AS DOUBLE))
                               * {XLM_SCALE}) AS BIGINT)) AS BIGINT) AS ll
    FROM bg b
    JOIN c12 ON c12.w1 = b.w1 AND c12.w2 = b.w2
    JOIN c1 ON c1.word = b.w1
    CROSS JOIN vocab
    GROUP BY b.source
),
szs AS (
    SELECT source, CAST(sum(len(w)) AS BIGINT) AS n_tokens FROM toks GROUP BY 1
),
stats AS (
    SELECT p.source, s.n_tokens, p.n_bigrams,
           CAST((-p.ll) // p.n_bigrams AS BIGINT) AS xent_micro,
           CAST((SELECT (-sum(ll)) // sum(n_bigrams) FROM persrc)
                AS BIGINT) AS corpus_xent_micro
    FROM persrc p JOIN szs s USING (source)
),
wr AS (
    SELECT source, n_tokens, n_bigrams, xent_micro, corpus_xent_micro,
           CAST(greatest(xent_micro - corpus_xent_micro, 0) AS BIGINT)
               AS excess_micro,
           CAST(n_tokens * ({XLM_SCALE} +
                greatest(xent_micro - corpus_xent_micro, 0)) AS BIGINT)
               AS w_raw
    FROM stats
)
SELECT source, n_tokens, n_bigrams, xent_micro, excess_micro,
       CAST(n_tokens * 1000000 // (SELECT sum(n_tokens) FROM wr)
            AS BIGINT) AS share_ppm,
       CAST(w_raw * 1000000 // (SELECT sum(w_raw) FROM wr)
            AS BIGINT) AS weight_ppm
FROM wr
"""


@query("excess_loss_mixture_weights", oracle=_excess_loss_oracle)
def q_excess_loss_mixture_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Excess-loss mixture reweighting (the DoReMi idea — Xie et al.
    2023, public — restated as one exact linearized update): sources
    whose bigram-LM cross-entropy EXCEEDS the corpus average are the
    ones the current model fits worst, so their sampling weight is
    multiplied up proportionally to the excess;
    ``w_src = tokens_src * (1 + excess_nats)`` normalized to ppm. The
    linearization (``1 + x`` instead of ``exp(x)``) keeps every
    intermediate an exact bigint — micro-nat excess times token counts —
    so weights are bit-deterministic, the same trade
    `temperature_mixture_weights` makes by using sqrt (exact) instead
    of a general power. Zero excess (sources at/below corpus xent)
    degrades to plain token-share weighting; nothing is ever
    down-weighted below its share by more than normalization.

    Scale: inherits the bigram-LM table plan (broadcast c1/c12/V onto
    the zero-shuffle bigram stream), then |sources|-row aggregates and
    1-row totals — the per-source grid is bounded by the source count,
    exactly like `source_mixture_weights`."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", F.split("text", " ").alias("w"))
    bg = toks.where(F.size("w") >= 2).select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), "
                "i -> struct(element_at(w, i) as w1, "
                "element_at(w, i + 1) as w2))"
            )
        ).alias("p"),
    ).select("source", "p.w1", "p.w2")
    c1 = bg.groupBy(F.col("w1").alias("word")).agg(
        F.count(F.lit(1)).alias("c1")
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .agg(F.countDistinct("word").alias("v"))
    )
    persrc = (
        bg.join(F.broadcast(c12), ["w1", "w2"])
        .join(F.broadcast(c1), bg.w1 == F.col("word"))
        .crossJoin(F.broadcast(vocab))
        .select(
            "source",
            F.floor(
                F.log(
                    (F.col("c12") + 1)
                    / (F.col("c1") + F.col("v")).cast("double")
                )
                * XLM_SCALE
            ).cast("long").alias("ll_micro"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("ll_micro").alias("ll"),
        )
    )
    szs = toks.groupBy("source").agg(
        F.sum(F.size("w")).cast("long").alias("n_tokens")
    )
    corpus = persrc.agg(
        F.expr("CAST((-sum(ll)) div sum(n_bigrams) AS BIGINT)").alias(
            "corpus_xent_micro"
        )
    )
    wr = (
        persrc.join(szs, "source")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "xent_micro", F.expr("CAST((-ll) div n_bigrams AS BIGINT)")
        )
        .withColumn(
            "excess_micro",
            F.expr(
                "CAST(greatest(xent_micro - corpus_xent_micro, 0) AS BIGINT)"
            ),
        )
        .withColumn(
            "w_raw",
            F.expr(f"CAST(n_tokens * ({XLM_SCALE} + excess_micro) AS BIGINT)"),
        )
    )
    tots = wr.agg(
        F.sum("n_tokens").alias("tot_tokens"), F.sum("w_raw").alias("tot_w")
    )
    return wr.crossJoin(F.broadcast(tots)).select(
        "source",
        "n_tokens",
        "n_bigrams",
        "xent_micro",
        "excess_micro",
        F.expr("CAST(n_tokens * 1000000 div tot_tokens AS BIGINT)").alias(
            "share_ppm"
        ),
        F.expr("CAST(w_raw * 1000000 div tot_w AS BIGINT)").alias(
            "weight_ppm"
        ),
    )


# ------------------------------- linear quality discriminator (trained)

QD_ROUNDS = 8
QD_LR_DIV = 4_000_000   # step = sign(g) * ((|g| div N) div LR_DIV)
QD_THRESH_NANO = 500_000_000  # predict target when score >= 0.5 (nano)

# Shared integer milli-features (all in [0, 1000]; bias fixed at 1000):
# capped length, stopword rate, alpha-word rate, capped mean word length.
_QD_FEAT_SQL = """
SELECT doc_id, source,
       source IN {targets} AS y,
       CAST(1000 AS BIGINT) AS x0,
       CAST(least(len(toks), 200) * 5 AS BIGINT) AS x1,
       CAST(len(list_filter(toks, t -> t IN {stops})) * 1000 // len(toks)
            AS BIGINT) AS x2,
       CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
            * 1000 // len(toks) AS BIGINT) AS x3,
       CAST(least(length(array_to_string(toks, '')) * 100 // len(toks),
                  1000) AS BIGINT) AS x4
FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents)
"""


def _qd_train_cte_list() -> list[str]:
    """The unrolled integer-GD training recurrence (feat, n1, w0..w{R})
    as a CTE list — shared by the `quality_discriminator` oracle and the
    `dataset_cartography` oracle, so both scoring paths provably train
    the identical model."""
    from .text_analysis import _STOP_IN_SQL

    feat = _QD_FEAT_SQL.format(targets=_dsir_in_sql(), stops=_STOP_IN_SQL)
    # sign-safe double floor-division of the gradient sum: both engines
    # divide a NON-NEGATIVE magnitude, so trunc-vs-floor never differs.
    upd = (
        "CASE WHEN {s} >= 0 THEN ((({s}) // n) // " + str(QD_LR_DIV) + ") "
        "ELSE -((((-({s})) // n) // " + str(QD_LR_DIV) + ")) END"
    )
    ctes = [
        f"feat AS MATERIALIZED ({feat})",
        "n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM feat)",
        "w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1, "
        "CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3, "
        "CAST(0 AS BIGINT) AS w4)",
    ]
    for t in range(QD_ROUNDS):
        ctes.append(
            f"g{t} AS MATERIALIZED (SELECT "
            + ", ".join(
                f"sum(f.x{j} * (f.x0 * w.w0 + f.x1 * w.w1 + f.x2 * w.w2 "
                f"+ f.x3 * w.w3 + f.x4 * w.w4 "
                f"- CASE WHEN f.y THEN 1000000000 ELSE 0 END)) AS s{j}"
                for j in range(5)
            )
            + f" FROM feat f CROSS JOIN w{t} w)"
        )
        ctes.append(
            f"w{t + 1} AS MATERIALIZED (SELECT "
            + ", ".join(
                f"w.w{j} - ({upd.format(s=f'g.s{j}')}) AS w{j}"
                for j in range(5)
            )
            + f" FROM w{t} w CROSS JOIN g{t} g CROSS JOIN n1)"
        )
    return ctes


def _qd_oracle() -> str:
    body = ",\n".join(_qd_train_cte_list())
    return f"""
WITH {body}
SELECT f.doc_id, f.source, f.y AS is_target,
       CAST(f.x0 * w.w0 + f.x1 * w.w1 + f.x2 * w.w2 + f.x3 * w.w3
            + f.x4 * w.w4 AS BIGINT) AS score_nano,
       CAST(f.x0 * w.w0 + f.x1 * w.w1 + f.x2 * w.w2 + f.x3 * w.w3
            + f.x4 * w.w4 >= {QD_THRESH_NANO} AS BOOLEAN) AS predicted
FROM feat f CROSS JOIN w{QD_ROUNDS} w
"""


def _qd_features(docs: DataFrame) -> DataFrame:
    from .text_analysis import _EN_STOPWORDS

    stops = ", ".join(f"'{w}'" for w in _EN_STOPWORDS)
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        "source",
        F.col("source").isin(*DSIR_TARGET_SOURCES).alias("y"),
        F.lit(1000).cast("long").alias("x0"),
        (F.least(F.size(toks), F.lit(200)) * 5).cast("long").alias("x1"),
        F.expr(
            f"CAST(size(filter(split(text, ' '), t -> t IN ({stops}))) "
            f"* 1000 div size(split(text, ' ')) AS BIGINT)"
        ).alias("x2"),
        F.expr(
            "CAST(size(filter(split(text, ' '), t -> t rlike '[A-Za-z]')) "
            "* 1000 div size(split(text, ' ')) AS BIGINT)"
        ).alias("x3"),
        F.expr(
            "CAST(least(length(array_join(split(text, ' '), '')) * 100 "
            "div size(split(text, ' ')), 1000) AS BIGINT)"
        ).alias("x4"),
    )


def train_quality_discriminator(
    feat: DataFrame, rounds: int = QD_ROUNDS, lr_div: int = QD_LR_DIV
) -> list[int]:
    """Train the 5-weight linear discriminator by EXACT integer batch
    gradient descent: per round one 5-scalar aggregate (the bounded
    per-round collect of the train_pq/train_ivf pattern), update
    computed in exact Python ints. The linear-probability link (no
    sigmoid) is the determinism trade: every gradient is a bigint sum
    of err * feature products, so training is bit-identical across
    engines and partitionings — ln/exp never enter. Divisions run on
    NON-NEGATIVE magnitudes only (sign-split), so trunc-vs-floor
    semantics can never diverge between engines. Returns the weight
    vector (nano-score per milli-feature units)."""
    return train_quality_discriminator_history(feat, rounds, lr_div)[-1]


def train_quality_discriminator_history(
    feat: DataFrame, rounds: int = QD_ROUNDS, lr_div: int = QD_LR_DIV
) -> list[list[int]]:
    """Same training loop, returning the weight vector AFTER EVERY round
    (the training-dynamics record `dataset_cartography` consumes).
    Element [r] is the weight vector after round r+1; the last element
    is what `train_quality_discriminator` returns."""
    cached = feat.select("y", "x0", "x1", "x2", "x3", "x4").localCheckpoint(
        eager=False
    )
    n = cached.count()
    w = [0] * 5
    if n == 0:
        return [list(w) for _ in range(rounds)]
    snaps: list[list[int]] = []
    for _ in range(rounds):
        z = " + ".join(f"x{j} * {w[j]}L" for j in range(5))
        err = f"({z} - CASE WHEN y THEN 1000000000L ELSE 0L END)"
        row = cached.select(
            *[
                F.expr(f"sum(x{j} * {err})").alias(f"s{j}")
                for j in range(5)
            ]
        ).first()
        for j in range(5):
            s = int(row[f"s{j}"] or 0)
            mag = (abs(s) // n) // lr_div
            w[j] -= mag if s >= 0 else -mag
        snaps.append(list(w))
    return snaps


@query("quality_discriminator", oracle=_qd_oracle)
def q_quality_discriminator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED quality classifier — the CCNet/LLaMA-style
    target-vs-raw discriminator (score docs by how much they look like
    a curated reference slice), as a linear model trained with exact
    integer gradient descent ({QD_ROUNDS} rounds, milli-unit rule
    features, nano-unit scores). The linear-probability link replaces
    fastText's logistic loss so that training, scoring, and the
    decision boundary are all bigint arithmetic — bit-deterministic and
    oracle-checkable (the DuckDB twin unrolls the {QD_ROUNDS} rounds as
    MATERIALIZED CTEs, the k-means/unigram-LM pattern).

    On the synthetic corpus the target sources are statistically
    indistinguishable from the rest, so the learned boundary sits near
    chance and predicts no positives — the honest outcome;
    tests/test_operators.py plants a separable fixture and pins perfect
    separation plus the exact weight vector. Scale: one feature
    projection (zero-shuffle) + {QD_ROUNDS} x one 5-scalar aggregate;
    the model is 5 ints; scoring is a codegen projection with literal
    weights."""
    docs = read_table(spark, sf_dir, "documents")
    feat = _qd_features(docs).localCheckpoint(eager=False)
    w = train_quality_discriminator(feat)
    score = " + ".join(f"x{j} * {w[j]}L" for j in range(5))
    return feat.select(
        "doc_id",
        "source",
        F.col("y").alias("is_target"),
        F.expr(f"CAST({score} AS BIGINT)").alias("score_nano"),
        F.expr(f"CAST({score} >= {QD_THRESH_NANO} AS BOOLEAN)").alias(
            "predicted"
        ),
    )


# ---------------------------------------- shard integrity manifest

INTEG_SHARDS = 8


@query(
    "shard_integrity_manifest",
    oracle=f"""
WITH h AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                AS BIGINT) % {INTEG_SHARDS} AS shard,
           md5(CAST(doc_id AS VARCHAR) || '|' || text) AS row_h
    FROM documents
)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       md5(string_agg(row_h, '' ORDER BY row_h)) AS shard_digest
FROM h GROUP BY shard
""",
)
def q_shard_integrity_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-integrity manifest for corpus transfer/replication: per
    md5-assigned shard, the doc count and an ORDER-INDEPENDENT content
    digest (md5 over the sorted per-row md5(doc_id|text) hashes), so a
    receiver can re-derive the digests after any repartitioning and
    byte-compare — one flipped bit in any document changes its shard's
    digest. The sort is per-shard over fixed-width row hashes (shard
    sizes are balanced by the key hash), and rows never leave their
    shard: the plan is one projection + one hash-partitioned
    sort-aggregate.

    Spark-side digest = md5(concat of sort_array(collect_list(row_h)))
    — collect_list is per-shard bounded here by design (a production
    manifest uses more shards so each stays collectable; shard count is
    a knob, not a scalability ceiling)."""
    docs = read_table(spark, sf_dir, "documents")
    h = docs.select(
        (
            F.conv(
                F.substring(
                    F.md5(F.col("doc_id").cast("string").cast("binary")),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % INTEG_SHARDS
        ).alias("shard"),
        F.md5(
            F.concat(
                F.col("doc_id").cast("string"), F.lit("|"), F.col("text")
            ).cast("binary")
        ).alias("row_h"),
    )
    return h.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.md5(
            F.array_join(F.sort_array(F.collect_list("row_h")), "").cast(
                "binary"
            )
        ).alias("shard_digest"),
    )


# --------------------------------------------- dataset cartography

# Region thresholds (micro-score units; target label sits at 1e6):
# high-variability -> 'ambiguous'; stable-high-confidence -> 'easy';
# stable-low -> 'hard'. Variance is population variance in micro^2.
CART_CONF_T = 300_000
CART_VAR_T = 10_000_000_000  # std >= 0.1 in label units


def _cart_ssdiv(num: str, den: str) -> str:
    return (
        f"CASE WHEN {num} >= 0 THEN ({num}) {{d}} ({den}) "
        f"ELSE -((-({num})) {{d}} ({den})) END"
    )


def _cartography_oracle() -> str:
    r = QD_ROUNDS
    ctes = _qd_train_cte_list()
    joins = " ".join(f"CROSS JOIN w{t + 1} a{t + 1}" for t in range(r))
    score = lambda t: (
        f"(f.x0 * a{t}.w0 + f.x1 * a{t}.w1 + f.x2 * a{t}.w2 "
        f"+ f.x3 * a{t}.w3 + f.x4 * a{t}.w4)"
    )
    sd = lambda n, d: _cart_ssdiv(n, d).format(d="//")
    sms = ", ".join(
        f"({sd(score(t + 1), '1000')}) AS sm{t + 1}" for t in range(r)
    )
    ssum = " + ".join(f"sm{t + 1}" for t in range(r))
    ssq = " + ".join(f"sm{t + 1} * sm{t + 1}" for t in range(r))
    body = ",\n".join(ctes)
    return f"""
WITH {body},
rs AS (
    SELECT f.doc_id, f.source, f.y AS is_target, {sms}
    FROM feat f {joins}
)
SELECT doc_id, source, is_target,
       CAST({sd(ssum, str(r))} AS BIGINT) AS conf_micro,
       CAST(({r} * ({ssq}) - ({ssum}) * ({ssum})) // {r * r} AS BIGINT)
           AS var_micro2,
       CASE WHEN ({r} * ({ssq}) - ({ssum}) * ({ssum})) // {r * r}
                 >= {CART_VAR_T} THEN 'ambiguous'
            WHEN ({sd(ssum, str(r))}) >= {CART_CONF_T} THEN 'easy'
            ELSE 'hard' END AS region
FROM rs
"""


@query("dataset_cartography", oracle=_cartography_oracle)
def q_dataset_cartography(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset Cartography (Swayamdipta et al.) over the integer-GD
    discriminator's TRAINING DYNAMICS: each document is scored under
    the weight snapshot of every training round, and the per-doc mean
    (confidence) and population variance (variability) of those scores
    map it to 'easy' (stable high), 'ambiguous' (high variance — where
    the model keeps changing its mind; the slice worth human review or
    up-sampling), or 'hard' (stable low — likely mislabeled or
    out-of-distribution). Because training is exact integer GD, the
    whole map is bit-deterministic: round scores downscale to micro
    with sign-split division, mean uses sign-split division by the
    round count, and the variance numerator (R*Sum(s^2) - (Sum s)^2) is
    non-negative by Cauchy-Schwarz so plain floor division is
    engine-safe.

    Scale shape: training adds nothing beyond `quality_discriminator`
    ({R} bounded 5-scalar aggregates); the cartography itself is ONE
    zero-shuffle codegen projection per doc — all {R} snapshot scores
    are literal-weight dot products in a single select. The oracle
    cross-joins the shared unrolled training CTEs, proving both engines
    train the identical model before mapping."""
    docs = read_table(spark, sf_dir, "documents")
    feat = _qd_features(docs).localCheckpoint(eager=False)
    snaps = train_quality_discriminator_history(feat)
    r = QD_ROUNDS
    sd = lambda n, d: _cart_ssdiv(n, d).format(d="div")
    score = lambda w: " + ".join(f"x{j} * {w[j]}L" for j in range(5))
    sms = [sd(f"({score(w)})", "1000") for w in snaps]
    with_sm = feat.select(
        "doc_id",
        "source",
        F.col("y").alias("is_target"),
        *[F.expr(s).alias(f"sm{t + 1}") for t, s in enumerate(sms)],
    )
    ssum = " + ".join(f"sm{t + 1}" for t in range(r))
    ssq = " + ".join(f"sm{t + 1} * sm{t + 1}" for t in range(r))
    conf = sd(ssum, str(r))
    var = f"({r} * ({ssq}) - ({ssum}) * ({ssum})) div {r * r}"
    return with_sm.select(
        "doc_id",
        "source",
        "is_target",
        F.expr(f"CAST({conf} AS BIGINT)").alias("conf_micro"),
        F.expr(f"CAST({var} AS BIGINT)").alias("var_micro2"),
        F.expr(
            f"CASE WHEN {var} >= {CART_VAR_T} THEN 'ambiguous' "
            f"WHEN ({conf}) >= {CART_CONF_T} THEN 'easy' "
            f"ELSE 'hard' END"
        ).alias("region"),
    )


# --------------------------------------------- UniMax allocation

# UniMax (Chung et al., 2023): give every source up to EPOCH_CAP epochs,
# waterfilling a fixed token budget so no source is oversampled just for
# being small. Budget = 19/10 of the corpus (1.9 average epochs) — small
# sources hit the 2-epoch cap, large ones split the remainder evenly.
UNIMAX_EPOCH_CAP = 2
UNIMAX_B_NUM, UNIMAX_B_DEN = 19, 10

_UNIMAX_ORACLE = f"""
WITH src AS (
    SELECT source,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source
),
tot AS (
    SELECT CAST(sum(n_tokens) * {UNIMAX_B_NUM} // {UNIMAX_B_DEN} AS BIGINT)
               AS budget,
           count(*) AS n_src
    FROM src
),
ranked AS (
    SELECT source, n_tokens,
           {UNIMAX_EPOCH_CAP} * n_tokens AS cap_tokens,
           row_number() OVER (ORDER BY n_tokens, source) AS k,
           COALESCE(sum({UNIMAX_EPOCH_CAP} * n_tokens)
               OVER (ORDER BY n_tokens, source
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cum_prev
    FROM src
),
flagged AS (
    SELECT r.source, r.n_tokens, r.cap_tokens,
           (r.cap_tokens * (t.n_src - r.k + 1) + r.cum_prev <= t.budget)
               AS capped,
           t.budget
    FROM ranked r CROSS JOIN tot t
),
pool AS (
    SELECT budget
           - COALESCE(sum(CASE WHEN capped THEN cap_tokens END), 0)
               AS leftover,
           count(*) FILTER (WHERE NOT capped) AS m
    FROM flagged GROUP BY budget
)
SELECT f.source, f.n_tokens, f.cap_tokens,
       CAST(CASE WHEN f.capped THEN f.cap_tokens
                 ELSE p.leftover // p.m END AS BIGINT) AS alloc_tokens,
       f.capped,
       CAST((CASE WHEN f.capped THEN f.cap_tokens
                  ELSE p.leftover // p.m END) * 1000000 // f.n_tokens
            AS BIGINT) AS epochs_ppm
FROM flagged f CROSS JOIN pool p
"""


@query("unimax_mixture_allocation", oracle=_UNIMAX_ORACLE)
def q_unimax_mixture_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax token-budget allocation (Chung et al., 2023) — the
    epoch-capped complement of the proportional / temperature / DoReMi /
    DSIR mixture family: every source may contribute at most
    UNIMAX_EPOCH_CAP epochs of its own tokens, and the fixed corpus
    budget is waterfilled so all uncapped sources receive the SAME token
    count (small sources stop repeating at the cap instead of being
    oversampled to match large ones). Exact integer closed form: sort
    sources ascending by cap; source k is capped iff
    cap_k * (remaining sources) + cum_prev <= budget (the standard
    waterfilling prefix condition — monotone, since caps ascend, so it
    evaluates independently per row); uncapped sources get
    floor(leftover / m), a deterministic under-allocation of < m tokens
    total. epochs_ppm = allocated epochs per source in integer ppm.

    Scale shape: one hash-agg reduces the corpus to |sources| rows; the
    waterfilling window runs on that bounded categorical table (the
    per-DAY/per-MONTH precedent in BOUNDED_FRAME_WINDOWS), and the 1-row
    budget/pool tables broadcast."""
    docs = read_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias(
            "n_tokens"
        )
    )
    tot = src.agg(
        F.expr(
            f"CAST(sum(n_tokens) * {UNIMAX_B_NUM} div {UNIMAX_B_DEN} "
            f"AS BIGINT)"
        ).alias("budget"),
        F.count(F.lit(1)).alias("n_src"),
    )
    w = Window.orderBy("n_tokens", "source")
    ranked = src.select(
        "source",
        "n_tokens",
        (F.lit(UNIMAX_EPOCH_CAP) * F.col("n_tokens")).alias("cap_tokens"),
        F.row_number().over(w).alias("k"),
        F.coalesce(
            F.sum(F.lit(UNIMAX_EPOCH_CAP) * F.col("n_tokens")).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0).cast("long"),
        ).alias("cum_prev"),
    )
    flagged = ranked.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        "cap_tokens",
        (
            F.col("cap_tokens") * (F.col("n_src") - F.col("k") + 1)
            + F.col("cum_prev")
            <= F.col("budget")
        ).alias("capped"),
        "budget",
    )
    pool = flagged.groupBy("budget").agg(
        (
            F.first("budget")
            - F.coalesce(
                F.sum(F.when(F.col("capped"), F.col("cap_tokens"))),
                F.lit(0).cast("long"),
            )
        ).alias("leftover"),
        F.sum((~F.col("capped")).cast("long")).alias("m"),
    )
    alloc = F.expr(
        "CASE WHEN capped THEN cap_tokens ELSE leftover div m END"
    )
    return flagged.join(F.broadcast(pool), "budget").select(
        "source",
        "n_tokens",
        "cap_tokens",
        alloc.cast("long").alias("alloc_tokens"),
        "capped",
        F.expr(
            "CAST((CASE WHEN capped THEN cap_tokens "
            "ELSE leftover div m END) * 1000000 div n_tokens AS BIGINT)"
        ).alias("epochs_ppm"),
    )


# --------------------------------------------- length-bucket batching

LB_BATCH_TOKENS = 4096  # target padded tokens per batch
LB_MIN_BUCKET = 16
LB_MAX_BUCKET = 65536

# Power-of-2 bucket ceiling as a CASE ladder — integer-exact in both
# engines (2^ceil(log2 n) via float log2 misrounds at exact powers).
_LB_LADDER = " ".join(
    f"WHEN n_tok <= {1 << p} THEN {1 << p}"
    for p in range(4, 17)  # 16 .. 65536
)
_LB_BUCKET = f"CASE {_LB_LADDER} ELSE {2 * LB_MAX_BUCKET} END"


@query(
    "length_bucket_batching",
    oracle=f"""
WITH tok AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
    FROM documents
),
bucketed AS (SELECT doc_id, n_tok, {_LB_BUCKET} AS bucket_len FROM tok)
SELECT bucket_len,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST((count(*) + greatest({LB_BATCH_TOKENS} // bucket_len, 1) - 1)
            // greatest({LB_BATCH_TOKENS} // bucket_len, 1) AS BIGINT)
           AS n_batches,
       CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
       CAST(count(*) * bucket_len AS BIGINT) AS padded_tokens,
       CAST((count(*) * bucket_len - sum(n_tok)) * 1000000
            // (count(*) * bucket_len) AS BIGINT) AS waste_ppm
FROM bucketed
GROUP BY bucket_len
""",
)
def q_length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching manifest — the padded-batch alternative
    to `pack_sequences`, with the padding waste it costs measured per
    bucket: every doc lands in the smallest power-of-2 length bucket
    that holds it (integer CASE ladder — float log2 misrounds at exact
    powers), batches are sized so a batch's PADDED footprint stays at
    LB_BATCH_TOKENS, and waste_ppm = padded-but-empty token share. This
    is the number a pipeline owner compares against packing (which
    wastes ~0 but destroys example boundaries) when choosing a batching
    strategy.

    Scale: one projection + one hash-agg on ~13 bucket keys; no joins,
    no windows, no skew (bucket cardinality is the ladder length)."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    bucketed = tok.withColumn("bucket_len", F.expr(_LB_BUCKET))
    batch_docs = f"greatest({LB_BATCH_TOKENS} div bucket_len, 1)"
    return bucketed.groupBy("bucket_len").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr(
            f"CAST((count(1) + {batch_docs} - 1) div {batch_docs} AS BIGINT)"
        ).alias("n_batches"),
        F.sum("n_tok").cast("long").alias("sum_tokens"),
        F.expr("CAST(count(1) * bucket_len AS BIGINT)").alias(
            "padded_tokens"
        ),
        F.expr(
            "CAST((count(1) * bucket_len - sum(n_tok)) * 1000000 "
            "div (count(1) * bucket_len) AS BIGINT)"
        ).alias("waste_ppm"),
    )


# ---------------------------------------- jackknife source influence

_JK_ORACLE = """
WITH pts AS (
    SELECT source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
           n_chars AS y
    FROM documents
),
per_src AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(x * y) AS BIGINT) AS sxy
    FROM pts GROUP BY 1
),
tot AS (
    SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(sx) AS BIGINT) AS sx,
           CAST(sum(sy) AS BIGINT) AS sy, CAST(sum(sxx) AS BIGINT) AS sxx,
           CAST(sum(sxy) AS BIGINT) AS sxy
    FROM per_src
)
SELECT p.source, p.n AS n_docs,
       round((CAST(g.n AS DOUBLE) * CAST(g.sxy AS DOUBLE)
              - CAST(g.sx AS DOUBLE) * CAST(g.sy AS DOUBLE))
             / (CAST(g.n AS DOUBLE) * CAST(g.sxx AS DOUBLE)
              - CAST(g.sx AS DOUBLE) * CAST(g.sx AS DOUBLE)), 6)
           AS beta_full,
       round((CAST(g.n - p.n AS DOUBLE) * CAST(g.sxy - p.sxy AS DOUBLE)
              - CAST(g.sx - p.sx AS DOUBLE) * CAST(g.sy - p.sy AS DOUBLE))
             / (CAST(g.n - p.n AS DOUBLE) * CAST(g.sxx - p.sxx AS DOUBLE)
              - CAST(g.sx - p.sx AS DOUBLE) * CAST(g.sx - p.sx AS DOUBLE)),
             6) AS beta_loo,
       round((CAST(g.n - p.n AS DOUBLE) * CAST(g.sxy - p.sxy AS DOUBLE)
              - CAST(g.sx - p.sx AS DOUBLE) * CAST(g.sy - p.sy AS DOUBLE))
             / (CAST(g.n - p.n AS DOUBLE) * CAST(g.sxx - p.sxx AS DOUBLE)
              - CAST(g.sx - p.sx AS DOUBLE) * CAST(g.sx - p.sx AS DOUBLE))
             - (CAST(g.n AS DOUBLE) * CAST(g.sxy AS DOUBLE)
              - CAST(g.sx AS DOUBLE) * CAST(g.sy AS DOUBLE))
             / (CAST(g.n AS DOUBLE) * CAST(g.sxx AS DOUBLE)
              - CAST(g.sx AS DOUBLE) * CAST(g.sx AS DOUBLE)), 6)
           AS influence
FROM per_src p CROSS JOIN tot g
"""


@query("source_influence_jackknife", oracle=_JK_ORACLE)
def q_source_influence_jackknife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data valuation by the jackknife: each source's influence on a
    corpus-level model is beta(without source) - beta(all), here for the
    chars-per-token regression (n_chars on token count) — the cheap
    leave-one-SOURCE-out analogue of leave-one-example-out influence
    functions, and the screen that catches a feed whose tokenization
    statistics drag the corpus-wide relationship (cf. `drift_psi`, which
    compares distributions; this attributes a MODEL shift to a source).

    Scale shape: the corpus reduces ONCE to per-source sufficient
    statistics (five exact bigint sums — the `grouped_ols_two_factor`
    seam); the global row is a re-aggregation of the per-source table,
    and every leave-one-out refit is O(1) arithmetic on (global - source)
    tuples. |sources| refits cost |sources| rows of math, not |sources|
    passes over the data — the property that makes jackknife valuation
    feasible at 100 TB where per-example influence is not. Betas are
    Cramer ratios evaluated in double from identical exact operands on
    both engines (the trend_fit precedent); rounding at the output edge."""
    docs = read_table(spark, sf_dir, "documents")
    pts = docs.select(
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("x"),
        F.col("n_chars").alias("y"),
    )
    per_src = pts.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    glob = per_src.agg(
        F.sum("n").cast("long").alias("gn"),
        F.sum("sx").cast("long").alias("gsx"),
        F.sum("sy").cast("long").alias("gsy"),
        F.sum("sxx").cast("long").alias("gsxx"),
        F.sum("sxy").cast("long").alias("gsxy"),
    )

    def beta(n, sx, sy, sxx, sxy):
        return (
            n.cast("double") * sxy.cast("double")
            - sx.cast("double") * sy.cast("double")
        ) / (
            n.cast("double") * sxx.cast("double")
            - sx.cast("double") * sx.cast("double")
        )

    j = per_src.join(F.broadcast(glob))
    b_full = beta(F.col("gn"), F.col("gsx"), F.col("gsy"), F.col("gsxx"),
                  F.col("gsxy"))
    b_loo = beta(
        F.col("gn") - F.col("n"),
        F.col("gsx") - F.col("sx"),
        F.col("gsy") - F.col("sy"),
        F.col("gsxx") - F.col("sxx"),
        F.col("gsxy") - F.col("sxy"),
    )
    return j.select(
        "source",
        F.col("n").alias("n_docs"),
        F.round(b_full, 6).alias("beta_full"),
        F.round(b_loo, 6).alias("beta_loo"),
        F.round(b_loo - b_full, 6).alias("influence"),
    )


# ------------------------------------ mutual-information feature screen

MI_LEN_BUCKET = 50  # token-count bucket width for the length feature

_MI_FEATS_SQL = f"""
feat AS (
    SELECT doc_id, source, lang,
           CAST(least(len(string_split(text, ' ')), 400)
                // {MI_LEN_BUCKET} AS BIGINT) AS len_b,
           (CAST(len(string_split(text, ' ')) AS BIGINT) >= 40
            AND CAST(length(replace(text, ' ', '')) AS BIGINT)
                >= 3 * CAST(len(string_split(text, ' ')) AS BIGINT)
            AND CAST(length(replace(text, ' ', '')) AS BIGINT)
                <= 8 * CAST(len(string_split(text, ' ')) AS BIGINT))
               AS y
    FROM documents
),
cells AS (
    SELECT 'source' AS f, source AS v, y, CAST(count(*) AS BIGINT) AS n
    FROM feat GROUP BY 2, 3
    UNION ALL
    SELECT 'lang' AS f, lang AS v, y, CAST(count(*) AS BIGINT) AS n
    FROM feat GROUP BY 2, 3
    UNION ALL
    SELECT 'len_bucket' AS f, CAST(len_b AS VARCHAR) AS v, y,
           CAST(count(*) AS BIGINT) AS n
    FROM feat GROUP BY 2, 3
),
tots AS (SELECT f, CAST(sum(n) AS BIGINT) AS big_n FROM cells GROUP BY 1),
margx AS (SELECT f, v, CAST(sum(n) AS BIGINT) AS nx FROM cells GROUP BY 1, 2),
margy AS (SELECT f, y, CAST(sum(n) AS BIGINT) AS ny FROM cells GROUP BY 1, 2),
terms AS (
    SELECT c.f,
           c.n * CAST(floor(1000000 * ln(
               CAST(c.n * t.big_n AS DOUBLE)
               / CAST(mx.nx * my.ny AS DOUBLE))) AS BIGINT) AS mi_term,
           t.big_n
    FROM cells c
    JOIN tots t ON t.f = c.f
    JOIN margx mx ON mx.f = c.f AND mx.v = c.v
    JOIN margy my ON my.f = c.f AND my.y = c.y
),
hterms AS (
    SELECT y.f,
           y.ny * CAST(floor(1000000 * ln(
               CAST(t.big_n AS DOUBLE) / CAST(y.ny AS DOUBLE)))
               AS BIGINT) AS h_term
    FROM margy y JOIN tots t ON t.f = y.f
)
"""

_MI_ORACLE = f"""
WITH {_MI_FEATS_SQL},
mi AS (
    -- greatest(.., 0): MI >= 0 by theory, but the per-cell floored ln
    -- terms are negative for anti-correlated cells, so the floored SUM
    -- can dip below zero on a near-independent feature; clamping on BOTH
    -- engines keeps the subsequent integer division in the non-negative
    -- regime where trunc == floor (round-8 advice item).
    SELECT f, CAST(count(*) AS BIGINT) AS n_cells,
           CAST(greatest(sum(mi_term), 0) // any_value(big_n) AS BIGINT)
               AS mi_micronat
    FROM terms GROUP BY 1
),
hy AS (
    SELECT h.f, CAST(sum(h.h_term) // any_value(t.big_n) AS BIGINT)
               AS h_label_micronat
    FROM hterms h JOIN tots t ON t.f = h.f GROUP BY 1
)
SELECT mi.f AS feature, mi.n_cells, mi.mi_micronat, hy.h_label_micronat,
       CAST(CASE WHEN hy.h_label_micronat > 0
                 THEN mi.mi_micronat * 1000000 // hy.h_label_micronat
                 ELSE 0 END AS BIGINT) AS nmi_ppm
FROM mi JOIN hy ON hy.f = mi.f
"""


@query("mutual_information_features", oracle=_MI_ORACLE)
def q_mutual_information_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information feature screening: I(label; feature) for three
    candidate features (source, language, length bucket) against the
    quality pass label, plus the label entropy and the normalized score
    MI/H(label) — the filter-method ranking a feature-selection pass
    runs before training a quality classifier at scale (cf.
    `chi2_contingency`, which tests ONE table for independence; this
    RANKS features by dependence strength in comparable nat units).

    Determinism: each cell's ln((n_xy*N)/(nx*ny)) is one libm call on a
    bit-identical double (exact bigint products, one IEEE division),
    floored to micro-nats per cell before the bigint sum — the
    `bigram_lm_perplexity` recipe, with the boundary clearance of every
    reachable cell argument audited on real data at both oracle SFs in
    tests/test_micro_nat_boundary.py.

    Scale shape: one documents scan fans into three conditional hash-aggs
    whose key spaces are |feature values| x 2 — bounded, map-side
    combinable; marginals and MI terms join those bounded cell tables.
    Adding a feature adds one bounded agg, never a second scan pass."""
    docs = read_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_tokens = F.size(words).cast("long")
    n_alpha = F.length(F.regexp_replace("text", " ", "")).cast("long")
    y = (
        (n_tokens >= 40)
        & (n_alpha >= 3 * n_tokens)
        & (n_alpha <= 8 * n_tokens)
    )
    feat = docs.select(
        "source",
        "lang",
        F.floor(F.least(n_tokens, F.lit(400)) / MI_LEN_BUCKET)
        .cast("long")
        .alias("len_b"),
        y.alias("y"),
    )

    def cell(fname: str, col) -> DataFrame:
        return (
            feat.groupBy(col.alias("v"), "y")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .select(F.lit(fname).alias("f"), "v", "y", "n")
        )

    cells = (
        cell("source", F.col("source"))
        .unionByName(cell("lang", F.col("lang")))
        .unionByName(cell("len_bucket", F.col("len_b").cast("string")))
    )
    tots = cells.groupBy("f").agg(F.sum("n").cast("long").alias("big_n"))
    margx = cells.groupBy("f", "v").agg(
        F.sum("n").cast("long").alias("nx")
    )
    margy = cells.groupBy("f", "y").agg(
        F.sum("n").cast("long").alias("ny")
    )
    terms = (
        cells.join(F.broadcast(tots), "f")
        .join(F.broadcast(margx), ["f", "v"])
        .join(F.broadcast(margy), ["f", "y"])
        .select(
            "f",
            "big_n",
            (
                F.col("n")
                * F.floor(
                    F.lit(1_000_000)
                    * F.log(
                        (F.col("n") * F.col("big_n")).cast("double")
                        / (F.col("nx") * F.col("ny")).cast("double")
                    )
                ).cast("long")
            ).alias("mi_term"),
        )
    )
    # greatest(.., 0): the floored per-cell terms can sum below zero on a
    # near-independent feature even though MI >= 0 by theory; clamping
    # (mirrored in the oracle) keeps the division non-negative so
    # trunc == floor, and `div` keeps it EXACT bigint arithmetic — no
    # double rounding past 2^53 at any corpus size (round-8 advice item).
    mi = terms.groupBy("f").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.expr(
            "greatest(sum(mi_term), CAST(0 AS BIGINT)) div first(big_n)"
        )
        .cast("long")
        .alias("mi_micronat"),
    )
    hy = (
        margy.join(F.broadcast(tots), "f")
        .select(
            "f",
            "big_n",
            (
                F.col("ny")
                * F.floor(
                    F.lit(1_000_000)
                    * F.log(
                        F.col("big_n").cast("double")
                        / F.col("ny").cast("double")
                    )
                ).cast("long")
            ).alias("h_term"),
        )
        .groupBy("f")
        .agg(
            # h_term is non-negative (ny <= N -> ln >= 0); `div` keeps
            # the division exact bigint like the oracle's `//`.
            F.expr("sum(h_term) div first(big_n)")
            .cast("long")
            .alias("h_label_micronat")
        )
    )
    return (
        mi.join(hy, "f")
        .select(
            F.col("f").alias("feature"),
            "n_cells",
            "mi_micronat",
            "h_label_micronat",
            F.when(
                F.col("h_label_micronat") > 0,
                F.expr(
                    "(mi_micronat * CAST(1000000 AS BIGINT))"
                    " div h_label_micronat"
                ).cast("long"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("nmi_ppm"),
        )
    )
