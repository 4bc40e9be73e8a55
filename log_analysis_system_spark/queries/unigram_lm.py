"""Distributed unigram-LM (SentencePiece-style) tokenizer training —
training-data pipeline extension (no reference counterpart; the public
Kudo-2018 unigram language-model subword algorithm re-expressed
Spark-first; the BPE family's probabilistic sibling).

Algorithm (canonical unigram LM, fixed small EM schedule):

1. SEED: candidate tokens are all substrings of corpus words up to
   ``UNI_LMAX`` chars; multi-char candidates are cut to the top
   ``UNI_SEED_V`` by (corpus frequency DESC, token ASC); EVERY single
   char stays in the vocab forever (guarantees every word segments).
2. E-STEP (Viterbi): each word's best segmentation under the current
   token scores — dp over character positions, maximizing the summed
   token log-probabilities, tie-broken by (fewer tokens, then
   lexicographically smallest token sequence).
3. M-STEP: token counts = usage along best paths weighted by word
   frequency; score = ln(count / total) in floored integer MICRO-NATS
   (the bigram_lm_perplexity determinism recipe). Multi-char tokens
   with zero usage drop out; single chars are floored at count 1.
4. Two EM rounds (seed -> segment -> re-score -> segment -> re-score);
   the final vocab (token, count, score_micro) is the output.

Scale design: the corpus is touched exactly ONCE (the word-frequency
hash-agg); everything after runs on the word/vocab tables. The Viterbi
DP is a single codegen'd ``aggregate()`` fold per word over its
position-indexed candidate array — ZERO shuffle, no Python, no
per-position driver loop: positions advance inside the fold, and the
inner ``aggregate()`` argmin picks the best predecessor with
``least()`` over (neg_score, n_tokens, path) structs. Per EM round:
one vocab-sized hash-agg (counts) + one broadcastable score join.
Rounds are data-INDEPENDENT constants, so the driver loop does not grow
with corpus size.

Determinism: scores are floored integer micro-nats (ln on identical
count-ratio doubles, floor pins the last bit — floor-boundary clearance
audited by tests/test_micro_nat_boundary.py); DP sums are exact bigints;
the segmentation tie-break is a total order; the DuckDB oracle unrolls
the identical per-position recurrence as MATERIALIZED CTEs (the BPE
oracle pattern) and a pure-Python reference pins both in
tests/test_unigram_lm.py.

Words longer than ``UNI_P_MAX`` chars are excluded from training and
stats on BOTH engines (bounds the DP depth; production would raise the
cap, not the shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import read_table
from . import query

UNI_LMAX = 4            # max candidate token length (chars)
UNI_SEED_V = 300        # multi-char seed-vocab cut
UNI_P_MAX = 16          # max trainable word length (DP depth bound)
UNI_SCALE = 1_000_000   # micro-nats
UNI_ROUNDS = 2          # EM rounds
_INF = 4_000_000_000_000_000_000  # unreachable-dp sentinel (bigint-safe)


# --------------------------------------------------------------- Spark side

def word_freqs(docs: DataFrame) -> DataFrame:
    """(word, freq) — the ONLY corpus-wide shuffle in unigram training."""
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .where((F.col("word") != "") & (F.length("word") <= UNI_P_MAX))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


def _cands(words: DataFrame) -> DataFrame:
    """Position-indexed candidate grid: one row per (word, end-pos p,
    token) for every substring of length 1..UNI_LMAX ending at p."""
    return words.select(
        "word",
        "freq",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, length(word)), "
                f"p -> transform(sequence(1, least({UNI_LMAX}, p)), "
                f"t -> struct(p as p, p - t as j, "
                f"substring(word, p - t + 1, t) as tok))))"
            )
        ).alias("c"),
    ).select("word", "freq", "c.p", "c.j", "c.tok")


def _micro_nat_scores(vocab: DataFrame) -> DataFrame:
    """(tok, c, sc) with sc = floor(ln(c / total) * 1e6) — negative
    bigint micro-nats; one scalar total broadcast back."""
    tot = vocab.agg(F.sum("c").alias("t"))
    return vocab.crossJoin(F.broadcast(tot)).select(
        "tok",
        "c",
        F.floor(F.log(F.col("c") / F.col("t").cast("double")) * UNI_SCALE)
        .cast("long")
        .alias("sc"),
    )


_DP_FOLD = f"""
aggregate(
  sequence(1, length(word)),
  array(struct(cast(0 as bigint) as negs, cast(0 as bigint) as k,
               '' as path)),
  (acc, p) -> concat(acc, array(
    aggregate(
      filter(cands, c -> c.p = p),
      struct(cast({_INF} as bigint) as negs, cast({_INF} as bigint) as k,
             '' as path),
      (b, c) -> least(b,
        case when element_at(acc, c.j + 1).negs < {_INF}
             then struct(
               element_at(acc, c.j + 1).negs - c.sc as negs,
               element_at(acc, c.j + 1).k + 1 as k,
               case when element_at(acc, c.j + 1).path = '' then c.tok
                    else concat(element_at(acc, c.j + 1).path, ' ', c.tok)
               end as path)
             else b end)
    )))
)
"""


def _viterbi(cand: DataFrame, scores: DataFrame) -> DataFrame:
    """Best segmentation per word under ``scores``: one broadcastable
    score join + one (word)-keyed collect_list, then the WHOLE dp runs
    inside a codegen'd fold — (word, freq, negs, k, path)."""
    sc_cand = cand.join(scores.select("tok", "sc"), "tok")
    arr = sc_cand.groupBy("word", "freq").agg(
        F.array_sort(
            F.collect_list(F.struct("p", "j", "sc", "tok"))
        ).alias("cands")
    )
    dp = arr.withColumn("dp", F.expr(_DP_FOLD)).select(
        "word",
        "freq",
        F.expr("element_at(dp, length(word) + 1)").alias("best"),
    )
    return dp.where(F.col("best.negs") < F.lit(_INF)).select(
        "word",
        "freq",
        F.col("best.negs").alias("negs"),
        F.col("best.k").alias("k"),
        F.col("best.path").alias("path"),
    )


def _usage_counts(best: DataFrame) -> DataFrame:
    """M-step counts: token usage along best paths, freq-weighted."""
    return (
        best.select(
            "freq", F.explode(F.split("path", " ")).alias("tok")
        )
        .groupBy("tok")
        .agg(F.sum("freq").alias("c"))
    )


def _next_vocab(counts: DataFrame, chars: DataFrame) -> DataFrame:
    """Multi-char tokens keep c > 0 (others drop out); every single char
    stays with count floored at 1 (segmentability guarantee)."""
    multi = counts.where(F.length("tok") >= 2)
    ch = chars.join(counts, "tok", "left").select(
        "tok", F.greatest(F.coalesce(F.col("c"), F.lit(0)), F.lit(1)).alias("c")
    )
    return multi.unionByName(ch)


def train_unigram_lm(
    docs: DataFrame, n_rounds: int = UNI_ROUNDS
) -> tuple[DataFrame, DataFrame]:
    """Returns (final vocab (tok, c, sc), final best segmentations
    (word, freq, negs, k, path))."""
    words = word_freqs(docs).localCheckpoint(eager=False)
    cand = _cands(words).localCheckpoint(eager=False)
    chars = cand.where(F.length("tok") == 1).select("tok").distinct()

    seed = cand.groupBy("tok").agg(F.sum("freq").alias("c"))
    multi0 = (
        seed.where(F.length("tok") >= 2)
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(UNI_SEED_V)
    )
    vocab = multi0.unionByName(seed.where(F.length("tok") == 1))
    scores = _micro_nat_scores(vocab)

    best = None
    for _ in range(n_rounds):
        best = _viterbi(cand, scores).localCheckpoint(eager=False)
        counts = _usage_counts(best)
        vocab = _next_vocab(counts, chars)
        scores = _micro_nat_scores(vocab)
    return scores, best


# --------------------------------------------------------------- oracle SQL

def unigram_ctes(doc_filter: str = "TRUE") -> str:
    """Unrolled MATERIALIZED-CTE training recurrence (DuckDB), mirroring
    train_unigram_lm exactly: seed cut, per-position dp argmin
    (negs ASC, k ASC, path ASC), char-floored M-step, UNI_ROUNDS rounds.
    Exposes CTEs ``scores0``..``scores{{R}}`` (tok, c, sc) and
    ``best{{R}}`` (word, freq, negs, k, path)."""
    P, L, V, S = UNI_P_MAX, UNI_LMAX, UNI_SEED_V, UNI_SCALE
    ctes = [
        f"""uwords AS MATERIALIZED (
    SELECT word, CAST(count(*) AS BIGINT) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS word
          FROM documents WHERE {doc_filter})
    WHERE word <> '' AND len(word) <= {P} GROUP BY 1
)""",
        f"""upos AS (
    SELECT word, freq, unnest(generate_series(1, len(word))) AS p
    FROM uwords
)""",
        f"""ucand0 AS (
    SELECT word, freq, p, unnest(generate_series(1, least({L}, p))) AS t
    FROM upos
)""",
        """ucand AS MATERIALIZED (
    SELECT word, freq, p, p - t AS j, substr(word, p - t + 1, t) AS tok
    FROM ucand0
)""",
        """useed AS (
    SELECT tok, CAST(sum(freq) AS BIGINT) AS c FROM ucand GROUP BY 1
)""",
        """uchars AS (SELECT DISTINCT tok FROM ucand WHERE len(tok) = 1)""",
        f"""uvocab0 AS (
    SELECT tok, c FROM (SELECT tok, c FROM useed WHERE len(tok) >= 2
                        ORDER BY c DESC, tok ASC LIMIT {V})
    UNION ALL SELECT tok, c FROM useed WHERE len(tok) = 1
)""",
        f"""scores0 AS MATERIALIZED (
    SELECT tok, c,
           CAST(floor(ln(c / CAST(t AS DOUBLE)) * {S}) AS BIGINT) AS sc
    FROM uvocab0, (SELECT CAST(sum(c) AS BIGINT) AS t FROM uvocab0)
)""",
    ]
    for r in range(1, UNI_ROUNDS + 1):
        prev = f"scores{r - 1}"
        ctes.append(
            f"""dp{r}_0 AS (
    SELECT word, freq, CAST(0 AS BIGINT) AS negs, CAST(0 AS BIGINT) AS k,
           '' AS path
    FROM uwords
)"""
        )
        for p in range(1, P + 1):
            prevs = " UNION ALL ".join(
                f"SELECT word, negs, k, path, CAST({j} AS BIGINT) AS pos "
                f"FROM dp{r}_{j}"
                for j in range(max(0, p - L), p)
            )
            ctes.append(
                f"""dp{r}_{p} AS MATERIALIZED (
    SELECT word, freq, negs, k, path FROM (
        SELECT c.word, c.freq,
               d.negs - s.sc AS negs, d.k + 1 AS k,
               CASE WHEN d.path = '' THEN c.tok
                    ELSE d.path || ' ' || c.tok END AS path,
               row_number() OVER (
                   PARTITION BY c.word
                   ORDER BY d.negs - s.sc ASC, d.k + 1 ASC,
                            CASE WHEN d.path = '' THEN c.tok
                                 ELSE d.path || ' ' || c.tok END ASC
               ) AS rn
        FROM ucand c
        JOIN {prev} s USING (tok)
        JOIN ({prevs}) d ON d.word = c.word AND d.pos = c.j
        WHERE c.p = {p}
    ) WHERE rn = 1
)"""
            )
        finals = " UNION ALL ".join(
            f"SELECT word, freq, negs, k, path, CAST({p} AS BIGINT) AS pos "
            f"FROM dp{r}_{p}"
            for p in range(1, P + 1)
        )
        ctes.append(
            f"""best{r} AS MATERIALIZED (
    SELECT word, freq, negs, k, path FROM ({finals})
    WHERE len(word) = pos
)"""
        )
        ctes.append(
            f"""ucounts{r} AS (
    SELECT tok, CAST(sum(freq) AS BIGINT) AS c
    FROM (SELECT freq, unnest(string_split(path, ' ')) AS tok
          FROM best{r})
    GROUP BY 1
)"""
        )
        ctes.append(
            f"""uvocab{r} AS (
    SELECT tok, c FROM ucounts{r} WHERE len(tok) >= 2
    UNION ALL
    SELECT ch.tok, greatest(coalesce(c.c, 0), 1) AS c
    FROM uchars ch LEFT JOIN ucounts{r} c USING (tok)
)"""
        )
        ctes.append(
            f"""scores{r} AS MATERIALIZED (
    SELECT tok, c,
           CAST(floor(ln(c / CAST(t AS DOUBLE)) * {S}) AS BIGINT) AS sc
    FROM uvocab{r}, (SELECT CAST(sum(c) AS BIGINT) AS t FROM uvocab{r})
)"""
        )
    return "WITH " + ",\n".join(ctes)


# ----------------------------------------------------------------- queries

@query(
    "unigram_lm_vocab",
    oracle=unigram_ctes()
    + f"""
SELECT tok AS token, c AS count, sc AS score_micro
FROM scores{UNI_ROUNDS}
""",
)
def q_unigram_lm_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer vocabulary after
    {UNI_ROUNDS} EM rounds: (token, usage count, micro-nat log-prob).
    See the module docstring for the algorithm, scale shape (corpus
    touched once; Viterbi dp is a zero-shuffle codegen fold) and the
    determinism recipe shared with `bpe_vocab_train`."""
    docs = read_table(spark, sf_dir, "documents")
    scores, _ = train_unigram_lm(docs)
    return scores.select(
        F.col("tok").alias("token"),
        F.col("c").alias("count"),
        F.col("sc").alias("score_micro"),
    )


@query(
    "unigram_lm_segment_stats",
    oracle=unigram_ctes()
    + f"""
, corpus_words AS (
    SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
)
SELECT c.source,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(b.k) AS BIGINT) AS n_tokens,
       CAST(sum(b.k) * 1000 // count(*) AS BIGINT) AS tokens_per_1000_words
FROM corpus_words c JOIN best{UNI_ROUNDS} b USING (word)
GROUP BY c.source
""",
)
def q_unigram_lm_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source segmentation cost under the trained unigram LM: words,
    Viterbi token count, and tokens/1000-words — the fertility metric a
    tokenizer rollout tracks per source (high fertility = the vocab fits
    that source badly; the unigram twin of `bpe_oov_audit`). One corpus
    explode joined to the word-level best-path table; integer division
    only.

    Broadcast stance: ``best`` is DISTINCT-WORD cardinality — Heaps'-law
    sublinear but not constant-bounded (the distinction
    `pair_overlap_stats` draws for its df table). The hint is correct
    for this query because the trained tokenizer's word table is a
    shipped-vocabulary artifact (bounded like the BPE merge list); an
    open-vocabulary deployment should drop the hint and take the
    shuffle hash join on the same key, exactly as
    `tokenize_with_bpe_index(broadcast_vocab=False)` does."""
    docs = read_table(spark, sf_dir, "documents")
    _, best = train_unigram_lm(docs)
    words = docs.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    )
    joined = words.join(
        F.broadcast(best.select("word", "k")), "word"
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("k").alias("n_tokens"),
        F.expr("CAST(sum(k) * 1000 div count(1) AS BIGINT)").alias(
            "tokens_per_1000_words"
        ),
    )
