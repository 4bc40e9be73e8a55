"""Distributed BPE (byte-pair encoding) vocabulary training + tokenization
— training-data pipeline extension (no reference counterpart; the public
subword-nmt/GPT-2 algorithm re-expressed Spark-first).

Algorithm (canonical BPE): words split to characters + a `</w>` end
marker; each round counts adjacent symbol pairs over the corpus weighted
by word frequency (overlapping occurrences counted, as subword-nmt's
get_stats does), merges the most frequent pair everywhere (greedy
leftmost non-overlapping within each word), and repeats.

Scale design: BPE trains on the WORD-FREQUENCY table, not the corpus —
the corpus is touched exactly once (one explode + hash-agg shuffle to
build (word, freq)); every round then works on the vocab table, which is
orders of magnitude smaller than 100 TB of text. Per round: pair counts
are one hash-agg over the vocab, the argmax pair is a 1-row driver
collect (same bounded-collect pattern as Lloyd's/IVF training), and merge
application is a ZERO-SHUFFLE `aggregate()` fold projection over the
symbol arrays, `localCheckpoint`ed to keep the plan linear in rounds
(the winnow_overlap CollapseProject lesson). Tokenization re-uses the
trained vocab as a broadcast word -> symbols map: one broadcast join, no
corpus re-segmentation.

Determinism: pair counts are exact integer sums; ties break
lexicographically on (sym_a, sym_b); the greedy-leftmost merge is
order-deterministic. The DuckDB oracle unrolls the identical recurrence
as materialized CTEs (materialized because each round references the
previous one multiple times — default inlining would re-derive round r-1
exponentially). Greedy-leftmost is expressed there as a parity rule:
candidate merge positions are consecutive ONLY when sym_a == sym_b (a
run of one repeated symbol), and within each maximal run greedy keeps the
1st, 3rd, 5th... candidate — the islands+row_number window form, provably
equal to the left fold (pytest-pinned against a pure-Python reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import read_table
from . import query

N_MERGES = 12
END_MARK = "</w>"


# --------------------------------------------------------------- Spark side

def word_vocab(docs: DataFrame) -> DataFrame:
    """(word, freq, syms) — chars + end marker. The ONLY corpus-wide
    shuffle in BPE training."""
    words = docs.select(
        F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .select(
            "word",
            "freq",
            F.expr(
                "concat(transform(sequence(1, length(word)), "
                f"i -> substring(word, i, 1)), array('{END_MARK}'))"
            ).alias("syms"),
        )
    )


def _esc(s: str) -> str:
    return s.replace("\\", "\\\\").replace("'", "\\'")


def _merge_fold_expr(a: str, b: str) -> str:
    """Greedy leftmost non-overlapping merge of adjacent (a, b) -> ab as a
    single codegen'd aggregate() fold — zero shuffle, zero Python."""
    ab = _esc(a + b)
    ea, eb = _esc(a), _esc(b)
    return (
        "aggregate(syms, cast(array() as array<string>), (acc, x) -> "
        f"case when size(acc) > 0 and element_at(acc, -1) = '{ea}' "
        f"and x = '{eb}' "
        f"then concat(slice(acc, 1, size(acc) - 1), array('{ab}')) "
        "else concat(acc, array(x)) end)"
    )


def _safe_merge_batch(
    rows: list, capacity: int, truncated: bool, existing_syms: set[str]
) -> list[tuple[str, str, int]]:
    """From the (cnt DESC, a, b) sorted pair-count prefix, pick the longest
    prefix of merges that sequential BPE would PROVABLY pick in the same
    order — the exact-equivalence batching rule (the public fast-BPE
    optimization, done strictly):

    1. Walk the sorted list, accepting pairs whose symbols are disjoint
       from every previously-accepted pair's symbols. Disjointness means
       an earlier accepted merge cannot change a later accepted pair's
       count, so its recorded count IS its count at its sequential round.
    2. Stop at the FIRST pair sharing a symbol with the accepted set; its
       count ``c*`` bounds every count an accepted merge can create or
       inflate: merging (a, b) -> ab only creates pairs (x, ab) / (ab, y)
       with counts <= the CURRENT counts of (x, a) / (b, y), and those
       neighbor pairs share a symbol with the batch, so they sort at or
       after the first conflict. If the listing was truncated (``rows``
       is a strict prefix of the pair table), the unseen tail bounds
       ``c*`` instead.
    3. Keep only accepted pairs with cnt STRICTLY greater than ``c*``
       (plus the head, which is the exact argmax regardless): a created
       pair tying an accepted count could still lex-beat it at its
       sequential round, so ties are not batched.

    ``existing_syms`` closes the one hole in the neighbor-count bound: a
    merge whose concatenated string EQUALS a symbol already in the
    alphabet (e.g. merging ("a", "ba") to "aba" when ("ab", "a") was
    merged in an earlier round — initial symbols are single chars plus
    the end marker, so every multi-char symbol is a prior merge string)
    would ADD occurrences to pre-existing (x, "aba") pairs, whose summed
    count is bounded by 2·c*, not c*. Such a pair, and any pair already
    CONTAINING one of those strings, is treated as a conflict boundary
    instead of being batched.
    """
    head = rows[0]
    if head["a"] + head["b"] in existing_syms:
        # The head merge re-creates an existing symbol: its occurrences ADD
        # to pre-existing (x, m) counts (2·c* bound), so nothing after the
        # head (the exact argmax) can be batched safely this round.
        return [(head["a"], head["b"], int(head["cnt"]))]
    accepted: list[tuple[str, str, int]] = []
    syms_in_batch: set[str] = set()
    c_star = -1
    for i, row in enumerate(rows):
        a, b, cnt = row["a"], row["b"], int(row["cnt"])
        if truncated and i == len(rows) - 1:
            c_star = cnt  # sentinel row: unseen tail has counts <= this
            break
        if (
            a in syms_in_batch
            or b in syms_in_batch
            or (accepted and a + b in existing_syms | syms_in_batch)
        ):
            c_star = cnt
            break
        if len(accepted) < capacity:
            accepted.append((a, b, cnt))
            syms_in_batch.update((a, b, a + b))
        # disjoint pairs beyond capacity: keep scanning for the first
        # conflict — its count still bounds what the batch can create
    safe = accepted[:1]
    for a, b, cnt in accepted[1:]:
        if cnt <= c_star:
            break  # counts are sorted: nothing later can clear the bar
        safe.append((a, b, cnt))
    return safe


def train_bpe(
    vocab: DataFrame, n_merges: int = N_MERGES, batch_size: int = 1
) -> tuple[list[tuple], DataFrame]:
    """Run n_merges BPE merges; returns (merge list, final vocab).

    Merge list rows: (rank, sym_a, sym_b, merged, pair_count). The final
    vocab keeps (word, freq, syms) with fully merged symbol arrays.

    ``batch_size=1`` (default): the canonical loop — one pair-count
    hash-agg + one 1-row collect per merge.

    ``batch_size=K``: the production-vocab configuration. A 32k-merge
    vocab at one driver round-trip per merge is wall-clock bound on 32k
    sequential collects, not on data; batching applies up to K merges per
    round-trip using ``_safe_merge_batch``'s strict disjointness +
    count-gap rule, which GUARANTEES bit-identical output to
    ``batch_size=1`` (pytest-pinned against the pure-Python subword-nmt
    reference at 64 merges in tests/test_bpe.py). Driver round-trips
    become ~n_merges / E[batch] — sublinear in vocab size whenever the
    pair-count distribution has spread, which real corpora always do."""
    v = vocab.localCheckpoint(eager=False)
    merges: list[tuple] = []
    # Multi-char symbols the alphabet may contain: every prior merge string,
    # the end marker, AND any multi-char symbol already present in the
    # CALLER'S initial vocab — train_bpe is public and must not assume the
    # word_vocab single-char precondition, or a pre-segmented input would
    # silently lose the merged-string-collision guard in batched mode. The
    # seed collect is over DISTINCT multi-char symbols of the initial
    # alphabet (bounded by vocab structure, not corpus size) and only runs
    # when batching can actually skip the guard.
    known_multichar: set[str] = {END_MARK}
    if batch_size > 1:
        known_multichar |= {
            r["s"]
            for r in v.select(F.explode("syms").alias("s"))
            .where(F.length("s") > 1)
            .distinct()
            .collect()
        }
    # Enough sorted prefix to find the first conflict past a full batch;
    # +1 sentinel row detects truncation.
    k_probe = max(batch_size * 8, 64)
    while len(merges) < n_merges:
        pairs = v.where(F.size("syms") >= 2).select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1), "
                    "i -> struct(element_at(syms, i) as a, "
                    "element_at(syms, i + 1) as b))"
                )
            ).alias("p"),
        )
        counted = pairs.groupBy("p.a", "p.b").agg(F.sum("freq").alias("cnt"))
        rows = (
            counted.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(k_probe + 1)
            .collect()
        )
        if not rows:
            raise ValueError(
                f"BPE round {len(merges) + 1}: no adjacent pairs left to "
                f"merge (vocab fully collapsed before n_merges={n_merges})"
            )
        batch = _safe_merge_batch(
            rows,
            capacity=min(batch_size, n_merges - len(merges)),
            truncated=len(rows) == k_probe + 1,
            existing_syms=known_multichar,
        )
        for a, b, cnt in batch:
            merges.append((len(merges) + 1, a, b, a + b, cnt))
            known_multichar.add(a + b)
            v = v.withColumn("syms", F.expr(_merge_fold_expr(a, b)))
        # localCheckpoint once per ROUND: keeps the plan depth bounded by
        # batch_size instead of total merges (CollapseProject would
        # otherwise re-expand the nested folds). LAZY: the next round's
        # 1-row collect materializes it, so each round is ONE job instead
        # of an eager checkpoint job + the collect (round-10, guide §2.4).
        v = v.localCheckpoint(eager=False)
    return merges, v


# --------------------------------------------------------------- oracle SQL

def _best_bpe_sql(r: int, p: int) -> str:
    """BPE merge pick: argmax pair count, (a, b) tiebreak."""
    return f"""
best{r} AS MATERIALIZED (
  SELECT a, b, a || b AS ab, CAST(sum(freq) AS BIGINT) AS cnt
  FROM (SELECT freq, syms[i] AS a, syms[i+1] AS b
        FROM (SELECT freq, syms,
                     unnest(generate_series(1, len(syms) - 1)) AS i
              FROM v{p}))
  GROUP BY a, b
  ORDER BY cnt DESC, a, b LIMIT 1
)"""


def _train_ctes(
    n_merges: int, doc_filter: str = "TRUE", best_sql=_best_bpe_sql
) -> str:
    """Unrolled materialized-CTE training recurrence (DuckDB).
    ``doc_filter``: SQL predicate over documents rows selecting the
    training split. ``best_sql(r, p)``: the merge-selection CTE —
    BPE's count argmax by default; WordPiece passes its
    likelihood-score argmax. The merge APPLICATION (flat/kept/v)
    is selection-agnostic and shared."""
    parts = [
        f"""
w0 AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents
        WHERE {doc_filter})
  WHERE word <> '' GROUP BY word
),
v0 AS MATERIALIZED (
  SELECT word, freq,
         list_append(list_transform(generate_series(1, length(word)),
                                    i -> substr(word, i, 1)), '{END_MARK}')
             AS syms
  FROM w0
)"""
    ]
    for r in range(1, n_merges + 1):
        p = r - 1
        parts.append(best_sql(r, p).strip())
        parts.append(f"""
flat{r} AS MATERIALIZED (
  SELECT word, freq, unnest(generate_series(1, len(syms))) AS pos, syms
  FROM v{p}
),
kept{r} AS MATERIALIZED (
  SELECT word, pos FROM (
    SELECT word, pos,
           row_number() OVER (PARTITION BY word, isl ORDER BY pos) AS rn
    FROM (SELECT word, pos,
                 pos - row_number() OVER (PARTITION BY word ORDER BY pos)
                     AS isl
          FROM (SELECT f.word, f.pos
                FROM flat{r} f, best{r} bb
                WHERE f.pos < len(f.syms)
                  AND f.syms[f.pos] = bb.a AND f.syms[f.pos+1] = bb.b)))
  WHERE rn % 2 = 1
),
v{r} AS MATERIALIZED (
  SELECT f.word, any_value(f.freq) AS freq,
         list(CASE WHEN k.pos IS NOT NULL THEN bb.ab
                   ELSE f.syms[f.pos] END ORDER BY f.pos) AS syms
  FROM flat{r} f
  CROSS JOIN best{r} bb
  LEFT JOIN kept{r} k ON k.word = f.word AND k.pos = f.pos
  LEFT JOIN kept{r} d ON d.word = f.word AND d.pos = f.pos - 1
  WHERE d.word IS NULL
  GROUP BY f.word
)""")
    return "WITH " + ",".join(parts)


_TRAIN_TAIL = "\nUNION ALL\n".join(
    f"SELECT CAST({r} AS BIGINT) AS rank, a AS sym_a, b AS sym_b, "
    f"ab AS merged, cnt AS pair_count FROM best{r}"
    for r in range(1, N_MERGES + 1)
)

_TOKENIZE_TAIL = f"""
, docw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
           FROM documents)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(v.syms)) AS BIGINT) AS n_bpe_tokens
FROM docw d JOIN v{N_MERGES} v USING (word)
WHERE word <> '' GROUP BY doc_id
"""


# ----------------------------------------------------------------- queries

@query("bpe_vocab_train", oracle=_train_ctes(N_MERGES) + "\n" + _TRAIN_TAIL)
def q_bpe_vocab_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train {N_MERGES} BPE merges over the documents corpus; emits the
    learned merge table (rank, sym_a, sym_b, merged, pair_count) — the
    exact artifact a tokenizer ships. See the module docstring for the
    distributed design; the result is assembled from the {N_MERGES}
    1-row driver collects (the merges ARE driver state, like Lloyd's
    centroids), so the returned DataFrame is a literal of bounded size."""
    docs = read_table(spark, sf_dir, "documents")
    merges, _ = train_bpe(word_vocab(docs), N_MERGES)
    return spark.createDataFrame(
        merges,
        "rank long, sym_a string, sym_b string, merged string, "
        "pair_count long",
    )


@query(
    "bpe_vocab_train_batched",
    oracle=_train_ctes(N_MERGES) + "\n" + _TRAIN_TAIL,
)
def q_bpe_vocab_train_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME {N_MERGES} merges trained with batch_size=4 — multiple
    provably-safe merges applied per driver round-trip
    (``_safe_merge_batch``'s strict disjointness + count-gap rule).
    Deliberately shares `bpe_vocab_train`'s sequential-recurrence oracle:
    the hash match IS the proof that batching changes wall-clock shape
    (driver round-trips sublinear in vocab size), never output."""
    docs = read_table(spark, sf_dir, "documents")
    merges, _ = train_bpe(word_vocab(docs), N_MERGES, batch_size=4)
    return spark.createDataFrame(
        merges,
        "rank long, sym_a string, sym_b string, merged string, "
        "pair_count long",
    )


@query(
    "bpe_tokenize", oracle=_train_ctes(N_MERGES) + _TOKENIZE_TAIL
)
def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize every document with the trained BPE vocab: per doc, the
    word count and the EXACT trained-merge token count (the honest token
    budget for pack_sequences / training_manifest, vs the regex proxy of
    `token_count`). Tokenization is one broadcast join of the corpus
    words against the (word -> merged symbol count) map — the corpus is
    never re-segmented, and word order within docs is irrelevant to the
    count, so no window is needed."""
    docs = read_table(spark, sf_dir, "documents")
    _, final = train_bpe(word_vocab(docs), N_MERGES)
    doc_words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    m = final.select("word", F.size("syms").cast("long").alias("n_syms"))
    return doc_words.join(F.broadcast(m), "word").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_syms").alias("n_bpe_tokens"),
    )


BPE_MANIFEST_BUDGET = 2000  # trained-BPE tokens per shard

_MANIFEST_TAIL = f"""
, docw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
           FROM documents),
dtok AS (
  SELECT doc_id, CAST(sum(len(v.syms)) AS BIGINT) AS n_bpe_tokens
  FROM docw d JOIN v{N_MERGES} v USING (word)
  WHERE word <> '' GROUP BY doc_id
),
packed AS (
  SELECT t.source, t.doc_id, k.n_bpe_tokens,
         sum(k.n_bpe_tokens) OVER (PARTITION BY t.source ORDER BY t.doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents t JOIN dtok k USING (doc_id)
)
SELECT source,
       CAST((cum - n_bpe_tokens) // {BPE_MANIFEST_BUDGET} AS BIGINT)
           AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bpe_tokens) AS BIGINT) AS shard_tokens
FROM packed GROUP BY 1, 2
"""


@query(
    "training_manifest_bpe",
    oracle=_train_ctes(N_MERGES) + _MANIFEST_TAIL,
)
def q_training_manifest_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training manifest with HONEST token budgeting: shard boundaries cut
    on TRAINED-BPE token counts (train_bpe merges), not the whitespace
    proxy `training_manifest` uses — the number a real loader's tokenizer
    would produce. Whole docs pack per source in doc_id order into
    {BPE_MANIFEST_BUDGET}-token shards (a doc belongs to the shard where
    its first token lands — drop-nothing packing).

    Scale: per-doc token counts are one broadcast join + hash-agg (the
    corpus is never re-segmented); the running sum uses
    ``grouped_prefix_sum`` so no source becomes a single straggler task;
    only shard-level rows return."""
    from ..operators.sampling import grouped_prefix_sum

    docs = read_table(spark, sf_dir, "documents")
    _, final = train_bpe(word_vocab(docs), N_MERGES)
    doc_words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    m = final.select("word", F.size("syms").cast("long").alias("n_syms"))
    dtok = (
        doc_words.join(F.broadcast(m), "word")
        .groupBy("doc_id")
        .agg(F.sum("n_syms").alias("n_bpe_tokens"))
    )
    dt = docs.select("doc_id", "source").join(dtok, "doc_id")
    packed = grouped_prefix_sum(
        dt,
        ["source"],
        [F.asc("doc_id")],
        F.col("n_bpe_tokens"),
        out_col="__cum",
    )
    return (
        packed.withColumn(
            # exact bigint floor-division (`div`) on the token prefix sum —
            # double division misplaces a shard boundary once the corpus
            # token count passes ~2^53
            "shard_id",
            F.expr(
                "CAST((__cum - n_bpe_tokens) div "
                f"{BPE_MANIFEST_BUDGET} AS BIGINT)"
            ),
        )
        .groupBy("source", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bpe_tokens").alias("shard_tokens"),
        )
    )


_OOV_TAIL = f"""
, valw AS (
    SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
    FROM documents WHERE doc_id % 2 = 1
),
scored AS (
    SELECT w.source, w.word, v.syms,
           CASE WHEN v.word IS NULL THEN 1 ELSE 0 END AS is_oov,
           CASE WHEN v.word IS NULL THEN length(w.word) + 1
                ELSE len(v.syms) END AS n_toks
    FROM valw w LEFT JOIN v{N_MERGES} v USING (word)
    WHERE w.word <> ''
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(is_oov) AS BIGINT) AS n_oov_words,
       CAST(sum(n_toks) AS BIGINT) AS bpe_tokens
FROM scored GROUP BY source
"""


@query(
    "bpe_oov_audit",
    oracle=_train_ctes(N_MERGES, doc_filter="doc_id % 2 = 0") + _OOV_TAIL,
)
def q_bpe_oov_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer GENERALIZATION audit: train BPE on the even-doc_id split
    only, then tokenize the held-out odd split — per source, the word
    count, the out-of-vocabulary word count (words never seen in
    training, which fall back to character symbols: length + end marker),
    and the resulting token budget. This is the coverage check a real
    tokenizer ships with: a source whose OOV rate or char-fallback
    overhead spikes is drifting away from the training distribution.

    Scale: identical shape to bpe_tokenize — one word-freq agg over the
    train split, bounded per-round training, then one broadcast
    left-join of the val split's words; the fallback is a projection."""
    docs = read_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 2 == 0)
    _, final = train_bpe(word_vocab(train), N_MERGES)
    val = docs.where(F.col("doc_id") % 2 == 1)
    return oov_score(val, vocab_to_map(final))


def vocab_to_map(final_vocab: DataFrame) -> DataFrame:
    """(word, n_syms, known=1) broadcast map from a trained vocab."""
    return final_vocab.select(
        "word",
        F.size("syms").cast("long").alias("n_syms"),
        F.lit(1).alias("known"),
    )


def oov_score(docs: DataFrame, vocab_map: DataFrame) -> DataFrame:
    """Per-source OOV/token-budget counters for ``docs`` against a trained
    vocab map — SHARED by the batch audit (`bpe_oov_audit`) and the
    streaming monitor (`streaming/oov.py`), so the two can never disagree
    about the scoring rule (the drift_labels pattern). All three outputs
    are mergeable sums: partials from any split of docs add up to the
    whole."""
    words = docs.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    scored = words.join(F.broadcast(vocab_map), "word", "left").select(
        "source",
        F.when(F.col("known").isNull(), 1).otherwise(0).alias("is_oov"),
        F.coalesce(
            F.col("n_syms"), F.length("word").cast("long") + 1
        ).alias("n_toks"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("is_oov").cast("long").alias("n_oov_words"),
        F.sum("n_toks").alias("bpe_tokens"),
    )


# ---------------------------------------------- persisted vocab (build/serve)

def build_bpe_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    n_merges: int = N_MERGES,
    batch_size: int = 4,
) -> None:
    """Index-build half of the BPE lifecycle (the PQ/BM25 build-serve
    pattern): train the merge table once, persist (a) the ordered merges
    (rank, sym_a, sym_b) — the artifact a tokenizer SHIPS — and (b) the
    memoized (word -> n_syms, syms) segmentation of every training word,
    so serve-time tokenization of seen words is a broadcast join with no
    recompute. Rebuild = overwrite (derived data)."""
    docs = read_table(spark, sf_dir, "documents")
    merges, final = train_bpe(word_vocab(docs), n_merges, batch_size)
    spark.createDataFrame(
        merges,
        "rank long, sym_a string, sym_b string, merged string, "
        "pair_count long",
    ).write.mode("overwrite").parquet(f"{index_dir}/merges")
    final.select("word", "syms").write.mode("overwrite").parquet(
        f"{index_dir}/words"
    )


def tokenize_with_bpe_index(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Serve half: tokenize ``docs`` from the persisted index with NO
    retraining — per doc (doc_id, n_words, n_bpe_tokens, n_oov_words).

    Seen words resolve through the memoized word table. The word table is
    DISTINCT-WORD cardinality — Heaps'-law sublinear in corpus size but
    NOT constant-bounded, unlike the codebook/centroid tables that are
    always safe to broadcast (pair_overlap_stats documents the same
    distinction for its df table). ``broadcast_vocab=True`` (default) is
    the right call for a shipped tokenizer vocabulary (tens of MB at a
    32k-merge production vocab); set it False for open-vocabulary
    corpora where the memoized table itself is corpus-scale, and the
    word-keyed joins fall back to shuffle hash joins on the same keys.
    UNSEEN words — the case inline `bpe_tokenize` never faces because it
    tokenizes its own training corpus — are segmented exactly as the BPE
    algorithm specifies: chars + end marker, then the persisted merge
    list replayed IN RANK ORDER (each merge one greedy-leftmost codegen
    fold). The replay runs over the DISTINCT unseen words only (a table
    orders of magnitude smaller than the corpus), and the merge count is
    a vocab-size constant, not data-sized."""
    merges = [
        (r["sym_a"], r["sym_b"])
        for r in spark.read.parquet(f"{index_dir}/merges")
        .orderBy("rank")
        .collect()
    ]
    hint = F.broadcast if broadcast_vocab else (lambda df: df)
    known = spark.read.parquet(f"{index_dir}/words").select(
        "word", F.size("syms").cast("long").alias("n_syms")
    )
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    seen = words.join(hint(known), "word").withColumn(
        "oov", F.lit(0).cast("long")
    )
    # One corpus-sized anti-join, reused by both the distinct-OOV replay
    # table and the per-occurrence OOV rows below.
    oov_base = words.join(
        hint(known.select("word")), "word", "left_anti"
    ).localCheckpoint(eager=False)
    unseen_words = (
        oov_base.select("word")
        .distinct()
        .withColumn(
            "syms",
            F.expr(
                "concat(transform(sequence(1, length(word)), "
                f"i -> substring(word, i, 1)), array('{END_MARK}'))"
            ),
        )
    )
    # Replay the shipped merge list on the tiny distinct-OOV table.
    for i, (a, b) in enumerate(merges):
        unseen_words = unseen_words.withColumn(
            "syms", F.expr(_merge_fold_expr(a, b))
        )
        if (i + 1) % 8 == 0:  # keep plan depth bounded for long merge lists
            unseen_words = unseen_words.localCheckpoint(eager=False)
    oov_map = unseen_words.select(
        "word", F.size("syms").cast("long").alias("n_syms")
    )
    unseen = oov_base.join(hint(oov_map), "word").withColumn(
        "oov", F.lit(1).cast("long")
    )
    return (
        seen.unionByName(unseen)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").alias("n_bpe_tokens"),
            F.sum("oov").alias("n_oov_words"),
        )
    )


_FERTILITY_TAIL = f"""
, docw AS (SELECT source, unnest(string_split(text, ' ')) AS word
           FROM documents)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(length(d.word)) AS BIGINT) AS n_chars,
       CAST(sum(len(v.syms)) AS BIGINT) AS n_tokens,
       CAST(sum(len(v.syms)) * 1000000 // count(*) AS BIGINT)
           AS fertility_ppm,
       CAST(sum(length(d.word)) * 1000000 // sum(len(v.syms)) AS BIGINT)
           AS chars_per_token_ppm
FROM docw d
JOIN v{N_MERGES} v USING (word)
WHERE d.word <> ''
GROUP BY d.source
"""


@query(
    "tokenizer_fertility_audit",
    oracle=_train_ctes(N_MERGES) + _FERTILITY_TAIL,
)
def q_tokenizer_fertility_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer FERTILITY audit over the trained BPE vocab:
    tokens-per-word and chars-per-token, the two numbers that decide
    whether a tokenizer is fair to a source (high fertility = that
    source pays more compute per word and effectively shrinks its
    context window — the standard multilingual-tokenizer acceptance
    metric). Both ratios are exact bigint ppm (floor division on exact
    sums), so no float crosses the engine boundary.

    Scale shape: identical to `bpe_tokenize` — the source label rides
    the explode (no doc->source join at all), one vocab-map join against
    the exploded corpus, then a source-bounded hash-agg; the corpus is
    segmented zero times (the vocab map already carries each word's
    trained segmentation length). The map broadcast carries
    `bpe_tokenize`'s shipped-vocabulary stance (bounded artifact;
    open-vocabulary deployments drop the hint, cf.
    `tokenize_with_bpe_index(broadcast_vocab=False)`). The unigram twin
    of this audit is `unigram_lm_segment_stats`; this row adds the
    chars-per-token compression rate that decides storage/compute cost."""
    docs = read_table(spark, sf_dir, "documents")
    _, final = train_bpe(word_vocab(docs), N_MERGES)
    doc_words = docs.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    m = final.select(
        "word",
        F.size("syms").cast("long").alias("n_syms"),
        F.length("word").cast("long").alias("n_chr"),
    )
    return (
        doc_words.join(F.broadcast(m), "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_chr").alias("n_chars"),
            F.sum("n_syms").alias("n_tokens"),
            F.expr(
                "CAST(sum(n_syms) * 1000000 div count(1) AS BIGINT)"
            ).alias("fertility_ppm"),
            F.expr(
                "CAST(sum(n_chr) * 1000000 div sum(n_syms) AS BIGINT)"
            ).alias("chars_per_token_ppm"),
        )
    )


# ------------------------------------------------------ WordPiece trainer

WP_MERGES = 10

# Likelihood score, identical text in both engines (IEEE-exact: each
# operand converts exactly to double at every tested corpus size;
# a 100 TB corpus moves to the cross-multiplied bigint compare).
_WP_SCORE = (
    "CAST(floor(CAST(cnt AS DOUBLE) * 1000000000"
    " / CAST(ca AS DOUBLE) / CAST(cb AS DOUBLE)) AS BIGINT)"
)


def _best_wp_sql(r: int, p: int) -> str:
    """WordPiece merge pick: argmax of count(ab)/(count(a)*count(b))
    as a ppb-floored integer score, (a, b) tiebreak. Symbol counts are
    occurrence-weighted over the CURRENT vocab state."""
    return f"""
best{r} AS MATERIALIZED (
  SELECT a, b, a || b AS ab, cnt, {_WP_SCORE} AS score
  FROM (
    SELECT pc.a, pc.b, pc.cnt, sa.cs AS ca, sb.cs AS cb
    FROM (
      SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt
      FROM (SELECT freq, syms[i] AS a, syms[i+1] AS b
            FROM (SELECT freq, syms,
                         unnest(generate_series(1, len(syms) - 1)) AS i
                  FROM v{p}))
      GROUP BY a, b
    ) pc
    JOIN (
      SELECT s, CAST(sum(freq) AS BIGINT) AS cs
      FROM (SELECT freq, unnest(syms) AS s FROM v{p})
      GROUP BY s
    ) sa ON sa.s = pc.a
    JOIN (
      SELECT s, CAST(sum(freq) AS BIGINT) AS cs
      FROM (SELECT freq, unnest(syms) AS s FROM v{p})
      GROUP BY s
    ) sb ON sb.s = pc.b
  )
  ORDER BY score DESC, a, b LIMIT 1
)"""


_WP_TAIL = "\nUNION ALL\n".join(
    f"SELECT CAST({r} AS BIGINT) AS rank, a AS sym_a, b AS sym_b, "
    f"ab AS merged, cnt AS pair_count, score AS score_ppb FROM best{r}"
    for r in range(1, WP_MERGES + 1)
)


def train_wordpiece(
    vocab: DataFrame, n_merges: int = WP_MERGES
) -> tuple[list[tuple], DataFrame]:
    """Run n_merges WordPiece merges; returns (merge list, final vocab).

    Same distributed loop shape as ``train_bpe`` (pair-count hash-agg +
    1-row collect per round, greedy-leftmost fold application, one
    localCheckpoint per round) with the WordPiece SELECTION rule: the
    merged pair maximizes count(ab) / (count(a) * count(b)) — the
    likelihood gain of the merge under a unigram symbol model (Schuster
    & Nakajima 2012; the scoring used by the public WordPiece trainers)
    — instead of raw count. Symbol counts are occurrence-weighted sums
    over the current vocab, computed in the same round's second
    hash-agg. The score is the ppb-floored integer ``_WP_SCORE`` with
    (a, b) tiebreak, so the pick is total-ordered and engine-exact."""
    v = vocab.localCheckpoint(eager=False)
    merges: list[tuple] = []
    while len(merges) < n_merges:
        pairs = v.where(F.size("syms") >= 2).select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1), "
                    "i -> struct(element_at(syms, i) as a, "
                    "element_at(syms, i + 1) as b))"
                )
            ).alias("p"),
        )
        counted = pairs.groupBy("p.a", "p.b").agg(
            F.sum("freq").cast("long").alias("cnt")
        )
        syms = (
            v.select("freq", F.explode("syms").alias("s"))
            .groupBy("s")
            .agg(F.sum("freq").cast("long").alias("cs"))
        )
        best = (
            counted.join(
                syms.select(F.col("s").alias("a"), F.col("cs").alias("ca")),
                "a",
            )
            .join(
                syms.select(F.col("s").alias("b"), F.col("cs").alias("cb")),
                "b",
            )
            .select("a", "b", "cnt", F.expr(_WP_SCORE).alias("score"))
            .orderBy(F.desc("score"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not best:
            raise ValueError(
                f"WordPiece round {len(merges) + 1}: no adjacent pairs "
                f"left to merge (vocab collapsed before n_merges="
                f"{n_merges})"
            )
        row = best[0]
        a, b, cnt, score = row["a"], row["b"], int(row["cnt"]), int(row["score"])
        merges.append((len(merges) + 1, a, b, a + b, cnt, score))
        v = v.withColumn("syms", F.expr(_merge_fold_expr(a, b)))
        # lazy: next round's collect (or the caller's action) materializes
        v = v.localCheckpoint(eager=False)
    return merges, v


@query(
    "wordpiece_vocab_train",
    oracle=_train_ctes(WP_MERGES, best_sql=_best_wp_sql) + "\n" + _WP_TAIL,
)
def q_wordpiece_vocab_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train {N} WordPiece merges over the documents corpus; emits the
    learned merge table (rank, sym_a, sym_b, merged, pair_count,
    score_ppb) — the third tokenizer trainer next to BPE (count-argmax
    merges) and the unigram LM (EM pruning): WordPiece keeps BPE's
    greedy bottom-up merging but scores candidates by likelihood gain
    count(ab)/(count(a)*count(b)), preferring pairs that co-occur more
    than their parts predict rather than merely frequent ones. The
    behavioral split is textbook on this corpus: BPE's first merge is
    ('e', 'r') at 4568 occurrences (the most frequent bigram), while
    WordPiece's is ('q', 'u') at 871 — 'q' is rare but ALWAYS followed
    by 'u', the maximal likelihood ratio.

    Scale shape inherited from `train_bpe`: the corpus is touched once
    (word-frequency vocab); each round is two hash-aggs over the
    word-symbol table + one 1-row collect; merge application is the
    zero-shuffle codegen'd fold; lineage truncated per round. The
    oracle shares `_train_ctes`' merge-application recurrence verbatim
    with the BPE oracle — only the best{{r}} selection CTE differs."""
    docs = read_table(spark, sf_dir, "documents")
    merges, _ = train_wordpiece(word_vocab(docs), WP_MERGES)
    return spark.createDataFrame(
        merges,
        "rank long, sym_a string, sym_b string, merged string, "
        "pair_count long, score_ppb long",
    )


q_wordpiece_vocab_train.__doc__ = q_wordpiece_vocab_train.__doc__.format(
    N=WP_MERGES
)
