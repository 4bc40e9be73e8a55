"""Training-data sampling & sharding beyond R1: quality-weighted sampling,
deterministic train/val/test splits, and size-balanced shard assignment.
All pseudo-randomness is md5-derived (the repo-wide determinism policy), so
every engine — and every rerun at any parallelism — draws the same sample.

The stratified (R1) and Bernoulli samplers live in `operators/sampling.py`;
these are the corpus-preparation ops a 100 TB training pipeline runs after
curation: pick what to train on, split it leak-free, and lay it out in
balanced shards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sampling import global_rank
from ..sources.catalog import read_table
from . import query

SAMPLE_K = 200
VAL_PCT, TEST_PCT = 5, 10  # % buckets of the md5 space


def _u01(col: str) -> F.Column:
    """Deterministic uniform (0,1] from the low 60 bits of md5(key) — the
    engine's portable substitute for rand() wherever a result must be
    reproducible and oracle-comparable."""
    return (
        (
            F.conv(
                F.substring(
                    F.md5(F.col(col).cast("string").cast("binary")), 1, 15
                ),
                16,
                10,
            )
            .cast("double")
            + F.lit(1.0)
        )
        / F.lit(float(16**15))
    )


_U01_SQL = (
    "((CAST(('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 15)) AS BIGINT)"
    " + 1.0) / {denom})"
).format(c="{c}", denom=float(16**15))


@query(
    "sample_weighted_docs",
    oracle=f"""
WITH scored AS (
    SELECT doc_id,
           CAST(round(ln({_U01_SQL.format(c="doc_id")})
                      / greatest(length(text), 1) * 1e9) AS BIGINT) AS nkey
    FROM documents
),
ranked AS (
    SELECT doc_id, nkey,
           row_number() OVER (ORDER BY nkey DESC, doc_id) AS rnk
    FROM scored
)
SELECT doc_id, nkey FROM ranked WHERE rnk <= {SAMPLE_K}
""",
)
def q_sample_weighted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis A-Res):
    draw key u^(1/w) per row and keep the global top-K — here in log space,
    ln(u)/w, with deterministic md5 uniforms and weight = doc length.
    Quantized to integer nano-units so the oracle compares exact ints.
    The top-K is a TakeOrderedAndProject heap at any scale — the one-pass,
    shuffle-light way to draw a weighted corpus sample (vs. sorting 100 TB
    or a driver-side reservoir)."""
    docs = read_table(spark, sf_dir, "documents")
    w = F.greatest(F.length("text"), F.lit(1))
    nkey = F.round(F.log(_u01("doc_id")) / w * 1e9).cast("long")
    return (
        docs.select("doc_id", nkey.alias("nkey"))
        .orderBy(F.desc("nkey"), F.asc("doc_id"))
        .limit(SAMPLE_K)
    )


@query(
    "train_val_test_split",
    oracle=f"""
WITH b AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 100 AS bucket
    FROM documents
)
SELECT CASE WHEN bucket < {VAL_PCT} THEN 'val'
            WHEN bucket < {VAL_PCT + TEST_PCT} THEN 'test'
            ELSE 'train' END AS split,
       count(*) AS n_docs, min(doc_id) AS min_id, max(doc_id) AS max_id
FROM b GROUP BY 1
""",
)
def q_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, leak-free train/val/test split: the md5 bucket of the
    STABLE document key decides membership, so re-running over a grown
    corpus never moves an old document between splits (the property
    rand()-based splits lack, and the reason eval sets silently leak).
    Emits per-split counts + id range; the split column itself is a pure
    projection any downstream query filters on (pushdown-composable)."""
    docs = read_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 15
            ),
            16,
            10,
        )
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < VAL_PCT, "val")
        .when(bucket < VAL_PCT + TEST_PCT, "test")
        .otherwise("train")
    )
    return (
        docs.select(split.alias("split"), "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


N_SHARDS = 8


@query(
    "balanced_shards",
    oracle=f"""
WITH sized AS (
    SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
),
ranked AS (
    SELECT doc_id, n_tokens,
           row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS rnk
    FROM sized
)
SELECT rnk % {N_SHARDS} AS shard,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
FROM ranked GROUP BY 1
""",
)
def q_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-balanced shard assignment: rank documents by token count and
    deal them round-robin across shards — the sorted-round-robin heuristic
    that bounds shard skew to one document's tokens without the sequential
    state greedy bin-packing needs. Emits per-shard document and token
    totals (the balance report a training job reads before launching).
    The global rank runs through ``operators.sampling.global_rank`` — a
    range-partitioned sort with per-partition ordinals shifted by the
    cumulative partition counts — so NO stage funnels the corpus into a
    single task (the naive ``row_number() OVER (ORDER BY ...)`` does).
    Everything after is projection + aggregate."""
    docs = read_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    ranked = global_rank(
        sized, [F.desc("n_tokens"), F.asc("doc_id")], rank_col="rnk"
    )
    return ranked.groupBy((F.col("rnk") % N_SHARDS).alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
    )


# --------------------------------------------- Neyman optimal allocation

NEYMAN_TOTAL = 1000  # sample budget to allocate across strata


@query(
    "neyman_allocation",
    oracle=f"""
WITH s AS (
    SELECT event_type AS stratum,
           CAST(count(*) AS BIGINT) AS n_h,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_c,
           CAST(sum(CAST(round(value * 100) AS BIGINT)
                    * CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS sumsq_c
    FROM events GROUP BY 1
),
w AS (
    SELECT stratum, n_h,
           CAST(floor(sqrt(CAST(n_h * sumsq_c - sum_c * sum_c AS DOUBLE)))
                AS BIGINT) AS w_int
    FROM s
),
tot AS (SELECT CAST(sum(w_int) AS BIGINT) AS wsum FROM w)
SELECT stratum, n_h,
       CAST({NEYMAN_TOTAL} * w_int // wsum AS BIGINT) AS alloc_n,
       round(CAST(w_int AS DOUBLE) / wsum, 6) AS alloc_share
FROM w, tot
""",
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation of a fixed sample budget across strata:
    each stratum receives budget proportional to N_h * S_h (size times
    standard deviation) — the survey-sampling allocation that minimizes
    estimator variance, vs the PROPORTIONAL allocation
    `stratified_sample` implements (equal rates). High-variance strata
    get oversampled; near-constant strata need almost no samples.

    N_h*S_h comes from the exact integer sufficient statistics
    (sqrt(n*sumsq - sum^2) over cents = n*std, floored to a bigint WEIGHT
    immediately), so the cross-strata total is an exact integer sum — a
    float weight total would be summation-order-dependent. Allocations
    are integer floor divisions; the one double division (the reported
    share) sits at the output edge. One conditional-agg scan; the
    allocation table is |strata| rows."""
    from ..sources.catalog import read_events

    ev = read_events(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("long")
    s = ev.groupBy(F.col("event_type").alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum(cents).alias("sum_c"),
        F.sum(cents * cents).alias("sumsq_c"),
    )
    w = s.select(
        "stratum",
        "n_h",
        F.floor(
            F.sqrt(
                (
                    F.col("n_h") * F.col("sumsq_c")
                    - F.col("sum_c") * F.col("sum_c")
                ).cast("double")
            )
        )
        .cast("long")
        .alias("w_int"),
    )
    tot = w.agg(F.sum("w_int").alias("wsum"))
    return w.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n_h",
        F.expr(f"CAST({NEYMAN_TOTAL} * w_int div wsum AS BIGINT)").alias(
            "alloc_n"
        ),
        F.round(F.col("w_int").cast("double") / F.col("wsum"), 6).alias(
            "alloc_share"
        ),
    )


# --------------------------------------------- cross-split leakage audit

def _split_leak_oracle() -> str:
    """Compose the minhash near-dup pair oracle with the split-bucket rule
    (the lsh_recall_audit derived-table pattern): a near-dup pair whose
    members land in different splits is leakage."""
    from . import ORACLES

    pairs = ORACLES["dedup_minhash_lsh"]
    return f"""
WITH p AS (SELECT doc_a, doc_b FROM ({pairs}) t),
s AS (
    SELECT doc_id,
           CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1,
                                          15)) AS BIGINT) % 100 < {VAL_PCT}
                THEN 'val'
                WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1,
                                          15)) AS BIGINT) % 100
                     < {VAL_PCT + TEST_PCT}
                THEN 'test'
                ELSE 'train' END AS split
    FROM documents
),
marked AS (
    SELECT least(sa.split, sb.split) AS split_lo,
           greatest(sa.split, sb.split) AS split_hi
    FROM p
    JOIN s sa ON sa.doc_id = p.doc_a
    JOIN s sb ON sb.doc_id = p.doc_b
)
SELECT split_lo, split_hi, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(CASE WHEN split_lo <> split_hi THEN 1 ELSE 0 END AS BIGINT)
           AS is_leak
FROM marked GROUP BY 1, 2
"""


@query("split_leak_audit", oracle=_split_leak_oracle())
def q_split_leak_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-integrity audit: MinHash near-duplicate pairs that STRADDLE the
    train/val/test boundary — a training document nearly identical to an
    eval document inflates benchmarks exactly like verbatim contamination,
    and `decontaminate_ngram`'s eval-n-gram screen cannot see it because
    the leak is between SPLITS of one corpus, not against an external eval
    set. Reports pair counts per split combination with a leak flag
    (within-split duplicate pairs are waste, cross-split pairs are
    leakage; the fix is moving/removing one member of each leaked pair).

    Scale shape: rides the existing banded-LSH candidate machinery (no
    new pairwise work); split labels are a pure projection joined onto the
    slim pair rows by doc id."""
    from .dedup import q_dedup_minhash_lsh

    pairs = q_dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    docs = read_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 15
            ),
            16,
            10,
        )
        .cast("long")
        % 100
    )
    s = docs.select(
        "doc_id",
        F.when(bucket < VAL_PCT, "val")
        .when(bucket < VAL_PCT + TEST_PCT, "test")
        .otherwise("train")
        .alias("split"),
    )
    marked = (
        pairs.join(
            s.select(F.col("doc_id").alias("doc_a"),
                     F.col("split").alias("sa")),
            "doc_a",
        )
        .join(
            s.select(F.col("doc_id").alias("doc_b"),
                     F.col("split").alias("sb")),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("split_lo"),
            F.greatest("sa", "sb").alias("split_hi"),
        )
    )
    return marked.groupBy("split_lo", "split_hi").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.max(
            (F.col("split_lo") != F.col("split_hi")).cast("long")
        ).alias("is_leak"),
    )


def _split_leak_embedding_oracle() -> str:
    """Same composition as _split_leak_oracle, but pairs come from the
    banded sign-LSH EMBEDDING near-dup (vec_id aligns with doc_id in the
    driver testdata)."""
    from . import ORACLES

    pairs = ORACLES["embedding_near_dup"].strip().rstrip(";")
    return f"""
WITH p AS (SELECT vec_a AS doc_a, vec_b AS doc_b FROM ({pairs}) t),
s AS (
    SELECT doc_id,
           CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1,
                                          15)) AS BIGINT) % 100 < {VAL_PCT}
                THEN 'val'
                WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1,
                                          15)) AS BIGINT) % 100
                     < {VAL_PCT + TEST_PCT}
                THEN 'test'
                ELSE 'train' END AS split
    FROM documents
),
marked AS (
    SELECT least(sa.split, sb.split) AS split_lo,
           greatest(sa.split, sb.split) AS split_hi
    FROM p
    JOIN s sa ON sa.doc_id = p.doc_a
    JOIN s sb ON sb.doc_id = p.doc_b
)
SELECT split_lo, split_hi, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(CASE WHEN split_lo <> split_hi THEN 1 ELSE 0 END AS BIGINT)
           AS is_leak
FROM marked GROUP BY 1, 2
"""


@query("split_leak_embedding", oracle=_split_leak_embedding_oracle())
def q_split_leak_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-integrity audit in EMBEDDING space: semantic near-duplicate
    pairs (banded sign-LSH over the embedding column) that straddle the
    train/val/test boundary — catches paraphrase-level leakage that the
    lexical `split_leak_audit` (MinHash shingles) misses entirely: a
    reworded eval document shares no shingles with its training twin but
    sits millimeters away in embedding space. Same split rule, same
    output shape, so the two audits diff directly.

    Scale shape: rides embedding_near_dup's banded-LSH candidates (no
    new pairwise work); split labels join onto slim pair rows."""
    from .similarity import q_embedding_near_dup

    pairs = q_embedding_near_dup(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    docs = read_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 15
            ),
            16,
            10,
        )
        .cast("long")
        % 100
    )
    s = docs.select(
        "doc_id",
        F.when(bucket < VAL_PCT, "val")
        .when(bucket < VAL_PCT + TEST_PCT, "test")
        .otherwise("train")
        .alias("split"),
    )
    marked = (
        pairs.join(
            F.broadcast(
                s.select(F.col("doc_id").alias("doc_a"),
                         F.col("split").alias("sa"))
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                s.select(F.col("doc_id").alias("doc_b"),
                         F.col("split").alias("sb"))
            ),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("split_lo"),
            F.greatest("sa", "sb").alias("split_hi"),
        )
    )
    return marked.groupBy("split_lo", "split_hi").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.when(F.col("split_lo") != F.col("split_hi"), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_leak"),
    )


# -------------------------------------------- component-aware split


def _leak_free_split_oracle() -> str:
    """Composed with the dedup_components oracle (registered by a module
    loaded later) — passed to @query as a callable, resolved by
    load_all."""
    from . import ORACLES

    comp = ORACLES["dedup_components"].strip().rstrip(";")
    return f"""
WITH comp AS ({comp}),
lab AS (
    SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS component_id
    FROM documents d LEFT JOIN comp c USING (doc_id)
),
b AS (
    SELECT doc_id, component_id,
           CAST(('0x' || substr(md5(CAST(component_id AS VARCHAR)), 1, 15))
                AS BIGINT) % 100 AS bucket
    FROM lab
)
SELECT doc_id, component_id,
       CASE WHEN bucket < {VAL_PCT} THEN 'val'
            WHEN bucket < {VAL_PCT + TEST_PCT} THEN 'test'
            ELSE 'train' END AS split
FROM b
"""


@query("leak_free_split", oracle=_leak_free_split_oracle)
def q_leak_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-aware train/val/test split — the CONSTRUCTIVE fix for
    what `split_leak_audit` measures: `train_val_test_split` hashes the
    DOCUMENT key, so two near-duplicate documents can land in different
    splits and leak; this query hashes the near-dup COMPONENT id
    (connected components over the verified MinHash pair graph, the
    `dedup_components` clusters; singletons are their own component), so
    an entire duplicate cluster moves as one unit and cross-split
    near-dup leakage is zero BY CONSTRUCTION, not by post-hoc scrubbing.
    Same md5-bucket convention as the doc-key split, so the two are
    drop-in interchangeable and equally append-stable: growing the
    corpus never moves an existing component between splits (new
    members of an existing cluster follow their cluster's split).

    Scale: inherits the banded-LSH pair graph + min-label fixpoint plan
    of `dedup_components` (slim (doc, label) rows per round); the split
    itself adds one left join and a pure projection — no new shuffle
    class."""
    from .dedup import q_dedup_components

    comp = q_dedup_components(spark, sf_dir).select(
        "doc_id", "component_id"
    )
    docs = read_table(spark, sf_dir, "documents")
    lab = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .withColumn(
            "component_id", F.coalesce("component_id", F.col("doc_id"))
        )
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.col("component_id").cast("string").cast("binary")),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < VAL_PCT, "val")
        .when(bucket < VAL_PCT + TEST_PCT, "test")
        .otherwise("train")
    )
    return lab.select("doc_id", "component_id", split.alias("split"))


# -------------------------------------------- deterministic epoch shuffle

EPOCH_SHARDS = 8


@query(
    "epoch_shuffle_manifest",
    oracle=f"""
WITH keyed AS (
    SELECT doc_id,
           md5(CAST(doc_id AS VARCHAR) || ':epoch0') AS k
    FROM documents
),
ranked AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY k, doc_id) - 1 AS BIGINT) AS pos
    FROM keyed
)
SELECT doc_id, pos,
       CAST(pos % {EPOCH_SHARDS} AS BIGINT) AS shard
FROM ranked
""",
)
def q_epoch_shuffle_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible epoch shuffle: the global training-data order for one
    epoch as a MANIFEST (doc_id -> position, shard) rather than a
    materialized reshuffled copy of the corpus. Order = global rank of
    ``md5(doc_id || ':epoch0')`` — a deterministic pseudo-random
    permutation, so every re-run (and every straggler retry) sees the
    byte-identical order, unlike ``orderBy(rand())``; the next epoch is
    the same manifest with a different epoch tag. Shard = position mod
    {EPOCH_SHARDS}, giving each data-loader rank an interleaved,
    unbiased slice of the permutation.

    Scale: the permutation is `operators/sampling.global_rank` over the
    slim (doc_id, key) projection — range partition + per-partition
    offsets, two bounded shuffles, no single-partition sort, and the
    corpus text itself never moves (loaders fetch by manifest order)."""
    from ..operators.sampling import global_rank

    docs = read_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(":epoch0"))
            .cast("binary")
        ).alias("k"),
    )
    ranked = global_rank(
        keyed, [F.asc("k"), F.asc("doc_id")], rank_col="pos"
    ).withColumn("pos", F.col("pos").cast("long"))
    return ranked.select(
        "doc_id", "pos", (F.col("pos") % EPOCH_SHARDS).cast("long").alias("shard")
    )


# --------------------------------------- rendezvous (HRW) sharding audit

HRW_BEFORE = 8   # shard count before the topology change
HRW_AFTER = 9    # ... and after adding one shard


def _hrw_oracle() -> str:
    def h(shard: str) -> str:
        return (
            "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' || "
            f"CAST({shard} AS VARCHAR)), 1, 15)) AS BIGINT)"
        )

    return f"""
WITH pairs AS (
    SELECT d.doc_id, s.shard, {h("s.shard")} AS hkey
    FROM documents d
    CROSS JOIN (SELECT unnest(generate_series(0, {HRW_AFTER - 1}))
                AS shard) s
),
before AS (
    SELECT doc_id, arg_max(shard, hkey) AS sh
    FROM pairs WHERE shard < {HRW_BEFORE} GROUP BY 1
),
after AS (
    SELECT doc_id, arg_max(shard, hkey) AS sh FROM pairs GROUP BY 1
),
assign AS (
    SELECT a.doc_id, a.sh AS sh_after, b.sh AS sh_before
    FROM after a JOIN before b ON b.doc_id = a.doc_id
),
per_after AS (
    SELECT sh_after AS shard, CAST(count(*) AS BIGINT) AS n_after,
           CAST(count(*) FILTER (WHERE sh_before = sh_after) AS BIGINT)
               AS stayed
    FROM assign GROUP BY 1
),
per_before AS (
    SELECT sh_before AS shard, CAST(count(*) AS BIGINT) AS n_before
    FROM assign GROUP BY 1
)
SELECT pa.shard, coalesce(pb.n_before, 0) AS n_before, pa.n_after,
       pa.stayed
FROM per_after pa LEFT JOIN per_before pb ON pb.shard = pa.shard
"""


@query("rendezvous_sharding", oracle=_hrw_oracle())
def q_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment audit: assign
    every document to argmax_shard md5(doc#shard) under {B} shards and
    again under {A}, and report per-shard counts plus how many documents
    STAYED — measuring consistent hashing's defining guarantee (adding a
    node moves only ~1/(N+1) of keys, all of them TO the new node)
    exactly, not asserting it. mod-N sharding would move ~{B}/{A} of
    everything; HRW is how a 100 TB corpus adds capacity without a full
    reshuffle (cf. `balanced_shards`, which balances a STATIC topology).

    Scale shape: the only data-sized work is one explode to {A} hash
    rows per doc + one max_by hash-agg keyed on doc_id; the audit join
    is doc-keyed. Plain column expressions end to end (md5 shared
    bit-for-bit with the oracle), no windows, no collects."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    pairs = docs.select(
        "doc_id",
        F.explode(
            F.array(*[F.lit(i) for i in range(HRW_AFTER)])
        ).alias("shard"),
    ).withColumn(
        "hkey",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit("#"),
                        F.col("shard").cast("string"),
                    ).cast("binary")
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
    )
    before = (
        pairs.where(F.col("shard") < HRW_BEFORE)
        .groupBy("doc_id")
        .agg(F.max_by("shard", "hkey").alias("sh_b"))
    )
    after = pairs.groupBy("doc_id").agg(
        F.max_by("shard", "hkey").alias("sh")
    )
    assign = after.join(before, "doc_id")
    per_after = assign.groupBy(F.col("sh").alias("shard")).agg(
        F.count(F.lit(1)).cast("long").alias("n_after"),
        F.sum(F.when(F.col("sh_b") == F.col("sh"), 1).otherwise(0))
        .cast("long")
        .alias("stayed"),
    )
    per_before = assign.groupBy(F.col("sh_b").alias("shard")).agg(
        F.count(F.lit(1)).cast("long").alias("n_before")
    )
    return per_after.join(F.broadcast(per_before), "shard", "left").select(
        "shard",
        F.coalesce("n_before", F.lit(0)).cast("long").alias("n_before"),
        "n_after",
        "stayed",
    )


q_rendezvous_sharding.__doc__ = q_rendezvous_sharding.__doc__.format(
    B=HRW_BEFORE, A=HRW_AFTER
)
