"""Deduplication operators over the ``documents`` table — the training-data
pipeline extension (BASELINE.json north star). Not present in the reference
(its closest op is distinct(), SURVEY §2.4 A6); designed here for 100 TB:

- exact dedup: hash-groupBy — one shuffle on a 32-byte key, no text movement
  after the md5 projection.
- MinHash+LSH: shingle → K minhashes → banded signatures → bucket equi-join.
  The candidate join is an equi-join on band keys (shuffle on small keys), NOT
  an all-pairs cross join — the only part that grows quadratically is within
  a bucket, which LSH keeps tiny.
- SimHash: per-word hash bit votes → 16-bit fingerprint; near-dups share
  fingerprints (or differ in few bits).
- n-gram Jaccard: exact verification on LSH candidates only.

Determinism policy: all pseudo-randomness derives from md5 (portable across
Spark and the DuckDB oracle); minhash values are the low 60 bits of
md5(perm_id | shingle) so both engines compute identical signatures.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query
from ..operators.iterate import iterate
from ..sources.catalog import per_snapshot, read_table, widen_scan

N_MINHASH = 8  # 4 bands x 2 rows
N_BANDS = 4
SIMHASH_BITS = 16
JACCARD_THRESHOLD = 0.2

# ---------------------------------------------------------------- shingles

# DuckDB: distinct 3-word shingles per doc (docs shorter than 3 words use the
# whole text as their single shingle).
SHINGLE_CTE = """
words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
    SELECT DISTINCT doc_id,
           CASE WHEN len(w) >= 3 THEN w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                ELSE array_to_string(w, ' ') END AS shingle
    FROM (SELECT doc_id, w,
                 unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
          FROM words)
)
"""


def shingle_array(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, sh_arr): each document's DISTINCT word n-gram shingle set
    as one array column — the pre-explode form of ``shingles``. Consumers
    that need whole sets (array_intersect verification) read this
    directly: the set is already per-row, so no explode + collect_set
    round trip (and no shuffle) is ever needed to reassemble it.

    The input is widened first (sources.catalog.widen_scan): shingling is
    the most CPU-heavy per-row derivation in the engine, and a
    single-row-group parquet scan (the driver testdata shape) would pin
    it — and every cached consumer above it — to one core. No-op when the
    scan already has >= cores partitions (any production table)."""
    docs = widen_scan(docs)
    w = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(w) >= n,
        F.expr(
            f"transform(sequence(0, size(split(text, ' ')) - {n}), "
            f"i -> concat_ws(' ', slice(split(text, ' '), i + 1, {n})))"
        ),
    ).otherwise(F.array(F.concat_ws(" ", w)))
    return docs.select("doc_id", F.array_distinct(grams).alias("sh_arr"))


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document (Spark side of SHINGLE_CTE).
    Array ops run inside whole-stage codegen; one explode, no UDF."""
    return shingle_array(docs, n).select(
        "doc_id", F.explode("sh_arr").alias("shingle")
    )


def _per_documents(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """``build(documents).cache()``, kept once per snapshot of
    ``documents.parquet``: a rewrite of the file drops the old entry, so the
    cache never serves the old rows."""
    return per_snapshot(
        spark,
        name,
        f"{sf_dir}/documents.parquet",
        lambda: build(read_table(spark, sf_dir, "documents")).cache(),
    )


# ---------------------------------------------------------------- exact

@query(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_count
FROM documents GROUP BY 1
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy: keep the lowest doc_id per hash.
    At 100 TB the shuffle carries only (32-byte hash, id) pairs."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.col("text").cast("binary")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


# ---------------------------------------------------------------- minhash

def _hexint(col: Column) -> Column:
    """Low 60 bits of an md5 hex digest as a non-negative bigint (Spark)."""
    return F.conv(F.substring(col, 1, 15), 16, 10).cast("long")


# Affine permutation family over a 28-bit base hash: h_j = (A_j*h + B_j) mod P.
# ONE md5 per shingle instead of K — md5 dominates signature cost at scale;
# the affine mix is exact int64 arithmetic, identical in Spark and DuckDB
# (28-bit h x 21-bit A stays far below 2^63).
MINHASH_P = 2147483647  # 2^31 - 1
MINHASH_A = [1000003, 999983, 786433, 655361, 590921, 514229, 433129, 362881]
MINHASH_B = [12345, 54321, 1337, 7331, 2468, 8642, 1111, 9999]


def _base_hash(col: Column) -> Column:
    """28-bit md5-derived base hash (Spark side)."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 7), 16, 10).cast("long")


def minhash_signatures(sh: DataFrame, n_hashes: int = N_MINHASH) -> DataFrame:
    """K minhash values per doc: min over shingles of the j-th affine
    permutation of one shared md5 base hash. K aggregates in ONE pass."""
    base = _base_hash(F.col("shingle"))
    hashed = sh.select("doc_id", base.alias("bh"))
    aggs = [
        F.min((F.col("bh") * MINHASH_A[j] + MINHASH_B[j]) % MINHASH_P).alias(
            f"mh{j}"
        )
        for j in range(n_hashes)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def doc_shingle_signatures(docs: DataFrame, n: int = 3) -> DataFrame:
    """Per-doc shingle SET + minhash signature computed entirely row-wise.

    Columns: doc_id, sh_arr (distinct shingles), n_sh, mh0..mh{K-1}.

    Unlike explode→groupBy (minhash_signatures), every expression here —
    shingling, md5 base hash, K affine permutations, array_min — runs inside
    whole-stage codegen with ZERO shuffles: signatures are a pure projection
    of the document row. At 100 TB this is the difference between shuffling
    ~50 shingle rows per doc and shuffling nothing at all.

    Widened first (see shingles): K permutations x ~50 shingles of md5+
    affine arithmetic per row is exactly the derivation a 1-partition scan
    would serialize (measured 4x on the minhash signature cache)."""
    docs = widen_scan(docs)
    w = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(w) >= n,
        F.expr(
            f"transform(sequence(0, size(split(text, ' ')) - {n}), "
            f"i -> concat_ws(' ', slice(split(text, ' '), i + 1, {n})))"
        ),
    ).otherwise(F.array(F.concat_ws(" ", w)))
    base = docs.select(
        "doc_id", F.array_distinct(grams).alias("sh_arr")
    ).withColumn(
        "bh_arr",
        F.expr(
            "transform(sh_arr, s -> cast(conv(substring("
            "md5(cast(s as binary)), 1, 7), 16, 10) as bigint))"
        ),
    )
    mh_cols = [
        F.array_min(
            F.expr(
                f"transform(bh_arr, h -> (h * {MINHASH_A[j]}L + {MINHASH_B[j]}L)"
                f" % {MINHASH_P}L)"
            )
        ).alias(f"mh{j}")
        for j in range(N_MINHASH)
    ]
    return base.select(
        "doc_id", "sh_arr", F.size("sh_arr").alias("n_sh"), *mh_cols
    )


_MINHASH_MINS = ", ".join(
    f"min((CAST(('0x' || substr(md5(shingle), 1, 7)) AS BIGINT) * {MINHASH_A[j]} "
    f"+ {MINHASH_B[j]}) % {MINHASH_P}) AS mh{j}"
    for j in range(N_MINHASH)
)
_BAND_KEYS_SQL = ", ".join(
    f"'{b}:' || CAST(mh{2*b} AS VARCHAR) || ':' || CAST(mh{2*b+1} AS VARCHAR)"
    for b in range(N_BANDS)
)

@query(
    "dedup_minhash_lsh",
    oracle=f"""
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
verified AS (
    SELECT c.doc_a, c.doc_b, count(*) AS inter_n,
           any_value(sa.n_sh) AS na, any_value(sb.n_sh) AS nb
    FROM cand c
    JOIN sh a ON a.doc_id = c.doc_a
    JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       round(inter_n / (na + nb - inter_n), 4) AS jaccard
FROM verified
WHERE inter_n / (na + nb - inter_n) >= {JACCARD_THRESHOLD}
""",
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with exact shingle Jaccard.

    Pipeline: per-row shingle set + 8 minhashes (zero-shuffle projection,
    see doc_shingle_signatures) → 4 banded keys → self equi-join on band key
    (candidates) → exact-Jaccard verification via array_intersect on the two
    docs' shingle sets. The only shuffles are the band self-join and the
    candidate→signature lookups; the candidate side is broadcast (LSH keeps
    it result-sized, which DOES scale — broadcasting all docs would not).
    The quadratic blow-up is bounded per band bucket by LSH collision prob."""
    # Cache holds the shingle arrays too: measured faster at bench scale than
    # the slim-signature alternative (cache mh0..7 only, re-shingle just the
    # candidate docs via semi-join — tried, 2x slower cold from the extra
    # shuffle stages). At 100 TB flip that tradeoff: corpus-wide shingle
    # arrays won't fit executor storage, candidates are result-sized, so the
    # slim-cache + candidate-recompute form is the cluster configuration.
    sig = _per_documents(spark, sf_dir, "doc_shingle_signatures", doc_shingle_signatures)
    band_cols = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(b)),
                F.col(f"mh{2*b}").cast("string"),
                F.col(f"mh{2*b+1}").cast("string"),
            )
            for b in range(N_BANDS)
        ]
    )
    bands = sig.select("doc_id", F.explode(band_cols).alias("band_key"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # No broadcast hint: LSH usually keeps the candidate set result-sized,
    # but a pathological corpus (everything near-identical) can blow it past
    # executor memory, and a forced broadcast would then OOM the build side.
    # The .distinct() above materializes a shuffle stage whose runtime size
    # AQE reads, so the candidate joins flip to broadcast-hash exactly when
    # the candidates really are small — measured same plan at bench scale.
    meta = sig.select("doc_id", "sh_arr", "n_sh")
    verified = cand.join(
        meta.select(
            F.col("doc_id").alias("doc_a"),
            F.col("sh_arr").alias("arr_a"),
            F.col("n_sh").alias("na"),
        ),
        "doc_a",
    ).join(
        meta.select(
            F.col("doc_id").alias("doc_b"),
            F.col("sh_arr").alias("arr_b"),
            F.col("n_sh").alias("nb"),
        ),
        "doc_b",
    ).withColumn("inter_n", F.size(F.array_intersect("arr_a", "arr_b")))
    jac = F.col("inter_n") / (F.col("na") + F.col("nb") - F.col("inter_n"))
    return verified.where(jac >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    )


# ---------------------------------------------------------------- simhash

def _simhash_expr(shift: str, bits: int = SIMHASH_BITS) -> str:
    """Bit-vote fingerprint expression; ``shift`` is the engine's shift idiom
    ('(wh >> {j})' for DuckDB, 'shiftright(wh, {j})' for Spark SQL)."""
    return " + ".join(
        f"(CASE WHEN sum(CASE WHEN {shift.format(j=j)} & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(bits)
    )


_SIMHASH_DUCK = _simhash_expr("(wh >> {j})")
_SIMHASH_SPARK = _simhash_expr("shiftright(wh, {j})")

@query(
    "dedup_simhash",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
hashed AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(word), 1, 15)) AS BIGINT) AS wh
    FROM tok
)
SELECT doc_id, {_SIMHASH_DUCK} AS simhash
FROM hashed GROUP BY doc_id
""",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprints: per-word 60-bit md5 hash, per-bit
    +1/-1 votes weighted by term frequency, sign → 16-bit fingerprint.
    One explode + one grouped conditional aggregate (16 sums fused in a single
    hash-agg pass); near-dup docs land on equal or near-equal fingerprints."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    hashed = tok.select(
        "doc_id", _hexint(F.md5(F.col("word").cast("binary"))).alias("wh")
    )
    return hashed.groupBy("doc_id").agg(F.expr(_SIMHASH_SPARK).alias("simhash"))


SIMHASH_ND_BITS = 32           # the pair tier needs more discrimination
#                                than the 16-bit fingerprint demo emits:
#                                at 16 bits ~22% of ALL doc pairs land
#                                within Hamming 3 (measured at sf0.01)
SIMHASH_NEARDUP_BANDS = 4      # 4 bands x 8 bits
SIMHASH_MAX_HAMMING = 3        # < SIMHASH_NEARDUP_BANDS, so banding is EXACT

_SIMHASH_BAND_BITS = SIMHASH_ND_BITS // SIMHASH_NEARDUP_BANDS
_SIMHASH_BAND_MASK = (1 << _SIMHASH_BAND_BITS) - 1
_SIMHASH_ND_DUCK = _simhash_expr("(wh >> {j})", SIMHASH_ND_BITS)
_SIMHASH_ND_SPARK = _simhash_expr("shiftright(wh, {j})", SIMHASH_ND_BITS)


@query(
    "dedup_simhash_neardup",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
hashed AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(word), 1, 15)) AS BIGINT) AS wh
    FROM tok
),
sig AS (SELECT doc_id, {_SIMHASH_ND_DUCK} AS simhash FROM hashed GROUP BY doc_id),
bv AS (
    SELECT doc_id, simhash, band_idx,
           (simhash >> (band_idx * {_SIMHASH_BAND_BITS}))
               & {_SIMHASH_BAND_MASK} AS band_val
    FROM (SELECT doc_id, simhash,
                 unnest(generate_series(0, {SIMHASH_NEARDUP_BANDS - 1}))
                     AS band_idx
          FROM sig)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash AS ha, b.simhash AS hb
    FROM bv a JOIN bv b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
    WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {SIMHASH_MAX_HAMMING}
""",
)
def q_dedup_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate PAIRS — the missing second half of the
    SimHash tier (`dedup_simhash` emits fingerprints; this resolves them
    to pairs, in-plan): a {SIMHASH_ND_BITS}-bit fingerprint (same bit-vote
    construction as `dedup_simhash`, widened because the 16-bit demo
    fingerprint puts ~22% of ALL doc pairs within Hamming 3 at sf0.01 —
    useless as a pair filter) splits into {SIMHASH_NEARDUP_BANDS} bands
    of {_SIMHASH_BAND_BITS} bits; pairs sharing any band value are
    candidates, and survivors keep bit_count(xor) <=
    {SIMHASH_MAX_HAMMING}. Because the Hamming threshold is STRICTLY
    BELOW the band count, the pigeonhole argument makes the band join
    LOSSLESS — every true pair shares at least one error-free band — so
    unlike the MinHash tier (probabilistic recall, measured by
    `lsh_recall_audit`) this tier needs no recall audit: the banded plan
    and the all-pairs plan provably emit identical rows.

    Scale: fingerprints are one hash-agg over exploded words; the band
    self-join's bucket fan-out is the quadratic knob — at corpus scale
    widen the fingerprint and bands together (64-bit/4x16 is the
    standard production shape, as in `multimodal_phash_neardup`) so
    bucket occupancy stays bounded while the pigeonhole guarantee
    (threshold < bands) is preserved. Ref parity: extends the reference's
    dedup surface the same way the MinHash tier does."""
    def signatures(docs: DataFrame) -> DataFrame:
        tok = docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        hashed = tok.select(
            "doc_id", _hexint(F.md5(F.col("word").cast("binary"))).alias("wh")
        )
        return hashed.groupBy("doc_id").agg(F.expr(_SIMHASH_ND_SPARK).alias("simhash"))

    # cache: both sides of the band self-join and the verify projection
    # read the signatures (the dedup_minhash_lsh precedent)
    sig = _per_documents(spark, sf_dir, "simhash_neardup_signatures", signatures)
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[F.lit(i) for i in range(SIMHASH_NEARDUP_BANDS)])
        ).alias("band_idx"),
    ).withColumn(
        "band_val",
        F.expr(
            f"shiftright(simhash, band_idx * {_SIMHASH_BAND_BITS})"
            f" & {_SIMHASH_BAND_MASK}"
        ),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cand.where(ham <= SIMHASH_MAX_HAMMING).select(
        "doc_a", "doc_b", ham.cast("long").alias("hamming")
    )


# ---------------------------------------------------------------- jaccard

def pair_overlap_stats(sh: DataFrame, df_cap: int | None = None) -> DataFrame:
    """Per-pair shingle-overlap sufficient statistics
    ``(doc_a, doc_b, inter_n, na, nb)`` — the shared candidate-generation +
    scoring core of BOTH set-similarity dedup tiers (symmetric Jaccard in
    ``ngram_jaccard_pairs``, asymmetric containment in
    ``containment_pairs``), so the scale switch is configured once and
    applies to every consumer.

    ``df_cap=None``: exact — every doc pair sharing >= 1 shingle is scored
    from the full inverted-index self-join (matches the SQL oracles).

    ``df_cap=K``: the 100 TB configuration. A shingle present in > K docs
    contributes > K^2 rows to the self-join — one stop-gram ("in the of")
    can dominate the whole shuffle. Capped mode drops such hot shingles
    from CANDIDATE GENERATION only, then re-scores every surviving pair
    EXACTLY via array_intersect of the two docs' full shingle sets, so
    emitted inter_n/na/nb are identical to uncapped ones; the (documented,
    standard) approximation is that pairs sharing ONLY hot shingles are
    never considered — by construction those pairs' similarity comes from
    stop-grams, not content.

    Size joins are plain shuffle joins, NOT broadcasts: sizes is a per-doc
    table (corpus-cardinality), far too large to broadcast at open scale."""
    if df_cap is None:
        sizes = sh.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_sh")
        )
        a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
        pairs = (
            a.join(b, "shingle")
            .where(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).cast("long").alias("inter_n"))
        )
        return pairs.join(
            sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "n_sh", "na"
            ),
            "doc_a",
        ).join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "n_sh", "nb"
            ),
            "doc_b",
        ).select("doc_a", "doc_b", "inter_n", "na", "nb")
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > df_cap)
        .select("shingle")
    )
    rare = sh.join(hot, "shingle", "left_anti")
    a = rare.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = rare.select(F.col("doc_id").alias("doc_b"), "shingle")
    cand = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    arrs = sh.groupBy("doc_id").agg(
        F.collect_set("shingle").alias("sh_arr"),
        F.count(F.lit(1)).cast("long").alias("n_sh"),
    )
    return (
        cand.join(
            arrs.select(
                F.col("doc_id").alias("doc_a"),
                F.col("sh_arr").alias("arr_a"),
                F.col("n_sh").alias("na"),
            ),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("doc_b"),
                F.col("sh_arr").alias("arr_b"),
                F.col("n_sh").alias("nb"),
            ),
            "doc_b",
        )
        .withColumn(
            "inter_n",
            F.size(F.array_intersect("arr_a", "arr_b")).cast("long"),
        )
        .select("doc_a", "doc_b", "inter_n", "na", "nb")
    )


def ngram_jaccard_pairs(docs: DataFrame, df_cap: int | None = None) -> DataFrame:
    """N-gram Jaccard pairs via inverted-index join, optionally capped —
    candidate generation + overlap stats come from ``pair_overlap_stats``
    (see there for the exact-vs-``df_cap`` semantics)."""
    joined = pair_overlap_stats(shingles(docs), df_cap)
    jac = F.col("inter_n") / (F.col("na") + F.col("nb") - F.col("inter_n"))
    return joined.where(jac >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {SHINGLE_CTE},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter_n
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b,
       round(p.inter_n / (sa.n_sh + sb.n_sh - p.inter_n), 4) AS jaccard
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
WHERE p.inter_n / (sa.n_sh + sb.n_sh - p.inter_n) >= {JACCARD_THRESHOLD}
""",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity over pairs sharing >= 1 shingle.

    Pair generation is an equi-join on the shingle (inverted index), never a
    cross join. This registry entry runs uncapped (exact semantics = the
    oracle); at 100 TB pass ``df_cap`` to ``ngram_jaccard_pairs`` to bound
    hot-shingle blowup — see there for the semantics."""
    docs = read_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, df_cap=None)


# ----------------------------------------------------------- components

def connected_components(edges: DataFrame, max_iters: int = 25) -> DataFrame:
    """Connected components by iterative min-label propagation (the
    Pregel/large-star idea expressed as DataFrame joins): every node starts
    labeled with itself; each round, a node adopts the minimum label among
    itself and its neighbors; fixpoint when no label changes.

    Spark has no component operator (GraphX is RDD/Scala-only from PySpark);
    this loop is the standard DataFrame formulation. Rounds = component
    diameter (near-dup clusters are tiny, so a handful). Each round is one
    shuffle join + one aggregate on the `iterate` loop, whose per-round
    ``localCheckpoint`` keeps the plan from growing with iterations —
    mandatory for iterative DataFrame algorithms at scale.

    ``edges`` must have columns (src, dst); both directions are derived.
    Raises ``RuntimeError`` if the loop exhausts ``max_iters`` while labels
    are still changing — returning silently would hand back split
    components; the caller should retry with a higher bound (rounds needed
    ≈ graph diameter, so 25 covers any near-dup cluster that is not itself
    a data bug).
    """
    bidir = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).cache()
    labels = (
        bidir.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component_id", F.col("doc_id"))
        .localCheckpoint()
    )

    def step(labels: DataFrame) -> DataFrame:
        neighbor_min = (
            bidir.join(labels, bidir.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("component_id").alias("nmin"))
        )
        return labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                "component_id", F.coalesce("nmin", "component_id")
            ).alias("component_id"),
        )

    # Labels only ever decrease, so an equal label sum is the fixpoint; the
    # probe is also the job that materializes the round's checkpoint.
    labels, converged = iterate(
        labels,
        step,
        max_iters,
        probe=lambda df: df.agg(F.sum("component_id")).collect()[0][0],
    )
    # Every round's labels are checkpointed, so the result no longer reads
    # the edge cache; keeping it would pin the edges for the session's life.
    bidir.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(component diameter exceeds the bound); rerun with higher "
            "max_iters"
        )
    return labels


def _components_oracle() -> str:
    """Recursive-CTE transitive closure over the minhash near-dup pairs —
    exact same clusters the Spark loop converges to."""
    from . import ORACLES

    pairs_sql = ORACLES["dedup_minhash_lsh"].strip().rstrip(";")
    return f"""
WITH RECURSIVE
pairs AS (SELECT doc_a, doc_b FROM ({pairs_sql})),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
walk(doc_id, reach) AS (
    SELECT doc_id, doc_id FROM nodes
    UNION
    SELECT w.doc_id, e.dst FROM walk w JOIN edges e ON e.src = w.reach
)
SELECT doc_id, min(reach) AS component_id FROM walk GROUP BY doc_id
"""


@query("dedup_components", oracle=_components_oracle())
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the verified MinHash+LSH
    pair graph — the step that turns pairwise near-dups into keep/drop
    groups in a real dedup pipeline (canonical doc = min doc_id per
    component). Iterative DataFrame algorithm vs a recursive-CTE oracle."""
    pairs = q_dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    return connected_components(pairs)


def _keep_best_oracle() -> str:
    """Composed from the components + quality_score oracles. quality_score
    lives in text_analysis (imported AFTER dedup), so this is passed to
    @query as a CALLABLE and resolved late by load_all."""
    from . import ORACLES

    comp = _components_oracle().strip()
    q = ORACLES["quality_score"].strip().rstrip(";")
    return f"""
WITH comp AS ({comp}),
q AS (SELECT doc_id, quality FROM ({q})),
j AS (SELECT c.component_id, c.doc_id, q.quality
      FROM comp c JOIN q USING (doc_id)),
sizes AS (SELECT component_id, CAST(count(*) AS BIGINT) AS n_docs
          FROM j GROUP BY 1),
r AS (SELECT component_id, doc_id, quality,
             row_number() OVER (PARTITION BY component_id
                                ORDER BY quality DESC, doc_id ASC) AS rn
      FROM j)
SELECT r.component_id, s.n_docs,
       r.doc_id AS keep_id, r.quality AS keep_quality,
       s.n_docs - 1 AS dropped_docs
FROM r JOIN sizes s USING (component_id)
WHERE rn = 1
"""


@query("dedup_keep_best", oracle=_keep_best_oracle)  # resolved by load_all
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster resolution: per near-dup component, keep the
    HIGHEST-quality document (tiebreak lowest doc_id) instead of the
    naive min-id canonical — the policy real curation pipelines use so
    dedup removes the boilerplate-wrapped copy, not the clean original.
    Composes `dedup_components` with `quality_score`.

    Determinism: quality values are round(.,4) doubles derived from
    integer features (hash-checked identical cross-engine by the
    quality_score row), so the (quality DESC, doc_id ASC) argmax — taken
    as min over (-quality, doc_id) structs, a comparison, never a double
    sum — is bit-stable. One component-keyed hash-agg; components are
    near-dup clusters (tiny by construction), so no skew hazard."""
    from . import QUERIES

    comp = q_dedup_components(spark, sf_dir)
    q = QUERIES["quality_score"](spark, sf_dir).select("doc_id", "quality")
    j = comp.join(q, "doc_id")
    agg = j.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(F.struct((-F.col("quality")).alias("nq"),
                       F.col("doc_id").alias("d"))).alias("best"),
    )
    return agg.select(
        "component_id",
        "n_docs",
        F.col("best.d").alias("keep_id"),
        (-F.col("best.nq")).alias("keep_quality"),
        (F.col("n_docs") - 1).alias("dropped_docs"),
    )


# ------------------------------------------------- CDC / sampling family


@query(
    "latest_per_key",
    oracle="""
SELECT user_id, event_id, event_type, ts
FROM (
    SELECT user_id, event_id, event_type, ts,
           row_number() OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
    FROM events
) t
WHERE rn = 1
""",
)
def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC/upsert compaction: the newest record per key (here: each user's
    latest event) — the read-side of a changelog table, and the batch form
    of streaming ``outputMode('update')`` state. One window shuffle on the
    key; event_id breaks timestamp ties so the cut is total-ordered and
    partition-count independent. At scale this window form beats
    groupBy(max)+self-join (one shuffle, no join) and is the compaction
    step a lakehouse MERGE performs."""
    from pyspark.sql import Window

    from ..sources.catalog import read_events

    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "ts")
    )


CDC_DELETE_TYPE = "error"  # the event_type treated as a DELETE tombstone


def apply_changelog(
    snapshot: DataFrame | None, ops: DataFrame, watermark=None
) -> DataFrame:
    """Apply a CDC changelog to a snapshot: last op per key wins, DELETE
    tombstones (event_type == CDC_DELETE_TYPE) remove the key.

    ``snapshot`` and ``ops`` share the schema (user_id, event_id,
    event_type, ts, value_c); the snapshot row for a key is the last
    surviving op applied so far, so re-applying a NEWER batch on top is
    exactly a union + latest-per-key cut — the lakehouse MERGE loop.
    Incremental contract (pytest-verified): splitting the changelog at any
    timestamp and applying the halves in order yields the same snapshot as
    one full apply. One window shuffle on the key per batch; tombstoned
    keys leave the snapshot entirely (no tombstone retention — compaction
    happens at every apply).

    RESURRECT HAZARD: because tombstones are compacted at every apply, the
    incremental == full contract holds only for TIME-ORDERED batch splits.
    A late batch carrying an upsert OLDER than an already-applied delete
    finds no tombstone to lose against and resurrects the deleted key.
    Pass ``watermark`` (the max ts already applied, e.g. from the previous
    batch's ops) to enforce ordering: the apply raises ValueError if any
    incoming op is at-or-before the watermark instead of silently diverging
    from the full recompute. The guard is ``ts <= watermark`` (STRICT
    newer-than), not ``<``: a time-ordered split puts all equal-ts ops in
    one batch, so a later batch carrying ts == watermark is by definition
    out of order — and an equal-ts upsert with a LOWER event_id than an
    already-compacted delete tombstone at the same ts would lose the
    (ts, event_id) tiebreak against a tombstone that no longer exists,
    i.e. resurrect the key."""
    from pyspark.sql import Window

    if watermark is not None:
        n_late = ops.where(F.col("ts") <= F.lit(watermark)).count()
        if n_late:
            raise ValueError(
                f"apply_changelog: {n_late} op(s) at or before watermark "
                f"{watermark!r} — out-of-order batches can resurrect "
                f"deleted keys (tombstones are compacted at every apply); "
                f"replay the changelog in ts order instead"
            )
    both = ops if snapshot is None else snapshot.unionByName(ops)
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        both.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
        .where(F.col("event_type") != CDC_DELETE_TYPE)
    )


@query(
    "cdc_apply_changelog",
    oracle=f"""
SELECT user_id, event_id AS last_event_id,
       event_type AS last_event_type, ts AS last_ts, value_c AS last_value_c
FROM (
    SELECT user_id, event_id, event_type, ts,
           CAST(round(value * 100) AS BIGINT) AS value_c,
           row_number() OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
    FROM events
) t
WHERE rn = 1 AND event_type <> '{CDC_DELETE_TYPE}'
""",
)
def q_cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE with tombstones: materialize the current snapshot from a
    full changelog — upserts keep the newest record per key,
    '{CDC_DELETE_TYPE}' ops are DELETE tombstones that remove the key
    (``latest_per_key`` is the tombstone-free compaction twin). Values are
    integer cents so the snapshot hashes identically across engines. Same
    single window shuffle as latest_per_key; the tombstone filter runs
    AFTER the cut (a key whose last op is a delete must vanish even though
    older upserts exist)."""
    from ..sources.catalog import read_events

    ev = read_events(spark, sf_dir).select(
        "user_id", "event_id", "event_type", "ts",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    return apply_changelog(None, ev).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("ts").alias("last_ts"),
        F.col("value_c").alias("last_value_c"),
    )


SAMPLE_PCT = 10  # keep ~10% of rows, deterministically


@query(
    "sample_bernoulli",
    oracle=f"""
SELECT event_id, user_id, event_type
FROM events
WHERE CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 7)) AS BIGINT)
      % 100 < {SAMPLE_PCT}
""",
)
def q_sample_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bernoulli sampling: keep a row iff md5(event_id) mod 100
    falls under the rate. Unlike ``df.sample()`` (partition-seeded RNG —
    resample on every repartition) this is a pure filter: reproducible
    across engines, partitionings, and reruns, and it composes with
    pushdown (the scan itself can evaluate it). The same construction with
    a different salt gives independent samples — the train/eval split
    pattern for corpus work."""
    from ..sources.catalog import read_events

    ev = read_events(spark, sf_dir)
    bucket = _hexint(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 7)
    ) % 100
    return ev.where(bucket < SAMPLE_PCT).select(
        "event_id", "user_id", "event_type"
    )


# ------------------------------------------------- entity resolution

@query(
    "entity_match_parts",
    oracle="""
WITH p AS (
    SELECT p_partkey, p_name, split_part(p_name, ' ', 1) AS blk FROM part
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
       count(*) AS pair_cnt
FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
GROUP BY 1, 2, 3
""",
)
def q_entity_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage / fuzzy entity matching with blocking: part names that
    differ by 1-3 edits, candidate-generated by a BLOCKING key (first name
    token) so the edit-distance verify runs per block, never all-pairs —
    the classic entity-resolution decomposition (block -> compare -> score).
    At 100 TB the blocking key is the shuffle key: per-block work is
    (block size)^2, so block choice (prefix, phonetic code, LSH bucket)
    bounds the quadratic term exactly like LSH bands do for MinHash.
    Aggregated to per-(name pair, distance) counts."""
    p = read_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.split(F.col("p_name"), " ").getItem(0).alias("blk"),
    )
    a = p.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        "blk",
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        "blk",
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "blk")
        .where(F.col("key_a") < F.col("key_b"))
        .where(dist.between(1, 3))
        .groupBy(
            "name_a", "name_b", dist.cast("long").alias("dist")
        )
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
    )


_CHUNK_W = 8  # words per non-overlapping chunk


@query(
    "chunk_dedup_docs",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
chunks AS (
    SELECT doc_id,
           md5(array_to_string(words[i * {_CHUNK_W} + 1 : (i + 1) * {_CHUNK_W}], ' ')) AS h
    FROM w, LATERAL unnest(range(((len(words) - 1) // {_CHUNK_W}) + 1)) t(i)
),
freq AS (SELECT h, count(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY h)
SELECT c.doc_id,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared_chunks
FROM chunks c JOIN freq f USING (h)
GROUP BY c.doc_id
HAVING sum(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) > 0
""",
)
def q_chunk_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document EXACT substring dedup at chunk granularity (the
    distributed proxy for suffix-array dedup a la RefinedWeb/Gopher): split
    each document into non-overlapping {W}-word chunks, hash them, and
    report every document containing a chunk that appears verbatim in
    another document — the copy-paste / boilerplate contamination a
    training pipeline strips even when whole-document hashes differ.

    Scale shape: one explode to (doc_id, chunk_hash) rows (16-byte hashes,
    never text), one hash-agg for chunk frequencies, one equi-join back on
    the hash (the natural co-partitioning), one final per-doc agg. All
    shuffles carry fixed-width rows; nothing is quadratic."""
    docs = read_table(spark, sf_dir, "documents")
    chunks = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, CAST((size(split(text, ' ')) - 1) / {_CHUNK_W} AS INT)), "
                f"i -> md5(CAST(concat_ws(' ', slice(split(text, ' '), i * {_CHUNK_W} + 1, {_CHUNK_W})) AS BINARY)))"
            )
        ).alias("h"),
    )
    freq = chunks.groupBy("h").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    return (
        chunks.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_shared_chunks"),
        )
        .where(F.col("n_shared_chunks") > 0)
    )


# ------------------------------------------------- incremental (delta) dedup

DELTA_MOD = 5  # doc_id % DELTA_MOD == DELTA_MOD - 1 -> the "new batch" slice


def _band_keys_col() -> Column:
    """The N_BANDS banded LSH keys of a signature row as an array column
    (same layout as _BAND_KEYS_SQL: 'band:mh_even:mh_odd')."""
    return F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(b)),
                F.col(f"mh{2*b}").cast("string"),
                F.col(f"mh{2*b+1}").cast("string"),
            )
            for b in range(N_BANDS)
        ]
    )


@query(
    "incremental_dedup_delta",
    oracle=f"""
WITH {SHINGLE_CTE},
sig AS (SELECT doc_id, {_MINHASH_MINS} FROM sh GROUP BY doc_id),
bands AS (
    SELECT doc_id, unnest([{_BAND_KEYS_SQL}]) AS band_key FROM sig
),
delta AS (SELECT doc_id FROM documents WHERE doc_id % {DELTA_MOD} = {DELTA_MOD - 1}),
base AS (SELECT doc_id FROM documents WHERE doc_id % {DELTA_MOD} <> {DELTA_MOD - 1}),
texth AS (SELECT doc_id, md5(text) AS th FROM documents),
exact AS (
    SELECT DISTINCT a.doc_id
    FROM texth a
    JOIN delta dl ON dl.doc_id = a.doc_id
    JOIN texth b ON b.th = a.th
    JOIN base bs ON bs.doc_id = b.doc_id
),
cand AS (
    SELECT DISTINCT d.doc_id AS delta_id, b2.doc_id AS base_id
    FROM bands d
    JOIN delta dl ON dl.doc_id = d.doc_id
    JOIN bands b2 ON b2.band_key = d.band_key
    JOIN base bs ON bs.doc_id = b2.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
ver AS (
    SELECT c.delta_id, c.base_id, count(*) AS inter_n,
           any_value(sa.n_sh) AS na, any_value(sb.n_sh) AS nb
    FROM cand c
    JOIN sh a ON a.doc_id = c.delta_id
    JOIN sh b ON b.doc_id = c.base_id AND a.shingle = b.shingle
    JOIN sizes sa ON sa.doc_id = c.delta_id
    JOIN sizes sb ON sb.doc_id = c.base_id
    GROUP BY 1, 2
),
near AS (
    SELECT delta_id, count(*) AS n FROM ver
    WHERE inter_n / (na + nb - inter_n) >= {JACCARD_THRESHOLD}
    GROUP BY 1
),
ncand AS (SELECT delta_id, count(*) AS n FROM cand GROUP BY 1)
SELECT dt.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
            WHEN nr.delta_id IS NOT NULL THEN 'near_dup'
            ELSE 'accept' END AS verdict,
       CAST(COALESCE(nc.n, 0) AS BIGINT) AS n_candidates,
       CAST(COALESCE(nr.n, 0) AS BIGINT) AS n_matches
FROM delta dt
LEFT JOIN exact e ON e.doc_id = dt.doc_id
LEFT JOIN near nr ON nr.delta_id = dt.doc_id
LEFT JOIN ncand nc ON nc.delta_id = dt.doc_id
""",
)
def q_incremental_dedup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup: screen a NEW batch of documents (the
    ``doc_id % DELTA_MOD`` slice stands in for today's crawl) against the
    already-accepted corpus without recomputing anything corpus-wide —
    the daily-increment workflow a 100 TB pipeline actually runs. Verdict
    per new doc: ``exact_dup`` (text md5 collides with a base doc),
    ``near_dup`` (shares an LSH band with a base doc AND exact shingle
    Jaccard >= threshold), else ``accept``; plus candidate/match counts.
    Intra-batch duplicates are deliberately out of scope here — that is
    `dedup_minhash_lsh` run over the delta alone.

    Scale design: the band join is delta-signatures vs base-signatures —
    the delta side is a day's increment (small), so AQE broadcasts it and
    the BASE side is never reshuffled; the deployment form persists the
    base side once (`build_dedup_index`) and screens each increment from
    the index alone (`screen_delta` — equivalence-tested against this
    inline query). Signatures stay the zero-shuffle row-wise projection
    (doc_shingle_signatures)."""
    docs = read_table(spark, sf_dir, "documents")
    is_delta = (F.col("doc_id") % DELTA_MOD) == (DELTA_MOD - 1)

    texth = docs.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("th")
    )
    sig = _per_documents(spark, sf_dir, "doc_shingle_signatures", doc_shingle_signatures)
    bands = sig.select("doc_id", F.explode(_band_keys_col()).alias("band_key"))
    meta = sig.select("doc_id", "sh_arr", "n_sh")
    return _screen_verdicts(
        delta_th=texth.where(is_delta),
        base_th=texth.where(~is_delta),
        delta_bands=bands.where(is_delta),
        base_bands=bands.where(~is_delta),
        delta_meta=meta.where(is_delta),
        base_meta=meta.where(~is_delta),
    )


def _screen_verdicts(
    delta_th: DataFrame,
    base_th: DataFrame,
    delta_bands: DataFrame,
    base_bands: DataFrame,
    delta_meta: DataFrame,
    base_meta: DataFrame,
) -> DataFrame:
    """Core of delta-vs-base screening, shared by the inline query and the
    persisted-index serve path. All frames carry (doc_id, ...); returns one
    verdict row per delta doc."""
    delta_ids = delta_th.select("doc_id")
    exact = (
        delta_th.join(base_th.select(F.col("th")), "th", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_exact", F.lit(True))
    )
    cand = (
        delta_bands.select(F.col("doc_id").alias("delta_id"), "band_key")
        .join(
            base_bands.select(F.col("doc_id").alias("base_id"), "band_key"),
            "band_key",
        )
        .select("delta_id", "base_id")
        .distinct()
    )
    ver = (
        cand.join(
            delta_meta.select(
                F.col("doc_id").alias("delta_id"),
                F.col("sh_arr").alias("arr_a"),
                F.col("n_sh").alias("na"),
            ),
            "delta_id",
        )
        .join(
            base_meta.select(
                F.col("doc_id").alias("base_id"),
                F.col("sh_arr").alias("arr_b"),
                F.col("n_sh").alias("nb"),
            ),
            "base_id",
        )
        .withColumn("inter_n", F.size(F.array_intersect("arr_a", "arr_b")))
    )
    jac = F.col("inter_n") / (F.col("na") + F.col("nb") - F.col("inter_n"))
    near = (
        ver.where(jac >= JACCARD_THRESHOLD)
        .groupBy("delta_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )
    ncand = cand.groupBy("delta_id").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    return (
        delta_ids.join(exact, "doc_id", "left")
        .join(near.withColumnRenamed("delta_id", "doc_id"), "doc_id", "left")
        .join(ncand.withColumnRenamed("delta_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact"), "exact_dup")
            .when(F.col("n_matches").isNotNull(), "near_dup")
            .otherwise("accept")
            .alias("verdict"),
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
        )
    )


def build_dedup_index(docs: DataFrame, index_dir: str) -> None:
    """Build half of the incremental-dedup lifecycle: persist the accepted
    corpus's screening structures — banded LSH keys, text hashes, and the
    shingle sets the exact-Jaccard verify needs — as parquet. Write once
    per corpus version; every daily increment screens against these files
    without touching the corpus text again. (Parquet min/max stats on the
    sorted band_key give file-level pruning; a lakehouse deployment would
    additionally bucketBy(band_key) for shuffle-free probes.)"""
    sig = doc_shingle_signatures(docs)
    (
        sig.select("doc_id", F.explode(_band_keys_col()).alias("band_key"))
        .sortWithinPartitions("band_key")
        .write.mode("overwrite")
        .parquet(f"{index_dir}/bands")
    )
    sig.select("doc_id", "sh_arr", "n_sh").write.mode("overwrite").parquet(
        f"{index_dir}/shingles"
    )
    docs.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("th")
    ).write.mode("overwrite").parquet(f"{index_dir}/text_hashes")


def screen_delta(
    spark: SparkSession, index_dir: str, delta_docs: DataFrame
) -> DataFrame:
    """Serve half: screen a new document batch against the PERSISTED index
    only — no base-corpus rescan. The delta's signatures are computed
    row-wise on the fly; verdict semantics are identical to
    `incremental_dedup_delta` (equivalence-tested)."""
    dsig = doc_shingle_signatures(delta_docs)
    return _screen_verdicts(
        delta_th=delta_docs.select(
            "doc_id", F.md5(F.col("text").cast("binary")).alias("th")
        ),
        base_th=spark.read.parquet(f"{index_dir}/text_hashes"),
        delta_bands=dsig.select(
            "doc_id", F.explode(_band_keys_col()).alias("band_key")
        ),
        base_bands=spark.read.parquet(f"{index_dir}/bands"),
        delta_meta=dsig.select("doc_id", "sh_arr", "n_sh"),
        base_meta=spark.read.parquet(f"{index_dir}/shingles"),
    )


# ----------------------------------------------- winnowing (partial overlap)

WINNOW_K = 3       # words per gram
WINNOW_W = 4       # grams per winnowing window
WINNOW_MIN_SHARED = 3


@query(
    "winnow_overlap",
    oracle=f"""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
grams AS (
    SELECT doc_id,
           list_transform(generate_series(1, greatest(len(w) - {WINNOW_K - 1}, 1)),
               i -> CAST(('0x' || substr(md5(
                        array_to_string(w[i:i+{WINNOW_K - 1}], ' ')), 1, 7))
                    AS BIGINT)) AS gh
    FROM words
),
wins AS (
    SELECT doc_id,
           list_distinct(list_transform(
               generate_series(1, greatest(len(gh) - {WINNOW_W - 1}, 1)),
               j -> list_min(gh[j:j+{WINNOW_W - 1}]))) AS fps
    FROM grams
),
fp AS (SELECT doc_id, unnest(fps) AS fp FROM wins),
sizes AS (SELECT doc_id, len(fps) AS nf FROM wins),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED}
)
SELECT p.doc_a, p.doc_b, CAST(p.shared AS BIGINT) AS shared,
       round(p.shared / least(sa.nf, sb.nf), 4) AS containment
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
""",
)
def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (the MOSS local-fingerprint scheme): hash
    every {WINNOW_K}-word gram, slide a {WINNOW_W}-gram window, keep each
    window's MIN hash — a deterministic ~1/w sample of grams that is
    position-robust, so documents sharing a long-enough passage share
    fingerprints wherever the passage sits. Pairs with >=
    {WINNOW_MIN_SHARED} shared fingerprints are partial-overlap candidates
    (quotes, boilerplate spans, spliced text) — the overlap class whole-doc
    MinHash misses when the rest of the documents differ. Emits shared
    count + containment (shared / smaller fingerprint set).

    Scale design: fingerprint extraction is a zero-shuffle row-wise
    projection (array HOFs inside codegen, ~n_tokens/w fingerprints per
    doc); candidates come from a fingerprint equi-join (shuffle on the
    8-byte fp key), never a pair scan. A hot fingerprint (corpus-wide
    boilerplate) fans out quadratically within its bucket — the same
    df_cap stop-gram bound ngram_jaccard_pairs applies is the deployment
    mitigation."""
    K, W = WINNOW_K, WINNOW_W
    gh = F.expr(
        f"transform(sequence(1, greatest(size(split(text, ' ')) - {K - 1}, 1)), "
        f"i -> cast(conv(substring(md5(cast(concat_ws(' ', "
        f"slice(split(text, ' '), i, {K})) as binary)), 1, 7), 16, 10) as bigint))"
    )
    # CACHE BARRIER, load-bearing: without it CollapseProject inlines the
    # gram-hash array into the window-min lambda, re-evaluating ALL ~n
    # gram md5s for EVERY window position — O(n^2) md5 per doc (measured
    # 104 s -> 4.8 s at sf0.1, 22x). Same materialization pattern as
    # similarity._quantized; the cached projection is ~8 B/token.
    ghf = _per_documents(
        spark, sf_dir, "winnow_gram_hashes", lambda docs: docs.select("doc_id", gh.alias("gh"))
    )
    wins = ghf.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, greatest(size(gh) - {W - 1}, 1)), "
                f"j -> array_min(slice(gh, j, {W})))"
            )
        ).alias("fps"),
    )
    fp = wins.select("doc_id", F.explode("fps").alias("fp"))
    sizes = wins.select("doc_id", F.size("fps").alias("nf"))
    # Per-fingerprint doc sets in ONE aggregation, pairs generated IN-PLAN
    # from the sorted array (doc_a < doc_b by construction) — the former
    # fingerprint self-join shuffled the exploded table twice and joined;
    # one exchange on fp now carries the same per-bucket quadratic volume
    # (round-10 rewrite, the item_cf_recs basket shape; the hot-fp df_cap
    # note above is unchanged).
    buckets = fp.groupBy("fp").agg(
        F.array_sort(F.collect_set("doc_id")).alias("ds")
    )
    pair_expr = (
        "flatten(transform(sequence(1, size(ds) - 1), a -> "
        "transform(slice(ds, a + 1, size(ds) - a), b -> "
        "named_struct('da', element_at(ds, a), 'db', b))))"
    )
    pairs = (
        buckets.where(F.size("ds") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("pr"))
        .groupBy(
            F.col("pr.da").alias("doc_a"), F.col("pr.db").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= WINNOW_MIN_SHARED)
    )
    return (
        pairs.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("nf").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("nf").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "shared",
            F.round(
                F.col("shared") / F.least("na", "nb"), 4
            ).alias("containment"),
        )
    )


_DIFF_SNAP = """
    SELECT user_id, event_type, value_c FROM (
        SELECT user_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS value_c,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts) DESC, event_id DESC)
                   AS rn
        FROM events {where}
    ) t WHERE rn = 1 AND event_type <> '{tomb}'
"""


@query(
    "snapshot_diff",
    oracle=f"""
WITH snap_a AS ({_DIFF_SNAP.format(where=f"WHERE ts < TIMESTAMP '2024-01-16 00:00:00'", tomb=CDC_DELETE_TYPE)}),
snap_b AS ({_DIFF_SNAP.format(where="", tomb=CDC_DELETE_TYPE)}),
j AS (
    SELECT a.user_id AS ka, b.user_id AS kb,
           a.event_type AS ta, b.event_type AS tb,
           a.value_c AS va, b.value_c AS vb
    FROM snap_a a FULL JOIN snap_b b ON a.user_id = b.user_id
)
SELECT 'added' AS metric,
       CAST(sum(CASE WHEN ka IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n
FROM j
UNION ALL
SELECT 'removed',
       CAST(sum(CASE WHEN kb IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM j
UNION ALL
SELECT 'changed_event_type',
       CAST(sum(CASE WHEN ka IS NOT NULL AND kb IS NOT NULL
                          AND ta <> tb THEN 1 ELSE 0 END) AS BIGINT) FROM j
UNION ALL
SELECT 'changed_value',
       CAST(sum(CASE WHEN ka IS NOT NULL AND kb IS NOT NULL
                          AND va <> vb THEN 1 ELSE 0 END) AS BIGINT) FROM j
UNION ALL
SELECT 'unchanged',
       CAST(sum(CASE WHEN ka IS NOT NULL AND kb IS NOT NULL
                          AND ta = tb AND va = vb THEN 1 ELSE 0 END)
            AS BIGINT) FROM j
""",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot diff (the data-diff/regression-check tool): compare
    the CDC snapshot as of mid-month against the end-of-month snapshot and
    report added / removed / changed-per-column / unchanged key counts —
    what a pipeline asserts before promoting a rebuilt table, and the
    validation twin of `cdc_apply_changelog` (whose correctness it can
    check against an independently-built snapshot).

    One full outer join on the key; both snapshots ride the same
    latest-per-key window shuffle, so the join reuses the (user_id)
    partitioning. Output is |metrics| integer rows — bit-equal across
    engines by construction."""
    from ..functions.scalar import epoch_us  # noqa: F401 (ts policy doc)
    from ..sources.catalog import read_events

    ev = read_events(spark, sf_dir).select(
        "user_id", "event_id", "event_type", "ts",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    snap_a = apply_changelog(None, ev.where(F.col("ts") < cut)).select(
        F.col("user_id").alias("ka"), F.col("event_type").alias("ta"),
        F.col("value_c").alias("va"),
    )
    snap_b = apply_changelog(None, ev).select(
        F.col("user_id").alias("kb"), F.col("event_type").alias("tb"),
        F.col("value_c").alias("vb"),
    )
    j = snap_a.join(snap_b, snap_a.ka == snap_b.kb, "full_outer")
    both = F.col("ka").isNotNull() & F.col("kb").isNotNull()
    conds = {
        "added": F.col("ka").isNull(),
        "removed": F.col("kb").isNull(),
        "changed_event_type": both & (F.col("ta") != F.col("tb")),
        "changed_value": both & (F.col("va") != F.col("vb")),
        "unchanged": both
        & (F.col("ta") == F.col("tb"))
        & (F.col("va") == F.col("vb")),
    }
    # all metrics in ONE conditional-aggregate pass over the join, then
    # unpivoted with stack — the unioned-aggregates form re-plans the join
    # per metric (runtime ReuseExchange saves the work, but one pass is the
    # honest plan)
    wide = j.agg(
        *[F.sum(c.cast("long")).alias(name) for name, c in conds.items()]
    )
    stack = ", ".join(f"'{name}', {name}" for name in conds)
    return wide.select(
        F.expr(f"stack({len(conds)}, {stack}) AS (metric, n)")
    )


# ------------------------------------------------ containment detection

CONTAIN_THRESHOLD_PPM = 800_000  # inter/|smaller| >= 0.8 => containment


def containment_pairs(docs: DataFrame, df_cap: int | None = None) -> DataFrame:
    """Asymmetric containment pairs: inter / |smaller shingle set|, with
    the SAME exact-default / ``df_cap``-at-scale switch as
    ``ngram_jaccard_pairs`` — both tiers share ``pair_overlap_stats``, so
    capping hot stop-grams is a parameter here too, not a rewrite.

    Emits the pair, exact set sizes, the containment in integer ppm
    (bigint `div`, matching the oracle's `//` — double division drifts by
    1 ppm once the numerator passes ~2^53), and which doc is the contained
    (smaller-set) one — the drop candidate under a keep-superset policy."""
    joined = pair_overlap_stats(shingles(docs), df_cap)
    cont = F.expr("CAST(inter_n * 1000000 div least(na, nb) AS BIGINT)")
    return (
        joined.withColumn("containment_ppm", cont)
        .where(F.col("containment_ppm") >= CONTAIN_THRESHOLD_PPM)
        .select(
            "doc_a",
            "doc_b",
            "inter_n",
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            "containment_ppm",
            F.when(F.col("na") <= F.col("nb"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained_doc"),
        )
    )


@query(
    "dedup_containment",
    oracle=f"""
WITH {{SHINGLE_CTE}},
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
          FROM sh GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS inter_n
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b, p.inter_n,
       sa.n_sh AS n_a, sb.n_sh AS n_b,
       CAST(p.inter_n * 1000000 // least(sa.n_sh, sb.n_sh) AS BIGINT)
           AS containment_ppm,
       CASE WHEN sa.n_sh <= sb.n_sh THEN p.doc_a ELSE p.doc_b END
           AS contained_doc
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
WHERE p.inter_n * 1000000 // least(sa.n_sh, sb.n_sh)
      >= {CONTAIN_THRESHOLD_PPM}
""".format(SHINGLE_CTE=SHINGLE_CTE),
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: inter / |smaller shingle set| —
    catches a short document embedded verbatim inside a much longer one
    (quotes, mirrored excerpts, doc+boilerplate wrappers), which symmetric
    Jaccard structurally MISSES: a 50-shingle doc inside a 1000-shingle
    doc scores jaccard ~0.05 but containment 1.0. The standard companion
    to the Jaccard row in web-corpus dedup (Broder's containment
    coefficient).

    This registry entry runs uncapped (exact semantics = the oracle); the
    100 TB configuration is ``containment_pairs(docs, df_cap=K)`` — the
    stop-gram candidate bound shared with ``ngram_jaccard_pairs`` via
    ``pair_overlap_stats`` — oracle-checked by ``dedup_containment_capped``."""
    docs = read_table(spark, sf_dir, "documents")
    return containment_pairs(docs, df_cap=None)


# df_cap used by the capped containment registry row. 4 is deliberately TIGHT
# for the synthetic corpus (max shingle df there is ~7) so the capped path is
# genuinely exercised — ~11% of candidate pairs are pruned at sf0.01 — while
# every true high-containment pair survives (its evidence shingles are rare
# by construction). Production would use O(100s-1000s).
CONTAIN_DF_CAP = 4


@query(
    "dedup_containment_capped",
    oracle=f"""
WITH {{SHINGLE_CTE}},
dfreq AS (SELECT shingle, CAST(count(*) AS BIGINT) AS c FROM sh GROUP BY 1),
rare AS (
    SELECT s.doc_id, s.shingle
    FROM sh s JOIN dfreq USING (shingle) WHERE dfreq.c <= {CONTAIN_DF_CAP}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
          FROM sh GROUP BY doc_id),
pairs AS (
    SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter_n
    FROM cand c
    JOIN sh a ON a.doc_id = c.doc_a
    JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
    GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b, p.inter_n,
       sa.n_sh AS n_a, sb.n_sh AS n_b,
       CAST(p.inter_n * 1000000 // least(sa.n_sh, sb.n_sh) AS BIGINT)
           AS containment_ppm,
       CASE WHEN sa.n_sh <= sb.n_sh THEN p.doc_a ELSE p.doc_b END
           AS contained_doc
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
WHERE p.inter_n * 1000000 // least(sa.n_sh, sb.n_sh)
      >= {{CONTAIN_THRESHOLD_PPM}}
""".format(
        SHINGLE_CTE=SHINGLE_CTE, CONTAIN_THRESHOLD_PPM=CONTAIN_THRESHOLD_PPM
    ),
)
def q_dedup_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB configuration of containment dedup: identical semantics
    to ``dedup_containment`` except candidate pairs are generated only
    from shingles appearing in <= {CONTAIN_DF_CAP} documents (the stop-gram
    df_cap bound shared with ``ngram_jaccard_pairs`` through
    ``pair_overlap_stats``), then every surviving pair is re-scored
    EXACTLY against the full shingle sets. The oracle mirrors the capped
    candidate generation, so this row proves the capped path — not just
    the exact one — end-to-end: a hot shingle can never blow up the
    self-join into the |docs-sharing-it|^2 regime, and emitted ppm values
    are bit-identical to the exact tier for every emitted pair."""
    docs = read_table(spark, sf_dir, "documents")
    return containment_pairs(docs, df_cap=CONTAIN_DF_CAP)


# ------------------------------------------------------------- ppjoin

# Prefix-filtered exact set-similarity join (SSJoin/PPJoin family:
# Chaudhuri et al. ICDE'06, Xiao et al. WWW'08). Threshold 3/5 kept as an
# exact rational so every pruning predicate is integer arithmetic.
PPJOIN_T_NUM = 3
PPJOIN_T_DEN = 5

# Shared candidate pipeline, SQL form (DuckDB): global order = ascending
# document frequency, ties by shingle text (a total order — shingles are
# distinct per doc). Prefix length = n - ceil(t*n) + 1; integer ceil.
_PPJOIN_CAND_CTE = f"""
df_tbl AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
ranked AS (
    SELECT s.doc_id, s.shingle,
           row_number() OVER (PARTITION BY s.doc_id
                              ORDER BY d.df, s.shingle) AS rnk,
           count(*) OVER (PARTITION BY s.doc_id) AS n_sh
    FROM sh s JOIN df_tbl d USING (shingle)
),
prefix AS (
    SELECT doc_id, shingle, n_sh FROM ranked
    WHERE rnk <= n_sh - (({PPJOIN_T_NUM} * n_sh + {PPJOIN_T_DEN} - 1)
                         // {PPJOIN_T_DEN}) + 1
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.n_sh AS na, b.n_sh AS nb
    FROM prefix a JOIN prefix b ON a.shingle = b.shingle
    WHERE a.doc_id < b.doc_id
      AND {PPJOIN_T_NUM} * greatest(a.n_sh, b.n_sh)
          <= {PPJOIN_T_DEN} * least(a.n_sh, b.n_sh)
)
"""


@query(
    "ppjoin_jaccard",
    oracle=f"""
WITH {SHINGLE_CTE},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter_n
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b,
       round(p.inter_n / (sa.n_sh + sb.n_sh - p.inter_n), 4) AS jaccard
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
WHERE ({PPJOIN_T_NUM} + {PPJOIN_T_DEN}) * p.inter_n
      >= {PPJOIN_T_NUM} * (sa.n_sh + sb.n_sh)
""",
)
def q_ppjoin_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= 3/5 set-similarity self-join with PREFIX-FILTERED
    candidate generation (AllPairs/PPJoin, Xiao et al. WWW'08) — the third
    candidate-generation class next to LSH (probabilistic) and df_cap
    (drops hot-shingle-only pairs): provably NO false negatives, and the
    oracle is deliberately the naive exact all-pairs SQL so the green row
    IS the no-false-negative proof.

    How: shingles are globally ordered by ascending document frequency
    (rarest first, ties by text — a total order); a doc's PREFIX is its
    first n - ceil(t*n) + 1 shingles under that order. Two docs with
    disjoint prefixes cannot reach Jaccard t, so only prefix tokens enter
    the inverted-index self-join — at t=3/5 the index holds ~2/5 of each
    doc's shingles, and they are by construction the RAREST ones, so the
    quadratic per-token blowup lands on the lowest-df tokens (the exact
    opposite of the stop-gram hot spot that motivates df_cap). A length
    filter (t*max(na,nb) <= min(na,nb), exact integers) prunes candidates
    before dedup; survivors are re-scored EXACTLY via array_intersect of
    the full shingle sets. All thresholds are the rational 3/5 — every
    pruning predicate is integer arithmetic, no float boundary risk.

    Scale: two shuffles on corpus-cardinality tables (df join is a plain
    shuffle join — shingle vocabulary grows with the corpus, never
    broadcast), one doc_id-partitioned window sort shared by rank and
    count, and the candidate join touches prefix tokens only. The
    pruning factor is measured, not asserted: see `ppjoin_prune_audit`."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    sh = shingles(docs)
    df_tbl = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    wc = Window.partitionBy("doc_id")
    ranked = (
        sh.join(df_tbl, "shingle")
        .withColumn("rnk", F.row_number().over(w))
        .withColumn("n_sh", F.count(F.lit(1)).over(wc))
    )
    prefix = ranked.where(
        F.col("rnk")
        <= F.col("n_sh")
        - F.expr(
            f"({PPJOIN_T_NUM} * n_sh + {PPJOIN_T_DEN} - 1) "
            f"div {PPJOIN_T_DEN}"
        )
        + 1
    ).select("doc_id", "shingle", "n_sh")
    a = prefix.select(
        F.col("doc_id").alias("doc_a"), "shingle", F.col("n_sh").alias("na")
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"), "shingle", F.col("n_sh").alias("nb")
    )
    cand = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(
            PPJOIN_T_NUM * F.greatest("na", "nb")
            <= PPJOIN_T_DEN * F.least("na", "nb")
        )
        .select("doc_a", "doc_b", "na", "nb")
        .distinct()
    )
    arrs = sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("arr"))
    inter = F.size(F.array_intersect("arr_a", "arr_b")).cast("long")
    scored = (
        cand.join(
            arrs.select(
                F.col("doc_id").alias("doc_a"), F.col("arr").alias("arr_a")
            ),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("doc_b"), F.col("arr").alias("arr_b")
            ),
            "doc_b",
        )
        .withColumn("inter_n", inter)
    )
    return scored.where(
        (PPJOIN_T_NUM + PPJOIN_T_DEN) * F.col("inter_n")
        >= PPJOIN_T_NUM * (F.col("na") + F.col("nb"))
    ).select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("inter_n") / (F.col("na") + F.col("nb") - F.col("inter_n")),
            4,
        ).alias("jaccard"),
    )


@query(
    "ppjoin_prune_audit",
    oracle=f"""
WITH {SHINGLE_CTE},
{_PPJOIN_CAND_CTE},
inv AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sh a JOIN sh b ON a.shingle = b.shingle
    WHERE a.doc_id < b.doc_id
),
arrs AS (SELECT doc_id, list(shingle) AS arr FROM sh GROUP BY doc_id),
emitted AS (
    SELECT c.doc_a, c.doc_b
    FROM cand c
    JOIN arrs aa ON aa.doc_id = c.doc_a
    JOIN arrs ab ON ab.doc_id = c.doc_b
    WHERE ({PPJOIN_T_NUM} + {PPJOIN_T_DEN})
          * len(list_intersect(aa.arr, ab.arr))
          >= {PPJOIN_T_NUM} * (c.na + c.nb)
)
SELECT CAST((SELECT count(*) FROM inv) AS BIGINT) AS cand_inverted,
       CAST((SELECT count(*) FROM cand) AS BIGINT) AS cand_prefix,
       CAST((SELECT count(*) FROM emitted) AS BIGINT) AS pairs_emitted,
       CAST(CASE WHEN (SELECT count(*) FROM inv) = 0 THEN 0
                 ELSE ((SELECT count(*) FROM inv)
                       - (SELECT count(*) FROM cand)) * 1000000
                      // (SELECT count(*) FROM inv) END AS BIGINT)
           AS pruned_ppm
""",
)
def q_ppjoin_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measures what `ppjoin_jaccard`'s prefix+length filter actually
    buys (AUDIT TIER — contains the full inverted-index pair count the
    production join exists to avoid; run on a sample at scale, like
    `lsh_recall_audit`): candidate pairs from the naive inverted index
    vs after prefix+length pruning, final emitted pairs, and the pruned
    share in integer ppm. One row; the pruning claim becomes a measured,
    oracle-checked number instead of a docstring assertion."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    sh = shingles(docs).localCheckpoint(eager=False)
    inv_n = (
        sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .select(F.count(F.lit(1)).alias("cand_inverted"))
    )
    df_tbl = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    wc = Window.partitionBy("doc_id")
    prefix = (
        sh.join(df_tbl, "shingle")
        .withColumn("rnk", F.row_number().over(w))
        .withColumn("n_sh", F.count(F.lit(1)).over(wc))
        .where(
            F.col("rnk")
            <= F.col("n_sh")
            - F.expr(
                f"({PPJOIN_T_NUM} * n_sh + {PPJOIN_T_DEN} - 1) "
                f"div {PPJOIN_T_DEN}"
            )
            + 1
        )
        .select("doc_id", "shingle", "n_sh")
    )
    cand = (
        prefix.select(
            F.col("doc_id").alias("doc_a"), "shingle", F.col("n_sh").alias("na")
        )
        .join(
            prefix.select(
                F.col("doc_id").alias("doc_b"),
                "shingle",
                F.col("n_sh").alias("nb"),
            ),
            "shingle",
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(
            PPJOIN_T_NUM * F.greatest("na", "nb")
            <= PPJOIN_T_DEN * F.least("na", "nb")
        )
        .select("doc_a", "doc_b", "na", "nb")
        .distinct()
        .localCheckpoint(eager=False)
    )
    cand_n = cand.select(F.count(F.lit(1)).alias("cand_prefix"))
    arrs = sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("arr"))
    emit_n = (
        cand.join(
            arrs.select(
                F.col("doc_id").alias("doc_a"), F.col("arr").alias("arr_a")
            ),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("doc_b"), F.col("arr").alias("arr_b")
            ),
            "doc_b",
        )
        .where(
            (PPJOIN_T_NUM + PPJOIN_T_DEN)
            * F.size(F.array_intersect("arr_a", "arr_b")).cast("long")
            >= PPJOIN_T_NUM * (F.col("na") + F.col("nb"))
        )
        .select(F.count(F.lit(1)).alias("pairs_emitted"))
    )
    return (
        inv_n.crossJoin(F.broadcast(cand_n))
        .crossJoin(F.broadcast(emit_n))
        .select(
            F.col("cand_inverted").cast("long").alias("cand_inverted"),
            F.col("cand_prefix").cast("long").alias("cand_prefix"),
            F.col("pairs_emitted").cast("long").alias("pairs_emitted"),
            F.expr(
                "CAST(CASE WHEN cand_inverted = 0 THEN 0 "
                "ELSE (cand_inverted - cand_prefix) * 1000000 "
                "div cand_inverted END AS BIGINT)"
            ).alias("pruned_ppm"),
        )
    )


# ------------------------------------------------ cross-tier agreement

def _method_agreement_oracle() -> str:
    """Composed from the three pair-tier oracles (minhash / simhash-neardup
    / exact jaccard), resolved LATE by load_all per the _keep_best_oracle
    precedent — each tier's full SQL runs as a derived table, so this row
    stays green against exactly what the component rows assert."""
    from . import ORACLES

    mh = ORACLES["dedup_minhash_lsh"].strip().rstrip(";")
    sh = ORACLES["dedup_simhash_neardup"].strip().rstrip(";")
    jc = ORACLES["dedup_ngram_jaccard"].strip().rstrip(";")
    return f"""
WITH mh AS (SELECT doc_a, doc_b FROM ({mh}) t1),
sh AS (SELECT doc_a, doc_b FROM ({sh}) t2),
jc AS (SELECT doc_a, doc_b FROM ({jc}) t3),
tagged AS (
    SELECT doc_a, doc_b, 'mh' AS m FROM mh
    UNION ALL SELECT doc_a, doc_b, 'sh' FROM sh
    UNION ALL SELECT doc_a, doc_b, 'jc' FROM jc
),
per AS (
    SELECT doc_a, doc_b,
           max(CASE WHEN m = 'mh' THEN 1 ELSE 0 END) AS in_mh,
           max(CASE WHEN m = 'sh' THEN 1 ELSE 0 END) AS in_sh,
           max(CASE WHEN m = 'jc' THEN 1 ELSE 0 END) AS in_jc
    FROM tagged GROUP BY 1, 2
),
one AS (
    SELECT CAST(sum(in_mh) AS BIGINT) AS n_mh,
           CAST(sum(in_sh) AS BIGINT) AS n_sh,
           CAST(sum(in_jc) AS BIGINT) AS n_jc,
           CAST(sum(in_mh * in_sh) AS BIGINT) AS n_mh_sh,
           CAST(sum(in_mh * in_jc) AS BIGINT) AS n_mh_jc,
           CAST(sum(in_sh * in_jc) AS BIGINT) AS n_sh_jc
    FROM per
)
SELECT 'minhash~simhash' AS methods, n_mh AS n_a, n_sh AS n_b,
       n_mh_sh AS n_both,
       CAST(CASE WHEN coalesce(n_mh, 0) + coalesce(n_sh, 0)
                      - coalesce(n_mh_sh, 0) = 0 THEN 0
            ELSE coalesce(n_mh_sh, 0) * 1000000
                 // (coalesce(n_mh, 0) + coalesce(n_sh, 0)
                     - coalesce(n_mh_sh, 0)) END AS BIGINT)
           AS agree_ppm
FROM one
UNION ALL
SELECT 'minhash~jaccard', n_mh, n_jc, n_mh_jc,
       CAST(CASE WHEN coalesce(n_mh, 0) + coalesce(n_jc, 0)
                      - coalesce(n_mh_jc, 0) = 0 THEN 0
            ELSE coalesce(n_mh_jc, 0) * 1000000
                 // (coalesce(n_mh, 0) + coalesce(n_jc, 0)
                     - coalesce(n_mh_jc, 0)) END AS BIGINT)
FROM one
UNION ALL
SELECT 'simhash~jaccard', n_sh, n_jc, n_sh_jc,
       CAST(CASE WHEN coalesce(n_sh, 0) + coalesce(n_jc, 0)
                      - coalesce(n_sh_jc, 0) = 0 THEN 0
            ELSE coalesce(n_sh_jc, 0) * 1000000
                 // (coalesce(n_sh, 0) + coalesce(n_jc, 0)
                     - coalesce(n_sh_jc, 0)) END AS BIGINT)
FROM one
"""


@query("dedup_method_agreement", oracle=_method_agreement_oracle)
def q_dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tier dedup AGREEMENT matrix — "which near-dup tier do I trust
    at 100 TB" answered by measurement: the three pair tiers (banded
    MinHash at Jaccard >= {JACCARD_THRESHOLD}, lossless banded SimHash at
    Hamming <= {SIMHASH_MAX_HAMMING}, exact n-gram Jaccard) run over the
    same corpus, and each method pair reports set sizes, intersection, and
    Jaccard agreement in ppm. minhash~jaccard agreement restates LSH
    recall (minhash's verified pairs are a subset of the exact tier by
    construction — `lsh_recall_audit` measures the same loss per-pair);
    simhash~jaccard is the genuinely new signal: how well the bit-vote
    fingerprint family reproduces set-overlap similarity, the number that
    decides whether the cheap tier can replace the expensive one on a
    given corpus.

    Scale: all three tiers are banded/inverted-index plans (no new
    kernel); the agreement rollup is one hash-agg over the union of pair
    sets (result-sized). The oracle composes the three component oracles
    verbatim as derived tables, so this row can only be green if the
    tiers themselves are."""
    mh = q_dedup_minhash_lsh(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit("mh").alias("m")
    )
    sh = q_dedup_simhash_neardup(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit("sh").alias("m")
    )
    jc = q_dedup_ngram_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit("jc").alias("m")
    )
    per = (
        mh.unionByName(sh)
        .unionByName(jc)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max(F.when(F.col("m") == "mh", 1).otherwise(0)).alias("in_mh"),
            F.max(F.when(F.col("m") == "sh", 1).otherwise(0)).alias("in_sh"),
            F.max(F.when(F.col("m") == "jc", 1).otherwise(0)).alias("in_jc"),
        )
    )
    one = per.agg(
        F.sum("in_mh").cast("long").alias("n_mh"),
        F.sum("in_sh").cast("long").alias("n_sh"),
        F.sum("in_jc").cast("long").alias("n_jc"),
        F.sum(F.col("in_mh") * F.col("in_sh")).cast("long").alias("n_mh_sh"),
        F.sum(F.col("in_mh") * F.col("in_jc")).cast("long").alias("n_mh_jc"),
        F.sum(F.col("in_sh") * F.col("in_jc")).cast("long").alias("n_sh_jc"),
    )
    rows = one.selectExpr(
        "stack(3, "
        "'minhash~simhash', n_mh, n_sh, n_mh_sh, "
        "'minhash~jaccard', n_mh, n_jc, n_mh_jc, "
        "'simhash~jaccard', n_sh, n_jc, n_sh_jc"
        ") AS (methods, n_a, n_b, n_both)"
    )
    # agree_ppm is guarded non-null: on a corpus where two tiers emit no
    # pairs the denominator is 0 (or NULL from the empty-input sums) and
    # downstream consumers should see an explicit 0, not NULL. Same CASE
    # in the composed oracle.
    denom = (
        "coalesce(n_a, 0) + coalesce(n_b, 0) - coalesce(n_both, 0)"
    )
    return rows.select(
        "methods",
        "n_a",
        "n_b",
        "n_both",
        F.expr(
            f"cast(CASE WHEN {denom} = 0 THEN 0 "
            f"ELSE coalesce(n_both, 0) * 1000000 div ({denom}) END "
            "as bigint)"
        ).alias("agree_ppm"),
    )
