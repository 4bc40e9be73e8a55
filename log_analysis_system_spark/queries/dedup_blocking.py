"""Sorted-neighborhood dedup blocking — the FOURTH candidate-generation
strategy next to banded signatures (`dedup_minhash_lsh` /
`dedup_simhash_neardup`), the df_cap'd inverted index
(`dedup_containment_capped`), and prefix filtering (`ppjoin_jaccard`).

Sorted-neighborhood (Hernandez & Stolfo, SIGMOD '95) sorts records by a
normalization key and only pairs each record with its w nearest neighbors
in sort order — O(n*w) candidates regardless of similarity structure,
which is the right tool when near-duplicates share a PREFIX (boilerplate
headers, templated documents) rather than rare shingles. Candidates are
then verified EXACTLY against full shingle sets, same as every other
tier (`pair_overlap_stats`' exact re-score contract).

Scale stance: the classic formulation is one global sort — a scale
killer. This implementation BLOCKS first (the standard distributed SNM
fix): the sort key's 6-char prefix partitions the corpus into many small
blocks, and the sliding window runs within blocks only (window
partitionBy(block) — thousands of independent partitions, no global
sort, no skew beyond prefix popularity). Pairs straddling a block
boundary are missed by design — production runs multiple passes with
rotated keys (suffix, reversed key) exactly like multi-pass SNM; the
oracle mirrors the single-pass semantics so both engines agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import read_table
from . import query
from .dedup import JACCARD_THRESHOLD, SHINGLE_CTE, shingle_array

SN_KEY_LEN = 40  # normalization-key length (chars)
SN_BLOCK_LEN = 6  # blocking prefix length
SN_WINDOW = 2  # neighbors ahead each record pairs with

_SN_ORACLE = f"""
WITH {SHINGLE_CTE},
keyed AS (
    SELECT doc_id,
           substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                  1, {SN_KEY_LEN}) AS snkey
    FROM documents
),
nb AS (
    SELECT doc_id,
           lead(doc_id, 1) OVER w AS n1,
           lead(doc_id, 2) OVER w AS n2
    FROM keyed
    WINDOW w AS (PARTITION BY substr(snkey, 1, {SN_BLOCK_LEN})
                 ORDER BY snkey, doc_id)
),
cand AS (
    SELECT DISTINCT least(doc_id, n) AS doc_a, greatest(doc_id, n) AS doc_b
    FROM (SELECT doc_id, unnest([n1, n2]) AS n FROM nb) u
    WHERE n IS NOT NULL
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.doc_a, c.doc_b, count(*) AS inter_n
    FROM cand c
    JOIN sh a ON a.doc_id = c.doc_a
    JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
    GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(i.inter_n / (sa.n_sh + sb.n_sh - i.inter_n), 4) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.inter_n / (sa.n_sh + sb.n_sh - i.inter_n) >= {JACCARD_THRESHOLD}
"""


@query("sorted_neighborhood_dedup", oracle=_SN_ORACLE)
def q_sorted_neighborhood_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Blocked sorted-neighborhood near-dup pairs: normalize (lowercase,
    strip non-alphanumerics, first {KEY} chars), block on the key's
    {BLK}-char prefix, slide a window of {W} neighbors within each block
    in key order, then verify every candidate pair EXACTLY by 3-gram
    shingle Jaccard >= threshold (array_intersect on collected shingle
    sets — the same verify kernel as the capped-containment tier).

    Candidate volume is O(n * {W}) — no quadratic risk at any corpus
    size — and every stage is an equi-join or a block-partitioned
    window; the shingle arrays join the slim candidate list, not each
    other."""
    docs = read_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.substring(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", ""),
            1,
            SN_KEY_LEN,
        ).alias("snkey"),
    )
    w = Window.partitionBy(
        F.substring("snkey", 1, SN_BLOCK_LEN)
    ).orderBy("snkey", "doc_id")
    nb = keyed.select(
        "doc_id",
        F.lead("doc_id", 1).over(w).alias("n1"),
        F.lead("doc_id", 2).over(w).alias("n2"),
    )
    cand = (
        nb.select(
            "doc_id", F.explode(F.array("n1", "n2")).alias("n")
        )
        .where(F.col("n").isNotNull())
        .select(
            F.least("doc_id", "n").alias("doc_a"),
            F.greatest("doc_id", "n").alias("doc_b"),
        )
        .distinct()
    )
    # Per-doc shingle sets come straight from the pre-explode array form
    # (round-11): the former explode + collect_set + count re-assembled
    # the very array `shingle_array` starts from, paying a corpus-wide
    # Generate plus a collect_set shuffle TWICE (once per join side —
    # the agg subtree was not exchange-reused). n_sh == size(sh_arr)
    # because the set is distinct by construction; intersection sizes
    # are order-insensitive, so values are unchanged (guide §2.4). The
    # lazy checkpoint materializes the arrays ONCE per action — without
    # it the shingling expression is a collapsible alias re-evaluated
    # per downstream reference on both join sides (guide §4.4's
    # duplication, the recurring CollapseProject lesson).
    arrs = shingle_array(docs).select(
        "doc_id", "sh_arr", F.size("sh_arr").cast("long").alias("n_sh")
    ).localCheckpoint(eager=False)
    scored = (
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
    )
    jac = F.col("inter_n") / (F.col("na") + F.col("nb") - F.col("inter_n"))
    return scored.where(jac >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    )


q_sorted_neighborhood_dedup.__doc__ = q_sorted_neighborhood_dedup.__doc__.format(
    KEY=SN_KEY_LEN, BLK=SN_BLOCK_LEN, W=SN_WINDOW
)
