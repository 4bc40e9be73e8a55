"""End-to-end training-corpus curation pipeline — the composition the
individual extension operators exist for (not present in the reference,
whose closest op is ``distinct()``, SURVEY §2.4 A6).

One declarative plan: exact dedup → MinHash+LSH near-dup removal →
quality gate → per-(lang, source) corpus stats. This is the shape a 100 TB
pretraining-data job takes; every stage is a DataFrame transformation, so
Catalyst sees the WHOLE pipeline and can push the final aggregation's column
pruning back through the dedup joins (the doc text is only read where the
hashes/features need it).

Scale notes:
- exact dedup is one shuffle on a 32-byte md5 key (window rank, no
  self-join);
- near-dup pairs come from the LSH band join (result-sized, never
  all-pairs), and the drop set is applied with a LEFT ANTI join on doc_id;
- the quality features are pure codegen column expressions;
- quality is scored in integer basis points (least(n_tokens,200)*25 +
  3000 + 2000 buckets) so cross-engine aggregation is exact-integer math
  with a single division at the output edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import read_table
from . import ORACLES, query
from .dedup import q_dedup_minhash_lsh
from .text_analysis import _EN_STOPWORDS, _STOP_IN_SQL

QUALITY_GATE_BP = 6000


def _pipeline_oracle() -> str:
    pairs_sql = ORACLES["dedup_minhash_lsh"].strip().rstrip(";")
    return f"""
WITH
uniq AS (
    SELECT doc_id, text, lang, source FROM (
        SELECT doc_id, text, lang, source,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents)
    WHERE rn = 1
),
near_dropped AS (SELECT DISTINCT doc_b AS doc_id FROM ({pairs_sql})),
kept AS (
    SELECT * FROM uniq WHERE doc_id NOT IN (SELECT doc_id FROM near_dropped)
),
feat AS (
    SELECT lang, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_alpha,
           CAST(len(list_filter(string_split(text, ' '),
                                w -> w IN {_STOP_IN_SQL})) AS BIGINT) AS stop_hits
    FROM kept
),
scored AS (
    SELECT lang, source, n_tokens,
           least(n_tokens, 200) * 25
           + CASE WHEN n_alpha / n_tokens BETWEEN 3 AND 8 THEN 3000 ELSE 0 END
           + CASE WHEN stop_hits > 0 THEN 2000 ELSE 0 END AS quality_bp
    FROM feat
)
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       round(sum(quality_bp) / count(*), 2) AS avg_quality_bp
FROM scored
WHERE quality_bp >= {QUALITY_GATE_BP}
GROUP BY lang, source
"""


@query("corpus_pipeline", oracle=_pipeline_oracle())
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curated-corpus stats after exact dedup, near-dup removal, and a
    quality gate, grouped by (lang, source).

    Dedup runs BEFORE the quality gate (the standard order: duplicates bias
    every downstream corpus statistic, and pair mining is cheaper than
    re-running it per filter configuration). Near-dup policy is
    drop-the-higher-doc_id of every verified pair — deterministic, one anti
    join; the clustering variant (canonical doc per component) is
    ``dedup_components``.
    """
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )

    # Exact dedup: window rank over the content hash (one shuffle, no join).
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    uniq = (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )

    # Near-dup drop set from the verified LSH pairs (result-sized).
    dropped = (
        q_dedup_minhash_lsh(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    kept = uniq.join(dropped, "doc_id", "left_anti")

    words = F.split(F.col("text"), " ")
    n_tokens = F.size(words).cast("long")
    n_alpha = F.length(F.regexp_replace("text", " ", "")).cast("long")
    stop_hits = F.size(
        F.filter(words, lambda x: x.isin(*_EN_STOPWORDS))
    ).cast("long")
    quality_bp = (
        F.least(n_tokens, F.lit(200)) * 25
        + F.when((n_alpha / n_tokens).between(3, 8), 3000).otherwise(0)
        + F.when(stop_hits > 0, 2000).otherwise(0)
    )

    scored = kept.select(
        "lang", "source", n_tokens.alias("n_tokens"),
        quality_bp.alias("quality_bp"),
    )
    return (
        scored.where(F.col("quality_bp") >= QUALITY_GATE_BP)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(F.sum("quality_bp") / F.count(F.lit(1)), 2).alias(
                "avg_quality_bp"
            ),
        )
    )
