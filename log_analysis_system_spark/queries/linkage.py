"""Probabilistic record linkage: Fellegi-Sunter match/unmatch weighting
with the parameters fitted by EM (Fellegi & Sunter, JASA 1969; the EM
formulation after Winkler 1988) — the unsupervised-parameter-estimation
layer the rule-based linkage rows (`entity_match_parts`,
`fuzzy_customer_pairs`) stop short of: instead of hand-picking a
distance threshold, EM learns per-comparator agreement probabilities
among matches (m) and non-matches (u) from the UNLABELED candidate-pair
population, and the posterior match probability per agreement pattern
falls out.

Spark-first decomposition: the data-sized work — candidate generation
(blocked sorted-neighborhood, the `sorted_neighborhood_dedup` kernel)
and the agreement-pattern histogram — is distributed; EM then runs on
the collected pattern table, which is bounded by 2^|comparators| = 8
rows regardless of corpus size (the `markov_attribution` bounded-collect
contract). Both engines run the IDENTICAL integer EM (per-mille
parameters, ppm posteriors, floor division at every step, all operands
non-negative so trunc == floor), so the fitted model hashes bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import read_table
from . import query
from .dedup_blocking import SN_BLOCK_LEN, SN_KEY_LEN

FS_WINDOW = 3  # sorted-neighborhood lookahead (one more than dedup's 2:
#                the EM needs non-match pairs in the population too)
FS_EM_ITERS = 5
FS_PM = 1_000  # probability scale: per-mille
FS_PPM = 1_000_000  # posterior scale: ppm
# classic EM init (per-mille): 5% prior match rate, comparators agree
# 90% among matches / 10% among non-matches
FS_INIT = {"p": 50, "m": 900, "u": 100}
FS_FEATURES = ("f_src", "f_lang", "f_len")

_FS_PAIRS_SQL = f"""
keyed AS (
    SELECT doc_id,
           substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                  1, {SN_KEY_LEN}) AS snkey
    FROM documents
),
nb AS (
    SELECT doc_id,
           lead(doc_id, 1) OVER w AS n1,
           lead(doc_id, 2) OVER w AS n2,
           lead(doc_id, 3) OVER w AS n3
    FROM keyed
    WINDOW w AS (PARTITION BY substr(snkey, 1, {SN_BLOCK_LEN})
                 ORDER BY snkey, doc_id)
),
cand AS (
    SELECT DISTINCT least(doc_id, n) AS doc_a, greatest(doc_id, n) AS doc_b
    FROM (SELECT doc_id, unnest([n1, n2, n3]) AS n FROM nb) u
    WHERE n IS NOT NULL
),
feat AS (
    SELECT CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS f_src,
           CASE WHEN a.lang = b.lang THEN 1 ELSE 0 END AS f_lang,
           CASE WHEN 10 * abs(a.n_chars - b.n_chars)
                     <= least(a.n_chars, b.n_chars)
                THEN 1 ELSE 0 END AS f_len
    FROM cand c
    JOIN documents a ON a.doc_id = c.doc_a
    JOIN documents b ON b.doc_id = c.doc_b
),
pat AS (
    SELECT f_src, f_lang, f_len, CAST(count(*) AS BIGINT) AS n_pairs
    FROM feat GROUP BY 1, 2, 3
)
"""


def _cond(prefix: str, params: str) -> str:
    """Product of the three per-comparator likelihoods for one class
    (prefix 'm' or 'u'), reading the class parameters from the 1-row
    ``params`` CTE: agree -> param, disagree -> (1000 - param)."""
    terms = []
    for i, f in enumerate(FS_FEATURES, start=1):
        terms.append(
            f"(CASE WHEN {f} = 1 THEN {params}.{prefix}{i}"
            f" ELSE {FS_PM} - {params}.{prefix}{i} END)"
        )
    return " * ".join(terms)


def _fs_oracle(iters: int = FS_EM_ITERS) -> str:
    """Unroll the integer EM into chained CTEs (the generated-oracle
    technique of `_pagerank_oracle`): each round is a posterior CTE over
    the <=8 pattern rows followed by a 1-row parameter-update CTE."""
    ctes = [
        _FS_PAIRS_SQL.strip(),
        f"params0 AS (SELECT CAST({FS_INIT['p']} AS BIGINT) AS p,"
        + ", ".join(
            f"CAST({FS_INIT['m']} AS BIGINT) AS m{i},"
            f" CAST({FS_INIT['u']} AS BIGINT) AS u{i}"
            for i in range(1, 4)
        )
        + ")",
    ]
    for k in range(iters):
        ctes.append(
            f"""post{k} AS (
    SELECT pat.*,
           q.p * {_cond("m", "q")} AS num_m,
           ({FS_PM} - q.p) * {_cond("u", "q")} AS num_u
    FROM pat CROSS JOIN params{k} q
)"""
        )
        ctes.append(
            f"""w{k} AS (
    SELECT f_src, f_lang, f_len, n_pairs,
           num_m * {FS_PPM} // (num_m + num_u) AS post_ppm
    FROM post{k}
)"""
        )
        upd = [
            f"greatest(least(sum(n_pairs * post_ppm) * {FS_PM}"
            f" // (sum(n_pairs) * {FS_PPM}), {FS_PM - 1}), 1) AS p"
        ]
        for i, f in enumerate(FS_FEATURES, start=1):
            upd.append(
                f"greatest(least(sum(n_pairs * post_ppm * {f}) * {FS_PM}"
                f" // greatest(sum(n_pairs * post_ppm), 1),"
                f" {FS_PM - 1}), 1) AS m{i}"
            )
            upd.append(
                f"greatest(least(sum(n_pairs * ({FS_PPM} - post_ppm) * {f})"
                f" * {FS_PM}"
                f" // greatest(sum(n_pairs * ({FS_PPM} - post_ppm)), 1),"
                f" {FS_PM - 1}), 1) AS u{i}"
            )
        ctes.append(
            f"params{k + 1} AS (SELECT " + ", ".join(upd) + f" FROM w{k})"
        )
    # final posterior under the fitted parameters
    ctes.append(
        f"""postf AS (
    SELECT pat.*,
           q.p * {_cond("m", "q")} AS num_m,
           ({FS_PM} - q.p) * {_cond("u", "q")} AS num_u,
           q.p AS p_pm, q.m1 AS m1_pm, q.m2 AS m2_pm, q.m3 AS m3_pm,
           q.u1 AS u1_pm, q.u2 AS u2_pm, q.u3 AS u3_pm
    FROM pat CROSS JOIN params{iters} q
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(f_src * 4 + f_lang * 2 + f_len AS BIGINT) AS pattern,
       CAST(f_src AS BIGINT) AS f_src,
       CAST(f_lang AS BIGINT) AS f_lang,
       CAST(f_len AS BIGINT) AS f_len,
       n_pairs,
       CAST(num_m * {FS_PPM} // (num_m + num_u) AS BIGINT) AS match_ppm,
       CAST(num_m * {FS_PPM} // (num_m + num_u) >= {FS_PPM // 2}
            AS BOOLEAN) AS is_match,
       CAST(p_pm AS BIGINT) AS p_pm,
       CAST(m1_pm AS BIGINT) AS m1_pm, CAST(m2_pm AS BIGINT) AS m2_pm,
       CAST(m3_pm AS BIGINT) AS m3_pm,
       CAST(u1_pm AS BIGINT) AS u1_pm, CAST(u2_pm AS BIGINT) AS u2_pm,
       CAST(u3_pm AS BIGINT) AS u3_pm
FROM postf
"""
    )


def _em_fit(rows: list[tuple[int, int, int, int]]) -> list[tuple]:
    """The identical integer EM on the collected pattern table. rows =
    [(f_src, f_lang, f_len, n_pairs)]. Python ints are arbitrary
    precision, so the engine side never overflows at any corpus size;
    the oracle's bigint arithmetic is exact up to ~1e12 weighted pairs
    (far beyond any test SF — documented bound)."""
    p = FS_INIT["p"]
    m = [FS_INIT["m"]] * 3
    u = [FS_INIT["u"]] * 3

    def likelihoods(bits):
        nm, nu = p, FS_PM - p
        for i in range(3):
            nm *= m[i] if bits[i] else FS_PM - m[i]
            nu *= u[i] if bits[i] else FS_PM - u[i]
        return nm, nu

    def clamp(x):
        return max(1, min(FS_PM - 1, x))

    for _ in range(FS_EM_ITERS):
        tot_match = 0
        tot_unmatch = 0
        num_m_f = [0, 0, 0]
        num_u_f = [0, 0, 0]
        tot_n = 0
        for f1, f2, f3, n in rows:
            nm, nu = likelihoods((f1, f2, f3))
            post = nm * FS_PPM // (nm + nu)
            tot_match += n * post
            tot_unmatch += n * (FS_PPM - post)
            tot_n += n
            for i, bit in enumerate((f1, f2, f3)):
                num_m_f[i] += n * post * bit
                num_u_f[i] += n * (FS_PPM - post) * bit
        p = clamp(tot_match * FS_PM // (tot_n * FS_PPM))
        m = [clamp(num_m_f[i] * FS_PM // max(tot_match, 1)) for i in range(3)]
        u = [
            clamp(num_u_f[i] * FS_PM // max(tot_unmatch, 1))
            for i in range(3)
        ]

    out = []
    for f1, f2, f3, n in rows:
        nm, nu = likelihoods((f1, f2, f3))
        post = nm * FS_PPM // (nm + nu)
        out.append(
            (
                f1 * 4 + f2 * 2 + f3,
                f1,
                f2,
                f3,
                n,
                post,
                post >= FS_PPM // 2,
                p,
                m[0],
                m[1],
                m[2],
                u[0],
                u[1],
                u[2],
            )
        )
    return out


_FS_SCHEMA = (
    "pattern bigint, f_src bigint, f_lang bigint, f_len bigint,"
    " n_pairs bigint, match_ppm bigint, is_match boolean, p_pm bigint,"
    " m1_pm bigint, m2_pm bigint, m3_pm bigint,"
    " u1_pm bigint, u2_pm bigint, u3_pm bigint"
)


@query("fellegi_sunter_em", oracle=_fs_oracle())
def q_fellegi_sunter_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage, parameters fitted by
    integer EM: generate candidate document pairs with the blocked
    sorted-neighborhood kernel (lookahead {W} — one wider than the dedup
    row, so the pair population contains plenty of NON-matches for EM to
    separate), compare each pair with three cheap comparators (same
    source, same lang, length within 10%), reduce to the 2^3-pattern
    agreement histogram, and fit the match-class prior p and the
    per-comparator m/u probabilities by {T} EM rounds. Output: one row
    per observed pattern with its posterior match probability (ppm),
    the >= 50% match decision, and the fitted model — the weights a
    production linkage deployment would then apply to the full pair
    stream without any labeled data.

    Scale shape: candidates are O(n * {W}) via the block-partitioned
    window (no global sort); the comparator join touches only the slim
    (doc_a, doc_b) candidate list against a 4-column projection of
    documents; the EM runs on the collected <= 8-row pattern table
    (bounded by the comparator count, never by data — the
    `markov_attribution` contract), in exact Python integers mirrored
    term-for-term by the oracle's unrolled-CTE bigint EM. At 100 TB the
    only data-sized stages are the window and two equi-joins."""
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
        *[
            F.lead("doc_id", j).over(w).alias(f"n{j}")
            for j in range(1, FS_WINDOW + 1)
        ],
    )
    cand = (
        nb.select(
            "doc_id",
            F.explode(
                F.array(*[f"n{j}" for j in range(1, FS_WINDOW + 1)])
            ).alias("n"),
        )
        .where(F.col("n").isNotNull())
        .select(
            F.least("doc_id", "n").alias("doc_a"),
            F.greatest("doc_id", "n").alias("doc_b"),
        )
        .distinct()
    )
    side = docs.select("doc_id", "source", "lang", "n_chars")
    feat = (
        cand.join(
            side.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("src_a"),
                F.col("lang").alias("lang_a"),
                F.col("n_chars").alias("len_a"),
            ),
            "doc_a",
        )
        .join(
            side.select(
                F.col("doc_id").alias("doc_b"),
                F.col("source").alias("src_b"),
                F.col("lang").alias("lang_b"),
                F.col("n_chars").alias("len_b"),
            ),
            "doc_b",
        )
        .select(
            F.when(F.col("src_a") == F.col("src_b"), 1)
            .otherwise(0)
            .alias("f_src"),
            F.when(F.col("lang_a") == F.col("lang_b"), 1)
            .otherwise(0)
            .alias("f_lang"),
            F.when(
                10 * F.abs(F.col("len_a") - F.col("len_b"))
                <= F.least("len_a", "len_b"),
                1,
            )
            .otherwise(0)
            .alias("f_len"),
        )
    )
    pat = (
        feat.groupBy("f_src", "f_lang", "f_len")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .collect()  # bounded by 2^|comparators| = 8 rows, never data-sized
    )
    if not pat:
        return spark.createDataFrame([], schema=_FS_SCHEMA)
    rows = _em_fit(
        [(r["f_src"], r["f_lang"], r["f_len"], r["n_pairs"]) for r in pat]
    )
    return spark.createDataFrame(rows, schema=_FS_SCHEMA)


q_fellegi_sunter_em.__doc__ = q_fellegi_sunter_em.__doc__.format(
    W=FS_WINDOW, T=FS_EM_ITERS
)
