"""Classifier-quality evaluation over the trained quality discriminator
— exact integer ROC-AUC (Mann-Whitney rank form) and calibration error
(reliability table) — the model-eval half of the evaluation harness
whose retrieval half is `retrieval_eval_ndcg`.

Both operators re-train the SAME integer-GD discriminator as
`quality_discriminator` (the oracle composes `_qd_train_cte_list`, so
the scored model is provably identical), then reduce the scores with
metrics that stay in exact bigint arithmetic end to end: AUC via the
tie-corrected rank-sum identity (2U = 2·concordant + tied pairs — no
floats, no all-pairs join), ECE via fixed nano-probability buckets.

Reference parity: the reference has no model-eval surface (its
analytics stop at the session/ad aggregates); this module is part of
the training-data-pipeline extension the engine adds on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sampling import grouped_prefix_sum
from ..sources.catalog import read_table
from . import query
from .training_prep import (
    QD_ROUNDS,
    _qd_features,
    _qd_train_cte_list,
    train_quality_discriminator,
)

# ------------------------------------------ exact ROC-AUC (rank form)


def _auc_oracle() -> str:
    """Compose the discriminator training CTEs, histogram the scores,
    and apply the rank-sum identity with an exclusive prefix sum of
    negatives below each distinct score."""
    body = ",\n".join(_qd_train_cte_list())
    return f"""
WITH {body},
scored AS (
    SELECT f.y,
           CAST(f.x0 * w.w0 + f.x1 * w.w1 + f.x2 * w.w2 + f.x3 * w.w3
                + f.x4 * w.w4 AS BIGINT) AS s
    FROM feat f CROSS JOIN w{QD_ROUNDS} w
),
hist AS (
    SELECT s,
           CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
           CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
    FROM scored GROUP BY s
),
pre AS (
    SELECT np, nn,
           CAST(coalesce(sum(nn) OVER (ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS below
    FROM hist
),
tot AS (
    SELECT CAST(sum(np) AS BIGINT) AS n_pos,
           CAST(sum(nn) AS BIGINT) AS n_neg,
           CAST(sum(np * (2 * below + nn)) AS BIGINT) AS u2
    FROM pre
)
SELECT n_pos + n_neg AS n_docs, n_pos, n_neg, u2,
       CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
            ELSE CAST(u2 * 1000000 // (2 * n_pos * n_neg) AS BIGINT)
       END AS auc_ppm,
       CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
            ELSE CAST(u2 * 1000000 // (n_pos * n_neg) AS BIGINT) - 1000000
       END AS gini_ppm
FROM tot
"""


@query("discriminator_auc", oracle=_auc_oracle)
def q_discriminator_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC of the trained quality discriminator, via the
    Mann-Whitney rank-sum identity: AUC = U / (n_pos·n_neg) where
    2U = 2·#(score_pos > score_neg) + #(score_pos = score_neg). The
    whole metric is bigint arithmetic — 2U is accumulated instead of U
    so tied pairs contribute exactly 1 (never 0.5), and the only
    divisions are final floor-divs of non-negative numerators, so the
    value hash matches the composed DuckDB oracle bit for bit (the
    oracle re-trains the identical model via `_qd_train_cte_list`).

    Never all-pairs: scores are first histogrammed (one hash-agg to one
    row per distinct score), then `grouped_prefix_sum` supplies each
    score's count of negatives strictly below — the scale-safe
    replacement for `sum() OVER (ORDER BY score)`, two bounded
    exchanges regardless of corpus size. Training cost is the same
    {QD_ROUNDS}×5-scalar-aggregate loop `quality_discriminator` pays;
    the metric itself adds O(distinct scores) work."""
    docs = read_table(spark, sf_dir, "documents")
    feat = _qd_features(docs).localCheckpoint(eager=False)
    w = train_quality_discriminator(feat)
    score = " + ".join(f"x{j} * {w[j]}L" for j in range(5))
    hist = (
        feat.select(
            F.col("y"), F.expr(f"CAST({score} AS BIGINT)").alias("s")
        )
        .groupBy("s")
        .agg(
            F.sum(F.when(F.col("y"), 1).otherwise(0))
            .cast("long")
            .alias("np"),
            F.sum(F.when(F.col("y"), 0).otherwise(1))
            .cast("long")
            .alias("nn"),
        )
    )
    pre = grouped_prefix_sum(
        hist.withColumn("g", F.lit(1)),
        ["g"],
        [F.col("s")],
        F.col("nn"),
        out_col="cum_nn",
    ).withColumn("below", F.col("cum_nn") - F.col("nn"))
    tot = pre.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.sum(
            F.col("np") * (F.lit(2) * F.col("below") + F.col("nn"))
        )
        .cast("long")
        .alias("u2"),
    )
    guard = (F.col("n_pos") == 0) | (F.col("n_neg") == 0)
    return tot.select(
        (F.col("n_pos") + F.col("n_neg")).alias("n_docs"),
        "n_pos",
        "n_neg",
        "u2",
        F.when(guard, F.lit(None).cast("long"))
        .otherwise(
            F.expr("u2 * 1000000 div (2 * n_pos * n_neg)")
        )
        .alias("auc_ppm"),
        F.when(guard, F.lit(None).cast("long"))
        .otherwise(
            F.expr("u2 * 1000000 div (n_pos * n_neg) - 1000000")
        )
        .alias("gini_ppm"),
    )


# --------------------------------------- calibration (reliability table)

ECE_BUCKETS = 10
_NANO = 1_000_000_000


def _ece_oracle() -> str:
    body = ",\n".join(_qd_train_cte_list())
    return f"""
WITH {body},
scored AS (
    SELECT f.y,
           least(greatest(CAST(f.x0 * w.w0 + f.x1 * w.w1 + f.x2 * w.w2
                + f.x3 * w.w3 + f.x4 * w.w4 AS BIGINT), 0),
                 {_NANO}) AS c
    FROM feat f CROSS JOIN w{QD_ROUNDS} w
)
SELECT least(c * {ECE_BUCKETS} // {_NANO}, {ECE_BUCKETS - 1}) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST(sum(c) // (count(*) * 1000) AS BIGINT) AS conf_ppm,
       CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) * 1000000 // count(*)
            AS BIGINT) AS acc_ppm,
       CAST(abs(sum(c) // (count(*) * 1000)
                - sum(CASE WHEN y THEN 1 ELSE 0 END) * 1000000
                  // count(*)) AS BIGINT) AS gap_ppm
FROM scored
GROUP BY 1
"""


@query("calibration_ece", oracle=_ece_oracle)
def q_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table of the trained quality discriminator — the
    per-bucket decomposition of Expected Calibration Error: clamp the
    nano-unit linear score to [0, 1] as the model's confidence, bucket
    into {ECE_BUCKETS} fixed bands, and report each band's mean
    confidence vs empirical positive rate (both integer ppm) and their
    absolute gap. ECE itself is sum(gap_ppm · n_docs) / sum(n_docs) —
    left to the consumer so every reported number stays an exact
    integer the oracle hash-checks.

    All arithmetic is bigint with floor-divs of non-negative
    numerators only (scores are clamped before any division), so Spark
    and DuckDB agree bit for bit. Scale: one projection + one
    {ECE_BUCKETS}-ary hash-agg over the corpus — map-side combinable,
    no window, no join; training cost as `quality_discriminator`."""
    docs = read_table(spark, sf_dir, "documents")
    feat = _qd_features(docs).localCheckpoint(eager=False)
    w = train_quality_discriminator(feat)
    score = " + ".join(f"x{j} * {w[j]}L" for j in range(5))
    scored = feat.select(
        "y",
        F.expr(
            f"least(greatest(CAST({score} AS BIGINT), 0L), {_NANO}L)"
        ).alias("c"),
    )
    return (
        scored.groupBy(
            F.least(
                F.expr(f"c * {ECE_BUCKETS} div {_NANO}"),
                F.lit(ECE_BUCKETS - 1),
            ).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("y"), 1).otherwise(0))
            .cast("long")
            .alias("n_pos"),
            F.expr("sum(c) div (count(*) * 1000)").alias("conf_ppm"),
            F.expr(
                "sum(CASE WHEN y THEN 1 ELSE 0 END) * 1000000 div count(*)"
            ).alias("acc_ppm"),
            F.abs(
                F.expr("sum(c) div (count(*) * 1000)")
                - F.expr(
                    "sum(CASE WHEN y THEN 1 ELSE 0 END) * 1000000 "
                    "div count(*)"
                )
            )
            .cast("long")
            .alias("gap_ppm"),
        )
    )


# ------------------------------------- per-group fairness of the model

def _fairness_oracle() -> str:
    body = ",\n".join(_qd_train_cte_list())
    return f"""
WITH {body},
scored AS (
    SELECT f.source, f.y,
           f.x0 * w.w0 + f.x1 * w.w1 + f.x2 * w.w2 + f.x3 * w.w3
               + f.x4 * w.w4 >= 500000000 AS pred
    FROM feat f CROSS JOIN w{QD_ROUNDS} w
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST(sum(CASE WHEN pred THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
       CAST(sum(CASE WHEN pred THEN 1 ELSE 0 END) * 1000000 // count(*)
            AS BIGINT) AS ppr_ppm,
       CASE WHEN sum(CASE WHEN y THEN 1 ELSE 0 END) = 0 THEN NULL
            ELSE CAST(sum(CASE WHEN pred AND y THEN 1 ELSE 0 END)
                 * 1000000 // sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
       END AS tpr_ppm,
       CASE WHEN sum(CASE WHEN y THEN 0 ELSE 1 END) = 0 THEN NULL
            ELSE CAST(sum(CASE WHEN pred AND NOT y THEN 1 ELSE 0 END)
                 * 1000000 // sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT)
       END AS fpr_ppm
FROM scored GROUP BY source
"""


@query("discriminator_group_fairness", oracle=_fairness_oracle)
def q_discriminator_group_fairness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source fairness slice of the trained quality discriminator —
    the audit a data-curation review runs before letting a learned
    filter gate a corpus: for every source, the predicted-keep rate
    (demographic parity), true-positive rate (equal opportunity), and
    false-positive rate, all integer ppm with NULL-guarded zero
    denominators. A filter whose keep rate collapses on one source is
    silently deleting that slice of the corpus; this table is where
    that shows up before the training run does.

    Same trained model as `quality_discriminator` (the oracle composes
    `_qd_train_cte_list`, so both engines re-train it identically);
    the metric pass is one source-keyed hash-agg over the scored
    projection — map-side combinable, no joins beyond the 1-row weight
    broadcast already inside the scoring expression."""
    docs = read_table(spark, sf_dir, "documents")
    feat = _qd_features(docs).localCheckpoint(eager=False)
    w = train_quality_discriminator(feat)
    score = " + ".join(f"x{j} * {w[j]}L" for j in range(5))
    scored = feat.select(
        "source",
        "y",
        F.expr(f"({score}) >= 500000000L").alias("pred"),
    )
    pos = F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("long")
    neg = F.sum(F.when(F.col("y"), 0).otherwise(1)).cast("long")
    tp = F.sum(F.when(F.col("pred") & F.col("y"), 1).otherwise(0)).cast(
        "long"
    )
    fp = F.sum(
        F.when(F.col("pred") & ~F.col("y"), 1).otherwise(0)
    ).cast("long")
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        pos.alias("n_pos"),
        F.sum(F.when(F.col("pred"), 1).otherwise(0))
        .cast("long")
        .alias("n_pred"),
        F.expr(
            "sum(CASE WHEN pred THEN 1 ELSE 0 END) * 1000000 div count(*)"
        ).alias("ppr_ppm"),
        F.when(pos == 0, F.lit(None).cast("long"))
        .otherwise(F.expr(
            "sum(CASE WHEN pred AND y THEN 1 ELSE 0 END) * 1000000 "
            "div sum(CASE WHEN y THEN 1 ELSE 0 END)"
        ))
        .alias("tpr_ppm"),
        F.when(neg == 0, F.lit(None).cast("long"))
        .otherwise(F.expr(
            "sum(CASE WHEN pred AND NOT y THEN 1 ELSE 0 END) * 1000000 "
            "div sum(CASE WHEN NOT y THEN 1 ELSE 0 END)"
        ))
        .alias("fpr_ppm"),
    )


# ------------------------------------------ isotonic calibration (PAV)

ISO_BUCKET_W = 2     # token-count bucket width
ISO_BUCKET_CAP = 200  # token counts clamp here (same cap as quality_score)

_ISO_PASS_SQL = """
    CAST(len(string_split(text, ' ')) AS BIGINT) >= 40
    AND CAST(length(replace(text, ' ', '')) AS BIGINT)
        >= 3 * CAST(len(string_split(text, ' ')) AS BIGINT)
    AND CAST(length(replace(text, ' ', '')) AS BIGINT)
        <= 8 * CAST(len(string_split(text, ' ')) AS BIGINT)
"""

_ISO_ORACLE = f"""
WITH bk AS (
    SELECT least(CAST(len(string_split(text, ' ')) AS BIGINT),
                 {ISO_BUCKET_CAP}) // {ISO_BUCKET_W} AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE {_ISO_PASS_SQL}) AS BIGINT) AS pass_n
    FROM documents GROUP BY 1
),
pre AS (
    SELECT a.bucket, any_value(a.n_docs) AS n_docs,
           any_value(a.pass_n) AS pass_n,
           CAST(sum(b.pass_n) AS BIGINT) AS ps,
           CAST(sum(b.n_docs) AS BIGINT) AS pc
    FROM bk a JOIN bk b ON b.bucket <= a.bucket
    GROUP BY 1
),
segs AS (
    SELECT j.bucket AS jb, k.bucket AS kb,
           (k.ps - j.ps + j.pass_n) / CAST(k.pc - j.pc + j.n_docs AS DOUBLE)
               AS seg_mean
    FROM pre j JOIN pre k ON j.bucket <= k.bucket
),
inner_min AS (
    SELECT i.bucket AS ib, s.jb, min(s.seg_mean) AS mn
    FROM bk i JOIN segs s ON s.jb <= i.bucket AND s.kb >= i.bucket
    GROUP BY 1, 2
),
iso AS (SELECT ib AS bucket, max(mn) AS iso_rate FROM inner_min GROUP BY 1)
SELECT b.bucket, b.n_docs, b.pass_n,
       round(b.pass_n / CAST(b.n_docs AS DOUBLE), 6) AS raw_rate,
       round(i.iso_rate, 6) AS iso_rate
FROM bk b JOIN iso i ON i.bucket = b.bucket
"""


@query("isotonic_calibration", oracle=_ISO_ORACLE)
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration of the quality pass
    rate against document length — the PAV fit every score-calibration
    stack runs before thresholding a classifier, computed here through the
    exact minimax characterization iso(i) = max_{{j<=i}} min_{{k>=i}}
    mean(y[j..k]) instead of the sequential pool-adjacent-violators loop
    (identical output, but expressible as joins + aggregates on BOTH
    engines — no driver-side recursion, no order-dependent pooling).

    Determinism: every segment mean is ONE IEEE division of two exact
    bigints (prefix sums of pass/doc counts), so both engines produce
    bit-identical doubles; min/max over identical doubles are
    order-independent, and rounding happens once at the output edge.

    Scale shape: the corpus reduces to B <= {CAP}/{W}+1 length buckets in
    one scan + hash agg; the O(B^2) segment table and the O(B^3) minimax
    join run on that BOUNDED table via broadcast joins — data volume never
    enters the quadratic/cubic terms (the same reduce-first seam as
    `discriminator_auc`'s score histogram). No windows, no driver loop."""
    docs = read_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_tokens = F.size(words).cast("long")
    n_alpha = F.length(F.regexp_replace("text", " ", "")).cast("long")
    ok = (
        (n_tokens >= 40)
        & (n_alpha >= 3 * n_tokens)
        & (n_alpha <= 8 * n_tokens)
    )
    bk = (
        docs.groupBy(
            F.floor(F.least(n_tokens, F.lit(ISO_BUCKET_CAP)) / ISO_BUCKET_W)
            .cast("long")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(ok, 1).otherwise(0)).cast("long").alias("pass_n"),
        )
    )
    b2 = bk.select(
        F.col("bucket").alias("b2"),
        F.col("n_docs").alias("n2"),
        F.col("pass_n").alias("p2"),
    )
    pre = (
        bk.join(F.broadcast(b2), F.col("b2") <= F.col("bucket"))
        .groupBy("bucket")
        .agg(
            F.first("n_docs").alias("n_docs"),
            F.first("pass_n").alias("pass_n"),
            F.sum("p2").cast("long").alias("ps"),
            F.sum("n2").cast("long").alias("pc"),
        )
    )
    jside = pre.select(
        F.col("bucket").alias("jb"),
        (F.col("ps") - F.col("pass_n")).alias("ps_excl"),
        (F.col("pc") - F.col("n_docs")).alias("pc_excl"),
    )
    kside = pre.select(
        F.col("bucket").alias("kb"),
        F.col("ps").alias("ps_k"),
        F.col("pc").alias("pc_k"),
    )
    segs = jside.join(F.broadcast(kside), F.col("jb") <= F.col("kb")).select(
        "jb",
        "kb",
        (
            (F.col("ps_k") - F.col("ps_excl"))
            / (F.col("pc_k") - F.col("pc_excl")).cast("double")
        ).alias("seg_mean"),
    )
    inner_min = (
        bk.select(F.col("bucket").alias("ib"))
        .join(
            F.broadcast(segs),
            (F.col("jb") <= F.col("ib")) & (F.col("kb") >= F.col("ib")),
        )
        .groupBy("ib", "jb")
        .agg(F.min("seg_mean").alias("mn"))
    )
    iso = inner_min.groupBy(F.col("ib").alias("bucket")).agg(
        F.max("mn").alias("iso_rate")
    )
    return bk.join(iso, "bucket").select(
        "bucket",
        "n_docs",
        "pass_n",
        F.round(
            F.col("pass_n") / F.col("n_docs").cast("double"), 6
        ).alias("raw_rate"),
        F.round("iso_rate", 6).alias("iso_rate"),
    )


q_isotonic_calibration.__doc__ = q_isotonic_calibration.__doc__.format(
    CAP=ISO_BUCKET_CAP, W=ISO_BUCKET_W
)
