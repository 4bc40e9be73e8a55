"""Index-quality and embedding-geometry AUDITS (split out of
``similarity.py`` in round 7 — same registry entries, same oracles, no
behavior change): LSH recall vs the exact kernel, Matryoshka
dimension-truncation recall, PCA top-component variance share (Gram-trick
power iteration), and the Johnson-Lindenstrauss projection distortion
audit. These are the measurements a pipeline runs on a bounded sample
tier before trusting an index/projection at full scale — deliberately
separate from the serving-path operators they audit.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.topn import grouped_topn
from ..sources.catalog import read_table
from . import query
from .similarity import (
    N_DIMS,
    q_ann_brute_topk,
    q_ann_ivf_topk,
    N_QUERIES,
    TOP_K,
    _FLAT_CTE,
    _QUANT,
    _quantized,
    q_embedding_near_dup,
    q_embedding_near_dup_exact,
)

# ------------------------------------------------------ LSH recall audit


def _recall_audit_oracle() -> str:
    """Compose the LSH and exact near-dup oracles as derived tables (each
    carries its own WITH scope) and compare pair sets."""
    from . import ORACLES

    lsh = ORACLES["embedding_near_dup"]
    exact = ORACLES["embedding_near_dup_exact"]
    return f"""
SELECT CAST((SELECT count(*) FROM ({exact}) e) AS BIGINT) AS n_exact,
       CAST((SELECT count(*) FROM ({lsh}) l) AS BIGINT) AS n_lsh,
       CAST((SELECT count(*) FROM ({exact}) e
             WHERE NOT EXISTS (SELECT 1 FROM ({lsh}) l
                               WHERE l.vec_a = e.vec_a
                                 AND l.vec_b = e.vec_b)) AS BIGINT)
           AS n_missed,
       CAST((SELECT count(*) FROM ({lsh}) l
             WHERE NOT EXISTS (SELECT 1 FROM ({exact}) e
                               WHERE e.vec_a = l.vec_a
                                 AND e.vec_b = l.vec_b)) AS BIGINT)
           AS n_false_pos
"""


@query("lsh_recall_audit", oracle=_recall_audit_oracle())
def q_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality audit: the banded-LSH near-dup path
    (`embedding_near_dup`) measured against the exact all-pairs kernel
    (`embedding_near_dup_exact`) — pair counts, pairs the bands MISSED,
    and false positives (must be 0: candidates are exact-rescored). This
    is the audit a pipeline runs on a sample before trusting the index
    at full scale; both sides and the comparison are oracle-exact.

    Scale shape: the exact side is the expensive one by design — the
    audit runs on a bounded sample tier (here the whole sf corpus); the
    comparison itself is one full-outer join on (vec_a, vec_b) aggregated
    in-plan — a single action, no driver-side counting loop."""
    lsh = q_embedding_near_dup(spark, sf_dir).select(
        "vec_a", "vec_b", F.lit(1).alias("in_lsh")
    )
    exact = q_embedding_near_dup_exact(spark, sf_dir).select(
        "vec_a", "vec_b", F.lit(1).alias("in_exact")
    )
    both = exact.join(lsh, ["vec_a", "vec_b"], "full_outer")
    return both.agg(
        F.count("in_exact").alias("n_exact"),
        F.count("in_lsh").alias("n_lsh"),
        F.count(F.when(F.col("in_lsh").isNull(), 1)).alias("n_missed"),
        F.count(F.when(F.col("in_exact").isNull(), 1)).alias("n_false_pos"),
    )


# ------------------------------------- dimension-truncation (MRL) audit

MRL_DIMS = (16, 32, 64)   # prefix lengths audited (64 = full = recall 1.0)


@query(
    "matryoshka_recall_audit",
    oracle=f"""
WITH {_FLAT_CTE},
tdots AS (
    SELECT k.k, a.vec_id AS query_id, b.vec_id AS neighbor_id,
           sum(CASE WHEN a.i <= k.k THEN a.v * b.v ELSE 0 END) AS dot,
           sum(CASE WHEN a.i <= k.k THEN a.v * a.v ELSE 0 END) AS qn,
           sum(CASE WHEN a.i <= k.k THEN b.v * b.v ELSE 0 END) AS nn
    FROM flat a
    JOIN flat b ON a.i = b.i AND a.vec_id < {N_QUERIES}
                AND a.vec_id <> b.vec_id
    CROSS JOIN (SELECT unnest(ARRAY{list(MRL_DIMS)}) AS k) k
    GROUP BY 1, 2, 3
),
tranked AS (
    SELECT k, query_id, neighbor_id,
           row_number() OVER (
               PARTITION BY k, query_id
               ORDER BY round(CAST(dot AS DOUBLE)
                              / (sqrt(CAST(qn AS DOUBLE))
                                 * sqrt(CAST(nn AS DOUBLE))), 6) DESC,
                        neighbor_id) AS rnk
    FROM tdots
),
truth AS (
    SELECT query_id, neighbor_id FROM tranked
    WHERE k = {N_DIMS} AND rnk <= {TOP_K}
),
hits AS (
    SELECT t.k,
           CAST(count(*) FILTER (WHERE r.rnk IS NOT NULL) AS BIGINT) AS hit,
           CAST(count(*) AS BIGINT) AS total
    FROM (SELECT k.k, tr.query_id, tr.neighbor_id
          FROM truth tr
          CROSS JOIN (SELECT unnest(ARRAY{list(MRL_DIMS)}) AS k) k) t
    LEFT JOIN (SELECT k, query_id, neighbor_id, rnk FROM tranked
               WHERE rnk <= {TOP_K}) r
      ON r.k = t.k AND r.query_id = t.query_id
     AND r.neighbor_id = t.neighbor_id
    GROUP BY t.k
)
SELECT k AS dims, hit AS hits, total,
       CAST(hit * 1000000 // total AS BIGINT) AS recall_ppm
FROM hits
""",
)
def q_matryoshka_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-truncation retrieval audit (the Matryoshka question —
    Kusupati et al. 2022, public): if the index stored only the first k
    of {N_DIMS} embedding dims, what fraction of the full-dimension
    top-{TOP_K} would prefix-k cosine search still retrieve? One row
    per k in {MRL_DIMS} with EXACT integer hits/total and recall in ppm
    — a full value-hash oracle (no trained state, unlike the
    PQ/IVF verdict rows), so the entire ranking pipeline is
    hash-checked at every k. This is the measurement that decides
    whether a 4x cheaper truncated index is safe to serve, the same
    storage-vs-recall decision SQ8/PQ make by quantization.

    Determinism: prefix dot products and norms are exact bigints
    (slice + zip_with fold); one double division + round(6) per pair at
    the ranking edge; asc-id ties. Scale: the pairwise kernel is the
    brute audit-tier shape (bounded query set broadcast against the
    corpus — the same contract as `ann_brute_topk`/`lsh_recall_audit`);
    per-k work shares the single corpus scan via the unpivoted k
    column."""
    vecs = _quantized(spark, sf_dir)
    qv = vecs.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    ks = spark.createDataFrame([(k,) for k in MRL_DIMS], "k int")
    pairs = (
        vecs.select(F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ne"))
        .crossJoin(F.broadcast(qv))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .crossJoin(F.broadcast(ks))
        .select(
            "k",
            "query_id",
            "neighbor_id",
            F.expr(
                "aggregate(zip_with(slice(qe, 1, k), slice(ne, 1, k), "
                "(x, y) -> x * y), CAST(0 AS BIGINT), (a, v) -> a + v)"
            ).alias("dot"),
            F.expr(
                "aggregate(slice(qe, 1, k), CAST(0 AS BIGINT), "
                "(a, v) -> a + v * v)"
            ).alias("qn"),
            F.expr(
                "aggregate(slice(ne, 1, k), CAST(0 AS BIGINT), "
                "(a, v) -> a + v * v)"
            ).alias("nn"),
        )
        .withColumn(
            "cosine",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("qn").cast("double"))
                    * F.sqrt(F.col("nn").cast("double"))
                ),
                6,
            ),
        )
    )
    ranked = grouped_topn(
        pairs.select("k", "query_id", "neighbor_id", "cosine"),
        ["k", "query_id"],
        [F.desc("cosine"), F.asc("neighbor_id")],
        TOP_K,
        keep_rank=False,
    )
    truth = ranked.where(F.col("k") == N_DIMS).select(
        "query_id", "neighbor_id"
    )
    marked = (
        truth.crossJoin(F.broadcast(ks))
        .join(
            ranked.select("k", "query_id", "neighbor_id", F.lit(1).alias("hit")),
            ["k", "query_id", "neighbor_id"],
            "left",
        )
    )
    return marked.groupBy(F.col("k").cast("long").alias("dims")).agg(
        F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("hits"),
        F.count(F.lit(1)).cast("long").alias("total"),
        F.expr(
            "CAST(sum(coalesce(hit, 0)) * 1000000 div count(1) AS BIGINT)"
        ).alias("recall_ppm"),
    )


# ------------------------------- PCA top component (power iteration)

PCA_ROUNDS = 6
PCA_SV = 100_000   # iterate scale: max|v_j| == SV after every rescale
PCA_QDIV = 1_000   # per-row projection shrink (keeps t_j * SV in bigint)

# Sign-split integer division: both engines divide a NON-NEGATIVE
# magnitude, so Spark `div` (trunc) and DuckDB `//` can never diverge.
def _ssdiv(num: str, den: str) -> str:
    return (
        f"CASE WHEN {num} >= 0 THEN ({num}) {{d}} ({den}) "
        f"ELSE -((-({num})) {{d}} ({den})) END"
    )


# Anisotropy share at the output edge: exact-bigint inputs, one fixed
# double expression (conversion/mul/div/round are all correctly rounded
# IEEE ops, so identical operands + identical order = identical result —
# unlike ln, no boundary audit is needed).
_PCA_SHARE = (
    f"round({PCA_QDIV * PCA_QDIV}.0 * CAST(sq AS DOUBLE) "
    "/ (CAST(vvs AS DOUBLE) * CAST(trs AS DOUBLE)), 6)"
)


def _pca_oracle() -> str:
    sd = lambda n, d: _ssdiv(n, d).format(d="//")
    ctes = [
        """
pxq AS MATERIALIZED (
    SELECT vec_id, CAST(i - 1 AS BIGINT) AS j,
           CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS x
    FROM (SELECT vec_id, embedding,
                 unnest(generate_series(1, len(embedding))) AS i
          FROM embeddings)
)""",
        "pn AS (SELECT CAST(greatest(count(DISTINCT vec_id), 1) AS BIGINT)"
        " AS n FROM pxq)",
        "pmean AS (SELECT j, CAST(sum(x) AS BIGINT) AS s FROM pxq"
        " GROUP BY j)",
        f"""
pxc AS MATERIALIZED (
    SELECT q.vec_id, q.j, q.x - ({sd('m.s', 'pn.n')}) AS x
    FROM pxq q JOIN pmean m ON m.j = q.j CROSS JOIN pn
)""",
        f"pv0 AS (SELECT DISTINCT j, CAST({PCA_SV} AS BIGINT) AS v"
        " FROM pxq)",
    ]
    for r in range(1, PCA_ROUNDS + 1):
        ctes.append(
            f"""
pq{r} AS MATERIALIZED (
    SELECT c.vec_id,
           ({sd('sum(c.x * v.v)', str(PCA_QDIV))}) AS q
    FROM pxc c JOIN pv{r - 1} v ON v.j = c.j GROUP BY c.vec_id
)"""
        )
        ctes.append(
            f"pt{r} AS (SELECT c.j, CAST(sum(c.x * q.q) AS BIGINT) AS t "
            f"FROM pxc c JOIN pq{r} q ON q.vec_id = c.vec_id GROUP BY c.j)"
        )
        ctes.append(
            f"pmx{r} AS (SELECT CAST(greatest(max(abs(t)), 1) AS BIGINT)"
            f" AS mx FROM pt{r})"
        )
        ctes.append(
            f"pv{r} AS MATERIALIZED (SELECT t.j, "
            f"({sd(f't.t * {PCA_SV}', 'mx.mx')}) AS v "
            f"FROM pt{r} t CROSS JOIN pmx{r} mx)"
        )
    body = ",\n".join(ctes)
    return f"""
WITH {body},
psq AS (SELECT CAST(coalesce(sum(q * q), 0) AS BIGINT) AS sq
        FROM pq{PCA_ROUNDS}),
pvv AS (SELECT CAST(coalesce(sum(v * v), 1) AS BIGINT) AS vvs
        FROM pv{PCA_ROUNDS - 1}),
ptr AS (SELECT CAST(coalesce(sum(x * x), 1) AS BIGINT) AS trs FROM pxc)
SELECT v.j AS dim, CAST(v.v AS BIGINT) AS loading,
       {_PCA_SHARE} AS var_share_top1
FROM pv{PCA_ROUNDS} v CROSS JOIN psq CROSS JOIN pvv CROSS JOIN ptr
"""


@query("pca_top_component", oracle=_pca_oracle())
def q_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by POWER ITERATION
    run inside the engine — the eigen-decomposition class none of the
    other iterative rows (Lloyd's, PageRank, EM, integer GD) exercises.
    The loading vector is what OPQ-style rotations and embedding-space
    whitening start from, and the emitted `var_share_top1` (fraction of
    total variance on the top axis) is the standard anisotropy /
    representation-collapse audit: contrastive embeddings whose share
    drifts toward 1.0 have collapsed to a line and stop being useful for
    semantic dedup or retrieval.

    The covariance matrix is never materialized: each round computes
    C·v via the Gram trick — q_i = x_i·v per row (a {D}-element fold),
    then t_j = sum_i x_ij * q_i (one hash-agg over the flattened
    (vec_id, dim, value) table) — so a round is two corpus-bounded
    aggregates, no 64x64-per-row explode, no driver-side data. Only the
    64-element iterate is collected per round (the bounded-collect
    budget shared with the Lloyd's/PQ codebook loops).

    Determinism: embeddings quantize to the module's exact integer
    milli-units; the iterate is rescaled to max|v| = {SV} each round
    with sign-split integer division (trunc/floor can never diverge);
    the single output-edge double expression uses only correctly-rounded
    IEEE ops on exact-bigint operands, so no ln-style boundary audit is
    needed. Bigint headroom: |t_j·SV| <= N·800·(64·800·SV/{Q})·{SV}
    stays under 2^63 to N ~ 20k vectors per PCA slice; larger corpora
    raise PCA_QDIV (the docs' stratified-sample stance) rather than
    overflowing silently.

    Ref: no counterpart in the reference (no linear-algebra surface);
    extension per SURVEY §2.13."""
    emb = read_table(spark, sf_dir, "embeddings")
    xq = emb.select(
        "vec_id",
        F.posexplode(F.expr(_QUANT)).alias("j", "x"),
    ).select("vec_id", F.col("j").cast("long").alias("j"), "x")

    n_row = xq.agg(
        F.greatest(F.countDistinct("vec_id"), F.lit(1)).alias("n")
    )
    mean = xq.groupBy("j").agg(F.sum("x").alias("s"))
    sdiv = lambda n, d: F.expr(_ssdiv(n, d).format(d="div"))
    xc = (
        xq.join(F.broadcast(mean), "j")
        .crossJoin(F.broadcast(n_row))
        .select("vec_id", "j", (F.col("x") - sdiv("s", "n")).alias("x"))
        .localCheckpoint(eager=False)
    )

    dims = [r["j"] for r in xc.select("j").distinct().collect()]
    v = {j: PCA_SV for j in dims}
    q_df = None
    v_prev = dict(v)
    for _ in range(PCA_ROUNDS):
        v_prev = dict(v)
        v_df = spark.createDataFrame(
            [(j, v[j]) for j in dims] or [(0, 0)], "j long, v long"
        )
        q_df = (
            xc.join(F.broadcast(v_df), "j")
            .groupBy("vec_id")
            .agg(sdiv("sum(x * v)", str(PCA_QDIV)).alias("q"))
        )
        t = {
            r["j"]: r["t"]
            for r in xc.join(q_df, "vec_id")
            .groupBy("j")
            .agg(F.sum(F.expr("x * q")).alias("t"))
            .collect()
        }
        mx = max((abs(t.get(j, 0)) for j in dims), default=1) or 1
        for j in dims:
            tj = t.get(j, 0)
            mag = (abs(tj) * PCA_SV) // mx
            v[j] = mag if tj >= 0 else -mag

    out_v = spark.createDataFrame(
        [(j, v[j]) for j in dims] or [(0, 0)], "dim long, loading long"
    )
    if not dims:
        out_v = out_v.limit(0)
        scalars = spark.createDataFrame(
            [(0, 1, 1)], "sq long, vvs long, trs long"
        )
    else:
        sq = q_df.agg(
            F.coalesce(F.sum(F.expr("q * q")), F.lit(0)).alias("sq")
        )
        tr = xc.agg(
            F.coalesce(F.sum(F.expr("x * x")), F.lit(1)).alias("trs")
        )
        vvs = sum(val * val for val in v_prev.values()) or 1
        scalars = sq.crossJoin(tr).select(
            "sq", F.lit(vvs).cast("long").alias("vvs"), "trs"
        )
    return out_v.crossJoin(F.broadcast(scalars)).select(
        "dim", "loading", F.expr(_PCA_SHARE).alias("var_share_top1")
    )


# ------------------------- Johnson-Lindenstrauss projection audit

JL_K = 16          # target dimensionality (64 -> 16 = 4x smaller index)
JL_AUDIT_VECS = 20  # audit slice: first 20 vec_ids -> 190 exact pairs

# ±1 Rademacher signs from the module's md5 coefficient family, salted
# 'jl' so the JL matrix is independent of the LSH planes.
_JL_SIGN_CTE = f"""
jlsigns AS (
    SELECT k, d,
           CASE WHEN CAST(('0x' || substr(md5('jl,' || CAST(k AS VARCHAR)
                          || ',' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT)
                     % 2 = 0 THEN 1 ELSE -1 END AS sgn
    FROM range({JL_K}) t1(k), range({N_DIMS}) t2(d)
)
"""


@query(
    "jl_projection_audit",
    oracle=f"""
WITH {_FLAT_CTE},
{_JL_SIGN_CTE.strip()},
aud AS (SELECT vec_id, i, v FROM flat WHERE vec_id < {JL_AUDIT_VECS}),
proj AS (
    SELECT a.vec_id, s.k, CAST(sum(s.sgn * a.v) AS BIGINT) AS y
    FROM aud a JOIN jlsigns s ON s.d = a.i - 1
    GROUP BY 1, 2
),
d2o AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(sum((a.v - b.v) * (a.v - b.v)) AS BIGINT) AS d2_orig
    FROM aud a JOIN aud b ON b.i = a.i AND a.vec_id < b.vec_id
    GROUP BY 1, 2
),
d2p AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(sum((a.y - b.y) * (a.y - b.y)) AS BIGINT) AS d2_proj
    FROM proj a JOIN proj b ON b.k = a.k AND a.vec_id < b.vec_id
    GROUP BY 1, 2
)
SELECT o.vec_a, o.vec_b, o.d2_orig, p.d2_proj,
       CASE WHEN o.d2_orig = 0 THEN NULL
            ELSE CAST(p.d2_proj * 1000000 // ({JL_K} * o.d2_orig)
                      AS BIGINT) END AS distortion_ppm
FROM d2o o JOIN d2p p ON p.vec_a = o.vec_a AND p.vec_b = o.vec_b
""",
)
def q_jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss ±1 (Rademacher) projection 64 -> {K} dims
    with an EXACT pairwise distortion audit — the go/no-go measurement
    before serving a 4x-smaller projected index (the dense-random-matrix
    complement to `matryoshka_recall_audit`'s prefix truncation: JL
    preserves distances for embeddings whose information is NOT
    front-loaded). For ±1 signs E||Rx||^2 = K ||x||^2, so
    `distortion_ppm` = 1e6 * d2_proj / (K * d2_orig) concentrates at
    1e6; its spread over the audit pairs is the empirical epsilon.

    Everything is exact integer arithmetic on the module's milli-unit
    quantization: the sign matrix is md5-derived (salted 'jl', disjoint
    from the LSH planes) so both engines share it bit-for-bit; squared
    distances and the ppm ratio are bigint with a NULL guard for
    identical vectors (0/0). At scale the same projection expression is
    the corpus-wide map producing the sketch table (zero shuffles, K
    sums per row); the audit itself runs on the bounded first-{V} slice
    (190 pairs), the `lsh_recall_audit` sampling stance."""
    vecs = _quantized(spark, sf_dir).where(F.col("vec_id") < JL_AUDIT_VECS)
    flat = vecs.select(
        "vec_id", F.posexplode("e").alias("d", "v")
    )
    signs = (
        spark.range(JL_K)
        .select(F.col("id").alias("k"))
        .crossJoin(spark.range(N_DIMS).select(F.col("id").alias("d")))
        .select(
            "k",
            "d",
            F.expr(
                "CASE WHEN CAST(conv(substring(md5(CAST('jl,' || k || ',' "
                "|| d AS BINARY)), 1, 15), 16, 10) AS BIGINT) % 2 = 0 "
                "THEN 1 ELSE -1 END"
            ).alias("sgn"),
        )
    )
    proj = (
        flat.join(F.broadcast(signs), "d")
        .groupBy("vec_id", "k")
        .agg(F.sum(F.expr("sgn * v")).alias("y"))
    )
    fa, fb = flat.alias("a"), flat.alias("b")
    d2o = (
        fa.join(
            fb,
            (F.col("a.d") == F.col("b.d"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .agg(F.sum(F.expr("(a.v - b.v) * (a.v - b.v)")).alias("d2_orig"))
    )
    pa, pb = proj.alias("a"), proj.alias("b")
    d2p = (
        pa.join(
            pb,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .agg(F.sum(F.expr("(a.y - b.y) * (a.y - b.y)")).alias("d2_proj"))
    )
    return d2o.join(d2p, ["vec_a", "vec_b"]).select(
        "vec_a",
        "vec_b",
        "d2_orig",
        "d2_proj",
        F.expr(
            f"CASE WHEN d2_orig = 0 THEN NULL ELSE "
            f"CAST(d2_proj * 1000000 div ({JL_K} * d2_orig) AS BIGINT) END"
        ).alias("distortion_ppm"),
    )


# --------------------------- retrieval evaluation (NDCG@K / MRR / hits)

# Integer DCG discount literals: D(i) = round(1e6 / log2(i + 1)) for rank
# positions 1..TOP_K. CONSTANTS shared verbatim by both engines, so the
# float log2 never touches either plan — the same trick as the micro-nat
# literals, applied to the one place ranking metrics need a logarithm.
NDCG_DISCOUNT_PPM = {
    i: round(1_000_000 / math.log2(i + 1)) for i in range(1, TOP_K + 1)
}
# Graded relevance from truth position: gain(rnk) = TOP_K + 1 - rnk
# (5..1 for K=5). Ideal DCG is then a constant.
NDCG_IDEAL = sum(
    (TOP_K + 1 - i) * NDCG_DISCOUNT_PPM[i] for i in range(1, TOP_K + 1)
)


def _ndcg_oracle() -> str:
    """Compose the IVF ranker and brute-truth oracles as derived tables
    (the lsh_recall_audit pattern) and score the ranker with integer
    NDCG/MRR."""
    from . import ORACLES

    ranker = ORACLES["ann_ivf_topk"]
    truth = ORACLES["ann_brute_topk"]
    disc_rows = ", ".join(
        f"({i}, {d})" for i, d in NDCG_DISCOUNT_PPM.items()
    )
    return f"""
WITH ranker AS ({ranker}),
truth AS ({truth}),
disc(rnk, d) AS (VALUES {disc_rows}),
gains AS (
    SELECT query_id, neighbor_id,
           CAST({TOP_K} + 1 AS BIGINT) - rnk AS gain
    FROM truth
),
scored AS (
    SELECT r.query_id,
           coalesce(g.gain, 0) * d.d AS dg,
           CASE WHEN g.gain IS NOT NULL THEN r.rnk END AS hit_rnk
    FROM ranker r
    JOIN disc d ON d.rnk = r.rnk
    LEFT JOIN gains g ON g.query_id = r.query_id
                     AND g.neighbor_id = r.neighbor_id
)
SELECT query_id,
       CAST(count(hit_rnk) AS BIGINT) AS hits,
       CAST(coalesce(1000000 // min(hit_rnk), 0) AS BIGINT) AS mrr_ppm,
       CAST(sum(dg) * 1000000 // {NDCG_IDEAL} AS BIGINT) AS ndcg_ppm
FROM scored
GROUP BY query_id
"""


@query("retrieval_eval_ndcg", oracle=_ndcg_oracle)
def q_retrieval_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality EVALUATION harness: score the IVF ranker
    (`ann_ivf_topk`, scaled nprobe) against exact brute-force truth with
    the metrics a retrieval deployment actually tracks — hits@{TOP_K},
    MRR, and NDCG@{TOP_K} — per query, in EXACT integer ppm. Graded
    relevance comes from truth position (gain = {TOP_K}+1-rank); the DCG
    log2 discounts are integer LITERALS shared by both engines (the
    micro-nat trick), so the entire metric pipeline is value-hash-checked
    — unlike the recall-only verdicts (`lsh_recall_audit`,
    `ann_ivf_trained_topk`), this row pins position-sensitive quality.

    Scale: both inputs are result-sized (top-{TOP_K} per query); the
    scoring join keys on (query_id, neighbor_id) and the rollup is one
    query-keyed hash-agg — evaluation cost is O(queries x K), corpus
    cost is whatever the two rankers already pay."""
    ranker = q_ann_ivf_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", "rnk"
    )
    truth = q_ann_brute_topk(spark, sf_dir).select(
        "query_id",
        "neighbor_id",
        (F.lit(TOP_K + 1) - F.col("rnk")).alias("gain"),
    )
    disc = F.create_map(
        *[
            F.lit(x)
            for kv in NDCG_DISCOUNT_PPM.items()
            for x in kv
        ]
    )
    scored = (
        ranker.join(truth, ["query_id", "neighbor_id"], "left")
        .withColumn("d", disc[F.col("rnk")])
        .select(
            "query_id",
            (F.coalesce("gain", F.lit(0)) * F.col("d")).alias("dg"),
            F.when(F.col("gain").isNotNull(), F.col("rnk")).alias(
                "hit_rnk"
            ),
        )
    )
    return scored.groupBy("query_id").agg(
        F.count("hit_rnk").alias("hits"),
        F.coalesce(
            F.expr("1000000 div min(hit_rnk)"), F.lit(0)
        ).cast("long").alias("mrr_ppm"),
        F.expr(f"CAST(sum(dg) * 1000000 div {NDCG_IDEAL} AS BIGINT)").alias(
            "ndcg_ppm"
        ),
    )
