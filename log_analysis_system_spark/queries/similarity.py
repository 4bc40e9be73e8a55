"""Similarity search over the ``embeddings`` table (array<float>, 64 dims) —
training-data pipeline extension.

Numeric policy: embeddings are quantized to integer milli-units
(``floor(x * 1000)``) before any arithmetic, so dot products and norms are
exact bigints in both Spark and the DuckDB oracle; only the final
``dot / (sqrt(na) * sqrt(nb))`` runs in float, with identical operand values
and operation order on both engines. This removes the float-summation-order
nondeterminism that plagues cross-engine ANN comparisons.

Scale design: the brute-force variant is the correctness baseline (fine for a
broadcast-able query set); the LSH variant is the 100 TB path — random
hyperplanes bucket vectors so the candidate join is an equi-join on bucket id,
never a cross join against the full corpus.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.iterate import iterate
from ..operators.topn import grouped_topn
from ..sources.catalog import read_table
from . import query

N_QUERIES = 10  # vec_id < 10 serve as the query set
TOP_K = 5
NEARDUP_THRESHOLD = 0.45
N_PLANES = 8
N_DIMS = 64

# Quantize via double (float32 -> double is exact; double*1000 and floor are
# bit-identical across engines, unlike float32 arithmetic whose promotion
# rules differ).
_QUANT = "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"

# DuckDB quantization + flatten (one row per vector element, 1-based index).
_FLAT_CTE = """
q AS (
    SELECT vec_id,
           list_transform(embedding,
                          x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
    FROM embeddings
),
flat AS (
    SELECT vec_id, i, e[i] AS v
    FROM (SELECT vec_id, e, unnest(generate_series(1, len(e))) AS i FROM q)
),
norms AS (SELECT vec_id, sum(v * v) AS nrm FROM flat GROUP BY vec_id)
"""


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized embedding table, CACHED: the transform() quantization is a
    higher-order function (interpreted per row, outside whole-stage codegen),
    and every similarity query references the result 2-4 times — without the
    cache it re-runs per branch. At scale this is the materialized
    integer-vector projection an embedding index would store anyway;
    Spark's CacheManager dedups by logical plan across calls."""
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", F.expr(_QUANT).alias("e"))
    # norm precomputed ONCE per vector: pair-stage cosines otherwise re-fold
    # both norms per candidate pair (2 interpreted HOF folds x |pairs|).
    return q.withColumn("nrm", _norm("e")).cache()


def _dot(a: str, b: str) -> Column:
    """Exact integer dot product of two quantized arrays — zip_with + ordered
    fold. Measured note: an unrolled 64-term GetArrayItem sum was tried and
    is SLOWER (the huge expression tree trips codegen's method-size fallback
    into the tree-walk interpreter); the HOF fold is the better physical
    form, and norms are precomputed once per vector (see _quantized) so the
    fold runs once per pair, not three times."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS BIGINT), "
        f"(acc, v) -> acc + v)"
    )


def _norm(a: str) -> Column:
    """Exact integer squared norm (used once per vector, cached)."""
    return F.expr(
        f"aggregate(transform({a}, x -> x * x), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


# Driver-side bound for one broadcast block of the exact near-dup matmul:
# 131072 vectors x 64 dims x 8 B = 64 MiB per block, independent of corpus
# size. At sf<=0.1 the corpus fits one block, so the plan (and hash) is
# identical to the unblocked form.
EMB_BLOCK_ROWS = 131072

# Banded sign-LSH layout for the scalable near-dup candidate filter:
# NEARDUP_BANDS bands of NEARDUP_ROWS hyperplanes each. Collision prob for a
# pair at angle theta: 1 - (1 - (1 - theta/pi)^ROWS)^BANDS — at the 0.45
# threshold floor (theta ~ 63 deg) that is ~0.96, rising to ~1.0 for the
# high-cosine pairs real near-dup corpora contain.
NEARDUP_BANDS = 16
NEARDUP_ROWS = 4
_N_NEARDUP_PLANES = NEARDUP_BANDS * NEARDUP_ROWS


def _plane_coef(p: int, d: int) -> int:
    """md5-derived hyperplane coefficient in [-500, 500] — the same formula
    the oracle computes in SQL (low 60 bits of md5('p,d') % 1001 - 500), so
    both engines share every plane exactly."""
    import hashlib

    h = hashlib.md5(f"{p},{d}".encode()).hexdigest()[:15]
    return int(h, 16) % 1001 - 500


def _band_signatures(vecs: DataFrame) -> DataFrame:
    """(vec_id, band, sig) — one row per vector per band, where ``sig``
    packs the sign bits of NEARDUP_ROWS hyperplane projections. The
    plane projections are exact int64 dots against the md5-derived plane
    matrix via the Arrow matmul kernel (`_int_dots_udf` — round-11: the
    former form folded a baked 64x64 literal matrix with interpreted
    HOF lambdas, ~8M interpreted multiply-adds per 2000 vectors, twice
    per self-join); sign-thresholding and bit-packing stay small JVM
    expressions over the 64 returned dots."""
    planes = [
        [_plane_coef(p, d) for d in range(N_DIMS)]
        for p in range(_N_NEARDUP_PLANES)
    ]
    bits = (
        "transform(__pdots, d -> CASE WHEN d > 0 THEN 1L ELSE 0L END)"
    )
    sigs = (
        f"transform(sequence(0, {NEARDUP_BANDS - 1}), j -> "
        + " + ".join(
            f"__bits[j * {NEARDUP_ROWS} + {r}] * {1 << (NEARDUP_ROWS - 1 - r)}L"
            for r in range(NEARDUP_ROWS)
        )
        + ")"
    )
    return (
        vecs.withColumn("__pdots", _int_dots_udf(planes)("e"))
        .withColumn("__bits", F.expr(bits))
        .select("vec_id", F.posexplode(F.expr(sigs)).alias("band", "sig"))
    )


@query(
    "ann_brute_topk",
    oracle=f"""
WITH {_FLAT_CTE},
dots AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, sum(a.v * b.v) AS dot
    FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < {N_QUERIES}
                            AND a.vec_id <> b.vec_id
    GROUP BY 1, 2
),
scored AS (
    SELECT d.query_id, d.neighbor_id,
           round(CAST(d.dot AS DOUBLE) /
                 (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))),
                 6) AS cosine
    FROM dots d
    JOIN norms na ON na.vec_id = d.query_id
    JOIN norms nb ON nb.vec_id = d.neighbor_id
),
ranked AS (
    SELECT *, CAST(row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
    FROM scored
)
SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= {TOP_K}
""",
)
def q_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the query set (vec_id < N) is collected
    (bounded, the model-collect class) and its matrix drives one exact
    int64 Arrow matmul pass over the corpus (`_int_dots_udf` — guide
    §4.2); each corpus row emits its per-query dots, posexplode +
    a broadcast (qi, query_id, qn) lookup attach the query metadata, and
    cosine (the only float op) stays a JVM round/sqrt/divide expression,
    so values are bit-identical to the former per-pair HOF fold — which
    cost ~64 interpreted multiply-adds per pair (round-11 rewrite)."""
    vecs = _quantized(spark, sf_dir)
    q_rows = sorted(
        (int(r["vec_id"]), [int(x) for x in r["e"]], int(r["nrm"]))
        for r in vecs.where(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "e", "nrm")
        .collect()
    )
    if not q_rows:
        return spark.createDataFrame(
            [],
            "query_id bigint, neighbor_id bigint, cosine double, rnk bigint",
        )
    qmeta = _local_df(
        spark,
        [(i, qid, qn) for i, (qid, _, qn) in enumerate(q_rows)],
        "qi int, query_id bigint, qn bigint",
    )
    scored = (
        vecs.withColumn(
            "__dots", _int_dots_udf([qe for _, qe, _ in q_rows])("e")
        )
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("nrm").alias("nn"),
            F.posexplode("__dots").alias("qi", "dot"),
        )
        .join(F.broadcast(qmeta), "qi")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("qn").cast("double"))
                    * F.sqrt(F.col("nn").cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
    )
    return grouped_topn(
        scored,
        ["query_id"],
        [F.desc("cosine"), F.asc("neighbor_id")],
        TOP_K,
        rank_col="rnk",
    ).withColumn("rnk", F.col("rnk").cast("long"))


@query(
    "embedding_near_dup",
    oracle=f"""
WITH {_FLAT_CTE},
planes AS (
    SELECT p, d,
           CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || ',' || CAST(d AS VARCHAR)), 1, 15))
                AS BIGINT) % 1001 - 500 AS coef
    FROM range({_N_NEARDUP_PLANES}) t1(p), range({N_DIMS}) t2(d)
),
proj AS (
    SELECT f.vec_id, pl.p, sum(pl.coef * f.v) AS s
    FROM flat f JOIN planes pl ON pl.d = f.i - 1
    GROUP BY 1, 2
),
bands AS (
    SELECT vec_id, p // {NEARDUP_ROWS} AS band,
           CAST(sum(CASE WHEN s > 0
                         THEN power(2, {NEARDUP_ROWS - 1} - (p % {NEARDUP_ROWS}))
                         ELSE 0 END) AS BIGINT) AS sig
    FROM proj GROUP BY 1, 2
),
cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
),
dots AS (
    SELECT c.vec_a, c.vec_b, sum(a.v * b.v) AS dot
    FROM cand c
    JOIN flat a ON a.vec_id = c.vec_a
    JOIN flat b ON b.vec_id = c.vec_b AND b.i = a.i
    GROUP BY 1, 2
),
scored AS (
    SELECT d.vec_a, d.vec_b,
           round(CAST(d.dot AS DOUBLE) /
                 (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))),
                 6) AS cosine
    FROM dots d
    JOIN norms na ON na.vec_id = d.vec_a
    JOIN norms nb ON nb.vec_id = d.vec_b
)
SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= {NEARDUP_THRESHOLD}
""",
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicates, banded-LSH candidates + exact
    integer rescore — the sub-quadratic 100 TB path.

    Candidates come from {NEARDUP_BANDS} bands of {NEARDUP_ROWS} sign-of-
    hyperplane bits each (md5-derived planes shared exactly with the
    oracle): two vectors are candidates iff some band signature collides.
    Collision probability at the 0.45 threshold floor is ~0.96 and rises
    toward 1 for the high-cosine pairs real near-dup corpora contain; the
    oracle applies the IDENTICAL banding, so the gate compares exactly.
    Candidates are then rescored with the exact int64 dot product and the
    canonical round-then-filter — values are bit-identical to the exact
    all-pairs form for every emitted pair.

    Scale shape: signature computation is one narrow map stage
    (`_band_signatures`' Arrow matmul kernel against the md5-derived plane
    matrix); the band join is an equi-join on (band, sig) whose shuffle
    carries 12-byte rows, never embedding arrays; the rescore joins fetch
    arrays for CANDIDATE pairs only. No driver
    collect, no crossJoin, no O(n^2) stage. `embedding_near_dup_exact`
    keeps the all-pairs blocked-matmul as the verification kernel."""
    vecs = _quantized(spark, sf_dir)
    sigs = _band_signatures(vecs)
    cand = (
        sigs.select("band", "sig", F.col("vec_id").alias("vec_a"))
        .join(
            sigs.select("band", "sig", F.col("vec_id").alias("vec_b")),
            ["band", "sig"],
        )
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    a = vecs.select(
        F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = vecs.select(
        F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    scored = cand.join(a, "vec_a").join(b, "vec_b").select(
        "vec_a",
        "vec_b",
        F.round(
            _dot("ea", "eb").cast("double")
            / (
                F.sqrt(F.col("na").cast("double"))
                * F.sqrt(F.col("nb").cast("double"))
            ),
            6,
        ).alias("cosine"),
    )
    return scored.where(F.col("cosine") >= NEARDUP_THRESHOLD)


def _near_dup_pairs_exact(vecs: DataFrame, block_rows: int) -> DataFrame:
    """All-pairs candidate generation for ``embedding_near_dup_exact``.

    The corpus is ranked once (distributed ``global_rank``) and walked in
    contiguous rank ranges of exactly ``block_rows`` vectors — a HARD
    per-block bound, unlike id-hash blocking, which a skewed id
    distribution can overflow. Each block is collected (bounded), broadcast,
    and matmul'd against the full distributed corpus inside ``mapInPandas``.
    A pair (a, b), a < b, is emitted exactly once: by the pass that
    broadcasts b's block. Yields slim (vec_a, vec_b, dot) rows only — the
    caller re-scores and filters JVM-side. Returns an empty frame for an
    empty corpus."""
    import numpy as np

    from ..operators.sampling import global_rank

    spark = vecs.sparkSession
    schema = "vec_a long, vec_b long, dot long"
    slim = vecs.select("vec_id", "e", "nrm")
    n = slim.count()
    if n == 0:
        return spark.createDataFrame([], schema)
    th_pre = NEARDUP_THRESHOLD - 6e-7

    def block_gen(b_ids, b_e, b_nr):
        def gen(batches):
            import numpy as np
            import pandas as pd

            ids_blk, e_blk, nr_blk = b_ids.value, b_e.value, b_nr.value
            for pdf in batches:
                if pdf.empty:
                    continue
                A = np.stack(
                    [np.asarray(x, dtype="int64") for x in pdf["e"].values]
                )
                aid = pdf["vec_id"].to_numpy("int64")
                an = np.sqrt((A * A).sum(axis=1).astype("float64"))
                D = A @ e_blk.T  # exact int64
                C = D / (an[:, None] * nr_blk[None, :])
                mask = (C >= th_pre) & (aid[:, None] < ids_blk[None, :])
                ai, bj = np.nonzero(mask)
                yield pd.DataFrame(
                    {"vec_a": aid[ai], "vec_b": ids_blk[bj], "dot": D[ai, bj]}
                )

        return gen

    # Any deterministic disjoint cover of the corpus in <= block_rows
    # chunks yields the same pair set (each pair is emitted by the one
    # pass broadcasting b's block). A corpus that fits ONE block skips
    # the distributed ranking machinery outright (round-11: global_rank
    # is a 2-shuffle range-partition + offset join — pure overhead when
    # the whole corpus is a single bounded collect anyway); beyond one
    # block the contiguous rank ranges run unchanged.
    if n <= block_rows:
        ranked = slim.withColumn("__rnk", F.lit(0))
    else:
        ranked = global_rank(slim, [F.asc("vec_id")], rank_col="__rnk")
    parts = []
    for lo in range(0, n, block_rows):
        block = ranked.where(
            F.col("__rnk").between(lo, lo + block_rows - 1)
        ).collect()  # hard bound: exactly <= block_rows vectors
        ids = np.array([r["vec_id"] for r in block], dtype="int64")
        E = np.stack([np.asarray(r["e"], dtype="int64") for r in block])
        nr = np.sqrt(np.array([r["nrm"] for r in block], dtype="float64"))
        gen = block_gen(
            spark.sparkContext.broadcast(ids),
            spark.sparkContext.broadcast(E),
            spark.sparkContext.broadcast(nr),
        )
        parts.append(
            vecs.select("vec_id", "e").mapInPandas(gen, schema)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "embedding_near_dup_exact",
    oracle=f"""
WITH {_FLAT_CTE},
dots AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, sum(a.v * b.v) AS dot
    FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
    GROUP BY 1, 2
),
scored AS (
    SELECT d.vec_a, d.vec_b,
           round(CAST(d.dot AS DOUBLE) /
                 (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))),
                 6) AS cosine
    FROM dots d
    JOIN norms na ON na.vec_id = d.vec_a
    JOIN norms nb ON nb.vec_id = d.vec_b
)
SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= {NEARDUP_THRESHOLD}
""",
)
def q_embedding_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs near-duplicates by blocked broadcast matmul — the
    verification kernel for `embedding_near_dup` (which prefilters with
    banded LSH and inherits this query's rescore math).

    A crossJoin formulation materializes |N|^2 rows each dragging two
    64-element arrays through the join — measured 6x slower than the
    arithmetic itself. Instead the corpus is walked in driver-bounded
    contiguous rank blocks of ``EMB_BLOCK_ROWS`` vectors (~70 MB each):
    each block is broadcast and one distributed pass computes an exact
    int64 ``A @ block.T`` per Arrow batch, emitting only pairs whose
    unrounded cosine clears ``threshold - 6e-7`` (the widest value HALF_UP
    6-dp rounding could pull up). Driver memory never holds more than one
    block, but total compute is O(n^2/2) dot products BY DESIGN — run it to
    validate the LSH path's recall on a sample, not as the production path."""
    vecs = _quantized(spark, sf_dir)
    pairs = _near_dup_pairs_exact(vecs, EMB_BLOCK_ROWS)
    na = vecs.select(F.col("vec_id").alias("vec_a"), F.col("nrm").alias("na"))
    nb = vecs.select(F.col("vec_id").alias("vec_b"), F.col("nrm").alias("nb"))
    scored = pairs.join(na, "vec_a").join(nb, "vec_b").select(
        "vec_a",
        "vec_b",
        F.round(
            F.col("dot").cast("double")
            / (
                F.sqrt(F.col("na").cast("double"))
                * F.sqrt(F.col("nb").cast("double"))
            ),
            6,
        ).alias("cosine"),
    )
    return scored.where(F.col("cosine") >= NEARDUP_THRESHOLD)


# Deterministic pseudo-random hyperplane coefficients shared with the oracle:
# coef(p, d) = (low-60-bits(md5(p ',' d)) % 1001) - 500   ∈ [-500, 500]
_COEF_CTE = f"""
planes AS (
    SELECT p, d,
           CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || ',' || CAST(d AS VARCHAR)), 1, 15))
                AS BIGINT) % 1001 - 500 AS coef
    FROM range({N_PLANES}) t1(p), range({N_DIMS}) t2(d)
)
"""


@query(
    "ann_lsh_topk",
    oracle=f"""
WITH {_FLAT_CTE},
{_COEF_CTE.strip().rstrip()},
proj AS (
    SELECT f.vec_id, pl.p, sum(pl.coef * f.v) AS s
    FROM flat f JOIN planes pl ON pl.d = f.i - 1
    GROUP BY 1, 2
),
buckets AS (
    SELECT vec_id,
           sum(CASE WHEN s > 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS bucket
    FROM proj GROUP BY vec_id
),
cand AS (
    SELECT qa.vec_id AS query_id, qb.vec_id AS neighbor_id
    FROM buckets qa JOIN buckets qb
      ON qa.bucket = qb.bucket AND qa.vec_id < {N_QUERIES}
     AND qa.vec_id <> qb.vec_id
),
dots AS (
    SELECT c.query_id, c.neighbor_id, sum(a.v * b.v) AS dot
    FROM cand c
    JOIN flat a ON a.vec_id = c.query_id
    JOIN flat b ON b.vec_id = c.neighbor_id AND b.i = a.i
    GROUP BY 1, 2
),
scored AS (
    SELECT d.query_id, d.neighbor_id,
           round(CAST(d.dot AS DOUBLE) /
                 (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))),
                 6) AS cosine
    FROM dots d
    JOIN norms na ON na.vec_id = d.query_id
    JOIN norms nb ON nb.vec_id = d.neighbor_id
),
ranked AS (
    SELECT *, CAST(row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
    FROM scored
)
SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= {TOP_K}
""",
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (the 100 TB scale path): sign-of-random-hyperplane
    bucketing (8 planes → 256 buckets), candidate = same-bucket equi-join,
    exact cosine + top-k only within the bucket. Hyperplane coefficients are
    md5-derived so Spark and the oracle share them exactly.

    At scale: the bucket join shuffles (vec_id, bucket) pairs only; each
    bucket holds ~N/256 vectors, so the per-bucket work stays bounded. Recall
    is tunable via planes/bands (multi-probe: OR of several plane sets)."""
    vecs = _quantized(spark, sf_dir)
    planes = (
        spark.range(N_PLANES)
        .select(F.col("id").alias("p"))
        .crossJoin(spark.range(N_DIMS).select(F.col("id").alias("d")))
        .select(
            "p",
            "d",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(",", F.col("p").cast("string"), F.col("d").cast("string")).cast(
                                "binary"
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % 1001
                - 500
            ).alias("coef"),
        )
    )
    # Collect the tiny (8x64) plane table and bake it into a literal array so
    # the projection is a pure codegen expression: proj_p = sum_d coef[p][d]*e[d].
    # (Round-11 note: the Arrow matmul kernel was tried here and measured
    # 0.57x — at only {N_PLANES} planes the Python-boundary cost exceeds
    # the HOF fold it replaces, and `bucketed` feeds both join sides so
    # the ArrowEvalPython stage ran twice. The kernel stays where the
    # plane count is 64 and the input corpus-sized: `_band_signatures`.)
    coef_rows = planes.orderBy("p", "d").collect()
    coefs = [[0] * N_DIMS for _ in range(N_PLANES)]
    for r in coef_rows:
        coefs[r["p"]][r["d"]] = r["coef"]
    bucket_expr = " + ".join(
        f"(CASE WHEN aggregate(zip_with(e, array({', '.join(f'CAST({c} AS BIGINT)' for c in coefs[p])}), "
        f"(x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v) > 0 "
        f"THEN CAST({1 << p} AS BIGINT) ELSE 0 END)"
        for p in range(N_PLANES)
    )
    bucketed = vecs.withColumn("bucket", F.expr(bucket_expr))
    qa = bucketed.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"),
        F.col("nrm").alias("qn"), "bucket"
    )
    qb = bucketed.select(
        F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ne"),
        F.col("nrm").alias("nn"), "bucket"
    )
    cand = F.broadcast(qa).join(qb, "bucket").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot("qe", "ne").cast("double")
            / (
                F.sqrt(F.col("qn").cast("double"))
                * F.sqrt(F.col("nn").cast("double"))
            ),
            6,
        ).alias("cosine"),
    )
    return grouped_topn(
        scored,
        ["query_id"],
        [F.desc("cosine"), F.asc("neighbor_id")],
        TOP_K,
        rank_col="rnk",
    ).withColumn("rnk", F.col("rnk").cast("long"))


# ------------------------------------------------------------------- IVF

CENT_MOD = 32   # vec_id % 32 == 0 → centroid set (scale-proportional)
N_PROBE = 4     # FLOOR on cells probed per query — see scaled_n_probe

# nprobe must SCALE with the cell count: with K cells and a constant
# nprobe, the probed corpus fraction is nprobe/K, so recall collapses as
# the corpus (and with CENT_MOD-proportional centroids, K) grows —
# measured 0.70 → 0.34 recall@5 from sf0.01 (16 cells) to sf0.1
# (63 cells) at fixed nprobe=4. Probing a constant FRACTION of cells
# pins the operating point instead: recall stays on the sf0.01 curve
# while per-query ADC cost stays ~PROBE_CELL_FRAC of the corpus. The
# fraction is exactly representable in binary (2^-2) so the SQL oracle's
# ceil(count * 0.25) and the Python (n + 3) // 4 agree for every count.
# A production deployment tunes the fraction DOWN as K grows past
# ~sqrt(N) (more, smaller cells); the N_PROBE floor keeps tiny corpora
# effectively exhaustive.
PROBE_CELL_FRAC = 0.25


def scaled_n_probe(n_cells: int) -> int:
    """Cells to probe for a corpus with ``n_cells`` IVF cells."""
    return max(N_PROBE, (n_cells + 3) // 4)


@query(
    "ann_ivf_topk",
    oracle=f"""
WITH {_FLAT_CTE},
cents AS (SELECT vec_id AS cell_id, e FROM q WHERE vec_id % {CENT_MOD} = 0),
cflat AS (
    SELECT cell_id, i, e[i] AS v
    FROM (SELECT cell_id, e, unnest(generate_series(1, len(e))) AS i FROM cents)
),
cnorms AS (SELECT cell_id, sum(v * v) AS nrm FROM cflat GROUP BY cell_id),
affinity AS (
    SELECT f.vec_id, c.cell_id,
           round(CAST(sum(f.v * c.v) AS DOUBLE) /
                 (sqrt(CAST(any_value(nv.nrm) AS DOUBLE)) *
                  sqrt(CAST(any_value(nc.nrm) AS DOUBLE))), 6) AS aff
    FROM flat f
    JOIN cflat c ON c.i = f.i
    JOIN norms nv ON nv.vec_id = f.vec_id
    JOIN cnorms nc ON nc.cell_id = c.cell_id
    GROUP BY 1, 2
),
ranked_cells AS (
    SELECT vec_id, cell_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY aff DESC, cell_id) AS crnk
    FROM affinity
),
assigned AS (SELECT vec_id, cell_id FROM ranked_cells WHERE crnk = 1),
probes AS (
    SELECT vec_id AS query_id, cell_id FROM ranked_cells
    WHERE vec_id < {N_QUERIES}
      AND crnk <= (SELECT greatest({N_PROBE},
                                   CAST(ceil(count(*) * {PROBE_CELL_FRAC})
                                        AS BIGINT))
                   FROM cents)
),
cand AS (
    SELECT p.query_id, a.vec_id AS neighbor_id
    FROM probes p JOIN assigned a ON a.cell_id = p.cell_id
    WHERE a.vec_id <> p.query_id
),
dots AS (
    SELECT c.query_id, c.neighbor_id, sum(a.v * b.v) AS dot
    FROM (SELECT DISTINCT query_id, neighbor_id FROM cand) c
    JOIN flat a ON a.vec_id = c.query_id
    JOIN flat b ON b.vec_id = c.neighbor_id AND b.i = a.i
    GROUP BY 1, 2
),
scored AS (
    SELECT d.query_id, d.neighbor_id,
           round(CAST(d.dot AS DOUBLE) /
                 (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))),
                 6) AS cosine
    FROM dots d
    JOIN norms na ON na.vec_id = d.query_id
    JOIN norms nb ON nb.vec_id = d.neighbor_id
),
ranked AS (
    SELECT *, CAST(row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
    FROM scored
)
SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= {TOP_K}
""",
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN — the coarse-quantizer scale path.

    Cells = a deterministic centroid subset (vec_id % CENT_MOD == 0), which
    keeps the coarse quantizer SQL-expressible for the oracle;
    `ann_ivf_trained_topk` runs the same search over k-means-trained
    centroids and gates recall. Every corpus vector is assigned to its
    max-cosine cell; a query probes its scaled_n_probe(|cells|) nearest
    cells (probes ∝ cells so the probed corpus fraction is
    scale-invariant; the oracle computes the same greatest/ceil threshold
    from its cents CTE) and brute-forces only those cells' members.

    Scale design: centroids are tiny and broadcast; assignment is a
    broadcast-join + per-vector argmax (window partitioned by vec_id — no
    skew, no global sort); the probe join is an equi-join on cell_id, so the
    shuffle carries (vec_id, cell_id) pairs and per-cell work is ~N/K. This
    is how IVF indexes (FAISS-style) decompose onto a cluster: cell = shuffle
    partition. Not in the reference (no vector ops there) — extension op."""
    vecs = _quantized(spark, sf_dir)
    cents = vecs.where(F.col("vec_id") % CENT_MOD == 0).select(
        F.col("vec_id").alias("cell_id"), F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    return _ivf_search(vecs, cents)


def _ivf_search(
    vecs: DataFrame, cents: DataFrame, n_probe: int | None = None
) -> DataFrame:
    """IVF search body, parameterized by the centroid table
    (cell_id, ce: bigint[], cn: bigint). See q_ann_ivf_topk for the plan
    commentary — this is a pure extraction so trained and subset coarse
    quantizers share one implementation.

    ``n_probe`` defaults to scaled_n_probe(|cents|) — probes ∝ cells so
    the probed corpus fraction (and hence recall) is scale-invariant.
    The |cents| count is a bounded scalar collect over the K-row centroid
    table (index-sized, never corpus-sized)."""
    from pyspark.sql import Window

    if n_probe is None:
        n_probe = scaled_n_probe(cents.count())

    # Corpus-side assignment is projection-only against the baked centroid
    # literals (`_ivf_assign_top1`) — the round-10 rewrite of the former
    # corpus x K argmax window, whose shuffle + cache materialization were
    # the dominant cost of this search (guide §2.4). The top-n_probe
    # ranking survives only on the BOUNDED query side below, where the
    # crossJoin + window touch N_QUERIES x K slim rows.
    assigned = _ivf_assign_top1(vecs, cents).select(
        F.col("vec_id").alias("neighbor_id"), "cell_id"
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("aff"), F.asc("cell_id"))
    probes = (
        vecs.where(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "cell_id",
            F.round(
                _dot("e", "ce").cast("double")
                / (
                    F.sqrt(F.col("nrm").cast("double"))
                    * F.sqrt(F.col("cn").cast("double"))
                ),
                6,
            ).alias("aff"),
        )
        .withColumn("crnk", F.row_number().over(w))
        .where(F.col("crnk") <= n_probe)
        .select(F.col("vec_id").alias("query_id"), "cell_id")
    )
    # (query, neighbor) pairs are already unique — each neighbor lives in
    # exactly one cell (crnk == 1) and a query probes a cell at most once —
    # so no dedup shuffle is needed. Arrays come back only for the candidate
    # set: query side broadcast, neighbor side an equi-join on vec_id.
    qvecs = vecs.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    nvecs = vecs.select(
        F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ne"),
        F.col("nrm").alias("nn"),
    )
    cand = (
        probes.join(assigned, "cell_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(qvecs), "query_id")
        .join(nvecs, "neighbor_id")
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot("qe", "ne").cast("double")
            / (
                F.sqrt(F.col("qn").cast("double"))
                * F.sqrt(F.col("nn").cast("double"))
            ),
            6,
        ).alias("cosine"),
    )
    return grouped_topn(
        scored,
        ["query_id"],
        [F.desc("cosine"), F.asc("neighbor_id")],
        TOP_K,
        rank_col="rnk",
    ).withColumn("rnk", F.col("rnk").cast("long"))


# ------------------------------------------------------- trained IVF (k-means)

KMEANS_ITERS = 3
RECALL_MIN = 0.5  # aggregate gate: recall@5 over all queries >= 50%


# Max centroids handled by the model-bounded assignment fast path
# (exact integer dot products against the collected centroid matrix via an
# Arrow-vectorized numpy kernel — guide §4.2 — with cosines, rounding and
# the argmax in JVM expressions). The centroid table IS the trained model —
# collecting it is the same bounded-model collect the PQ codebooks and LSH
# hyperplanes already do — but its row count grows with the corpus via the
# CENT_MOD stride, so past this bound the distributed crossJoin+window
# shape takes over (a 100 TB deployment caps K near sqrt(N) and tunes
# this bound with it).
BAKE_MAX_CELLS = 4096


def _cent_rows(cents: DataFrame) -> list[tuple[int, list[int], int]]:
    """Collect a (cell_id, ce, cn) centroid table, ascending cell_id —
    bounded by the centroid count (the model), never the corpus."""
    return sorted(
        (int(r["cell_id"]), [int(x) for x in r["ce"]], int(r["cn"]))
        for r in cents.select("cell_id", "ce", "cn").collect()
    )


def _local_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """One-slice local DataFrame for MODEL-sized tables (centroids,
    codebooks, query sets). The default ``createDataFrame`` parallelizes
    driver rows into defaultParallelism slices, so every downstream
    action schedules 32 near-empty tasks and a write commits 32 part
    files — measured 1.3 s vs 0.44 s for a 63-row model write
    (guide §6 "small files hurt twice"). One slice = one task, one file."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


# Per-round training reduction: rows collected per Lloyd round are
# bounded by (input partitions) x (cells). Below this bound the round's
# member reduction runs as one shuffle-free mapInPandas partial-sum pass
# merged on the driver; above it the per-cell means come from the JVM
# hash-aggregate instead (same integers either way).
TRAIN_MERGE_MAX_ROWS = 1 << 22

_CELL_PARTIALS_SCHEMA = "cell_id bigint, cnt bigint, sums array<bigint>"


def _cell_partials_fn():
    """mapInPandas kernel over (cell_id, e): exact per-cell integer
    (member count, per-dimension sums) partials — at most one output row
    per cell per partition. Pure int64 addition (milli-unit entries keep
    corpus-scale sums far below 2^63), so the partials merge to the same
    integers the JVM hash-aggregate produced regardless of partitioning
    (guide §2.3 "aggregate before you shuffle" — here the aggregate
    replaces the shuffle entirely)."""

    def gen(batches):
        import numpy as np
        import pandas as pd

        cnts: dict[int, int] = {}
        sums: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cells = pdf["cell_id"].to_numpy("int64")
            ev = np.array(pdf["e"].tolist(), dtype=np.int64)
            for c in np.unique(cells):
                m = cells == c
                key = int(c)
                cnts[key] = cnts.get(key, 0) + int(m.sum())
                s = ev[m].sum(axis=0, dtype=np.int64)
                sums[key] = sums[key] + s if key in sums else s
        if cnts:
            yield pd.DataFrame(
                {
                    "cell_id": list(cnts),
                    "cnt": [cnts[c] for c in cnts],
                    "sums": [[int(v) for v in sums[c]] for c in cnts],
                }
            )

    return gen


def _merge_floored_means(rows) -> dict[int, list[int]]:
    """Driver-side merge of (cell_id, cnt, sums) partials into the
    per-cell floored-mean vectors: exact integer addition, then
    ``floor(CAST(sum AS DOUBLE) / count)`` — ``float(int)/int`` and
    ``math.floor`` are the identical correctly-rounded IEEE-754 ops the
    JVM aggregate ran, so the means are bit-identical."""
    import math

    cnts: dict[int, int] = {}
    sums: dict[int, list[int]] = {}
    for r in rows:
        c = int(r["cell_id"])
        cnts[c] = cnts.get(c, 0) + int(r["cnt"])
        s = [int(v) for v in r["sums"]]
        sums[c] = [a + b for a, b in zip(sums[c], s)] if c in sums else s
    return {
        c: [int(math.floor(float(v) / cnts[c])) for v in sums[c]]
        for c in cnts
    }


def _int_dots_udf(cent_matrix: list[list[int]]):
    """Arrow-vectorized exact integer dot products of a quantized-vector
    column against the collected K x D centroid matrix: one int64 numpy
    matmul per batch (exact — milli-unit entries bound |dot| far below
    2^63, and integer matmul has no rounding), returning array<bigint> of
    K dots per row. All float arithmetic (sqrt / divide / round) stays in
    JVM expressions so cross-engine float semantics are untouched; this
    kernel only replaces the interpreted per-element HOF fold that
    dominated assignment cost (guide §4.2: batch work to numpy)."""
    import numpy as np

    cm = np.array(cent_matrix, dtype=np.int64)

    @F.pandas_udf("array<bigint>")
    def dots(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for e in batches:
            if len(e) == 0:
                yield pd.Series([], dtype=object)
                continue
            ev = np.array(e.tolist(), dtype=np.int64)
            yield pd.Series(list(ev @ cm.T))

    return dots


def _argmax_cell_exprs(
    rows: list[tuple[int, list[int], int]], nrm: str = "nrm"
) -> tuple[str, str]:
    """(affs, cids) SQL snippets for max-cosine assignment from a __dots
    column (produced by `_int_dots_udf`): ``affs`` computes the 6-dp
    rounded cosines (bind as __affs); ``cids`` is the cell-id literal
    array the caller indexes with
    array_position(__affs, array_max(__affs)). The argmax tie-break is
    array_position's FIRST maximum — cells are baked ascending by id, so
    ties resolve to the lowest cell_id, exactly the
    (aff DESC, cell_id ASC) row_number the window form uses; Spark's
    NaN-greatest ordering is shared by array_max and ORDER BY DESC, so
    the two forms agree on every input."""
    cids = "array({})".format(", ".join(f"{cid}L" for cid, _, _ in rows))
    cn = "array({})".format(", ".join(f"{n}L" for _, _, n in rows))
    affs = (
        f"transform(sequence(0, {len(rows) - 1}), j -> "
        f"round(CAST(element_at(__dots, j + 1) AS DOUBLE) / "
        f"(sqrt(CAST({nrm} AS DOUBLE)) * "
        f"sqrt(CAST(element_at({cn}, j + 1) AS DOUBLE))), 6))"
    )
    return affs, cids


def train_ivf_centroids(vecs: DataFrame, iters: int = KMEANS_ITERS) -> DataFrame:
    """DataFrame-native Lloyd's k-means over the quantized corpus.

    Init = the deterministic vec_id % CENT_MOD subset (the coarse quantizer
    `ann_ivf_topk` uses directly); each round every vector is assigned its
    max-cosine centroid and centroids move to the element-wise floored mean
    of their members. All arithmetic is integer (sums of milli-unit
    bigints; the one division is exact in double), so training is
    bit-deterministic and partitioning-independent. Empty cells keep their
    previous centroid.

    Physical shape (round-10 rewrite, guide §2.4 "remove shuffles
    outright" + §4.2 "batch work to numpy"): the K-row centroid table is
    the MODEL of this trainer, so each Lloyd round runs ONE job — exact
    integer dots against the collected centroid matrix via the
    Arrow-vectorized `_int_dots_udf` kernel, cosine/round/argmax in JVM
    expressions, feeding a single (cell, per-dim floored mean)
    hash-aggregate collected back as the next round's model (K x D ints).
    The previous form spent 4 shuffles + an eager localCheckpoint per
    round (broadcast crossJoin -> corpus x K argmax window -> explode ->
    two-level mean agg -> join-back); measured 9.0 s -> ~3 s at sf0.1.
    Beyond BAKE_MAX_CELLS centroids the distributed join form
    (_train_ivf_centroids_joins) takes over unchanged."""
    init = vecs.where(F.col("vec_id") % CENT_MOD == 0).select(
        F.col("vec_id").alias("cell_id"), F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    cents = _cent_rows(init)
    if not cents or len(cents) > BAKE_MAX_CELLS:
        return _train_ivf_centroids_joins(vecs, iters)
    ndims = len(cents[0][1])
    spark = vecs.sparkSession
    # Partials per round are bounded by partitions x cells; below the
    # bound the reduction is one shuffle-free mapInPandas pass merged on
    # the driver (round-11: the former 64-column floored-mean aggregate
    # cost ~0.8 s of analysis/codegen PER ROUND against ~0.15 s of
    # execution — the whole round now plans in milliseconds).
    driver_merge = (
        vecs.rdd.getNumPartitions() * len(cents) <= TRAIN_MERGE_MAX_ROWS
    )
    for _ in range(iters):
        affs, cids = _argmax_cell_exprs(cents)
        assigned = (
            vecs.withColumn("__dots", _int_dots_udf([ce for _, ce, _ in cents])("e"))
            .withColumn("__affs", F.expr(affs))
            .select(
                F.expr(
                    "element_at(" + cids + ", "
                    "CAST(array_position(__affs, array_max(__affs)) AS INT))"
                ).alias("cell_id"),
                "e",
            )
        )
        # Identical floored-mean arithmetic either way: per (cell, d)
        # floor(CAST(sum AS DOUBLE) / count) over exact integer sums.
        if driver_merge:
            new_ce = _merge_floored_means(
                assigned.mapInPandas(
                    _cell_partials_fn(), _CELL_PARTIALS_SCHEMA
                ).collect()
            )
        else:
            moved = assigned.groupBy("cell_id").agg(
                F.array(
                    *[
                        F.floor(
                            F.sum(F.col("e")[d]).cast("double")
                            / F.count(F.lit(1))
                        ).cast("long")
                        for d in range(ndims)
                    ]
                ).alias("ce")
            )
            new_ce = {
                int(r["cell_id"]): [int(v) for v in r["ce"]]
                for r in moved.collect()
            }
        cents = [
            (
                cid,
                new_ce.get(cid, ce),
                # cn = exact integer sum of squares (Python int == bigint)
                sum(v * v for v in new_ce[cid]) if cid in new_ce else cn,
            )
            for cid, ce, cn in cents
        ]
    return _local_df(
        spark,
        [(cid, ce, cn) for cid, ce, cn in cents],
        "cell_id bigint, ce array<bigint>, cn bigint",
    )


def _train_ivf_centroids_joins(
    vecs: DataFrame, iters: int = KMEANS_ITERS
) -> DataFrame:
    """Distributed Lloyd rounds — the beyond-BAKE_MAX_CELLS form of
    `train_ivf_centroids` (`_assign_window`, then a per-(cell,dim)
    floored-mean aggregate, on the `iterate` loop). Bit-identical output
    to the baked fast path."""
    cents = vecs.where(F.col("vec_id") % CENT_MOD == 0).select(
        F.col("vec_id").alias("cell_id"), F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )

    def lloyd(cents: DataFrame) -> DataFrame:
        memb = vecs.join(_assign_window(vecs, cents), "vec_id").selectExpr(
            "cell_id", "posexplode(e) AS (d, val)"
        )
        means = memb.groupBy("cell_id", "d").agg(
            F.floor(
                F.sum("val").cast("double") / F.count(F.lit(1))
            ).cast("long").alias("m")
        )
        moved = means.groupBy("cell_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "m"))),
                lambda s: s["m"],
            ).alias("ce")
        ).withColumn("cn", _norm("ce"))
        return (
            cents.select(
                "cell_id",
                F.col("ce").alias("old_ce"),
                F.col("cn").alias("old_cn"),
            )
            .join(moved, "cell_id", "left")
            .select(
                "cell_id",
                F.coalesce("ce", "old_ce").alias("ce"),
                F.coalesce("cn", "old_cn").alias("cn"),
            )
        )

    return iterate(cents, lloyd, iters)[0]


@query(
    "ann_ivf_trained_topk",
    oracle=f"""
SELECT count(DISTINCT vec_id) AS n_queries,
       CAST(TRUE AS BOOLEAN) AS recall_ok
FROM embeddings WHERE vec_id < {N_QUERIES}
""",
)
def q_ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over k-means-TRAINED centroids, gated on recall@k.

    The trained coarse quantizer is not SQL-expressible, so (like the HLL
    tolerance oracle) the hash-checked contract is a measured QUALITY
    verdict: aggregate recall@{TOP_K} of the trained-IVF results vs the
    in-plan exact brute-force top-{TOP_K} must reach {RECALL_MIN} across
    the query set. Measured recall@5 with {KMEANS_ITERS} Lloyd's rounds:
    0.68 at sf0.001 and 0.70 at sf0.01, vs 0.52/0.56 for the untrained
    mod-subset quantizer — training buys ~+0.15 recall at identical search
    cost. The oracle asserts the verdict; k-means training, IVF search,
    and the exact ground truth all execute for real on the Spark side."""
    vecs = _quantized(spark, sf_dir)
    cents = train_ivf_centroids(vecs)
    ivf = _ivf_search(vecs, cents).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    truth = q_ann_brute_topk(spark, sf_dir).select("query_id", "neighbor_id")
    marked = truth.join(ivf, ["query_id", "neighbor_id"], "left")
    return marked.agg(
        F.countDistinct("query_id").alias("n_queries"),
        (
            F.sum(F.coalesce("hit", F.lit(0)))
            >= F.lit(RECALL_MIN) * F.count(F.lit(1))
        ).alias("recall_ok"),
    )


# ----------------------------------------------- persisted IVF index (build/serve)

def build_ivf_index(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """Index-build half of the IVF lifecycle: train centroids, assign every
    vector to its cell, and PERSIST both as parquet — the offline job a
    serving layer reads. Assignments are written partitioned by cell_id so
    a probe reads only its cells' files (partition pruning = the on-disk
    form of the in-memory cell equi-join); centroids are a single small
    file. Rebuild = overwrite both (the index is derived data). The
    quantized corpus is materialized once up front — the k-means rounds
    and the assignment pass each rescan it (see `build_ivfpq_index`'s
    build-cost note)."""
    vecs = _quantized(spark, sf_dir).localCheckpoint(eager=True)
    cents = train_ivf_centroids(vecs)
    cents.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    assigned = _ivf_assign_top1(vecs, cents)
    (
        vecs.join(assigned, "vec_id")
        .select("cell_id", "vec_id", "e", "nrm")
        .write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(f"{index_dir}/assignments")
    )


def _ivf_assign_top1(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Max-cosine cell per vector (the assignment half of _ivf_search).

    Projection-only when the centroid model is collectable (guide §2.4:
    the corpus x K argmax window shuffle is removed outright; dots via
    the Arrow-vectorized integer kernel, cosines/argmax in JVM
    expressions); beyond BAKE_MAX_CELLS the broadcast crossJoin + window
    form runs instead — bit-identical assignments either way."""
    rows = _cent_rows(cents)
    if rows and len(rows) <= BAKE_MAX_CELLS:
        affs, cids = _argmax_cell_exprs(rows)
        return (
            vecs.withColumn("__dots", _int_dots_udf([ce for _, ce, _ in rows])("e"))
            .withColumn("__affs", F.expr(affs))
            .select(
                "vec_id",
                F.expr(
                    "element_at(" + cids + ", "
                    "CAST(array_position(__affs, array_max(__affs)) AS INT))"
                ).alias("cell_id"),
            )
        )
    return _assign_window(vecs, cents).drop("dot")


def _assign_window(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cell_id, dot): the distributed max-cosine assignment beyond
    BAKE_MAX_CELLS — broadcast crossJoin against the centroid table, then
    a per-vector (aff DESC, cell_id ASC) row_number — with the exact
    integer dot of each vector and its centroid."""
    from pyspark.sql import Window

    aff = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cell_id",
        _dot("e", "ce").alias("dot"),
        F.round(
            _dot("e", "ce").cast("double")
            / (
                F.sqrt(F.col("nrm").cast("double"))
                * F.sqrt(F.col("cn").cast("double"))
            ),
            6,
        ).alias("aff"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("aff"), F.asc("cell_id"))
    return (
        aff.withColumn("crnk", F.row_number().over(w))
        .where(F.col("crnk") == 1)
        .select("vec_id", "cell_id", "dot")
    )


def search_ivf_index(
    spark: SparkSession,
    index_dir: str,
    queries_df: DataFrame,
    n_probe: int | None = None,
    top_k: int = TOP_K,
) -> DataFrame:
    """Serve half: answer ANN queries from the PERSISTED index only (no
    corpus rescan, no training). Probe cells come from the broadcast
    centroid file; candidate vectors come from the partition-pruned
    assignment read (cell_id IN probe-set reaches the parquet source as a
    partition filter). queries_df: (query_id, e, nrm) quantized vectors.
    ``n_probe`` defaults to scaled_n_probe(|centroids|)."""
    from pyspark.sql import Window

    cents = spark.read.parquet(f"{index_dir}/centroids")
    if n_probe is None:
        n_probe = scaled_n_probe(cents.count())
    probes = (
        queries_df.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "cell_id",
            F.round(
                _dot("e", "ce").cast("double")
                / (
                    F.sqrt(F.col("nrm").cast("double"))
                    * F.sqrt(F.col("cn").cast("double"))
                ),
                6,
            ).alias("aff"),
        )
        .withColumn(
            "crnk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("aff"), F.asc("cell_id")
                )
            ),
        )
        .where(F.col("crnk") <= n_probe)
        .select("query_id", "cell_id")
    )
    assigns = spark.read.parquet(f"{index_dir}/assignments").select(
        "cell_id",
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ne"),
        F.col("nrm").alias("nn"),
    )
    qv = queries_df.select(
        "query_id", F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    cand = probes.join(assigns, "cell_id").join(F.broadcast(qv), "query_id")
    scored = cand.where(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot("qe", "ne").cast("double")
            / (
                F.sqrt(F.col("qn").cast("double"))
                * F.sqrt(F.col("nn").cast("double"))
            ),
            6,
        ).alias("cosine"),
    )
    return grouped_topn(
        scored,
        ["query_id"],
        [F.desc("cosine"), F.asc("neighbor_id")],
        top_k,
        rank_col="rnk",
    ).withColumn("rnk", F.col("rnk").cast("long"))


# ------------------------------------------- embedding near-dup clustering


def _embedding_components_oracle() -> str:
    """Recursive-CTE transitive closure over the embedding near-dup pairs —
    the same composition dedup_components applies to the MinHash graph."""
    from . import ORACLES

    pairs_sql = ORACLES["embedding_near_dup"].strip().rstrip(";")
    return f"""
WITH RECURSIVE
pairs AS (SELECT vec_a, vec_b FROM ({pairs_sql})),
edges AS (
    SELECT vec_a AS src, vec_b AS dst FROM pairs
    UNION ALL
    SELECT vec_b, vec_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
walk(doc_id, reach) AS (
    SELECT doc_id, doc_id FROM nodes
    UNION
    SELECT w.doc_id, e.dst FROM walk w JOIN edges e ON e.src = w.reach
)
SELECT doc_id AS vec_id, min(reach) AS component_id FROM walk GROUP BY doc_id
"""


@query("embedding_dup_clusters", oracle=_embedding_components_oracle())
def q_embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup CLUSTERS: connected components over the sign-LSH
    candidate pair graph — turns the pairwise cosine near-dups into
    keep/drop groups (canonical vector = min vec_id per component), the
    same pairs->clusters composition `dedup_components` applies to the
    MinHash graph. Iterative min-label propagation (2 shuffles/round,
    checkpointed lineage, raises on non-convergence) vs a recursive-CTE
    oracle."""
    from .dedup import connected_components

    pairs = q_embedding_near_dup(spark, sf_dir).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    return connected_components(pairs).select(
        F.col("doc_id").alias("vec_id"), "component_id"
    )


# --------------------------------------------------- semantic clustering


def _kmeans_cte(iters: int) -> str:
    """Unrolled-CTE DuckDB replica of ``train_ivf_centroids`` + final
    assignment: every Lloyd round (6-dp cosine argmax assignment,
    floored-mean centroid update, empty-cell carry-over) is one CTE layer,
    so the TRAINED clustering itself is oracle-exact — unlike
    ``ann_ivf_trained_topk`` whose official check is a recall verdict.
    Returns the WITH prefix through ``assigned(vec_id, cell_id, dot)``;
    callers append their final SELECT (and any further CTEs)."""
    rounds = []
    for r in range(1, iters + 1):
        p = r - 1
        rounds.append(f"""
aff{r} AS (
    SELECT f.vec_id, c.cell_id,
           round(CAST(sum(f.v * c.v) AS DOUBLE) /
                 (sqrt(CAST(any_value(nv.nrm) AS DOUBLE)) *
                  sqrt(CAST(any_value(nc.nrm) AS DOUBLE))), 6) AS aff
    FROM flat f
    JOIN cf{p} c ON c.i = f.i
    JOIN norms nv ON nv.vec_id = f.vec_id
    JOIN cn{p} nc ON nc.cell_id = c.cell_id
    GROUP BY 1, 2
),
top{r} AS (
    SELECT vec_id, cell_id FROM (
        SELECT vec_id, cell_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY aff DESC, cell_id) AS crnk
        FROM aff{r}
    ) WHERE crnk = 1
),
mean{r} AS (
    SELECT t.cell_id, f.i,
           CAST(floor(CAST(sum(f.v) AS DOUBLE) / count(*)) AS BIGINT) AS v
    FROM top{r} t JOIN flat f ON f.vec_id = t.vec_id
    GROUP BY 1, 2
),
cf{r} AS (
    SELECT p.cell_id, p.i, COALESCE(m.v, p.v) AS v
    FROM cf{p} p LEFT JOIN mean{r} m
      ON m.cell_id = p.cell_id AND m.i = p.i
),
cn{r} AS (SELECT cell_id, sum(v * v) AS nrm FROM cf{r} GROUP BY cell_id)""")
    return f"""
WITH {_FLAT_CTE},
cf0 AS (
    SELECT vec_id AS cell_id, i, v FROM flat WHERE vec_id % {CENT_MOD} = 0
),
cn0 AS (SELECT cell_id, sum(v * v) AS nrm FROM cf0 GROUP BY cell_id),
{",".join(rounds)},
final_aff AS (
    SELECT f.vec_id, c.cell_id, sum(f.v * c.v) AS dot,
           round(CAST(sum(f.v * c.v) AS DOUBLE) /
                 (sqrt(CAST(any_value(nv.nrm) AS DOUBLE)) *
                  sqrt(CAST(any_value(nc.nrm) AS DOUBLE))), 6) AS aff
    FROM flat f
    JOIN cf{iters} c ON c.i = f.i
    JOIN norms nv ON nv.vec_id = f.vec_id
    JOIN cn{iters} nc ON nc.cell_id = c.cell_id
    GROUP BY 1, 2
),
assigned AS (
    SELECT vec_id, cell_id, dot FROM (
        SELECT vec_id, cell_id, dot,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY aff DESC, cell_id) AS crnk
        FROM final_aff
    ) WHERE crnk = 1
)
"""


_KMEANS_ORACLE = (
    _kmeans_cte(KMEANS_ITERS)
    + """
SELECT cell_id AS cluster_id,
       count(*) AS n_vecs,
       min(vec_id) AS min_vec_id,
       max(vec_id) AS max_vec_id,
       CAST(sum(dot) AS BIGINT) AS sum_dot
FROM assigned GROUP BY 1
"""
)


@query("semantic_clusters", oracle=_KMEANS_ORACLE)
def q_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering of the embedding corpus — the grouping step of
    cluster-scoped curation (SemDeDup-style: near-dup pruning and diversity
    sampling operate WITHIN semantic clusters, so the pair search never
    crosses cluster boundaries). Runs the same deterministic integer
    k-means the IVF index trains (`train_ivf_centroids`: broadcast
    centroids, 6-dp cosine argmax, floored integer means, empty-cell
    carry-over, localCheckpoint per round) and emits per-cluster size,
    id-range, and the exact integer sum of member-centroid dot products —
    all oracle-exact against an unrolled-SQL replica of every round.

    Scale design: assignment is a broadcast crossJoin (centroid table is
    K rows) + per-vector argmax window partitioned by vec_id; each Lloyd
    round shuffles only (cell, dim) partial sums. No driver-side data
    movement at any corpus size; K grows with the corpus via the CENT_MOD
    stride so cells stay O(sqrt n)-ish without a config knob."""
    assigned = _kmeans_assigned(spark, sf_dir)
    return assigned.groupBy(F.col("cell_id").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("vec_id").alias("min_vec_id"),
        F.max("vec_id").alias("max_vec_id"),
        F.sum("dot").alias("sum_dot"),
    )


def _kmeans_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell_id, dot): every vector's trained-k-means cluster plus
    the exact integer dot with its centroid — the shared assignment step of
    `semantic_clusters` and `semantic_dedup_keep` (mirrors the oracle's
    ``assigned`` CTE). Projection-only vectorized argmax with the same
    crossJoin+window fallback (`_assign_window`) as `_ivf_assign_top1`."""
    vecs = _quantized(spark, sf_dir)
    cents = train_ivf_centroids(vecs)
    rows = _cent_rows(cents)
    if rows and len(rows) <= BAKE_MAX_CELLS:
        affs, cids = _argmax_cell_exprs(rows)
        pos = "CAST(array_position(__affs, array_max(__affs)) AS INT)"
        return (
            vecs.withColumn("__dots", _int_dots_udf([ce for _, ce, _ in rows])("e"))
            .withColumn("__affs", F.expr(affs))
            .select(
                "vec_id",
                F.expr(f"element_at({cids}, {pos})").alias("cell_id"),
                F.expr(f"element_at(__dots, {pos})").alias("dot"),
            )
        )
    return _assign_window(vecs, cents)


SEMDEDUP_THRESHOLD = NEARDUP_THRESHOLD  # cosine above which two docs are dups


_SEMDEDUP_ORACLE = (
    _kmeans_cte(KMEANS_ITERS)
    + f""",
members AS (
    SELECT a.vec_id AS doc_id, a.cell_id AS cluster_id, d.n_chars
    FROM assigned a JOIN documents d ON d.doc_id = a.vec_id
),
pairs AS (
    SELECT a.doc_id AS keep_side, b.doc_id AS drop_side,
           round(CAST(sum(fa.v * fb.v) AS DOUBLE) /
                 (sqrt(CAST(any_value(na.nrm) AS DOUBLE)) *
                  sqrt(CAST(any_value(nb.nrm) AS DOUBLE))), 6) AS cosine
    FROM members a
    JOIN members b ON b.cluster_id = a.cluster_id
       AND (a.n_chars > b.n_chars
            OR (a.n_chars = b.n_chars AND a.doc_id < b.doc_id))
    JOIN flat fa ON fa.vec_id = a.doc_id
    JOIN flat fb ON fb.vec_id = b.doc_id AND fb.i = fa.i
    JOIN norms na ON na.vec_id = a.doc_id
    JOIN norms nb ON nb.vec_id = b.doc_id
    GROUP BY 1, 2
),
dropped AS (
    SELECT DISTINCT drop_side AS doc_id FROM pairs
    WHERE cosine >= {SEMDEDUP_THRESHOLD}
)
SELECT m.doc_id, m.cluster_id, m.n_chars,
       (d.doc_id IS NULL) AS keep
FROM members m LEFT JOIN dropped d ON d.doc_id = m.doc_id
"""
)


@query("semantic_dedup_keep", oracle=_SEMDEDUP_ORACLE)
def q_semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the corpus with the
    trained k-means, then WITHIN each cluster drop any document whose
    cosine to a higher-quality clustermate (more ``n_chars``; doc_id
    tiebreak) reaches the near-dup threshold. Emits the per-document
    keep/drop verdict — quality-aware canonical selection, where the exact
    dedup families keep min-id.

    Scale design: the pair search is scoped to a cluster (one shuffle on
    cluster_id), never the corpus — the quadratic term is bounded by the
    largest cluster, which the k-means K (CENT_MOD stride) controls; the
    quality rank needs no window (the keep rule compares pair-local
    (n_chars, doc_id) tuples, so it broadcasts nothing and sorts nothing
    globally)."""
    assigned = _kmeans_assigned(spark, sf_dir)
    vecs = _quantized(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    members = (
        assigned.select(F.col("vec_id").alias("doc_id"),
                        F.col("cell_id").alias("cluster_id"))
        .join(docs, "doc_id")
        .join(vecs.select(F.col("vec_id").alias("doc_id"), "e", "nrm"),
              "doc_id")
    )
    a = members.select(
        F.col("cluster_id"),
        F.col("doc_id").alias("a_id"), F.col("n_chars").alias("a_chars"),
        F.col("e").alias("ea"), F.col("nrm").alias("na"),
    )
    b = members.select(
        F.col("cluster_id"),
        F.col("doc_id").alias("b_id"), F.col("n_chars").alias("b_chars"),
        F.col("e").alias("eb"), F.col("nrm").alias("nb"),
    )
    outranks = (F.col("a_chars") > F.col("b_chars")) | (
        (F.col("a_chars") == F.col("b_chars"))
        & (F.col("a_id") < F.col("b_id"))
    )
    pairs = a.join(b, ["cluster_id"]).where(outranks)
    cos = F.round(
        _dot("ea", "eb").cast("double")
        / (
            F.sqrt(F.col("na").cast("double"))
            * F.sqrt(F.col("nb").cast("double"))
        ),
        6,
    )
    dropped = (
        pairs.where(cos >= SEMDEDUP_THRESHOLD)
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(True))
    )
    return (
        members.select("doc_id", "cluster_id", "n_chars")
        .join(dropped, "doc_id", "left")
        .select(
            "doc_id",
            "cluster_id",
            "n_chars",
            F.coalesce(~F.col("is_dropped"), F.lit(True)).alias("keep"),
        )
    )


# --------------------------------------------------- contrastive mining

HARDNEG_K = 3  # hard negatives kept per query vector


@query(
    "contrastive_mining",
    oracle=f"""
WITH {_FLAT_CTE},
dots AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, sum(a.v * b.v) AS dot
    FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < {N_QUERIES}
                            AND a.vec_id <> b.vec_id
    GROUP BY 1, 2
),
scored AS (
    SELECT d.query_id, d.neighbor_id,
           la.label = lb.label AS same_label,
           round(CAST(d.dot AS DOUBLE) /
                 (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))),
                 6) AS cosine
    FROM dots d
    JOIN norms na ON na.vec_id = d.query_id
    JOIN norms nb ON nb.vec_id = d.neighbor_id
    JOIN embeddings la ON la.vec_id = d.query_id
    JOIN embeddings lb ON lb.vec_id = d.neighbor_id
),
ranked AS (
    SELECT *, CAST(row_number() OVER (
                  PARTITION BY query_id, same_label
                  ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
    FROM scored
)
SELECT query_id,
       CASE WHEN same_label THEN 'hard_positive' ELSE 'hard_negative' END
           AS kind,
       neighbor_id, cosine, rnk
FROM ranked
WHERE (same_label AND rnk <= 1)
   OR (NOT same_label AND rnk <= {HARDNEG_K})
""",
)
def q_contrastive_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining over the labeled embedding corpus: for each
    query vector, the {HARDNEG_K} nearest DIFFERENT-label neighbors (hard
    negatives — the pairs a contrastive loss learns most from) and the
    single nearest same-label neighbor (the hardest positive). Uses the
    `label` column as the supervision signal; exact integer cosine like
    every similarity query.

    Scale shape: identical to `ann_brute_topk` — the bounded query set is
    broadcast against the corpus and ranked per (query, label-side)
    window; for corpus-x-corpus mining the LSH/IVF candidate paths
    substitute for the broadcast, unchanged downstream."""
    from pyspark.sql import Window

    vecs = _quantized(spark, sf_dir)
    labels = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label"
    )
    q = (
        vecs.where(F.col("vec_id") < N_QUERIES)
        .join(labels, "vec_id")
        .select(
            F.col("vec_id").alias("query_id"), F.col("e").alias("qe"),
            F.col("nrm").alias("qn"), F.col("label").alias("qlabel"),
        )
    )
    corpus = vecs.join(labels, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ne"),
        F.col("nrm").alias("nn"), F.col("label").alias("nlabel"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(corpus)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (F.col("qlabel") == F.col("nlabel")).alias("same_label"),
            F.round(
                _dot("qe", "ne").cast("double")
                / (
                    F.sqrt(F.col("qn").cast("double"))
                    * F.sqrt(F.col("nn").cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id", "same_label").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    ranked = scored.withColumn("rnk", F.row_number().over(w).cast("long"))
    return ranked.where(
        (F.col("same_label") & (F.col("rnk") <= 1))
        | (~F.col("same_label") & (F.col("rnk") <= HARDNEG_K))
    ).select(
        "query_id",
        F.when(F.col("same_label"), "hard_positive")
        .otherwise("hard_negative")
        .alias("kind"),
        "neighbor_id",
        "cosine",
        "rnk",
    )


_PURITY_ORACLE = (
    _kmeans_cte(KMEANS_ITERS)
    + """,
labeled AS (
    SELECT a.cell_id AS cluster_id, e.label
    FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id
),
by_label AS (
    SELECT cluster_id, label, count(*) AS n
    FROM labeled GROUP BY 1, 2
),
tops AS (
    SELECT cluster_id, label AS majority_label, n AS majority_n
    FROM (
        SELECT *, row_number() OVER (PARTITION BY cluster_id
                                     ORDER BY n DESC, label) AS r
        FROM by_label
    ) WHERE r = 1
),
totals AS (SELECT cluster_id, CAST(sum(n) AS BIGINT) AS n_vecs
           FROM by_label GROUP BY 1)
SELECT t.cluster_id, tt.n_vecs, t.majority_label,
       CAST(t.majority_n AS BIGINT) AS majority_n,
       CAST(t.majority_n * 1000000 // tt.n_vecs AS BIGINT) AS purity_ppm
FROM tops t JOIN totals tt ON tt.cluster_id = t.cluster_id
"""
)


@query("cluster_label_purity", oracle=_PURITY_ORACLE)
def q_cluster_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality audit: per trained-k-means cluster, the majority
    label and its integer-ppm share — the purity metric that tells a
    curation pipeline whether its semantic clusters track the labels
    before it trusts them for cluster-scoped dedup or balanced sampling.
    Rides the oracle-exact clustering (`semantic_clusters`) plus one
    labels join; all arithmetic integer.

    Scale shape: assignment as in `semantic_clusters`; the purity rollup
    is two hash aggregates on (cluster, label) then cluster — map-side
    combinable, output O(K)."""
    assigned = _kmeans_assigned(spark, sf_dir)
    labels = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label"
    )
    by_label = (
        assigned.join(labels, "vec_id")
        .groupBy(F.col("cell_id").alias("cluster_id"), "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(F.desc("n"), F.asc("label"))
    tops = (
        by_label.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select(
            "cluster_id",
            F.col("label").alias("majority_label"),
            F.col("n").alias("majority_n"),
        )
    )
    totals = by_label.groupBy("cluster_id").agg(
        F.sum("n").alias("n_vecs")
    )
    return tops.join(totals, "cluster_id").select(
        "cluster_id",
        "n_vecs",
        "majority_label",
        "majority_n",
        F.expr("CAST(majority_n * 1000000 div n_vecs AS BIGINT)").alias(
            "purity_ppm"
        ),
    )


# ------------------------------------------- hybrid retrieval (RRF fusion)

RRF_K = 60       # the standard reciprocal-rank-fusion damping constant
RRF_POOL = 10    # per-ranker candidate pool depth fed into the fusion
RRF_TOP = 5

from .dedup import SHINGLE_CTE  # noqa: E402 — shared lexical-index CTE

# Text-ranker CTE: per query doc (doc_id < N_QUERIES), rank the corpus by
# word-3-gram Jaccard similarity through the inverted shingle index — the
# sparse/lexical ranker next to the dense/embedding one.
_RRF_TEXT_CTE = f"""
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1),
tinter AS (
    SELECT a.doc_id AS query_id, b.doc_id AS neighbor_id,
           CAST(count(*) AS BIGINT) AS inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle
    WHERE a.doc_id < {N_QUERIES} AND a.doc_id <> b.doc_id
    GROUP BY 1, 2
),
tscore AS (
    SELECT t.query_id, t.neighbor_id,
           CAST(t.inter AS DOUBLE)
           / (sa.n_sh + sb.n_sh - t.inter) AS jac
    FROM tinter t
    JOIN sizes sa ON sa.doc_id = t.query_id
    JOIN sizes sb ON sb.doc_id = t.neighbor_id
),
trank AS (
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY jac DESC, neighbor_id) AS BIGINT) AS rb
    FROM tscore
)
"""


@query(
    "hybrid_rrf_topk",
    oracle=f"""
WITH {_FLAT_CTE},
{SHINGLE_CTE.strip()},
{_RRF_TEXT_CTE.strip()},
dots AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, sum(a.v * b.v) AS dot
    FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < {N_QUERIES}
                            AND a.vec_id <> b.vec_id
    GROUP BY 1, 2
),
ascore AS (
    SELECT d.query_id, d.neighbor_id,
           round(CAST(d.dot AS DOUBLE) /
                 (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))),
                 6) AS cosine
    FROM dots d
    JOIN norms na ON na.vec_id = d.query_id
    JOIN norms nb ON nb.vec_id = d.neighbor_id
),
arank AS (
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS ra
    FROM ascore
),
fused AS (
    SELECT coalesce(a.query_id, t.query_id) AS query_id,
           coalesce(a.neighbor_id, t.neighbor_id) AS neighbor_id,
           round(coalesce(1.0 / ({RRF_K} + a.ra), 0)
                 + coalesce(1.0 / ({RRF_K} + t.rb), 0), 6) AS rrf
    FROM (SELECT * FROM arank WHERE ra <= {RRF_POOL}) a
    FULL JOIN (SELECT * FROM trank WHERE rb <= {RRF_POOL}) t
      ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
)
SELECT query_id, neighbor_id, rrf,
       CAST(rnk AS BIGINT) AS rnk
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) AS rnk
    FROM fused
) WHERE rnk <= {RRF_TOP}
""",
)
def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the DENSE ranker (exact-integer cosine over
    embeddings) with the SPARSE ranker (word-3-gram Jaccard through the
    inverted shingle index) by reciprocal-rank fusion —
    rrf = 1/({RRF_K}+rank_dense) + 1/({RRF_K}+rank_sparse), missing pool
    membership contributing 0. The modern retrieval-stack pattern:
    lexical and embedding rankers fail differently, and RRF needs no score
    calibration because it only consumes RANKS.

    Both pools are top-{RRF_POOL} per query; fusion is a full outer join of
    two slim (query, neighbor, rank) pools (at scale: pools are
    bounded-per-query, so the fusion join is trivially broadcastable).
    doc_id indexes the same corpus as vec_id (the semantic_clusters
    correspondence). Ranks, intersections, and set sizes are exact
    integers; the two divisions and one addition run in identical order on
    both engines, rounded at the output edge."""
    from .dedup import shingles

    vecs = _quantized(spark, sf_dir)
    # dense pool: brute cosine, RRF_POOL deep
    queries = vecs.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    corpus = vecs.select(
        F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ne"),
        F.col("nrm").alias("nn"),
    )
    ascore = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot("qe", "ne").cast("double")
                / (
                    F.sqrt(F.col("qn").cast("double"))
                    * F.sqrt(F.col("nn").cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
    )
    arank = grouped_topn(
        ascore,
        ["query_id"],
        [F.desc("cosine"), F.asc("neighbor_id")],
        RRF_POOL,
        rank_col="ra",
    ).select("query_id", "neighbor_id", F.col("ra").cast("long").alias("ra"))
    # sparse pool: Jaccard via the inverted shingle index
    docs = read_table(spark, sf_dir, "documents")
    sh = shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    qsh = sh.where(F.col("doc_id") < N_QUERIES).select(
        F.col("doc_id").alias("query_id"), "shingle"
    )
    tinter = (
        qsh.join(sh.withColumnRenamed("doc_id", "neighbor_id"), "shingle")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    tscore = (
        tinter.join(
            sizes.select(
                F.col("doc_id").alias("query_id"), F.col("n_sh").alias("na")
            ),
            "query_id",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("neighbor_id"),
                F.col("n_sh").alias("nb"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter"))
            ).alias("jac"),
        )
    )
    trank = grouped_topn(
        tscore,
        ["query_id"],
        [F.desc("jac"), F.asc("neighbor_id")],
        RRF_POOL,
        rank_col="rb",
    ).select("query_id", "neighbor_id", F.col("rb").cast("long").alias("rb"))
    fused = (
        arank.join(trank, ["query_id", "neighbor_id"], "full_outer")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_K) + F.col("ra")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_K) + F.col("rb")), F.lit(0.0)
                ),
                6,
            ).alias("rrf"),
        )
    )
    return grouped_topn(
        fused,
        ["query_id"],
        [F.desc("rrf"), F.asc("neighbor_id")],
        RRF_TOP,
        rank_col="rnk",
    ).withColumn("rnk", F.col("rnk").cast("long"))


@query(
    "source_embedding_separation",
    oracle="""
WITH q AS (
    SELECT d.source,
           list_transform(e.embedding,
                          x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))
               AS e
    FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
),
flat AS (
    SELECT source, i, e[i] AS v
    FROM (SELECT source, e, unnest(generate_series(1, len(e))) AS i FROM q)
),
cent AS (
    SELECT source, i, CAST(sum(v) AS BIGINT) AS s
    FROM flat GROUP BY source, i
),
sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM q GROUP BY 1),
dots AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(sum(a.s * b.s) AS BIGINT) AS dot_ab
    FROM cent a JOIN cent b ON a.i = b.i AND a.source <= b.source
    GROUP BY 1, 2
)
SELECT d.source_a, d.source_b, sa.n AS n_a, sb.n AS n_b,
       round(d.dot_ab / (sqrt(CAST(na.dot_ab AS DOUBLE))
                         * sqrt(CAST(nb.dot_ab AS DOUBLE))), 6)
           AS centroid_cosine
FROM dots d
JOIN dots na ON na.source_a = d.source_a AND na.source_b = d.source_a
JOIN dots nb ON nb.source_a = d.source_b AND nb.source_b = d.source_b
JOIN sizes sa ON sa.source = d.source_a
JOIN sizes sb ON sb.source = d.source_b
WHERE d.source_a < d.source_b
""",
)
def q_source_embedding_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source separation in EMBEDDING space: pairwise cosine between each
    source's centroid (un-normalized sum vector — cosine is scale-
    invariant, so exact bigint sums substitute for float means). The
    dense-space complement of `source_overlap_matrix`'s lexical view:
    sources whose centroids are near-parallel carry redundant content for
    mixture-weighting purposes even when their surface text differs.

    Determinism: centroid elements are exact bigint sums of quantized
    components under any partitioning; every pairwise dot (including the
    self-dots used as norms) is exact bigint; the two sqrts + one
    division + round(6) happen once per source pair at the edge.

    Scale: the flatten+agg is dim x corpus rows map-side-combined down to
    dim x |sources| centroid cells; the pair join is centroid x centroid
    (bounded by source count), never corpus-sized."""
    emb = read_table(spark, sf_dir, "embeddings")
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    q = emb.select("vec_id", F.expr(_QUANT).alias("e")).join(
        F.broadcast(docs), emb.vec_id == docs.doc_id
    )
    flat = q.select(
        "source", F.posexplode("e").alias("i", "v")
    )
    cent = flat.groupBy("source", "i").agg(F.sum("v").alias("s"))
    sizes = q.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = cent.select(
        F.col("source").alias("source_a"), "i", F.col("s").alias("sa")
    )
    b = cent.select(
        F.col("source").alias("source_b"), "i", F.col("s").alias("sb")
    )
    dots = (
        a.join(F.broadcast(b), "i")
        .where(F.col("source_a") <= F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.col("sa") * F.col("sb")).alias("dot_ab"))
    )
    na = dots.where(F.col("source_a") == F.col("source_b")).select(
        F.col("source_a").alias("src"), F.col("dot_ab").alias("self_dot")
    )
    pairs = (
        dots.where(F.col("source_a") < F.col("source_b"))
        .join(
            F.broadcast(na.withColumnRenamed("src", "source_a")
                        .withColumnRenamed("self_dot", "da")),
            "source_a",
        )
        .join(
            F.broadcast(na.withColumnRenamed("src", "source_b")
                        .withColumnRenamed("self_dot", "db")),
            "source_b",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("source_a"),
                                     F.col("n").alias("n_a"))),
            "source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("source_b"),
                                     F.col("n").alias("n_b"))),
            "source_b",
        )
    )
    return pairs.select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        F.round(
            F.col("dot_ab")
            / (
                F.sqrt(F.col("da").cast("double"))
                * F.sqrt(F.col("db").cast("double"))
            ),
            6,
        ).alias("centroid_cosine"),
    )




# ------------------------------------- MMR diversified re-ranking

# Maximal Marginal Relevance (Carbonell & Goldstein 1998, public): a
# diversity-aware re-rank of a relevance-ranked candidate pool. Each of
# the MMR_K greedy rounds picks argmax over remaining candidates of
#   LAM * rel(q, d) - (1 - LAM) * max_{s in selected} sim(d, s)
# with LAM = 0.7 carried as integer weights (7, 3) over ppm-scaled
# cosines, so the argmax is exact bigint arithmetic in both engines.
MMR_POOL = 20  # relevance top-C pool re-ranked per query
MMR_K = 5      # results returned per query
_MMR_W_REL = 7   # LAM * 10
_MMR_W_DIV = 3   # (1 - LAM) * 10

# ppm-scaled cosine: (1e6 * dot) is exact in double (dot <= ~2.6e8 for
# 64-dim milli-unit vectors), so both engines compute one identically-
# rounded division and one identically-rounded round().
_MMR_COS = (
    "CAST(round(1000000.0 * CAST({dot} AS DOUBLE)"
    " / (sqrt(CAST({na} AS DOUBLE)) * sqrt(CAST({nb} AS DOUBLE))))"
    " AS BIGINT)"
)


def _mmr_oracle() -> str:
    """Unrolled greedy MMR in SQL (the PCA-oracle pattern: rounds become
    generated CTE layers; MMR_K is small and fixed, so the plan is a
    static DAG, not a recursion)."""
    cos = _MMR_COS.format(
        dot="sum(a.v * b.v)",
        na="any_value(na.nrm)",
        nb="any_value(nb.nrm)",
    )
    psim_cos = _MMR_COS.format(
        dot="sum(x.v * y.v)",
        na="any_value(nx.nrm)",
        nb="any_value(ny.nrm)",
    )
    ctes = [
        f"""
rel0 AS (
    SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
           {cos} AS rel_ppm
    FROM flat a
    JOIN flat b ON b.i = a.i AND b.vec_id <> a.vec_id
    JOIN norms na ON na.vec_id = a.vec_id
    JOIN norms nb ON nb.vec_id = b.vec_id
    WHERE a.vec_id < {N_QUERIES}
    GROUP BY 1, 2
)""",
        f"""
pool AS (
    SELECT query_id, cand_id, rel_ppm, rrk FROM (
        SELECT query_id, cand_id, rel_ppm,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rel_ppm DESC, cand_id) AS rrk
        FROM rel0) r
    WHERE rrk <= {MMR_POOL}
)""",
        f"""
psim AS (
    SELECT p.query_id, p.cand_id AS ca, p2.cand_id AS cb,
           {psim_cos} AS sim_ppm
    FROM pool p
    JOIN pool p2 ON p2.query_id = p.query_id AND p2.cand_id <> p.cand_id
    JOIN flat x ON x.vec_id = p.cand_id
    JOIN flat y ON y.vec_id = p2.cand_id AND y.i = x.i
    JOIN norms nx ON nx.vec_id = p.cand_id
    JOIN norms ny ON ny.vec_id = p2.cand_id
    GROUP BY 1, 2, 3
)""",
        f"""
sel1 AS (
    SELECT query_id, cand_id, rel_ppm, CAST(1 AS BIGINT) AS rnk
    FROM pool WHERE rrk = 1
)""",
    ]
    for r in range(2, MMR_K + 1):
        ctes.append(f"""
ms{r} AS (
    SELECT p.query_id, p.cand_id, p.rel_ppm, max(ps.sim_ppm) AS maxsim
    FROM pool p
    JOIN sel{r - 1} s ON s.query_id = p.query_id
    JOIN psim ps ON ps.query_id = p.query_id AND ps.ca = p.cand_id
                AND ps.cb = s.cand_id
    WHERE NOT EXISTS (SELECT 1 FROM sel{r - 1} d
                      WHERE d.query_id = p.query_id
                        AND d.cand_id = p.cand_id)
    GROUP BY 1, 2, 3
)""")
        ctes.append(f"""
sel{r} AS (
    SELECT query_id, cand_id, rel_ppm, rnk FROM sel{r - 1}
    UNION ALL
    SELECT query_id, cand_id, rel_ppm, CAST({r} AS BIGINT) AS rnk FROM (
        SELECT query_id, cand_id, rel_ppm,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY {_MMR_W_REL} * rel_ppm
                            - {_MMR_W_DIV} * maxsim DESC, cand_id) AS k
        FROM ms{r}) p
    WHERE k = 1
)""")
    body = ",\n".join(c.strip() for c in ctes)
    return (
        f"WITH {_FLAT_CTE.strip().rstrip()},\n{body}\n"
        f"SELECT query_id, cand_id AS neighbor_id, rnk, rel_ppm "
        f"FROM sel{MMR_K}"
    )


@query("mmr_diversified_topk", oracle=_mmr_oracle)
def q_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR (Maximal Marginal Relevance) diversified top-{MMR_K}: re-rank
    each query's relevance top-{MMR_POOL} pool so every pick trades
    relevance against similarity to what is already selected — the
    standard de-redundancy pass a retrieval pipeline runs between ANN
    search and the consumer (RAG context assembly, near-dup-heavy
    corpora). Greedy argmax of {_MMR_W_REL}*rel - {_MMR_W_DIV}*max-sim
    in exact ppm integers, ties to the smaller id; the {MMR_K}-round
    greedy unrolls into a static plan (rounds are data-independent),
    the iterative-operator pattern shared with train_ivf_centroids.

    Scale: the pool comes from relevance top-C per query (here the
    brute-force baseline; at 100 TB any ANN row supplies it), so every
    downstream structure — pool, pairwise pool similarity (C^2 per
    query), round states — is RESULT-sized, independent of corpus size;
    the corpus is touched exactly once, by the candidate scan. The
    pairwise-sim join keys on (query_id, cand ids) — an equi-join,
    never corpus x corpus. The oracle unrolls the same greedy in SQL
    (PCA-oracle pattern), so selection, tie-breaks, and scores are
    value-hash-checked end to end."""
    from pyspark.sql import Window

    vecs = _quantized(spark, sf_dir)
    qv = vecs.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    cand = vecs.select(
        F.col("vec_id").alias("cand_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    rel = (
        cand.join(F.broadcast(qv), F.col("cand_id") != F.col("query_id"))
        .withColumn(
            "rel_ppm",
            F.expr(
                _MMR_COS.format(
                    dot="aggregate(zip_with(qe, ce, (x, y) -> x * y), "
                    "CAST(0 AS BIGINT), (acc, v) -> acc + v)",
                    na="qn",
                    nb="cn",
                )
            ),
        )
        .select("query_id", "cand_id", "rel_ppm")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("rel_ppm"), F.asc("cand_id")
    )
    # Materialized eagerly: pool and psim are result-sized (N_QUERIES x C
    # and x C^2) and every one of the MMR_K greedy rounds references both —
    # localCheckpoint collapses them to in-memory tables so the final plan
    # is K small joins, not K re-expansions of the corpus scan (measured
    # 3x wall-clock on the unrolled lazy form).
    pool = (
        rel.withColumn("rrk", F.row_number().over(wq))
        .where(F.col("rrk") <= MMR_POOL)
        .localCheckpoint()
    )
    # Pairwise similarity inside each query's pool: C^2 rows per query,
    # result-sized. Arrays come back via two slim vec_id equi-joins.
    pa = pool.select("query_id", F.col("cand_id").alias("ca"))
    pb = pool.select("query_id", F.col("cand_id").alias("cb"))
    psim = (
        pa.join(pb, "query_id")
        .where(F.col("ca") != F.col("cb"))
        .join(
            vecs.select(
                F.col("vec_id").alias("ca"),
                F.col("e").alias("ea"),
                F.col("nrm").alias("nra"),
            ),
            "ca",
        )
        .join(
            vecs.select(
                F.col("vec_id").alias("cb"),
                F.col("e").alias("eb"),
                F.col("nrm").alias("nrb"),
            ),
            "cb",
        )
        .withColumn(
            "sim_ppm",
            F.expr(
                _MMR_COS.format(
                    dot="aggregate(zip_with(ea, eb, (x, y) -> x * y), "
                    "CAST(0 AS BIGINT), (acc, v) -> acc + v)",
                    na="nra",
                    nb="nrb",
                )
            ),
        )
        .select("query_id", "ca", "cb", "sim_ppm")
        .localCheckpoint()
    )
    sel = pool.where(F.col("rrk") == 1).select(
        "query_id", "cand_id", "rel_ppm", F.lit(1).cast("long").alias("rnk")
    )
    for r in range(2, MMR_K + 1):
        rem = pool.join(
            sel.select("query_id", "cand_id"), ["query_id", "cand_id"],
            "left_anti",
        )
        ps = psim.select(
            F.col("query_id").alias("pq"),
            F.col("ca").alias("pca"),
            F.col("cb").alias("pcb"),
            "sim_ppm",
        )
        selk = sel.select(
            F.col("query_id").alias("sq"),
            F.col("cand_id").alias("scand"),
        )
        ms = (
            rem.join(
                ps,
                (F.col("pq") == F.col("query_id"))
                & (F.col("pca") == F.col("cand_id")),
            )
            .join(
                selk,
                (F.col("sq") == F.col("pq"))
                & (F.col("scand") == F.col("pcb")),
            )
            .groupBy("query_id", "cand_id", "rel_ppm")
            .agg(F.max("sim_ppm").alias("maxsim"))
        )
        score = (
            F.lit(_MMR_W_REL) * F.col("rel_ppm")
            - F.lit(_MMR_W_DIV) * F.col("maxsim")
        )
        wpick = Window.partitionBy("query_id").orderBy(
            score.desc(), F.asc("cand_id")
        )
        pick = (
            ms.withColumn("k", F.row_number().over(wpick))
            .where(F.col("k") == 1)
            .select(
                "query_id", "cand_id", "rel_ppm",
                F.lit(r).cast("long").alias("rnk"),
            )
        )
        # sel is N_QUERIES x r rows; truncating its lineage per round keeps
        # round r's plan O(1) instead of O(r) re-expansions (the
        # connected_components / LPA iterative pattern).
        sel = sel.unionByName(pick).localCheckpoint()
    return sel.select(
        "query_id", F.col("cand_id").alias("neighbor_id"), "rnk", "rel_ppm"
    )


# ------------------------------------ k-center coreset selection

# Greedy farthest-point k-center (Gonzalez 1985, public; the 2-approx
# that coreset-based data selection uses): seed with the smallest
# vec_id, then K-1 times add the point farthest (exact integer squared
# L2 over the quantized vectors) from its nearest selected center.
KCENTER_K = 8


def _kcenter_oracle() -> str:
    """Unrolled greedy in SQL (the MMR-oracle pattern): each round is a
    min-distance CTE over corpus x selected + a global integer argmax,
    ties to the smaller vec_id."""
    d2 = (
        "CAST(sum((a.v - b.v) * (a.v - b.v)) AS BIGINT)"
    )
    ctes = [
        f"""
sel1 AS (
    SELECT CAST(min(vec_id) AS BIGINT) AS vec_id,
           CAST(1 AS BIGINT) AS center_rank,
           CAST(0 AS BIGINT) AS radius_d2
    FROM q
)""",
    ]
    for r in range(2, KCENTER_K + 1):
        ctes.append(f"""
mind{r} AS (
    SELECT a.vec_id, min(sub.d2) AS min_d2 FROM (
        SELECT a2.vec_id AS pv, s.vec_id AS sv, {d2.replace('a.', 'a2.')} AS d2
        FROM flat a2
        JOIN sel{r - 1} s ON TRUE
        JOIN flat b ON b.vec_id = s.vec_id AND b.i = a2.i
        GROUP BY a2.vec_id, s.vec_id
    ) sub
    JOIN q a ON a.vec_id = sub.pv
    WHERE NOT EXISTS (SELECT 1 FROM sel{r - 1} d WHERE d.vec_id = a.vec_id)
    GROUP BY a.vec_id
)""")
        ctes.append(f"""
sel{r} AS (
    SELECT vec_id, center_rank, radius_d2 FROM sel{r - 1}
    UNION ALL
    SELECT CAST(vec_id AS BIGINT), CAST({r} AS BIGINT),
           CAST(min_d2 AS BIGINT)
    FROM (SELECT vec_id, min_d2,
                 row_number() OVER (ORDER BY min_d2 DESC, vec_id) AS k
          FROM mind{r}) t
    WHERE k = 1
)""")
    body = ",\n".join(c.strip() for c in ctes)
    return (
        f"WITH {_FLAT_CTE.strip()},\n{body}\n"
        f"SELECT center_rank, vec_id, radius_d2 FROM sel{KCENTER_K}"
    )


@query("coreset_kcenter", oracle=_kcenter_oracle)
def q_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy farthest-point k-center coreset over the embedding corpus —
    the diversity-maximizing data-selection primitive (pick {KCENTER_K}
    exemplars such that every vector is close to one; Gonzalez's greedy
    is a 2-approximation of the optimal cover radius). Distances are
    exact integer squared L2 on the quantized vectors; ties break to the
    smaller vec_id, so selection is bit-deterministic and the SQL oracle
    (same greedy, unrolled) hash-checks every pick AND its selection
    radius — radius_d2 of pick r is the cover radius of the first r-1
    centers, the curve a data-selection run reports.

    Scale: each round is one corpus pass against ONLY the newest center
    (round-11, guide §1.2 step 1: Gonzalez's greedy is incremental — a
    point's distance-to-selected-set is the running min, so carrying a
    per-point `min_d2` state column and `least()`-ing in the newest
    center's distance replaces the former re-scan of ALL r-1 selected
    centers per round, O(K*N) exact-integer distance evaluations instead
    of O(K^2*N), and drops the per-round groupBy exchange outright —
    `least` is per-row). The pick is a 1-row integer argmax (global
    TakeOrdered, never a sort) consumed IN-PLAN as a broadcast; state is
    lazily localCheckpoint'd per round (the pagerank/HITS shape) so the
    whole greedy is one action. The only driver-side data is the K-row
    center table; min-over-the-same-set integers are bit-identical to
    the re-scan form."""
    vecs = _quantized(spark, sf_dir).select("vec_id", "e")
    # Seed = smallest vec_id, picked by TakeOrdered (empty corpus ->
    # empty seed -> empty output, matching the former join-filtered agg).
    first = vecs.orderBy(F.asc("vec_id")).limit(1).localCheckpoint(
        eager=False
    )
    sel = first.select(
        "vec_id",
        F.lit(1).cast("long").alias("center_rank"),
        F.lit(0).cast("long").alias("radius_d2"),
    ).localCheckpoint(eager=False)
    d2 = F.expr(
        "aggregate(zip_with(e, ce, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    # Per-point running distance to the selected set: seeded from the
    # first center, then narrowed by one `least()` per round.
    state = (
        vecs.join(first.select("vec_id"), "vec_id", "left_anti")
        .crossJoin(F.broadcast(first.select(F.col("e").alias("ce"))))
        .select("vec_id", "e", d2.alias("min_d2"))
        .localCheckpoint(eager=False)
    )
    for r in range(2, KCENTER_K + 1):
        pick = (
            state.orderBy(F.desc("min_d2"), F.asc("vec_id"))
            .limit(1)
            .select(
                "vec_id",
                F.lit(r).cast("long").alias("center_rank"),
                F.col("min_d2").alias("radius_d2"),
            )
            .localCheckpoint(eager=False)
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=False)
        if r < KCENTER_K:
            ce = F.broadcast(
                pick.join(vecs, "vec_id").select(F.col("e").alias("ce"))
            )
            state = (
                state.join(pick.select("vec_id"), "vec_id", "left_anti")
                .crossJoin(ce)
                .select(
                    "vec_id",
                    "e",
                    F.least(F.col("min_d2"), d2).alias("min_d2"),
                )
                .localCheckpoint(eager=False)
            )
    return sel.select("center_rank", "vec_id", "radius_d2")
