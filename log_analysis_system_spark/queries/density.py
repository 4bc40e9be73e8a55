"""Density-based clustering over the embedding table: grid DBSCAN.

DBSCAN (Ester et al. 1996) finds arbitrary-shape dense clusters with a
noise class — the density complement of `semantic_clusters`' k-means
(fixed k, convex cells). Exact DBSCAN needs an eps-neighbor join, which
is all-pairs at scale; the standard distributed form (GriDBSCAN /
cell-based DBSCAN, Gunawan 2013) snaps points to an eps-grid and runs
the density test and connectivity on the CELL table:

1. quantize each point to a grid cell (here: first two embedding
   coordinates x SCALE, floored — SCALE is a power of two, so the
   multiply is EXACT in IEEE doubles and both engines agree bit-for-bit
   without any epsilon audit);
2. a cell is CORE when it holds >= MINPTS points;
3. clusters = connected components of core cells under 8-neighborhood
   adjacency.

Scale shape: one hash-agg collapses N points to the bounded cell table
(<= (2*SCALE)^2 occupied cells regardless of corpus size); adjacency is
an EQUI-join of the cell table against its 9 literal offsets (never a
range or all-pairs join); components run on the tiny core-cell graph
via the shared `connected_components` operator (min-label fixpoint,
localCheckpoint-truncated lineage). The oracle states connectivity as a
recursive-CTE transitive closure — the hash match proves the Spark
fixpoint reaches the identical partition.

Cell ids are integers ((cx + OFF) * GRID + cy + OFF), cluster id = min
cell id in the component, counts exact — nothing floating-point leaves
the quantization step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import read_table
from . import query

DB_SCALE = 16       # grid resolution: eps = 1/16 (power of two -> exact)
DB_MINPTS = 8       # core-cell density threshold
_OFF = 1024         # coordinate offset making cell ids non-negative
_GRID = 2048        # id stride; |cx|, |cy| << _OFF always holds here

_CELLS_SQL = f"""
cells AS (
    SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * {DB_SCALE}) AS BIGINT)
               AS cx,
           CAST(floor(CAST(embedding[2] AS DOUBLE) * {DB_SCALE}) AS BIGINT)
               AS cy,
           CAST(count(*) AS BIGINT) AS n
    FROM embeddings
    GROUP BY 1, 2
),
core AS (
    SELECT (cx + {_OFF}) * {_GRID} + (cy + {_OFF}) AS cell_id, cx, cy, n
    FROM cells WHERE n >= {DB_MINPTS}
)
"""

_DBSCAN_ORACLE = f"""
WITH RECURSIVE
{_CELLS_SQL},
offs(dx, dy) AS (
    VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),(1,-1),(1,0),(1,1)
),
edges AS (
    SELECT a.cell_id AS src, b.cell_id AS dst
    FROM core a JOIN offs o ON true
    JOIN core b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
),
walk(cell_id, reach) AS (
    SELECT cell_id, cell_id FROM core
    UNION
    SELECT w.cell_id, e.dst FROM walk w JOIN edges e ON e.src = w.reach
),
labeled AS (
    SELECT cell_id, min(reach) AS cluster_id FROM walk GROUP BY cell_id
)
SELECT CAST(c.cell_id AS BIGINT) AS cell_id,
       CAST(l.cluster_id AS BIGINT) AS cluster_id,
       CAST(c.n AS BIGINT) AS n_points
FROM labeled l JOIN core c ON c.cell_id = l.cell_id
"""


@query("grid_dbscan_clusters", oracle=_DBSCAN_ORACLE)
def q_grid_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid DBSCAN over the embedding table: dense-cell clusters under
    8-neighbor connectivity, one row per CORE CELL with its cluster
    label and point count (cell grain, so the hash pins the full
    labeling, not just cluster sizes). See the module docstring for the
    exactness and scale argument."""
    from .dedup import connected_components

    emb = read_table(spark, sf_dir, "embeddings")
    cells = (
        emb.select(
            F.floor(
                F.col("embedding").getItem(0).cast("double") * DB_SCALE
            ).alias("cx"),
            F.floor(
                F.col("embedding").getItem(1).cast("double") * DB_SCALE
            ).alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    core = (
        cells.where(F.col("n") >= DB_MINPTS)
        .select(
            ((F.col("cx") + _OFF) * _GRID + F.col("cy") + _OFF).alias(
                "cell_id"
            ),
            "cx",
            "cy",
            "n",
        )
        .localCheckpoint(eager=False)
    )
    offs = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
         if (dx, dy) != (0, 0)],
        schema="dx int, dy int",
    )
    probes = core.crossJoin(F.broadcast(offs)).select(
        F.col("cell_id").alias("src"),
        (F.col("cx") + F.col("dx")).alias("px"),
        (F.col("cy") + F.col("dy")).alias("py"),
    )
    nbr = core.select(
        F.col("cell_id").alias("dst"),
        F.col("cx").alias("px"),
        F.col("cy").alias("py"),
    )
    edges = probes.join(nbr, ["px", "py"]).select("src", "dst")
    # self-edges keep isolated core cells as singleton clusters (the
    # components operator derives its node set from the edge list)
    edges = edges.unionByName(
        core.select(
            F.col("cell_id").alias("src"), F.col("cell_id").alias("dst")
        )
    )
    labeled = connected_components(edges).select(
        F.col("doc_id").alias("cell_id"),
        F.col("component_id").alias("cluster_id"),
    )
    return labeled.join(core, "cell_id").select(
        F.col("cell_id").cast("long"),
        F.col("cluster_id").cast("long"),
        F.col("n").cast("long").alias("n_points"),
    )
