"""Z-order layout skipping audit — makes the `sources/layout.py` Z-order
claim oracle-visible: interleaving the bits of two filter dimensions gives
every file/row-group a tight min-max envelope on BOTH dimensions, so a
point predicate on either one prunes most of the files; a single-column
(time-sorted) layout can only prune on its sort column.

The audit models files as fixed-width key ranges (deterministic, unlike
`repartitionByRange`'s sampled boundaries): 256 buckets of the 16-bit
Morton key for the Z-order layout, 256 time buckets for the linear
baseline. For each probe value of the user dimension it counts how many
buckets' [min_ub, max_ub] envelope excludes the probe — exactly the
file-skipping decision a parquet reader makes from footer statistics.
All integer arithmetic; one events scan + two bounded hash-aggs.

Reference: the reference scans whole unpartitioned tables
(src/main/java/com/soto/util/SparkUtils.java:67-93); layout management is
an engine addition the 100 TB stance requires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query
from ..sources.catalog import read_table
from ..sources.layout import zvalue

Z_BITS = 8                      # per-dimension bits
Z_FILE_SPAN = 256               # morton keys per modeled file
PROBES = [0, 64, 128, 192]      # user-bucket point predicates audited


def _duck_morton(ub: str, tb: str, bits: int) -> str:
    """DuckDB bit-interleave mirroring sources.layout.zvalue([ub, tb]):
    bit i of column c lands at position i*2 + c."""
    terms = []
    for i in range(bits):
        terms.append(f"((({ub} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({tb} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


_PROBE_VALUES = ", ".join(f"({p})" for p in PROBES)

_ZORDER_ORACLE = f"""
WITH dims AS (
    SELECT CAST(user_id % 256 AS BIGINT) AS ub,
           CAST((epoch_us(ts) // 3600000000) % 256 AS BIGINT) AS tb
    FROM events
),
keyed AS (
    SELECT ub, tb, CAST({_duck_morton('ub', 'tb', Z_BITS)} AS BIGINT) AS z
    FROM dims
),
zfiles AS (
    SELECT z // {Z_FILE_SPAN} AS file_id,
           min(ub) AS min_ub, max(ub) AS max_ub
    FROM keyed GROUP BY 1
),
linfiles AS (
    SELECT tb AS file_id,
           min(ub) AS min_ub, max(ub) AS max_ub
    FROM dims GROUP BY 1
),
probes AS (SELECT * FROM (VALUES {_PROBE_VALUES}) AS t(probe_ub)),
audited AS (
    SELECT 'zorder' AS layout, p.probe_ub, f.min_ub, f.max_ub FROM zfiles f
    CROSS JOIN probes p
    UNION ALL
    SELECT 'time_sorted', p.probe_ub, f.min_ub, f.max_ub FROM linfiles f
    CROSS JOIN probes p
)
SELECT layout, CAST(probe_ub AS BIGINT) AS probe_ub,
       CAST(count(*) AS BIGINT) AS total_files,
       CAST(count(*) FILTER (WHERE probe_ub BETWEEN min_ub AND max_ub)
            AS BIGINT) AS scanned_files,
       CAST((count(*) - count(*) FILTER (
                WHERE probe_ub BETWEEN min_ub AND max_ub)) * 1000000
            // count(*) AS BIGINT) AS skipped_ppm
FROM audited GROUP BY layout, probe_ub
"""


@query("zorder_skipping_stats", oracle=_ZORDER_ORACLE)
def q_zorder_skipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping audit of Z-order vs single-column layout (module
    docstring has the model): per (layout, probe) — modeled file count,
    files a min-max footer check must scan, and the skipped fraction in
    integer ppm. The Z-order rows show high skipped_ppm for user-dimension
    probes; the time-sorted rows show ~0 (every time bucket spans all
    users), which is the measured reason `write_zordered` exists.

    Scale shape: one events scan -> two bounded (<= 256-row) hash-aggs;
    the probe cross join is O(files x probes)."""
    from ..sources.catalog import read_events

    from ..functions.scalar import epoch_us_sql

    ev = read_events(spark, sf_dir)
    dims = ev.select(
        (F.col("user_id") % 256).cast("long").alias("ub"),
        F.expr(
            f"CAST(({epoch_us_sql('ts')} div 3600000000) % 256 AS BIGINT)"
        ).alias("tb"),
    )
    keyed = dims.withColumn(
        "z", zvalue([F.col("ub"), F.col("tb")], bits=Z_BITS)
    )
    zfiles = keyed.groupBy(
        F.expr(f"z div {Z_FILE_SPAN}").alias("file_id")
    ).agg(
        F.min("ub").alias("min_ub"),
        F.max("ub").alias("max_ub"),
    )
    linfiles = dims.groupBy(F.col("tb").alias("file_id")).agg(
        F.min("ub").alias("min_ub"),
        F.max("ub").alias("max_ub"),
    )
    probes = spark.createDataFrame(
        [(p,) for p in PROBES], "probe_ub long"
    )
    audited = (
        zfiles.withColumn("layout", F.lit("zorder"))
        .unionByName(linfiles.withColumn("layout", F.lit("time_sorted")))
        .crossJoin(F.broadcast(probes))
    )
    hit = F.col("probe_ub").between(F.col("min_ub"), F.col("max_ub"))
    return audited.groupBy("layout", "probe_ub").agg(
        F.count(F.lit(1)).alias("total_files"),
        F.sum(hit.cast("long")).alias("scanned_files"),
        F.expr(
            "CAST((count(1) - sum(CAST(probe_ub BETWEEN min_ub AND max_ub "
            "AS BIGINT))) * 1000000 div count(1) AS BIGINT)"
        ).alias("skipped_ppm"),
    )


# ------------------------------------------------------- compaction planner

CP_TARGET_ROWS = 5_000   # rows per compacted output file
CP_SMALL_MAX = 4_000     # files at/above this size are left alone

_COMPACT_ORACLE = f"""
WITH files AS (
    SELECT CAST(l_shipdate AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY 1
),
small AS (SELECT * FROM files WHERE n_rows < {CP_SMALL_MAX}),
cum AS (
    SELECT day, n_rows,
           sum(n_rows) OVER (ORDER BY day) - n_rows AS prev_rows
    FROM small
)
SELECT CAST(prev_rows // {CP_TARGET_ROWS} AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(n_rows) AS BIGINT) AS total_rows,
       min(day) AS first_day, max(day) AS last_day
FROM cum GROUP BY 1
"""


@query("compaction_plan", oracle=_COMPACT_ORACLE)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the table-maintenance op every
    lakehouse at 100 TB runs nightly: model the file inventory as one file
    per ship-day (deterministic stand-in for a real catalog listing),
    keep only files below {SMALL} rows (large files are never rewritten),
    and pack them IN DAY ORDER into target-size bins of {TARGET} rows via
    an exclusive running sum (bin = floor(prev_rows / target)). Day-order
    packing preserves sort-key contiguity, so each output file keeps a
    tight min-max day envelope and the `zorder_skipping_stats` pruning
    story survives compaction — round-robin packing (cf. `balanced_shards`,
    which optimizes balance, not locality) would destroy it.

    Scale shape: the planner's input is FILE METADATA — one row per file,
    catalog-sized (millions of rows at 100 TB, not billions) — produced
    here by a two-column pushdown scan + hash agg. The running sum goes
    through `operators.sampling.grouped_prefix_sum` (range-sliced, no
    single-task global window); binning + per-bin stats are one hash agg."""
    from ..operators.sampling import grouped_prefix_sum

    li = read_table(spark, sf_dir, "lineitem")
    files = (
        li.groupBy(F.to_date("l_shipdate").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .where(F.col("n_rows") < CP_SMALL_MAX)
    )
    cum = grouped_prefix_sum(
        files.withColumn("g", F.lit(1)),
        ["g"],
        [F.col("day")],
        F.col("n_rows"),
        out_col="cum_rows",
    ).withColumn("prev_rows", F.col("cum_rows") - F.col("n_rows"))
    return (
        cum.groupBy(
            F.floor(F.col("prev_rows") / CP_TARGET_ROWS)
            .cast("long")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_rows").cast("long").alias("total_rows"),
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
        )
    )


q_compaction_plan.__doc__ = q_compaction_plan.__doc__.format(
    SMALL=CP_SMALL_MAX, TARGET=CP_TARGET_ROWS
)
