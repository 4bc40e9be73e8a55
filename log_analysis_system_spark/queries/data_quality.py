"""Data-quality operators: column profiling and constraint validation — the
guardrail pass a production pipeline runs before analytics consume a load.
The reference trusts its inputs (its ETL loads Hive tables unchecked); a
100 TB ingest cannot, so the engine carries the checks as first-class,
oracle-verified queries.

All outputs are integer counts — bit-equal across engines by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import read_events, read_table
from . import query

_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_shipdate", "l_returnflag")


@query(
    "dq_profile_lineitem",
    oracle=" UNION ALL ".join(
        f"""
SELECT '{c}' AS col_name, count(*) AS n_rows,
       count(*) - count({c}) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct
FROM lineitem"""
        for c in _PROFILE_COLS
    ),
)
def q_dq_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of the fact table: row count, null count, and exact
    distinct cardinality per profiled column — the statistics that drive
    both DQ alerting (null spikes) and physical design (a distinct count
    decides dictionary encoding, broadcast eligibility, and join-key
    sanity).

    Scale shape: one aggregate with N countDistincts compiles to a single
    Expand + two-phase hash aggregate over the pruned 4-column scan — one
    pass over the data regardless of how many columns are profiled (the
    row multiplication is x|cols|, map-side combined before any exchange).
    The per-column rows are unpivoted from that single result row, so no
    per-column rescans exist.
    """
    li = read_table(spark, sf_dir, "lineitem").select(*_PROFILE_COLS)
    agg = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.count(c).alias(f"cnt_{c}") for c in _PROFILE_COLS],
        *[F.countDistinct(c).alias(f"dst_{c}") for c in _PROFILE_COLS],
    )
    stack = ", ".join(
        f"'{c}', cnt_{c}, dst_{c}" for c in _PROFILE_COLS
    )
    return agg.selectExpr(
        "n_rows",
        f"stack({len(_PROFILE_COLS)}, {stack}) AS (col_name, cnt, dst)",
    ).select(
        "col_name",
        "n_rows",
        (F.col("n_rows") - F.col("cnt")).alias("n_nulls"),
        F.col("dst").alias("n_distinct"),
    )


@query(
    "dq_checks",
    oracle="""
SELECT 'orphan_orders' AS check_name,
       (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)) AS n_violations
UNION ALL
SELECT 'nonpositive_quantity',
       (SELECT count(*) FROM lineitem WHERE l_quantity <= 0)
UNION ALL
SELECT 'ship_before_order',
       (SELECT count(*) FROM lineitem l JOIN orders o
        ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate < o.o_orderdate)
UNION ALL
SELECT 'null_user_events',
       (SELECT count(*) FROM events WHERE user_id IS NULL)
UNION ALL
SELECT 'duplicate_orderkey',
       (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM
        (SELECT count(*) AS c FROM orders GROUP BY o_orderkey))
""",
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint validation over the load: referential integrity (orders
    without a customer), domain rules (non-positive quantities, shipments
    dated before their order), required fields, and primary-key
    uniqueness. Each row is (check_name, n_violations); a clean load is
    all-zeros — and zero rows must still be COUNTED, so every check runs
    even when it passes.

    Scale shape: the FK check is a left-anti join (shuffles only the key
    column); ship-before-order is the fact-fact equi-join the engine
    already co-locates on orderkey; PK uniqueness is one hash aggregate.
    Checks are unioned as independent single-row aggregates, so Spark
    schedules them as parallel jobs over pruned scans.
    """
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    li = read_table(spark, sf_dir, "lineitem")
    ev = read_events(spark, sf_dir)

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check_name"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_violations"),
        )

    orphan = one(
        "orphan_orders",
        orders.join(
            cust, orders.o_custkey == cust.c_custkey, "left_anti"
        ).agg(F.count(F.lit(1)).alias("n")),
    )
    nonpos = one(
        "nonpositive_quantity",
        li.where(F.col("l_quantity") <= 0).agg(F.count(F.lit(1)).alias("n")),
    )
    ship = one(
        "ship_before_order",
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(F.col("l_shipdate") < F.col("o_orderdate"))
        .agg(F.count(F.lit(1)).alias("n")),
    )
    nullu = one(
        "null_user_events",
        ev.where(F.col("user_id").isNull()).agg(F.count(F.lit(1)).alias("n")),
    )
    dup = one(
        "duplicate_orderkey",
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).alias("n")),
    )
    return orphan.unionByName(nonpos).unionByName(ship).unionByName(nullu).unionByName(dup)


def with_audit(df: DataFrame, name: str, metrics: dict[str, F.Column]):
    """Attach zero-cost audit counters to a DataFrame: the metrics are
    computed by ``Observation`` inside the SAME action that materializes
    ``df`` — no second scan, no cached intermediate. This is how a 100 TB
    pipeline stage reports rows-in/rows-dropped/null-rate without paying
    for a separate DQ pass.

    Returns (observed_df, observation); read ``observation.get`` AFTER an
    action has run on the returned frame.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *[c.alias(n) for n, c in metrics.items()]), obs


# -------------------------------------------------------- drift detection

DRIFT_CUT = "2024-01-16"   # window A: days 1-15; window B: days 16-30
DRIFT_BUCKET_W = 50        # fixed-width value buckets
DRIFT_N_BUCKETS = 10

# PSI contribution of one bucket, as one textual expression evaluated
# identically by Spark and DuckDB: counts are +1-smoothed exact bigints,
# pa/pb collapse to ONE double division each, and the log-ratio is computed
# from the exact integer cross-products so ln sees the same double on both
# engines.
_PSI_EXPR = (
    "round((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)"
    " * ln(CAST(ca * nb AS DOUBLE) / (cb * na)), 6)"
)


def drift_labels(ev: DataFrame) -> DataFrame:
    """(feature, label) drift-feature rows for an events frame: fixed-width
    value buckets + the event_type categories — shared by the batch PSI
    query and the streaming drift monitor so both watch the SAME features."""
    num = ev.select(
        F.lit("value_bucket").alias("feature"),
        F.least(
            F.floor(F.col("value") / DRIFT_BUCKET_W),
            F.lit(DRIFT_N_BUCKETS - 1),
        )
        .cast("long")
        .cast("string")
        .alias("label"),
    )
    cat = ev.select(
        F.lit("event_type").alias("feature"),
        F.col("event_type").alias("label"),
    )
    return num.unionByName(cat)


def psi_report(counts_a: DataFrame, counts_b: DataFrame) -> DataFrame:
    """Per-bucket PSI contributions from two (feature, label, n) count
    tables (reference window A vs observed window B) — the serve-side half
    shared by the batch query and the streaming monitor. Missing buckets
    on either side count 0 before the +1 smoothing."""
    joined = (
        counts_a.select("feature", "label", F.col("n").alias("raw_a"))
        .join(
            counts_b.select("feature", "label", F.col("n").alias("raw_b")),
            ["feature", "label"],
            "full_outer",
        )
        .select(
            "feature",
            "label",
            F.coalesce("raw_a", F.lit(0)).alias("raw_a"),
            F.coalesce("raw_b", F.lit(0)).alias("raw_b"),
        )
        .withColumn("ca", F.col("raw_a") + 1)
        .withColumn("cb", F.col("raw_b") + 1)
    )
    tot = joined.groupBy("feature").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    return joined.join(F.broadcast(tot), "feature").select(
        "feature",
        "label",
        F.col("raw_a").alias("n_a"),
        F.col("raw_b").alias("n_b"),
        F.expr(_PSI_EXPR).alias("psi_contrib"),
    )


@query(
    "drift_psi",
    oracle=f"""
WITH labeled AS (
    SELECT 'value_bucket' AS feature,
           CAST(CAST(least(floor(value / {DRIFT_BUCKET_W}),
                           {DRIFT_N_BUCKETS - 1}) AS BIGINT) AS VARCHAR)
               AS label,
           CASE WHEN ts < TIMESTAMP '{DRIFT_CUT} 00:00:00'
                THEN 1 ELSE 0 END AS in_a
    FROM events
    UNION ALL
    SELECT 'event_type' AS feature, event_type AS label,
           CASE WHEN ts < TIMESTAMP '{DRIFT_CUT} 00:00:00'
                THEN 1 ELSE 0 END AS in_a
    FROM events
),
counts AS (
    SELECT feature, label,
           CAST(sum(in_a) AS BIGINT) AS raw_a,
           CAST(sum(1 - in_a) AS BIGINT) AS raw_b
    FROM labeled GROUP BY 1, 2
),
smoothed AS (
    SELECT feature, label, raw_a, raw_b,
           raw_a + 1 AS ca, raw_b + 1 AS cb
    FROM counts
),
tot AS (
    SELECT feature, CAST(sum(ca) AS BIGINT) AS na,
           CAST(sum(cb) AS BIGINT) AS nb
    FROM smoothed GROUP BY 1
)
SELECT s.feature, s.label, s.raw_a AS n_a, s.raw_b AS n_b,
       {_PSI_EXPR} AS psi_contrib
FROM smoothed s JOIN tot USING (feature)
""",
)
def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detection between two ingest windows via the
    population stability index — per (feature, bucket) contributions for a
    numeric feature (fixed-width value buckets) and a categorical one
    (event_type). Rows stay PER-BUCKET: psi_contrib is each bucket's term
    of PSI = sum (pa - pb) * ln(pa / pb); the reader sums them (psi > 0.2
    = actionable drift by the usual rule). Emitting contributions, not the
    sum, keeps the output free of cross-row double summation (order-
    dependent) AND is the more useful diagnostic — it names WHICH buckets
    moved.

    Counts are +1-smoothed so empty-on-one-side buckets stay finite,
    proportions are single double divisions of exact bigints, and the
    log-ratio collapses to one division of integer cross-products — the
    drift pass is one conditional-aggregate scan + a per-feature scalar
    broadcast, no shuffle wider than the bucket table."""
    ev = read_events(spark, sf_dir)
    in_a = (F.col("ts") < F.lit(f"{DRIFT_CUT} 00:00:00").cast("timestamp_ntz")).cast("long")
    num = ev.select(
        F.lit("value_bucket").alias("feature"),
        F.least(
            F.floor(F.col("value") / DRIFT_BUCKET_W),
            F.lit(DRIFT_N_BUCKETS - 1),
        )
        .cast("long")
        .cast("string")
        .alias("label"),
        in_a.alias("in_a"),
    )
    cat = ev.select(
        F.lit("event_type").alias("feature"),
        F.col("event_type").alias("label"),
        in_a.alias("in_a"),
    )
    counts = (
        num.unionByName(cat)
        .groupBy("feature", "label")
        .agg(
            F.sum("in_a").alias("raw_a"),
            F.sum(F.lit(1) - F.col("in_a")).alias("raw_b"),
        )
        .withColumn("ca", F.col("raw_a") + 1)
        .withColumn("cb", F.col("raw_b") + 1)
    )
    tot = counts.groupBy("feature").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    return counts.join(F.broadcast(tot), "feature").select(
        "feature",
        "label",
        F.col("raw_a").alias("n_a"),
        F.col("raw_b").alias("n_b"),
        F.expr(_PSI_EXPR).alias("psi_contrib"),
    )


# ----------------------------------------------------- Benford digit audit

# floor(log10(1 + 1/d) * 1e6) for d = 1..9, precomputed so neither engine
# evaluates a log at query time — expected proportions are literals.
BENFORD_PPM = (301029, 176091, 124938, 96910, 79181, 66946, 57991, 51152,
               45757)
_BENFORD_CASE = (
    "CASE first_digit "
    + " ".join(
        f"WHEN {d + 1} THEN {ppm}" for d, ppm in enumerate(BENFORD_PPM)
    )
    + " END"
)


@query(
    "benford_digit_audit",
    oracle=f"""
WITH digits AS (
    SELECT CAST(substr(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR),
                       1, 1) AS BIGINT) AS first_digit
    FROM events
    WHERE round(value * 100) >= 1
),
counts AS (
    SELECT first_digit, CAST(count(*) AS BIGINT) AS o
    FROM digits GROUP BY 1
),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM counts)
SELECT first_digit, o,
       CAST(o * 1000000 // n AS BIGINT) AS observed_ppm,
       CAST({_BENFORD_CASE} AS BIGINT) AS expected_ppm,
       CAST(o * 1000000 // n - {_BENFORD_CASE} AS BIGINT) AS deviation_ppm
FROM counts, tot
ORDER BY first_digit
""",
)
def q_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit of the value column — the
    classic anomaly/fraud screen: naturally-occurring multiplicative
    amounts follow log10(1 + 1/d), while fabricated or clamped data
    doesn't (this synthetic uniform-ish column deviates, which is exactly
    what the report shows). Observed and expected proportions are integer
    ppm (expected digits are precomputed literals — no log at query time),
    so every row is bit-equal across engines.

    One scan + a 9-row aggregate; the total joins back as a broadcast
    scalar."""
    ev = read_events(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("long")
    digits = ev.where(cents >= 1).select(
        F.substring(cents.cast("string"), 1, 1).cast("long").alias(
            "first_digit"
        )
    )
    counts = digits.groupBy("first_digit").agg(F.count(F.lit(1)).alias("o"))
    tot = counts.agg(F.sum("o").alias("n"))
    obs_ppm = F.expr("o * 1000000 div n")
    exp_ppm = F.expr(_BENFORD_CASE)
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "first_digit",
            "o",
            obs_ppm.alias("observed_ppm"),
            exp_ppm.cast("long").alias("expected_ppm"),
            (obs_ppm - exp_ppm).alias("deviation_ppm"),
        )
        .orderBy("first_digit")
    )


# ------------------------------------------------ KS two-sample drift

KS_GRID_W = 1  # 1-unit value buckets -> <= ~500 grid rows (value <= ~500)


@query(
    "ks_drift",
    oracle=f"""
WITH b AS (
    SELECT CAST(floor(value / {KS_GRID_W}) AS BIGINT) AS bucket,
           CASE WHEN ts < TIMESTAMP '{DRIFT_CUT} 00:00:00'
                THEN 1 ELSE 0 END AS in_a
    FROM events
),
cells AS (
    SELECT bucket,
           CAST(sum(in_a) AS BIGINT) AS ca,
           CAST(sum(1 - in_a) AS BIGINT) AS cb
    FROM b GROUP BY 1
),
tot AS (
    SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
    FROM cells
),
cdf AS (
    SELECT bucket,
           CAST(sum(ca) OVER (ORDER BY bucket
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_a,
           CAST(sum(cb) OVER (ORDER BY bucket
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_b
    FROM cells
)
SELECT bucket AS at_bucket,
       CAST(abs(cum_a * nb - cum_b * na) AS BIGINT) AS gap_scaled,
       na AS n_a, nb AS n_b,
       CAST(abs(cum_a * nb - cum_b * na) * 1000000 // (na * nb) AS BIGINT)
           AS ks_ppm
FROM cdf, tot
ORDER BY abs(cum_a * nb - cum_b * na) DESC, bucket
LIMIT 1
""",
)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov two-sample drift statistic between the two
    ingest windows: the maximum CDF gap of the value distribution, with
    the bucket where it peaks — the nonparametric complement of the
    binned PSI report (PSI weights every bucket, KS finds the single
    worst crossing). The gap is computed SCALED: |cum_a*n_b - cum_b*n_a|
    is an exact bigint, so the argmax is bit-stable and the ppm statistic
    is one floor division at the output edge.

    Scale shape: the fact scan collapses to one row per grid bucket
    (bounded by the value domain, ~500 rows) before the CDF window runs —
    the prefix sums never see raw events."""
    from pyspark.sql import Window

    ev = read_events(spark, sf_dir)
    in_a = (
        F.col("ts") < F.lit(f"{DRIFT_CUT} 00:00:00").cast("timestamp_ntz")
    ).cast("long")
    cells = ev.select(
        F.floor(F.col("value") / KS_GRID_W).cast("long").alias("bucket"),
        in_a.alias("in_a"),
    ).groupBy("bucket").agg(
        F.sum("in_a").alias("ca"),
        F.sum(F.lit(1) - F.col("in_a")).alias("cb"),
    )
    tot = cells.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    w = Window.partitionBy(F.lit(1)).orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cdf = cells.select(
        "bucket",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    gap = F.abs(F.col("cum_a") * F.col("nb") - F.col("cum_b") * F.col("na"))
    scored = cdf.crossJoin(F.broadcast(tot)).select(
        F.col("bucket").alias("at_bucket"),
        gap.alias("gap_scaled"),
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.expr(
            "CAST(abs(cum_a * nb - cum_b * na) * 1000000 div (na * nb) "
            "AS BIGINT)"
        ).alias("ks_ppm"),
    )
    from ..operators.topn import global_topn

    return global_topn(
        scored, [F.desc("gap_scaled"), F.asc("at_bucket")], 1
    )


# ------------------------------------------------- k-anonymity audit

K_ANON = 5  # re-identification risk threshold: classes smaller than this
K_ANON_BAL_W = 1000  # account-balance generalization width (coarsening)


@query(
    "k_anonymity_audit",
    oracle=f"""
WITH classes AS (
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / {K_ANON_BAL_W}) AS BIGINT) AS bal_band,
           CAST(count(*) AS BIGINT) AS class_size
    FROM customer
    GROUP BY 1, 2, 3
)
SELECT CAST(count(*) AS BIGINT) AS n_classes,
       CAST(min(class_size) AS BIGINT) AS min_class_size,
       CAST(sum(CASE WHEN class_size < {K_ANON} THEN class_size ELSE 0 END)
            AS BIGINT) AS rows_at_risk,
       CAST(sum(class_size) AS BIGINT) AS rows_total,
       CAST(sum(CASE WHEN class_size < {K_ANON} THEN 1 ELSE 0 END)
            AS BIGINT) AS classes_below_k
FROM classes
""",
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table under the quasi-identifier
    tuple (nation, market segment, coarsened account-balance band): how
    many equivalence classes exist, how small the smallest is, and how
    many rows sit in classes below k={K_ANON} — the re-identification-risk
    report a privacy review runs before a dataset ships (the structural
    complement of `pii_redact`'s value masking: redaction hides
    identifiers, k-anonymity measures whether combinations of
    NON-identifiers still single people out).

    One hash aggregate builds the class table; the audit is a second
    bounded aggregate over it. If rows_at_risk > 0 the fix is coarsening
    the generalization (wider bands) or suppressing the risky classes —
    both re-runs of this same query shape."""
    cust = read_table(spark, sf_dir, "customer")
    classes = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / K_ANON_BAL_W).cast("long").alias(
            "bal_band"
        ),
    ).agg(F.count(F.lit(1)).alias("class_size"))
    below = F.col("class_size") < K_ANON
    return classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("class_size").alias("min_class_size"),
        F.sum(F.when(below, F.col("class_size")).otherwise(0)).alias(
            "rows_at_risk"
        ),
        F.sum("class_size").alias("rows_total"),
        F.sum(below.cast("long")).alias("classes_below_k"),
    )


# --------------------------------------- functional-dependency discovery

# Candidate FDs to test: (table, lhs, rhs). Mixed true/false candidates so
# the report demonstrates both outcomes.
FD_CANDIDATES = (
    ("orders", "o_orderkey", "o_custkey"),       # key -> attr: must hold
    ("customer", "c_custkey", "c_mktsegment"),   # key -> attr: must hold
    ("customer", "c_nationkey", "c_mktsegment"), # non-key: expected to fail
    ("lineitem", "l_orderkey", "l_suppkey"),     # multi-line orders: fails
)


def _fd_sql(table: str, lhs: str, rhs: str) -> str:
    return f"""
SELECT '{table}.{lhs}->{rhs}' AS candidate,
       CAST(count(*) AS BIGINT) AS n_lhs_groups,
       CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS violating_groups,
       CAST(CASE WHEN sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0
                 THEN 1 ELSE 0 END AS BIGINT) AS holds
FROM (
    SELECT {lhs}, count(DISTINCT {rhs}) AS n_rhs
    FROM {table} GROUP BY {lhs}
) g"""


@query(
    "fd_discovery",
    oracle="\nUNION ALL\n".join(
        _fd_sql(t, a, b) for t, a, b in FD_CANDIDATES
    ),
)
def q_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery (profiling): for each candidate
    LHS -> RHS, count the LHS groups whose RHS takes more than one value —
    zero violating groups means the dependency HOLDS on this data. FDs
    drive normalization decisions, key detection, and join-safety checks
    ("is this column safe to carry through a group-by"); the candidate
    list mixes true keys and deliberately-failing candidates so both
    verdicts are exercised.

    Each candidate is one (lhs -> distinct-rhs) aggregate over a pruned
    two-column scan, then a bounded rollup — candidates run as
    independent parallel jobs, and no candidate ever shuffles more than
    its two columns."""
    out = None
    for table, lhs, rhs in FD_CANDIDATES:
        df = read_table(spark, sf_dir, table)
        g = df.groupBy(lhs).agg(F.countDistinct(rhs).alias("n_rhs"))
        viol = F.sum((F.col("n_rhs") > 1).cast("long"))
        one = g.agg(
            F.lit(f"{table}.{lhs}->{rhs}").alias("candidate"),
            F.count(F.lit(1)).alias("n_lhs_groups"),
            viol.alias("violating_groups"),
            F.when(viol == 0, 1).otherwise(0).cast("long").alias("holds"),
        )
        out = one if out is None else out.unionByName(one)
    return out


# --------------------------------------------- order/line reconciliation

RECON_TOL_C = 100  # tolerance in cents for header-vs-detail agreement


@query(
    "order_reconciliation",
    oracle=f"""
WITH detail AS (
    SELECT l_orderkey,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS line_total_c
    FROM lineitem GROUP BY 1
),
recon AS (
    SELECT o.o_orderkey,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS header_c,
           coalesce(d.line_total_c, 0) AS line_total_c,
           CASE WHEN d.l_orderkey IS NULL THEN 1 ELSE 0 END AS headless
    FROM orders o LEFT JOIN detail d ON d.l_orderkey = o.o_orderkey
)
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(headless) AS BIGINT) AS n_missing_detail,
       CAST(sum(CASE WHEN headless = 0
                     AND abs(header_c - line_total_c) > {RECON_TOL_C}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
       CAST(max(CASE WHEN headless = 0
                     THEN abs(header_c - line_total_c) END) AS BIGINT)
           AS max_abs_diff_c,
       CAST(sum(header_c) AS BIGINT) AS header_total_c,
       CAST(sum(line_total_c) AS BIGINT) AS detail_total_c
FROM recon
""",
)
def q_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail reconciliation: every order's header total against
    the sum of its line extended prices — the financial-close audit that
    catches dropped lines, double loads, and currency/rounding bugs
    before a revenue number ships. Reports missing-detail orders,
    out-of-tolerance mismatches, the worst absolute gap, and both grand
    totals (all exact cents, so the report is bit-stable and the two
    grand totals reconcile downstream systems directly).

    Scale shape: detail collapses to one row per order before the join;
    header-detail is the orderkey equi-join the engine already co-locates;
    the audit is one conditional aggregate over slim reconciled rows."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    detail = li.groupBy("l_orderkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "line_total_c"
        )
    )
    recon = orders.join(
        detail, orders.o_orderkey == detail.l_orderkey, "left"
    ).select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("header_c"),
        F.coalesce("line_total_c", F.lit(0)).alias("line_total_c"),
        F.col("l_orderkey").isNull().cast("long").alias("headless"),
    )
    diff = F.abs(F.col("header_c") - F.col("line_total_c"))
    ok_detail = F.col("headless") == 0
    return recon.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("headless").alias("n_missing_detail"),
        F.sum((ok_detail & (diff > RECON_TOL_C)).cast("long")).alias(
            "n_mismatched"
        ),
        F.max(F.when(ok_detail, diff)).alias("max_abs_diff_c"),
        F.sum("header_c").alias("header_total_c"),
        F.sum("line_total_c").alias("detail_total_c"),
    )


# ------------------------------------------ robust (MAD) outlier days

MAD_K = 3  # flag when |x - median| > K * MAD (the classic robust z ~ 3)


@query(
    "mad_outlier_days",
    oracle=f"""
WITH daily AS (
    SELECT o_orderdate AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_c
    FROM orders GROUP BY 1
),
r1 AS (
    SELECT day, revenue_c,
           row_number() OVER (ORDER BY revenue_c, day) AS rn,
           count(*) OVER () AS n
    FROM daily
),
med AS (
    SELECT max(revenue_c) AS m FROM r1 WHERE rn <= (n + 1) // 2
),
dev AS (
    SELECT day, revenue_c, abs(revenue_c - med.m) AS d, med.m
    FROM daily CROSS JOIN med
),
r2 AS (
    SELECT d, row_number() OVER (ORDER BY d, day) AS rn, count(*) OVER () AS n
    FROM dev
),
mad AS (SELECT max(d) AS mad FROM r2 WHERE rn <= (n + 1) // 2)
SELECT dev.day, dev.revenue_c,
       CAST(dev.m AS BIGINT) AS median_c,
       CAST(dev.d AS BIGINT) AS abs_dev_c,
       CAST(mad.mad AS BIGINT) AS mad_c,
       CAST(dev.d > {MAD_K} * mad.mad AS BOOLEAN) AS is_outlier
FROM dev CROSS JOIN mad
""",
)
def q_mad_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection on the daily revenue series:
    median/MAD instead of mean/stddev, so a single broken day cannot
    inflate its own detection threshold (the breakdown-point argument
    that makes MAD the standard DQ monitor statistic). A day is flagged
    when |revenue - median| > {MAD_K} * MAD.

    Exactness recipe: the median is the DISCRETE order statistic (the
    ((n+1) div 2)-th smallest, ties broken by day) computed via
    `global_rank` — no interpolation, no float percentile, so both
    engines agree on the exact cents value; MAD is the same statistic
    over integer absolute deviations; the flag compares bigints.

    Scale: day-grain aggregate (bounded by calendar span, not corpus),
    two global_rank passes over the slim (value, day) projection + two
    1-row broadcast scalars — never a single-partition window over
    data-sized input."""
    from ..operators.sampling import global_rank

    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
        ).alias("revenue_c")
    )
    r1 = global_rank(
        daily, [F.asc("revenue_c"), F.asc("day")], rank_col="rn"
    )
    n1 = daily.agg(F.count(F.lit(1)).alias("n"))
    med = (
        r1.crossJoin(F.broadcast(n1))
        .where(F.col("rn") + 1 <= (F.col("n") + 1) / 2)
        .agg(F.max("revenue_c").alias("m"))
    )
    dev = daily.crossJoin(F.broadcast(med)).select(
        "day",
        "revenue_c",
        F.col("m"),
        F.abs(F.col("revenue_c") - F.col("m")).alias("d"),
    )
    r2 = global_rank(
        dev.select("day", "d"), [F.asc("d"), F.asc("day")], rank_col="rn"
    )
    mad = (
        r2.crossJoin(F.broadcast(n1))
        .where(F.col("rn") + 1 <= (F.col("n") + 1) / 2)
        .agg(F.max("d").alias("mad"))
    )
    return dev.crossJoin(F.broadcast(mad)).select(
        "day",
        "revenue_c",
        F.col("m").cast("long").alias("median_c"),
        F.col("d").cast("long").alias("abs_dev_c"),
        F.col("mad").cast("long").alias("mad_c"),
        (F.col("d") > MAD_K * F.col("mad")).alias("is_outlier"),
    )


# ------------------------------------- entity resolution (blocked fuzzy)

ER_MAX_DIST = 1   # unit-cost Levenshtein threshold within a block


@query(
    "fuzzy_customer_pairs",
    oracle=f"""
WITH c AS (
    SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer
)
SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
       a.c_name AS name_a, b.c_name AS name_b,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
FROM c a JOIN c b
  ON a.c_nationkey = b.c_nationkey
 AND a.c_mktsegment = b.c_mktsegment
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= {ER_MAX_DIST}
""",
)
def q_fuzzy_customer_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution, the classic blocked-fuzzy-match shape: find
    probable duplicate CUSTOMER records by unit-cost Levenshtein
    distance <= {ER_MAX_DIST} on the name — but only WITHIN a blocking
    key (nation, market segment), which is what makes the quadratic
    string-distance kernel tractable: candidate pairs are an equi-join
    on the block key, never a corpus cross join, and per-block volume
    is (corpus/blocks)^2 — the same candidate-bounding contract as the
    LSH band join, with the block key as the "band". Both engines
    implement standard unit-cost Levenshtein, so distances are exact
    integers and the pair set hashes identically.

    Scale: block key cardinality is the knob (add name-prefix or
    phonetic buckets to subdivide hot blocks — exactly how production
    ER systems handle skew); the edit-distance evaluation itself is a
    codegen scalar inside the joined row."""
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    a = c.select(
        F.col("c_custkey").alias("cust_a"),
        F.col("c_name").alias("name_a"),
        "c_nationkey",
        "c_mktsegment",
    )
    b = c.select(
        F.col("c_custkey").alias("cust_b"),
        F.col("c_name").alias("name_b"),
        "c_nationkey",
        "c_mktsegment",
    )
    return (
        a.join(b, ["c_nationkey", "c_mktsegment"])
        .where(F.col("cust_a") < F.col("cust_b"))
        .withColumn(
            "dist", F.levenshtein("name_a", "name_b").cast("long")
        )
        .where(F.col("dist") <= ER_MAX_DIST)
        .select("cust_a", "cust_b", "name_a", "name_b", "dist")
    )


# --------------------------------------- cross-modal integrity checks

EMB_DIMS_EXPECTED = 64


@query(
    "modality_integrity_checks",
    oracle=f"""
SELECT 'docs_without_embedding' AS check_name,
       (SELECT count(*) FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM embeddings e
                          WHERE e.vec_id = d.doc_id)) AS n_violations
UNION ALL
SELECT 'embeddings_without_doc',
       (SELECT count(*) FROM embeddings e
        WHERE NOT EXISTS (SELECT 1 FROM documents d
                          WHERE d.doc_id = e.vec_id))
UNION ALL
SELECT 'duplicate_vec_id',
       (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM
        (SELECT count(*) AS c FROM embeddings GROUP BY vec_id))
UNION ALL
SELECT 'wrong_dimension',
       (SELECT count(*) FROM embeddings
        WHERE len(embedding) <> {EMB_DIMS_EXPECTED})
UNION ALL
SELECT 'zero_vector',
       (SELECT count(*) FROM embeddings
        WHERE NOT EXISTS (SELECT 1 FROM (SELECT unnest(embedding) AS v)
                          WHERE v <> 0))
""",
)
def q_modality_integrity_checks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-MODAL referential integrity — the `dq_checks` contract
    applied across the text/embedding join that every similarity and
    hybrid-retrieval operator silently assumes: docs lacking an
    embedding row (they vanish from ANN results without error),
    orphaned embeddings, duplicate vector keys (they double-count in
    recall audits), wrong dimensionality (breaks the subvector
    slicers), and all-zero vectors (undefined cosine — a divide hazard
    the norm-based rankers would hit first). Each row is
    (check_name, n_violations); a consistent corpus is all-zeros, and
    passing checks still emit their zero.

    Scale shape: two key-only anti-joins, one hash-agg for key
    uniqueness, and two zero-shuffle projections (dimension + zero-test
    via exists over the array) — nothing wider than a bigint key ever
    shuffles."""
    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check_name"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias(
                "n_violations"
            ),
        )

    no_emb = one(
        "docs_without_embedding",
        docs.join(emb, docs.doc_id == emb.vec_id, "left_anti").agg(
            F.count(F.lit(1)).alias("n")
        ),
    )
    no_doc = one(
        "embeddings_without_doc",
        emb.join(docs, emb.vec_id == docs.doc_id, "left_anti").agg(
            F.count(F.lit(1)).alias("n")
        ),
    )
    dup = one(
        "duplicate_vec_id",
        emb.groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).alias("n")),
    )
    wrong_dim = one(
        "wrong_dimension",
        emb.where(F.size("embedding") != EMB_DIMS_EXPECTED).agg(
            F.count(F.lit(1)).alias("n")
        ),
    )
    zero_vec = one(
        "zero_vector",
        emb.where(~F.expr("exists(embedding, v -> v <> 0)")).agg(
            F.count(F.lit(1)).alias("n")
        ),
    )
    return (
        no_emb.unionByName(no_doc)
        .unionByName(dup)
        .unionByName(wrong_dim)
        .unionByName(zero_vec)
    )


# ------------------------------------------------- l-diversity audit

L_DIVERSE = 3  # required distinct sensitive values per equivalence class


@query(
    "l_diversity_audit",
    oracle=f"""
WITH classes AS (
    SELECT c_nationkey,
           CAST(floor(c_acctbal / {K_ANON_BAL_W}) AS BIGINT) AS bal_band,
           CAST(count(*) AS BIGINT) AS class_size,
           CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive
    FROM customer
    GROUP BY 1, 2
)
SELECT CAST(count(*) AS BIGINT) AS n_classes,
       CAST(min(n_sensitive) AS BIGINT) AS min_diversity,
       CAST(sum(CASE WHEN n_sensitive < {L_DIVERSE} THEN 1 ELSE 0 END)
            AS BIGINT) AS classes_below_l,
       CAST(sum(CASE WHEN n_sensitive < {L_DIVERSE} THEN class_size
                ELSE 0 END) AS BIGINT) AS rows_at_risk,
       CAST(sum(class_size) AS BIGINT) AS rows_total
FROM classes
""",
)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the attribute-disclosure complement of
    `k_anonymity_audit`: a class can satisfy k-anonymity yet still leak
    if every member shares the SAME sensitive value, so this measures,
    per quasi-identifier class (nation, coarsened balance band), how
    many DISTINCT sensitive values (market segment) it contains, and
    flags classes below l={L_DIVERSE}. rows_at_risk counts members of
    homogeneous classes — the people whose segment an attacker learns
    from the quasi-identifiers alone.

    One hash aggregate with a distinct-count per class (Spark plans
    count(DISTINCT) as the standard two-phase expand-agg), then a
    bounded audit rollup — same two-aggregate shape and knobs as the
    k-anonymity row, so the two reports coarsen together."""
    cust = read_table(spark, sf_dir, "customer")
    classes = cust.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / K_ANON_BAL_W).cast("long").alias(
            "bal_band"
        ),
    ).agg(
        F.count(F.lit(1)).alias("class_size"),
        F.countDistinct("c_mktsegment").alias("n_sensitive"),
    )
    below = F.col("n_sensitive") < L_DIVERSE
    return classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("n_sensitive").alias("min_diversity"),
        F.sum(below.cast("long")).alias("classes_below_l"),
        F.sum(F.when(below, F.col("class_size")).otherwise(0)).alias(
            "rows_at_risk"
        ),
        F.sum("class_size").alias("rows_total"),
    )


# ------------------------------------------------- t-closeness audit

T_CLOSE_PPM = 300_000  # max allowed TVD between class and global sensitive


@query(
    "t_closeness_audit",
    oracle=f"""
WITH cls AS (
    SELECT c_nationkey,
           CAST(floor(c_acctbal / {K_ANON_BAL_W}) AS BIGINT) AS bal_band,
           c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_cs
    FROM customer GROUP BY 1, 2, 3
),
ctot AS (
    SELECT c_nationkey, bal_band, CAST(sum(n_cs) AS BIGINT) AS n_c
    FROM cls GROUP BY 1, 2
),
gtot AS (
    SELECT c_mktsegment, CAST(sum(n_cs) AS BIGINT) AS n_s FROM cls GROUP BY 1
),
n AS (SELECT CAST(sum(n_cs) AS BIGINT) AS nn FROM cls),
grid AS (
    SELECT t.c_nationkey, t.bal_band, t.n_c, g.n_s, n.nn,
           coalesce(c.n_cs, 0) AS n_cs
    FROM ctot t CROSS JOIN gtot g CROSS JOIN n
    LEFT JOIN cls c ON c.c_nationkey = t.c_nationkey
                   AND c.bal_band = t.bal_band
                   AND c.c_mktsegment = g.c_mktsegment
),
tvd AS (
    SELECT c_nationkey, bal_band, max(n_c) AS class_size,
           CAST(sum(abs(n_cs * nn - n_s * n_c)) * 1000000
                // (2 * max(n_c) * max(nn)) AS BIGINT) AS tvd_ppm
    FROM grid GROUP BY 1, 2
)
SELECT CAST(count(*) AS BIGINT) AS n_classes,
       CAST(max(tvd_ppm) AS BIGINT) AS max_tvd_ppm,
       CAST(sum(CASE WHEN tvd_ppm > {T_CLOSE_PPM} THEN 1 ELSE 0 END)
            AS BIGINT) AS classes_above_t,
       CAST(sum(CASE WHEN tvd_ppm > {T_CLOSE_PPM} THEN class_size
                ELSE 0 END) AS BIGINT) AS rows_at_risk
FROM tvd
""",
)
def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third rung of the privacy ladder after
    `k_anonymity_audit` (class size) and `l_diversity_audit` (distinct
    sensitive values): a class can be large AND diverse yet still leak
    if its sensitive-value DISTRIBUTION deviates from the global one
    (90/10 where the population is 20/80 tells an attacker plenty).
    Per quasi-identifier class, the total-variation distance between
    the class's market-segment distribution and the global distribution
    in exact integer ppm — TVD = sum |n_cs·N - N_s·n_c| / (2·n_c·N),
    cross-multiplied so the only division is one final floor-div of a
    non-negative numerator. Audit rollup flags classes above
    t = {T_CLOSE_PPM} ppm.

    Scale: one (class, sensitive) hash-agg over the scan, then every
    table is class- or |sensitive|-sized; the completion grid is a
    broadcast of the |sensitive|-row global distribution (5 segments)
    against the class totals — zeros for absent combinations are what
    make TVD exact."""
    cust = read_table(spark, sf_dir, "customer")
    cls = cust.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / K_ANON_BAL_W).cast("long").alias(
            "bal_band"
        ),
        "c_mktsegment",
    ).agg(F.count(F.lit(1)).cast("long").alias("n_cs"))
    ctot = cls.groupBy("c_nationkey", "bal_band").agg(
        F.sum("n_cs").cast("long").alias("n_c")
    )
    gtot = cls.groupBy("c_mktsegment").agg(
        F.sum("n_cs").cast("long").alias("n_s")
    )
    n = cls.agg(F.sum("n_cs").cast("long").alias("nn"))
    grid = (
        ctot.crossJoin(F.broadcast(gtot))
        .crossJoin(F.broadcast(n))
        .join(
            cls,
            ["c_nationkey", "bal_band", "c_mktsegment"],
            "left",
        )
        .withColumn("n_cs", F.coalesce("n_cs", F.lit(0)))
    )
    tvd = grid.groupBy("c_nationkey", "bal_band").agg(
        F.max("n_c").alias("class_size"),
        F.expr(
            "CAST(sum(abs(n_cs * nn - n_s * n_c)) * 1000000 "
            "div (2 * max(n_c) * max(nn)) AS BIGINT)"
        ).alias("tvd_ppm"),
    )
    above = F.col("tvd_ppm") > T_CLOSE_PPM
    return tvd.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.max("tvd_ppm").cast("long").alias("max_tvd_ppm"),
        F.sum(above.cast("long")).cast("long").alias("classes_above_t"),
        F.sum(F.when(above, F.col("class_size")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
    )


# ------------------------- 1-D Wasserstein (earth-mover) source drift

W1_GRID_W = 100  # n_chars bucket width -> bounded grid (~tens of buckets)

_W1_ORACLE = f"""
WITH b AS (
    SELECT source, CAST(n_chars // {W1_GRID_W} AS BIGINT) AS bucket
    FROM documents
),
cnt AS (
    SELECT source, bucket, CAST(count(*) AS BIGINT) AS ca
    FROM b GROUP BY 1, 2
),
gtot AS (
    SELECT bucket, CAST(count(*) AS BIGINT) AS ct FROM b GROUP BY 1
),
cells AS (
    SELECT s.source, g.bucket, coalesce(c.ca, 0) AS ca,
           g.ct - coalesce(c.ca, 0) AS cb
    FROM (SELECT DISTINCT source FROM b) s
    CROSS JOIN gtot g
    LEFT JOIN cnt c ON c.source = s.source AND c.bucket = g.bucket
),
cdf AS (
    SELECT source, bucket,
           CAST(sum(ca) OVER w AS BIGINT) AS cum_a,
           CAST(sum(cb) OVER w AS BIGINT) AS cum_b,
           lead(bucket) OVER w AS nxt
    FROM cells
    WINDOW w AS (PARTITION BY source ORDER BY bucket
                 ROWS UNBOUNDED PRECEDING)
),
st AS (
    SELECT source, CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT)
        AS nb
    FROM cells GROUP BY 1
)
SELECT c.source, st.na AS n_docs,
       CAST(sum(CASE WHEN c.nxt IS NULL THEN 0
                ELSE (c.nxt - c.bucket)
                     * abs(c.cum_a * st.nb - c.cum_b * st.na) END)
            * 1000 // (st.na * st.nb) AS BIGINT) AS w1_milli
FROM cdf c JOIN st ON st.source = c.source
GROUP BY 1, 2, st.na, st.nb
"""


@query("wasserstein_source_drift", oracle=_W1_ORACLE)
def q_wasserstein_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein (earth-mover) distance between each source's
    document-length distribution and the REST of the corpus — the
    transport-cost member of the distribution-distance panel (PSI
    weights per-bucket ratios, JSD information overlap, KS the single
    worst CDF crossing, total-variation the mass overlap; W1 is the only
    one that knows HOW FAR the mass moved, so a source whose lengths
    shifted one bucket and one whose lengths doubled score differently
    even when their histograms disjoint equally).

    Exact integer form: on the bucket grid, W1 = sum over grid segments
    of segment-width x |CDF_a - CDF_b|; cross-multiplying the CDFs by
    the two totals makes every term the exact bigint
    gap * |cum_a*nb - cum_b*na|, summed then floor-divided ONCE by
    na*nb (milli bucket-units at the output edge). Per-term products
    are bounded by na*nb — exact in bigint through corpus sizes where
    na*nb < 2^63; beyond that, pre-reduce the CDFs to ppm (documented
    trade, the `ks_drift` scaling).

    Scale shape: the documents scan collapses to the (source x bucket)
    cell table (both aggregates map-side combinable, grid bounded by
    the length domain / {W1_GRID_W}) before any window runs; the CDF
    prefix sums and the final per-source reduce touch only that bounded
    table — the `ks_drift` reduce-first contract, per source.

    The cell builder and scoring body are shared with the STREAMING W1
    monitor (`streaming/drift.py`), so batch and served distances can
    never disagree about the metric — the `drift_psi`/`drift_labels`
    contract."""
    docs = read_table(spark, sf_dir, "documents")
    return w1_from_cells(rest_of_corpus_cells(length_bucket_counts(docs)))


def length_bucket_counts(docs: DataFrame) -> DataFrame:
    """(source, bucket, n) length-bucket counts — the W1 monitor's
    mergeable partial (counts add across micro-batches)."""
    return (
        docs.select(
            "source",
            F.expr(f"CAST(n_chars div {W1_GRID_W} AS BIGINT)").alias(
                "bucket"
            ),
        )
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def rest_of_corpus_cells(cnt: DataFrame) -> DataFrame:
    """From (source, bucket, n) counts, build the union-grid cell table
    (source, bucket, ca, cb) where cb is the REST of the corpus — every
    source present on every observed bucket (zero-filled), so CDFs are
    comparable pointwise."""
    cnt = cnt.withColumnRenamed("n", "ca")
    gtot = cnt.groupBy("bucket").agg(F.sum("ca").cast("long").alias("ct"))
    return (
        cnt.select("source")
        .distinct()
        .crossJoin(F.broadcast(gtot))
        .join(cnt, ["source", "bucket"], "left")
        .select(
            "source",
            "bucket",
            F.coalesce("ca", F.lit(0)).cast("long").alias("ca"),
            (F.col("ct") - F.coalesce("ca", F.lit(0)))
            .cast("long")
            .alias("cb"),
        )
    )


def w1_from_cells(cells: DataFrame) -> DataFrame:
    """Exact integer 1-D Wasserstein per source from a union-grid cell
    table (source, bucket, ca, cb): segment-width x cross-multiplied
    |CDF gap|, summed exactly, one floor division at the edge. Returns
    (source, n_docs, w1_milli)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wl = Window.partitionBy("source").orderBy("bucket")
    cdf = cells.select(
        "source",
        "bucket",
        F.sum("ca").over(w).cast("long").alias("cum_a"),
        F.sum("cb").over(w).cast("long").alias("cum_b"),
        F.lead("bucket").over(wl).alias("nxt"),
    )
    st = cells.groupBy("source").agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
    )
    return (
        cdf.join(F.broadcast(st), "source")
        .groupBy("source", F.col("na").alias("n_docs"))
        .agg(
            F.expr(
                "sum(CASE WHEN nxt IS NULL THEN CAST(0 AS BIGINT) "
                "ELSE (nxt - bucket) * abs(cum_a * nb - cum_b * na) END)"
                " * 1000 div (first(na) * first(nb))"
            )
            .cast("long")
            .alias("w1_milli")
        )
    )


# --------------------------------- randomized-response rate estimation

RR_KEEP_NUM, RR_KEEP_DEN = 3, 4  # report truthfully with prob 3/4

_RR_EST = (
    "CAST(floor(CAST(4 * r - n AS DOUBLE) * 1000000"
    " / CAST(2 * n AS DOUBLE)) AS BIGINT)"
)

_RR_ORACLE = f"""
WITH m AS (
    SELECT CAST(ts AS DATE) AS day,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS bit,
           CASE WHEN CAST(('0x' || substr(md5('rr' || CAST(event_id AS VARCHAR)), 1, 7))
                     AS BIGINT) % {RR_KEEP_DEN} < {RR_KEEP_NUM}
                THEN 1 ELSE 0 END AS keep
    FROM events
),
d AS (
    SELECT day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN keep = 1 THEN bit ELSE 1 - bit END)
                AS BIGINT) AS r,
           CAST(sum(bit) AS BIGINT) AS t
    FROM m GROUP BY 1
)
SELECT day, n, r AS reported_ones,
       {_RR_EST} AS est_ppm,
       CAST(t * 1000000 // n AS BIGINT) AS true_ppm,
       CAST(abs({_RR_EST} - CAST(t * 1000000 // n AS BIGINT)) AS BIGINT)
           AS err_ppm
FROM d
"""


@query("randomized_response_rate", oracle=_RR_ORACLE)
def q_randomized_response_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-DP randomized response (Warner 1965): estimate the daily
    purchase rate from PRIVATIZED per-event reports — each event reports
    its sensitive bit truthfully with prob {NUM}/{DEN}, flipped
    otherwise, and the collector debiases the observed rate lambda with
    pi = (lambda - (1-p)) / (2p - 1). The aggregate is recoverable while
    no individual report is trustworthy (epsilon = ln(p/(1-p)) = ln 3
    per report) — the privacy-family complement to the k-anonymity /
    l-diversity / t-closeness AUDITS: those measure re-identification
    risk of published microdata, this is the collection mechanism that
    avoids holding raw microdata at all.

    Determinism: the flip coin is the salted md5 parity the sampling
    family uses (shared bit-for-bit with the oracle; a production
    deployment swaps in a real RNG on the CLIENT — the engine-side
    debias math is what is under test, and the md5 harness makes the
    mechanism's end-to-end error measurable exactly). The true rate and
    the |est - true| ppm error ride along as the audit. The closing
    estimator division is one floor'd double expression written as
    identical text in both engines (the degree_assortativity policy;
    the estimator CAN go negative on small/extreme days — emitted
    as-is, floor semantics shared). Scale: one scan, one (day) hash-agg
    of conditional sums; the debias is arithmetic on the bounded
    day table."""
    ev = read_events(spark, sf_dir)
    keep = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("rr"), F.col("event_id").cast("string"))),
                1,
                7,
            ),
            16,
            10,
        ).cast("long")
        % RR_KEEP_DEN
        < RR_KEEP_NUM
    )
    bit = (F.col("event_type") == "purchase").cast("long")
    m = ev.select(
        F.col("ts").cast("date").alias("day"),
        bit.alias("bit"),
        keep.cast("long").alias("keep"),
    )
    d = m.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col("keep") == 1, F.col("bit")).otherwise(
                1 - F.col("bit")
            )
        )
        .cast("long")
        .alias("r"),
        F.sum("bit").cast("long").alias("t"),
    )
    true_ppm = F.floor(F.col("t") * 1_000_000 / F.col("n")).cast("long")
    return d.select(
        "day",
        "n",
        F.col("r").alias("reported_ones"),
        F.expr(_RR_EST).alias("est_ppm"),
        true_ppm.alias("true_ppm"),
        F.abs(F.expr(_RR_EST) - true_ppm).cast("long").alias("err_ppm"),
    )


q_randomized_response_rate.__doc__ = q_randomized_response_rate.__doc__.format(
    NUM=RR_KEEP_NUM, DEN=RR_KEEP_DEN
)
