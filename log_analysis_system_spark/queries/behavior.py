"""User-behavior analytics over the events table: cohort retention, Markov
transition counts, robust (median/MAD) outlier detection, and term
co-occurrence over documents.

These extend the reference's session/funnel analytics (SURVEY.md §2.10,
`UserVisitSessionAnalyzeSpark.java` computes per-session aggregates and
conversion chains) with the cohort/retention and sequence-transition views a
production log-analytics deployment layers on the same data. All four are
pure DataFrame plans — no UDFs, no collects.

Determinism: every window carries the (ts, event_id) total order; medians are
computed on integer cents so midpoint interpolation is exact in double on
both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import read_events, read_table
from . import query

# MAD multiplier for the outlier fence (≈3 sigma for normal data under the
# 1.4826 consistency constant — kept as a half-integer so threshold
# arithmetic stays exact in double).
MAD_K = 3.5

# Minimum shared-document count for a co-occurring term pair to be emitted.
COOC_MIN_DOCS = 3


@query(
    "cohort_retention",
    oracle="""
WITH weeks AS (
    SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
    FROM events
),
c AS (
    SELECT user_id, week,
           min(week) OVER (PARTITION BY user_id) AS cohort_week
    FROM weeks
)
SELECT cohort_week, CAST((week - cohort_week) // 7 AS BIGINT) AS week_offset,
       count(DISTINCT user_id) AS n_users
FROM c GROUP BY 1, 2
""",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: users grouped by the week of their
    first activity, counted in every subsequent week they return.

    Scale shape: the distinct (user, week) projection collapses the raw scan
    to at most |users| x |weeks| rows map-side, the cohort week is a window
    min over the SAME user_id hash partitioning the distinct produced, and
    the closing count-distinct groups on (cohort_week, offset) — two
    exchanges total, each over already-collapsed data. No join: the window
    min replaces the self-join a naive cohort query does.
    """
    ev = read_events(spark, sf_dir).select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    )
    weeks = ev.distinct()
    w = Window.partitionBy("user_id")
    c = weeks.withColumn("cohort_week", F.min("week").over(w))
    offset = F.expr("CAST(datediff(week, cohort_week) / 7 AS BIGINT)")
    return c.groupBy("cohort_week", offset.alias("week_offset")).agg(
        F.countDistinct("user_id").alias("n_users")
    )


@query(
    "event_transitions",
    oracle="""
WITH s AS (
    SELECT event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events
)
SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2
""",
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over each user's event stream —
    the edge weights of the page-flow graph the reference's funnel
    (`PageOneStepConvertRateSpark.java:60-120`) slices one path out of;
    this materializes ALL observed transitions in one pass.

    Scale shape: one user-partitioned sort window (lead), then a hash
    aggregate on the (from, to) pair whose cardinality is |event_types|² —
    tiny — so the reduce side broadcasts trivially to any consumer join.
    """
    ev = read_events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    return (
        s.where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "session_path_topk",
    oracle="""
WITH s AS (
    SELECT event_type,
           lead(event_type, 1) OVER w AS t2,
           lead(event_type, 2) OVER w AS t3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type AS step1, t2 AS step2, t3 AS step3, count(*) AS n
FROM s WHERE t3 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n DESC, step1, step2, step3
LIMIT 10
""",
)
def q_session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most common length-3 event-type paths across user streams —
    the discovery view for funnels: the reference's conversion chain
    (`PageOneStepConvertRateSpark.java`) evaluates ONE configured path,
    this surfaces which paths are worth configuring.

    Scale shape: one user-partitioned sort window serves both leads, the
    path aggregate's key space is |event_types|³ (tiny), and the final
    top-10 compiles to TakeOrderedAndProject (a per-partition heap + merge,
    never a global sort). Fully ordered tiebreak makes the LIMIT
    deterministic on both engines.
    """
    ev = read_events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"),
    )
    return (
        s.where(F.col("step3").isNotNull())
        .groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "step1", "step2", "step3")
        .limit(10)
    )


@query(
    "key_skew_profile",
    oracle="""
WITH per_key AS (
    SELECT user_id, count(*) AS c FROM events GROUP BY 1
),
hist AS (SELECT c, count(*) AS k FROM per_key GROUP BY 1),
cum AS (
    SELECT c, sum(k) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS ck
    FROM hist
),
tot AS (
    SELECT count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
           max(c) AS max_c
    FROM per_key
)
SELECT n_keys, n_rows, max_c AS max_rows_per_key,
       CAST(n_rows // n_keys AS BIGINT) AS avg_rows_per_key,
       (SELECT min(c) FROM cum, tot WHERE ck >= (n_keys + 1) // 2)
           AS p50_rows_per_key,
       (SELECT min(c) FROM cum, tot WHERE ck * 100 >= 99 * n_keys)
           AS p99_rows_per_key,
       CAST(max_c * 1000000 // n_rows AS BIGINT) AS top_key_share_ppm
FROM tot
""",
)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution diagnostics for shuffle planning: row counts per
    user_id summarized as exact max / average / median / p99 and the
    hottest key's traffic share (ppm) — the numbers that decide whether a
    join on this key needs salting or AQE skew handling.

    Scale shape: percentiles come from the counts-of-counts histogram —
    per-key counts (one hash agg) collapse to |distinct count values| rows,
    so the exact p50/p99 need NO data-sized sort and no percentile buffer
    over |keys| values (Spark's exact `percentile` buffers every value per
    group; this stays O(histogram)). The cumulative window runs on that
    histogram table only; every output is integer arithmetic, bit-equal on
    both engines.
    """
    ev = read_events(spark, sf_dir).select("user_id")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    hist = per_key.groupBy("c").agg(F.count(F.lit(1)).alias("k"))
    # Histogram is O(distinct per-key counts) — tiny by construction — so a
    # single-partition cumulative window here is bounded; lit(0) partition
    # key keeps the global-sort warning reserved for data-sized frames.
    w = (
        Window.partitionBy(F.lit(0))
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select("c", F.sum("k").over(w).alias("ck"))
    tot = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("n_rows"),
        F.max("c").alias("max_c"),
    )
    cum_t = cum.crossJoin(F.broadcast(tot))
    p50 = (
        cum_t.where(F.col("ck") >= F.expr("(n_keys + 1) div 2"))
        .agg(F.min("c").alias("p50_rows_per_key"))
    )
    p99 = (
        cum_t.where(F.col("ck") * 100 >= F.col("n_keys") * 99)
        .agg(F.min("c").alias("p99_rows_per_key"))
    )
    return (
        tot.crossJoin(F.broadcast(p50))
        .crossJoin(F.broadcast(p99))
        .select(
            "n_keys",
            "n_rows",
            F.col("max_c").alias("max_rows_per_key"),
            F.expr("n_rows div n_keys").alias("avg_rows_per_key"),
            "p50_rows_per_key",
            "p99_rows_per_key",
            F.expr("max_c * 1000000 div n_rows").alias("top_key_share_ppm"),
        )
    )


@query(
    "robust_outlier_events",
    oracle=f"""
WITH cents AS (
    SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS c FROM events
),
med AS (
    SELECT event_type, median(c) AS med FROM cents GROUP BY 1
),
dev AS (
    SELECT cents.event_type, c, med, abs(c - med) AS adev
    FROM cents JOIN med USING (event_type)
),
mad AS (
    SELECT event_type, median(adev) AS mad FROM dev GROUP BY 1
)
SELECT dev.event_type, any_value(med) AS med_cents, any_value(mad) AS mad_cents,
       count(*) AS n_events,
       CAST(sum(CASE WHEN adev > {MAD_K} * mad THEN 1 ELSE 0 END) AS BIGINT)
           AS n_outliers
FROM dev JOIN mad USING (event_type)
GROUP BY 1
""",
)
def q_robust_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection: per event type, the median and median
    absolute deviation of the value column (integer cents), and how many
    events sit outside the {MAD_K}x-MAD fence. Median/MAD resist the heavy
    tail that wrecks mean/stddev fences on log data.

    Scale shape: exact medians need a per-group sort, but the group key is
    event_type (a handful of groups), so each of the two median passes is
    one hash-partitioned sort-agg; the per-group medians then BROADCAST back
    onto the raw scan (both joins are broadcast — gated in
    tests/test_plans.py), so the 100 TB side is never reshuffled: scan →
    broadcast-join → partial count. For group keys with genuine high
    cardinality the med/mad pass would switch to approx_percentile; this
    operator keeps the exact form because its group count is bounded.
    """
    ev = read_events(spark, sf_dir).select(
        "event_type", F.floor(F.col("value") * 100).cast("long").alias("c")
    )
    med = ev.groupBy("event_type").agg(F.median("c").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("c") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    fenced = dev.join(F.broadcast(mad), "event_type")
    return fenced.groupBy("event_type").agg(
        F.any_value("med").alias("med_cents"),
        F.any_value("mad").alias("mad_cents"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.when(F.col("adev") > MAD_K * F.col("mad"), 1).otherwise(0)
        ).cast("long").alias("n_outliers"),
    )


FUNNEL_WINDOW_US = 24 * 3600 * 1_000_000  # step-1 anchored conversion window


@query(
    "timed_funnel",
    oracle=f"""
WITH v AS (
    SELECT user_id, min(epoch_us(ts)) AS t1
    FROM events WHERE event_type = 'view' GROUP BY 1
),
c AS (
    SELECT e.user_id, min(epoch_us(e.ts)) AS t2, max(v.t1) AS t1
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click'
      AND epoch_us(e.ts) > v.t1
      AND epoch_us(e.ts) <= v.t1 + {FUNNEL_WINDOW_US}
    GROUP BY 1
),
p AS (
    SELECT e.user_id
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase'
      AND epoch_us(e.ts) > c.t2
      AND epoch_us(e.ts) <= c.t1 + {FUNNEL_WINDOW_US}
    GROUP BY 1
)
SELECT (SELECT count(*) FROM v) AS n_step1,
       (SELECT count(*) FROM c) AS n_step2,
       (SELECT count(*) FROM p) AS n_step3,
       CAST(CASE WHEN (SELECT count(*) FROM v) > 0
                 THEN (SELECT count(*) FROM c) * 1000000
                      // (SELECT count(*) FROM v)
                 ELSE 0 END AS BIGINT) AS conv12_ppm,
       CAST(CASE WHEN (SELECT count(*) FROM v) > 0
                 THEN (SELECT count(*) FROM p) * 1000000
                      // (SELECT count(*) FROM v)
                 ELSE 0 END AS BIGINT) AS conv13_ppm
""",
)
def q_timed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded funnel: users whose first view is followed by a click
    and then a purchase, in order, all within {WINDOW} of the first view —
    the conversion-window semantics the reference's page funnel
    (`PageOneStepConvertRateSpark.java`) lacks (it checks adjacency only).

    Scale shape: each step is a predicate-pushed scan of ONE event type
    (the parquet filter prunes the other types at the source) followed by
    an equi-join on user_id against the ever-shrinking qualifier set —
    funnels narrow, so each join's build side is smaller than the last and
    AQE broadcasts the later stages. Timestamps are integer microseconds;
    conversion rates are ppm floor divisions — bit-equal on both engines.
    """
    from ..functions.scalar import epoch_us

    ev = read_events(spark, sf_dir).select(
        "user_id", "event_type", epoch_us("ts").alias("t")
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(
            (F.col("t") > F.col("t1"))
            & (F.col("t") <= F.col("t1") + FUNNEL_WINDOW_US)
        )
        .groupBy("user_id")
        .agg(F.min("t").alias("t2"), F.max("t1").alias("t1"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(
            (F.col("t") > F.col("t2"))
            & (F.col("t") <= F.col("t1") + FUNNEL_WINDOW_US)
        )
        .groupBy("user_id")
        .agg(F.lit(1).alias("_one"))
    )
    n1 = v.agg(F.count(F.lit(1)).alias("n_step1"))
    n2 = c.agg(F.count(F.lit(1)).alias("n_step2"))
    n3 = p.agg(F.count(F.lit(1)).alias("n_step3"))
    return (
        n1.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(n3))
        .select(
            "n_step1",
            "n_step2",
            "n_step3",
            F.expr(
                "CASE WHEN n_step1 > 0 THEN n_step2 * 1000000 div n_step1 "
                "ELSE CAST(0 AS BIGINT) END"
            ).alias("conv12_ppm"),
            F.expr(
                "CASE WHEN n_step1 > 0 THEN n_step3 * 1000000 div n_step1 "
                "ELSE CAST(0 AS BIGINT) END"
            ).alias("conv13_ppm"),
        )
    )


@query(
    "term_cooccurrence",
    oracle=f"""
WITH t AS (
    SELECT DISTINCT doc_id, u.term
    FROM documents, unnest(string_split(text, ' ')) AS u(term)
    WHERE u.term <> ''
)
SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_docs
FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.term < b.term
GROUP BY 1, 2
HAVING count(*) >= {COOC_MIN_DOCS}
""",
)
def term_pair_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (term_a < term_b) co-occurring term pairs with their shared
    document counts, thresholded at COOC_MIN_DOCS — the undirected edge list
    of the term graph (shared by `term_cooccurrence` and the triangle
    counter in graph.py)."""
    docs = read_table(spark, sf_dir, "documents")
    # Per-doc distinct term SETS in one aggregation (collect_set dedups,
    # array_sort fixes the canonical term_a < term_b order — Spark string
    # array_sort and the `<` comparison share UTF8 binary ordering), then
    # pairs are generated IN-PLAN from the sorted array. The former
    # explode + distinct + self-join spent two extra shuffles and scanned
    # the term table twice for the same sum_d |terms_d|^2 pair volume
    # (round-10 rewrite, guide §2.4 — the item_cf_recs basket shape).
    tsets = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("term")).alias("terms"))
        .where(F.size("terms") >= 2)
    )
    pair_expr = (
        "flatten(transform(sequence(1, size(terms) - 1), a -> "
        "transform(slice(terms, a + 1, size(terms) - a), b -> "
        "named_struct('ta', element_at(terms, a), 'tb', b))))"
    )
    return (
        tsets.select(F.explode(F.expr(pair_expr)).alias("pr"))
        .groupBy(
            F.col("pr.ta").alias("term_a"), F.col("pr.tb").alias("term_b")
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= COOC_MIN_DOCS)
    )


def q_term_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level term co-occurrence counts (the raw table behind PMI /
    association mining): pairs of distinct terms appearing in the same
    document, kept when they share >= {COOC_MIN_DOCS} documents.

    Scale shape: explode + distinct collapses each document to its distinct
    term set; the pair expansion self-joins on doc_id, so both sides hash to
    the same partitioning and the join is a single co-located exchange. The
    quadratic blowup is PER DOCUMENT (sum of d² over docs, d = distinct
    terms), not corpus-wide — the standard trade for exact co-occurrence.
    At 100 TB the HAVING threshold would be pushed into a count-min-style
    pre-filter on high-DF terms (cf. boilerplate_ngrams' df_cap) before the
    pair join; semantics here are the exact form the filter approximates.
    """
    return term_pair_edges(spark, sf_dir)


@query(
    "rfm_segments",
    oracle="""
WITH base AS (
    SELECT user_id, count(*) AS frequency,
           sum(CAST(floor(value * 100) AS BIGINT)) AS monetary_cents,
           max(ts) AS last_ts
    FROM events GROUP BY 1
),
n AS (SELECT count(*) AS n_users FROM base),
anchor AS (SELECT max(ts) AS now FROM events),
feat AS (
    SELECT user_id, frequency, CAST(monetary_cents AS BIGINT) AS monetary_cents,
           CAST((epoch_us(now) - epoch_us(last_ts)) // 86400000000 AS BIGINT)
               AS recency_days
    FROM base, anchor
),
ranked AS (
    SELECT *,
           row_number() OVER (ORDER BY recency_days, user_id) - 1 AS rr,
           row_number() OVER (ORDER BY frequency DESC, user_id) - 1 AS fr,
           row_number() OVER (ORDER BY monetary_cents DESC, user_id) - 1 AS mr
    FROM feat
)
SELECT user_id, recency_days, frequency, monetary_cents,
       CAST(rr * 5 // n_users + 1 AS BIGINT) AS r_score,
       CAST(fr * 5 // n_users + 1 AS BIGINT) AS f_score,
       CAST(mr * 5 // n_users + 1 AS BIGINT) AS m_score
FROM ranked, n
""",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per user, days since last activity, event count,
    and value sum in cents, each quintile-scored 1 (best: most recent /
    most frequent / highest spend) to 5.

    Quintiles use floor(rank * 5 / n) + 1 over the distributed
    ``global_rank`` operator — NOT ``ntile`` over a global window, which
    funnels all rows into one partition (the exact anti-pattern
    ``balanced_shards`` was de-bottlenecked from). Three range-partitioned
    rank passes over the per-user aggregate (already |users|-sized, not
    |events|-sized) and two user_id equi-joins; the oracle states the same
    formula with row_number so both engines bucket identically, ties broken
    by user_id everywhere.
    """
    from ..functions.scalar import epoch_us
    from ..operators.sampling import global_rank

    ev = read_events(spark, sf_dir)
    base = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
            "monetary_cents"
        ),
        F.max("ts").alias("last_ts"),
    )
    anchor = ev.agg(F.max("ts").alias("now"))
    feat = base.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        "frequency",
        "monetary_cents",
        F.floor(
            (epoch_us("now") - epoch_us("last_ts")) / F.lit(86_400_000_000)
        )
        .cast("long")
        .alias("recency_days"),
    )
    n_users = feat.agg(F.count(F.lit(1)).alias("n_users"))
    rr = global_rank(
        feat, [F.asc("recency_days"), F.asc("user_id")], rank_col="rr"
    ).select("user_id", "rr")
    fr = global_rank(
        feat, [F.desc("frequency"), F.asc("user_id")], rank_col="fr"
    ).select("user_id", "fr")
    mr = global_rank(
        feat, [F.desc("monetary_cents"), F.asc("user_id")], rank_col="mr"
    ).select("user_id", "mr")
    score = lambda c: (  # noqa: E731
        F.expr(f"{c} * 5 div n_users") + F.lit(1)
    ).cast("long")
    return (
        feat.join(rr, "user_id")
        .join(fr, "user_id")
        .join(mr, "user_id")
        .crossJoin(F.broadcast(n_users))
        .select(
            "user_id",
            "recency_days",
            "frequency",
            "monetary_cents",
            score("rr").alias("r_score"),
            score("fr").alias("f_score"),
            score("mr").alias("m_score"),
        )
    )


@query(
    "hourly_anomalies",
    oracle="""
WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS hour_ts, count(*) AS cnt
    FROM events GROUP BY 1, 2
),
stats AS (
    SELECT event_type, count(*) AS n, CAST(sum(cnt) AS BIGINT) AS s,
           CAST(sum(cnt * cnt) AS BIGINT) AS s2
    FROM hourly GROUP BY 1
)
SELECT h.event_type, h.hour_ts, h.cnt,
       CASE WHEN (n * h.cnt - s) * (n * h.cnt - s) > 9 * (n * s2 - s * s)
            THEN TRUE ELSE FALSE END AS is_anomaly
FROM hourly h JOIN stats USING (event_type)
""",
)
def q_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-sigma anomaly flags on hourly event-type counts WITHOUT floats:
    |c - mean| > 3*stddev is cross-multiplied into
    (n*c - s)^2 > 9*(n*s2 - s^2) — pure BIGINT arithmetic, so the flag is
    bit-identical on any engine (a sqrt/stddev form would hash-diverge in
    the last ulp). Works in int64 up to ~1e9 rows/hour x 1e4 hours; past
    that the two sides move to DECIMAL(38,0) with identical semantics.

    Scale shape: the hourly rollup is one map-combinable aggregate; stats
    is an aggregate OVER the rollup (days x types rows); the flag join
    broadcasts stats back onto the rollup. The raw scan is touched once.
    """
    ev = read_events(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cnt").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("s2"),
    )
    j = hourly.join(F.broadcast(stats), "event_type")
    dev = F.col("n") * F.col("cnt") - F.col("s")
    var9 = 9 * (F.col("n") * F.col("s2") - F.col("s") * F.col("s"))
    return j.select(
        "event_type",
        "hour_ts",
        "cnt",
        (dev * dev > var9).alias("is_anomaly"),
    )


@query(
    "weekly_change",
    oracle="""
WITH weekly AS (
    SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week,
           count(*) AS cnt
    FROM events GROUP BY 1, 2
)
SELECT event_type, week, cnt,
       lag(cnt) OVER (PARTITION BY event_type ORDER BY week) AS prev_cnt,
       CASE WHEN lag(cnt) OVER (PARTITION BY event_type ORDER BY week)
                 IS NOT NULL
            THEN CAST((cnt - lag(cnt) OVER (PARTITION BY event_type
                                            ORDER BY week)) * 1000000
                      // lag(cnt) OVER (PARTITION BY event_type
                                        ORDER BY week) AS BIGINT)
            END AS change_ppm
FROM weekly
""",
)
def q_weekly_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week traffic change per event type in ppm — the trend
    delta every ops dashboard renders beside the raw series. The lag
    window runs over the WEEKLY ROLLUP (|types| x |weeks| rows), never
    raw events, so the bare-type partition key is safe here: per-task
    input is the number of weeks. First week has no baseline -> NULL.
    Integer ppm floor division keeps the delta bit-equal (a float
    percentage would diverge in rendering).
    """
    ev = read_events(spark, sf_dir)
    weekly = ev.groupBy(
        "event_type", F.date_trunc("week", "ts").cast("date").alias("week")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("week")
    # `div` truncates toward zero like DuckDB's integer `//`; floor() would
    # diverge by one on every negative delta.
    return weekly.withColumn("prev_cnt", F.lag("cnt").over(w)).select(
        "event_type",
        "week",
        "cnt",
        "prev_cnt",
        F.when(
            F.col("prev_cnt").isNotNull(),
            F.expr("(cnt - prev_cnt) * 1000000 div prev_cnt"),
        ).alias("change_ppm"),
    )


@query(
    "term_lift",
    oracle=f"""
WITH t AS (
    SELECT DISTINCT doc_id, u.term
    FROM documents, unnest(string_split(text, ' ')) AS u(term)
    WHERE u.term <> ''
),
df AS (SELECT term, count(*) AS n_docs FROM t GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS total FROM t),
pairs AS (
    SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_ab
    FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.term < b.term
    GROUP BY 1, 2 HAVING count(*) >= {COOC_MIN_DOCS}
)
SELECT p.term_a, p.term_b, p.n_ab,
       da.n_docs AS n_a, db.n_docs AS n_b,
       CASE WHEN p.n_ab * n.total > da.n_docs * db.n_docs
            THEN TRUE ELSE FALSE END AS positive_assoc
FROM pairs p
JOIN df da ON da.term = p.term_a
JOIN df db ON db.term = p.term_b
CROSS JOIN n
""",
)
def q_term_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact association test on co-occurring term pairs: lift > 1 (i.e.
    PMI > 0) cross-multiplied into pure integers — n_ab * N > n_a * n_b —
    so the flag is bit-equal where a floating lift ratio would wobble in
    the last ulp. The statistical layer over `term_cooccurrence`'s raw
    counts; the same integer-cross-multiplication trick as
    `hourly_anomalies` (int64-safe to ~1e9-doc corpora per the factors'
    magnitudes; DECIMAL(38,0) beyond).

    Scale shape: the pair table joins two broadcast-sized document-
    frequency vectors and the single-row total; nothing beyond the pair
    aggregation itself shuffles.
    """
    t = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term") != "")
        .distinct()
    )
    df_counts = t.groupBy("term").agg(F.count(F.lit(1)).alias("n_docs"))
    total = t.agg(F.countDistinct("doc_id").alias("total"))
    pairs = term_pair_edges(spark, sf_dir).select(
        "term_a", "term_b", F.col("n_docs").alias("n_ab")
    )
    da = df_counts.select(
        F.col("term").alias("term_a"), F.col("n_docs").alias("n_a")
    )
    db = df_counts.select(
        F.col("term").alias("term_b"), F.col("n_docs").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(da), "term_a")
        .join(F.broadcast(db), "term_b")
        .crossJoin(F.broadcast(total))
        .select(
            "term_a",
            "term_b",
            "n_ab",
            "n_a",
            "n_b",
            (F.col("n_ab") * F.col("total") > F.col("n_a") * F.col("n_b")).alias(
                "positive_assoc"
            ),
        )
    )


# ------------------------------------------------ multi-touch attribution

MTA_HORIZON_US = 7 * 24 * 3600 * 1_000_000  # credit touches within 7 days
# Purchase identity = row_number over the per-user (ts, event_id) order —
# order-faithful for ANY event_id range (a packed `ts*1000 + id%1000` key
# inverts same-timestamp ties whose ids differ by >=1000). The horizon
# test uses a separate conditional MIN over ts: the min-row_number
# following purchase is the earliest in (ts, id) order, so its ts equals
# the min ts among following purchases. Both mins ride the same window.


@query(
    "multi_touch_attribution",
    oracle=f"""
WITH numbered AS (
    SELECT user_id, event_id, event_type,
           epoch_us(ts) AS ts_us,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY epoch_us(ts), event_id) AS rn
    FROM events
),
marked AS (
    SELECT user_id, event_type, ts_us,
           min(CASE WHEN event_type = 'purchase' THEN rn END)
               OVER w_fol AS next_pk,
           min(CASE WHEN event_type = 'purchase' THEN ts_us END)
               OVER w_fol AS next_ts_us
    FROM numbered
    WINDOW w_fol AS (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
),
touches AS (
    SELECT user_id, event_type, next_pk
    FROM marked
    WHERE event_type IN ('view', 'click')
      AND next_pk IS NOT NULL
      AND next_ts_us - ts_us <= {MTA_HORIZON_US}
),
sized AS (
    SELECT user_id, next_pk, event_type,
           count(*) OVER (PARTITION BY user_id, next_pk) AS n_touches
    FROM touches
)
SELECT event_type AS channel,
       CAST(count(DISTINCT (user_id, next_pk)) AS BIGINT)
           AS purchases_touched,
       CAST(count(*) AS BIGINT) AS touches,
       CAST(sum(1000000 // n_touches) AS BIGINT) AS credit_ppm
FROM sized
GROUP BY event_type
""",
)
def q_multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every view/click within 7 days
    before a user's next purchase shares that purchase's credit equally
    (floor(1e6 / n_touches) ppm per touch, summed per channel) — the batch
    warehouse complement of the streaming LAST-touch interval join
    (`stream_attribution`). Emits per-channel purchases reached, touch
    counts, and total attributed credit.

    Credit is integer ppm so the per-channel sums are exact under any
    partitioning (a float 1/n sum is summation-order-dependent). The
    "earliest following purchase" resolves through conditional-min
    windows over the per-user row_number in (ts, event_id) order — fully
    order-faithful (no packed-bigint tie inversion) — and one user-keyed
    exchange serves the numbering, the purchase lookup, the per-purchase
    touch count, and the horizon filter; nothing joins the fact table to
    itself."""
    from ..functions.scalar import epoch_us

    ev = read_events(spark, sf_dir)
    w_ord = Window.partitionBy("user_id").orderBy(
        epoch_us("ts"), F.col("event_id")
    )
    numbered = ev.select(
        "user_id",
        "event_type",
        epoch_us("ts").alias("ts_us"),
        F.row_number().over(w_ord).alias("rn"),
    )
    w_fol = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    is_p = F.col("event_type") == "purchase"
    marked = numbered.withColumn(
        "next_pk", F.min(F.when(is_p, F.col("rn"))).over(w_fol)
    ).withColumn(
        "next_ts_us", F.min(F.when(is_p, F.col("ts_us"))).over(w_fol)
    )
    touches = marked.where(
        F.col("event_type").isin("view", "click")
        & F.col("next_pk").isNotNull()
        & (F.col("next_ts_us") - F.col("ts_us") <= MTA_HORIZON_US)
    ).select("user_id", "event_type", "next_pk")
    sized = touches.withColumn(
        "n_touches",
        F.count(F.lit(1)).over(
            Window.partitionBy("user_id", "next_pk")
        ),
    )
    return sized.groupBy(F.col("event_type").alias("channel")).agg(
        F.countDistinct("user_id", "next_pk").alias("purchases_touched"),
        F.count(F.lit(1)).alias("touches"),
        F.sum(F.floor(F.lit(1000000) / F.col("n_touches"))).alias(
            "credit_ppm"
        ),
    )


# ------------------------------------------- sequence pattern matching

# (pattern name, regex over per-user event-initial strings). Initials are
# unique across the five event types (Signup View Click Purchase Error).
# The regex subset used (literal chars, char classes, * +) behaves
# identically under java.util.regex (Spark) and RE2 (DuckDB).
SEQ_PATTERNS = (
    ("conversion", "V[^E]*C[^E]*P"),   # view->click->purchase, no error between
    ("frustration", "EE"),             # back-to-back errors
    ("instant_buy", "VP"),             # purchase immediately after a view
)


@query(
    "sequence_pattern_match",
    oracle="""
WITH seqs AS (
    SELECT user_id,
           string_agg(upper(substr(event_type, 1, 1)), ''
                      ORDER BY epoch_us(ts), event_id) AS seq
    FROM events GROUP BY 1
)
"""
    + "\nUNION ALL\n".join(
        f"""SELECT '{name}' AS pattern,
       CAST(sum(CASE WHEN regexp_matches(seq, '{rx}') THEN 1 ELSE 0 END)
            AS BIGINT) AS users_matched,
       CAST(count(*) AS BIGINT) AS users_total
FROM seqs"""
        for name, rx in SEQ_PATTERNS
    ),
)
def q_sequence_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern matching: each user's event
    history collapses to an ordered initial string ('VVCEP...'), and
    behavioral patterns are REGEXES over it — variable-length paths with
    exclusions ('no error between click and purchase'), which the
    fixed-length path/funnel queries cannot express. Spark has no
    MATCH_RECOGNIZE; string-fold + rlike is the idiomatic equivalent and
    keeps the whole match in codegen.

    Scale shape: one groupBy builds each user's sequence (the string is
    bounded by per-user activity — cap with a slice for adversarial
    actors); all patterns evaluate in ONE aggregate pass over the
    sequences; output is |patterns| rows. Ordering inside the fold carries
    the (ts, event_id) total order via array_sort on a packed struct, so
    both engines build identical strings."""
    from ..functions.scalar import epoch_us

    ev = read_events(spark, sf_dir)
    seqs = (
        ev.select(
            "user_id",
            F.struct(
                epoch_us("ts").alias("t"),
                F.col("event_id").alias("i"),
                F.upper(F.substring("event_type", 1, 1)).alias("c"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda s: s["c"]
                ),
            ).alias("seq")
        )
    )
    per_pattern = [
        seqs.agg(
            F.lit(name).alias("pattern"),
            F.sum(F.col("seq").rlike(rx).cast("long")).alias("users_matched"),
            F.count(F.lit(1)).alias("users_total"),
        )
        for name, rx in SEQ_PATTERNS
    ]
    out = per_pattern[0]
    for p in per_pattern[1:]:
        out = out.unionByName(p)
    return out


# ------------------------------------------------------- cohort LTV curves

@query(
    "cohort_ltv",
    oracle="""
WITH spend AS (
    SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_c
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1, 2
),
firsts AS (
    SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
    FROM events GROUP BY 1
),
aged AS (
    SELECT f.cohort_week,
           CAST((s.week - f.cohort_week) // 7 AS BIGINT) AS week_offset,
           s.rev_c
    FROM spend s JOIN firsts f ON f.user_id = s.user_id
),
grid AS (
    SELECT cohort_week, week_offset,
           CAST(sum(rev_c) AS BIGINT) AS rev_c
    FROM aged GROUP BY 1, 2
),
sized AS (
    SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users
    FROM firsts GROUP BY 1
)
SELECT g.cohort_week, g.week_offset, s.cohort_users,
       CAST(sum(g.rev_c) OVER (PARTITION BY g.cohort_week
                               ORDER BY g.week_offset
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_revenue_c,
       CAST(sum(g.rev_c) OVER (PARTITION BY g.cohort_week
                               ORDER BY g.week_offset
                               ROWS UNBOUNDED PRECEDING)
            * 100 // s.cohort_users AS BIGINT) AS ltv_c_per_100_users
FROM grid g JOIN sized s USING (cohort_week)
""",
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: purchase revenue accumulated by cohort
    age — the monetary twin of `cohort_retention`'s user counts, and the
    curve a growth team reads payback periods from. Revenue is integer
    cents; LTV is normalized per 100 cohort users with a floor division
    so every value is an exact bigint.

    Scale shape: spend collapses to (user, week) before anything joins;
    cohort assignment is one per-user aggregate joined back on user_id;
    the cumulative sum windows over the bounded (cohort x age) GRID,
    never raw events."""
    ev = read_events(spark, sf_dir)
    spend = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(
            "user_id",
            F.date_trunc("week", "ts").cast("date").alias("week"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("rev_c")
        )
    )
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    aged = spend.join(firsts, "user_id").select(
        "cohort_week",
        (F.datediff("week", "cohort_week") / 7).cast("long").alias(
            "week_offset"
        ),
        "rev_c",
    )
    grid = aged.groupBy("cohort_week", "week_offset").agg(
        F.sum("rev_c").alias("rev_c")
    )
    sized = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    w = Window.partitionBy("cohort_week").orderBy("week_offset").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = F.sum("rev_c").over(w)
    return (
        grid.join(F.broadcast(sized), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "cohort_users",
            cum.alias("cum_revenue_c"),
            F.expr(
                "CAST(sum(rev_c) OVER (PARTITION BY cohort_week "
                "ORDER BY week_offset ROWS BETWEEN UNBOUNDED PRECEDING AND "
                "CURRENT ROW) * 100 div cohort_users AS BIGINT)"
            ).alias("ltv_c_per_100_users"),
        )
    )


# ------------------------------------------- repeat-purchase cadence

@query(
    "repeat_purchase_cadence",
    oracle="""
WITH p AS (
    SELECT user_id, ts, event_id,
           lag(ts) OVER (PARTITION BY user_id
                         ORDER BY epoch_us(ts), event_id) AS prev_ts
    FROM events WHERE event_type = 'purchase'
),
gaps AS (
    SELECT CAST(date_diff('day', CAST(prev_ts AS DATE), CAST(ts AS DATE))
                AS BIGINT) AS gap_days
    FROM p WHERE prev_ts IS NOT NULL
),
h AS (
    SELECT gap_days, CAST(count(*) AS BIGINT) AS n
    FROM gaps GROUP BY 1
),
c AS (
    SELECT gap_days, n,
           CAST(sum(n) OVER (ORDER BY gap_days
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
           CAST(sum(n) OVER () AS BIGINT) AS tot
    FROM h
)
SELECT CAST(min(CASE WHEN cum * 2 >= tot THEN gap_days END) AS BIGINT)
           AS median_gap_days,
       CAST(min(CASE WHEN cum * 10 >= tot * 9 THEN gap_days END) AS BIGINT)
           AS p90_gap_days,
       CAST(max(tot) AS BIGINT) AS n_gaps
FROM c
""",
)
def q_repeat_purchase_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence: the distribution of day gaps between each
    user's consecutive purchases, reduced to exact nearest-rank median and
    p90 — the replenishment-cycle metric behind "when to re-engage"
    campaigns (RFM scores recency once; cadence measures the rhythm).

    Exactness without a global sort: gaps collapse to a DAY-GAP HISTOGRAM
    (domain bounded by the calendar, ~30 rows), and percentiles are the
    smallest gap whose cumulative count crosses the rank threshold —
    integer comparisons only, the counts-of-counts percentile pattern.
    One user-keyed lag window + one bounded histogram."""
    from ..functions.scalar import epoch_us

    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(epoch_us("ts"), F.col("event_id"))
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id",
        F.lag("ts").over(w).alias("prev_ts"),
    )
    gaps = p.where(F.col("prev_ts").isNotNull()).select(
        F.datediff(F.col("ts").cast("date"), F.col("prev_ts").cast("date"))
        .cast("long")
        .alias("gap_days")
    )
    h = gaps.groupBy("gap_days").agg(F.count(F.lit(1)).alias("n"))
    wc = Window.partitionBy(F.lit(1)).orderBy("gap_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy(F.lit(1))
    c = h.select(
        "gap_days",
        F.sum("n").over(wc).alias("cum"),
        F.sum("n").over(wt).alias("tot"),
    )
    return c.agg(
        F.min(
            F.when(F.col("cum") * 2 >= F.col("tot"), F.col("gap_days"))
        ).alias("median_gap_days"),
        F.min(
            F.when(F.col("cum") * 10 >= F.col("tot") * 9, F.col("gap_days"))
        ).alias("p90_gap_days"),
        F.max("tot").alias("n_gaps"),
    )


# --------------------------------------------- bot-regularity detection

BOT_MIN_GAPS = 5  # users with fewer inter-event gaps are not scored


@query(
    "bot_regularity_score",
    oracle=f"""
WITH ordered AS (
    SELECT user_id, epoch_us(ts) AS ts_us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(ts), event_id)
               AS prev_us
    FROM events
),
gaps AS (
    SELECT user_id, (ts_us - prev_us) // 1000000 AS gap_s
    FROM ordered WHERE prev_us IS NOT NULL
),
stats AS (
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(sum(gap_s) AS BIGINT) AS gap_sum_s,
           CAST(sum(gap_s * gap_s) AS BIGINT) AS gap_sumsq_s
    FROM gaps GROUP BY user_id
)
SELECT user_id, n_gaps, gap_sum_s,
       round(sqrt(CAST(greatest(n_gaps * gap_sumsq_s
                                - gap_sum_s * gap_sum_s, 0) AS DOUBLE))
             / gap_sum_s, 6) AS gap_cv
FROM stats
WHERE n_gaps >= {BOT_MIN_GAPS} AND gap_sum_s > 0
""",
)
def q_bot_regularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/automation detection by timing regularity: per user, the
    coefficient of variation of inter-event gaps — metronomic clients
    (scrapers, replay scripts) sit near 0 while humans are bursty
    (cv >= 1). The score ranks users for review; no arbitrary cutoff is
    baked in.

    Determinism recipe: gaps floor to whole seconds, the per-user
    sufficient statistics (n, sum, sum of squares) are exact bigints
    under any partitioning (magnitudes checked: gap <= ~2.6e6 s, per-user
    n <= ~1e3 keeps n*sumsq < 2^63), and the single sqrt + division +
    round(6) happens once per user at the output edge — sqrt on identical
    doubles agrees across engines.

    Scale: ONE user-keyed window exchange serves the lag; the stats agg
    reuses the same partitioning (map-side combinable)."""
    from pyspark.sql import Window

    from ..functions.scalar import epoch_us
    from ..sources.catalog import read_events

    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(epoch_us("ts"), F.col("event_id"))
    ordered = ev.select(
        "user_id",
        epoch_us("ts").alias("ts_us"),
        F.lag(epoch_us("ts")).over(w).alias("prev_us"),
    )
    gaps = ordered.where(F.col("prev_us").isNotNull()).select(
        "user_id",
        F.floor((F.col("ts_us") - F.col("prev_us")) / 1000000).alias("gap_s"),
    )
    stats = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_s").alias("gap_sum_s"),
        F.sum(F.col("gap_s") * F.col("gap_s")).alias("gap_sumsq_s"),
    )
    return stats.where(
        (F.col("n_gaps") >= BOT_MIN_GAPS) & (F.col("gap_sum_s") > 0)
    ).select(
        "user_id",
        "n_gaps",
        "gap_sum_s",
        F.round(
            F.sqrt(
                F.greatest(
                    F.col("n_gaps") * F.col("gap_sumsq_s")
                    - F.col("gap_sum_s") * F.col("gap_sum_s"),
                    F.lit(0),
                ).cast("double")
            )
            / F.col("gap_sum_s"),
            6,
        ).alias("gap_cv"),
    )


# ------------------------------------------ sequence entropy (predictability)

ENT_SCALE = 1_000_000  # micro-nats per transition log-probability


@query(
    "sequence_entropy",
    oracle=f"""
WITH tr AS (
    SELECT user_id, event_type AS a,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id) AS b
    FROM events
),
cnt AS (
    SELECT user_id, a, b, CAST(count(*) AS BIGINT) AS n
    FROM tr WHERE b IS NOT NULL GROUP BY 1, 2, 3
),
tot AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS nt FROM cnt GROUP BY 1),
scored AS (
    SELECT c.user_id, c.n, t.nt,
           CAST(floor(ln(c.n / CAST(t.nt AS DOUBLE)) * {ENT_SCALE})
                AS BIGINT) AS ll
    FROM cnt c JOIN tot t USING (user_id)
)
SELECT user_id,
       CAST(max(nt) AS BIGINT) AS n_transitions,
       round(-sum(n * ll) / (max(nt) * {ENT_SCALE}.0), 6) AS entropy_nats
FROM scored GROUP BY user_id
""",
)
def q_sequence_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral predictability: per user, the Shannon entropy (nats) of
    their first-order event-transition distribution — near 0 means a
    metronomic/looping client (the frequency-domain complement of
    `bot_regularity_score`'s TIMING regularity: a bot can jitter its
    clock but still loop the same two actions), near ln(|types|^2) means
    maximally mixed behavior.

    Determinism recipe (the bigram_lm_perplexity pattern): each
    transition's log-probability floors to integer micro-nats, the
    weighted sum is exact bigint under any partitioning, and the single
    division + round(6) closes each user. Floor-boundary clearance of the
    pre-floor ln values is audited by tests/test_micro_nat_boundary.py.

    Scale: one user-keyed window exchange for the lead; the pair counts
    and the entropy rollup both reuse user-prefixed keys (map-side
    combinable)."""
    from pyspark.sql import Window

    from ..functions.scalar import epoch_us

    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(epoch_us("ts"), F.col("event_id"))
    tr = ev.select(
        "user_id",
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    ).where(F.col("b").isNotNull())
    cnt = tr.groupBy("user_id", "a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = cnt.groupBy("user_id").agg(F.sum("n").alias("nt"))
    scored = cnt.join(tot, "user_id").select(
        "user_id",
        "n",
        "nt",
        F.floor(
            F.log(F.col("n") / F.col("nt").cast("double")) * ENT_SCALE
        ).cast("long").alias("ll"),
    )
    return scored.groupBy("user_id").agg(
        F.max("nt").alias("n_transitions"),
        F.round(
            -F.sum(F.col("n") * F.col("ll"))
            / (F.max("nt") * F.lit(float(ENT_SCALE))),
            6,
        ).alias("entropy_nats"),
    )


# ------------------------------------- sequential patterns (top triples)

TRIPLE_MIN_SUPPORT = 2  # distinct users that must exhibit the pattern
TRIPLE_TOP = 20


@query(
    "frequent_event_triples",
    oracle=f"""
WITH s AS (
    SELECT user_id, event_type AS a,
           lead(event_type, 1) OVER w AS b,
           lead(event_type, 2) OVER w AS c
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sup AS (
    SELECT a, b, c,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM s WHERE c IS NOT NULL
    GROUP BY a, b, c
)
SELECT a, b, c, n_occurrences, n_users,
       CAST(rnk AS BIGINT) AS rnk
FROM (
    SELECT *, row_number() OVER (
        ORDER BY n_users DESC, n_occurrences DESC, a, b, c) AS rnk
    FROM sup WHERE n_users >= {TRIPLE_MIN_SUPPORT}
) WHERE rnk <= {TRIPLE_TOP}
""",
)
def q_frequent_event_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining, the contiguous length-3 tier: the
    top-{TRIPLE_TOP} consecutive event-type TRIPLES ranked by
    distinct-user support (then occurrences, then lexicographic) — the
    step past `event_transitions`' first-order edges toward the path
    motifs a funnel designer actually reads ("view → cart → pay" as one
    unit). Support counted in distinct users so one bot looping a path
    cannot promote it (the same robustness argument as
    `bot_regularity_score`).

    Scale: one per-user ordered window pass emits the triples
    (lead x2, no self-joins — contiguous PrefixSpan-lite); support is a
    hash-agg on the triple; the final top-{TRIPLE_TOP} is a
    TakeOrderedAndProject heap, never a global sort."""
    from pyspark.sql import Window

    ev = read_events(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    ).where(F.col("c").isNotNull())
    sup = s.groupBy("a", "b", "c").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("user_id").alias("n_users"),
    ).where(F.col("n_users") >= TRIPLE_MIN_SUPPORT)
    top = (
        sup.orderBy(
            F.desc("n_users"), F.desc("n_occurrences"),
            F.asc("a"), F.asc("b"), F.asc("c"),
        )
        .limit(TRIPLE_TOP)
    )
    from ..operators.sampling import global_rank

    return global_rank(
        top,
        [F.desc("n_users"), F.desc("n_occurrences"),
         F.asc("a"), F.asc("b"), F.asc("c")],
        rank_col="rnk",
    ).select(
        "a", "b", "c", "n_occurrences", "n_users",
        (F.col("rnk") + 1).cast("long").alias("rnk"),
    )


# ----------------------------- CUPED variance-reduced experiment lift

CUPED_SPLIT_DAY = 19738  # 2024-01-16: pre-period before, experiment after
_SS = "CASE WHEN {a} >= 0 THEN ({a}) // ({b}) ELSE -((-({a})) // ({b})) END"
_SS_SPARK = (
    "CASE WHEN {a} >= 0 THEN ({a}) div ({b}) "
    "ELSE -((-({a})) div ({b})) END"
)

_CUPED_ORACLE = f"""
WITH u AS (
    SELECT user_id,
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                AS BIGINT) % 2 AS arm,
           CAST(sum(CASE WHEN epoch_us(ts) // 86400000000
                              < {CUPED_SPLIT_DAY}
                     THEN CAST(floor(value * 100) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS x,
           CAST(sum(CASE WHEN epoch_us(ts) // 86400000000
                              >= {CUPED_SPLIT_DAY}
                     THEN CAST(floor(value * 100) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS y
    FROM events GROUP BY 1
),
g AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(y * y) AS BIGINT) AS syy
    FROM u
),
t AS (
    SELECT n, sx, sy,
           n * sxy - sx * sy AS tnum,
           n * sxx - sx * sx AS tden,
           n * syy - sy * sy AS yden
    FROM g
),
arms AS (
    SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(x) AS BIGINT) AS sxa, CAST(sum(y) AS BIGINT) AS sya
    FROM u GROUP BY arm
)
SELECT a.arm, a.n_users, a.sxa AS sum_x_cents, a.sya AS sum_y_cents,
       {_SS.format(a='a.sya * 1000', b='a.n_users')} AS raw_mean_y_milli,
       CASE WHEN t.tden = 0 THEN NULL ELSE
           {_SS.format(a='a.sya * 1000', b='a.n_users')}
           - ({_SS.format(
               a=("(" + _SS.format(a='t.tnum * 1000', b='t.tden') + ") * ("
                  + _SS.format(a='a.sxa * 1000', b='a.n_users') + " - ("
                  + _SS.format(a='t.sx * 1000', b='t.n') + "))"),
               b='1000')})
       END AS adj_mean_y_milli,
       CASE WHEN t.tden = 0 THEN NULL
            ELSE {_SS.format(a='t.tnum * 1000', b='t.tden')}
       END AS theta_milli,
       CASE WHEN t.tden = 0 OR t.yden = 0 THEN NULL ELSE
           {_SS.format(
               a=("(" + _SS.format(a='t.tnum * 1000000', b='t.tden')
                  + ") * (" + _SS.format(a='t.tnum * 1000000', b='t.yden')
                  + ")"),
               b='1000000')}
       END AS rho2_ppm
FROM arms a CROSS JOIN t
"""


@query("cuped_adjusted_lift", oracle=_CUPED_ORACLE)
def q_cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al. 2013, the
    controlled-experiment standard): users md5-split into two arms, the
    experiment-period metric y (event value cents after day
    {CUPED_SPLIT_DAY}) adjusted by the pre-period covariate x via
    y' = y - theta(x - mean(x)), theta = cov(x,y)/var(x) from the pooled
    sufficient statistics. Reported per arm: raw and adjusted mean
    (milli-cents), pooled theta (milli) and rho-squared (ppm) — the
    fraction of metric variance the covariate removes, i.e. how much
    less traffic the same test needs.

    Exact integer contract: sums/cross-moments are bigint; every
    division is the SAME truncate-toward-zero sign-split in both
    engines (negative numerators arise from deviations and theta), so
    the whole readout value-hash-matches. Zero-variance covariates are
    NULL-guarded. Scale: one user-keyed hash-agg (two conditional
    sums), one 6-scalar global aggregate broadcast back as a 1-row
    cross join, one 2-row arm aggregate — the fact table is scanned
    once and nothing data-sized moves."""
    from ..functions.scalar import epoch_us

    ev = read_events(spark, sf_dir)
    day = (epoch_us("ts") / F.lit(86_400_000_000)).cast("long")
    cents = F.floor(F.col("value") * 100).cast("long")
    u = (
        ev.select(
            "user_id",
            F.when(day < CUPED_SPLIT_DAY, cents).otherwise(0).alias("xv"),
            F.when(day >= CUPED_SPLIT_DAY, cents).otherwise(0).alias(
                "yv"
            ),
        )
        .groupBy("user_id")
        .agg(
            F.sum("xv").cast("long").alias("x"),
            F.sum("yv").cast("long").alias("y"),
        )
        .withColumn(
            "arm",
            F.conv(
                F.substring(
                    F.md5(F.col("user_id").cast("string").cast("binary")),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 2,
        )
        .localCheckpoint(eager=False)
    )
    g = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    ).select(
        "n",
        "sx",
        "sy",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias(
            "tnum"
        ),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias(
            "tden"
        ),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias(
            "yden"
        ),
    )
    arms = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("x").cast("long").alias("sxa"),
        F.sum("y").cast("long").alias("sya"),
    )
    ss = _SS_SPARK.format
    raw = ss(a="sya * 1000", b="n_users")
    theta = ss(a="tnum * 1000", b="tden")
    dev = f"({ss(a='sxa * 1000', b='n_users')} - ({ss(a='sx * 1000', b='n')}))"
    adj = f"{raw} - ({ss(a=f'({theta}) * {dev}', b='1000')})"
    rho_a = ss(a="tnum * 1000000", b="tden")
    rho_b = ss(a="tnum * 1000000", b="yden")
    rho2 = ss(a=f"({rho_a}) * ({rho_b})", b="1000000")
    return arms.crossJoin(F.broadcast(g)).select(
        "arm",
        "n_users",
        F.col("sxa").alias("sum_x_cents"),
        F.col("sya").alias("sum_y_cents"),
        F.expr(f"CAST({raw} AS BIGINT)").alias("raw_mean_y_milli"),
        F.expr(
            f"CAST(CASE WHEN tden = 0 THEN NULL ELSE {adj} END AS BIGINT)"
        ).alias("adj_mean_y_milli"),
        F.expr(
            f"CAST(CASE WHEN tden = 0 THEN NULL ELSE {theta} END "
            f"AS BIGINT)"
        ).alias("theta_milli"),
        F.expr(
            f"CAST(CASE WHEN tden = 0 OR yden = 0 THEN NULL ELSE {rho2} "
            f"END AS BIGINT)"
        ).alias("rho2_ppm"),
    )


# ------------------------------------ Markov removal-effect attribution

MARKOV_ITERS = 24          # fixpoint rounds (identical on both engines)
MARKOV_CHANNELS = ("view", "click", "signup", "error")
_MK_FULL = "__FULL__"      # variant label for the unremoved chain

_MK_TRANS_SQL = """
rn_tbl AS (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY epoch_us(ts), event_id) AS rn
    FROM events
),
numbered AS (
    SELECT user_id, event_type, rn,
           min(CASE WHEN event_type = 'purchase' THEN rn END)
               OVER (PARTITION BY user_id) AS first_pk
    FROM rn_tbl
),
kept AS (
    SELECT user_id, rn,
           CASE WHEN event_type = 'purchase' THEN 'CONV'
                ELSE event_type END AS st,
           max(rn) OVER (PARTITION BY user_id) AS last_rn
    FROM numbered
    WHERE rn <= coalesce(first_pk, 9223372036854775807)
),
seq AS (
    SELECT user_id, rn, st,
           coalesce(lag(st) OVER (PARTITION BY user_id ORDER BY rn),
                    'START') AS src
    FROM kept
),
trans AS (
    SELECT src, st AS dst, CAST(count(*) AS BIGINT) AS n FROM seq
    GROUP BY 1, 2
    UNION ALL
    SELECT st AS src, 'NULL' AS dst, CAST(count(*) AS BIGINT) AS n
    FROM kept WHERE rn = last_rn AND st <> 'CONV'
    GROUP BY 1
),
tr AS (SELECT src, dst, CAST(sum(n) AS BIGINT) AS n FROM trans GROUP BY 1, 2)
"""


def _mk_oracle() -> str:
    variants = ", ".join(
        f"('{v}')" for v in (_MK_FULL, *MARKOV_CHANNELS)
    )
    steps = []
    prev = "p0"
    for k in range(1, MARKOV_ITERS + 1):
        steps.append(f"""
p{k} AS MATERIALIZED (
    SELECT t.v, t.src AS state,
           CAST(sum(t.n * CASE WHEN t.dst = 'CONV' THEN 1000000
                               WHEN t.dst = 'NULL' THEN 0
                               ELSE coalesce(q.p, 0) END)
                // any_value(o.n_out) AS BIGINT) AS p
    FROM vtrans t
    JOIN odeg o ON o.v = t.v AND o.src = t.src
    LEFT JOIN {prev} q ON q.v = t.v AND q.state = t.dst
    GROUP BY 1, 2
)""")
        prev = f"p{k}"
    chans = ", ".join(f"('{c}')" for c in MARKOV_CHANNELS)
    return f"""
WITH {_MK_TRANS_SQL},
variants(v) AS (VALUES {variants}),
vtrans AS (
    -- removal drops the channel's OUTGOING rows (so its p stays 0) but
    -- keeps edges INTO it in the denominator: mass routed to a removed
    -- channel is LOST (-> NULL), not redistributed
    SELECT v.v, t.src, t.dst, t.n
    FROM tr t CROSS JOIN variants v
    WHERE t.src <> v.v
),
odeg AS (SELECT v, src, CAST(sum(n) AS BIGINT) AS n_out
         FROM vtrans GROUP BY 1, 2),
p0 AS (SELECT v, src AS state, CAST(0 AS BIGINT) AS p
       FROM odeg),
{",".join(steps)},
finals AS (
    SELECT v, p FROM {prev} WHERE state = 'START'
),
full_p AS (SELECT p AS p_full FROM finals WHERE v = '{_MK_FULL}'),
re AS (
    SELECT c.ch, f.p_full,
           coalesce(fv.p, 0) AS p_removed,
           f.p_full - coalesce(fv.p, 0) AS removal_micro
    FROM (VALUES {chans}) c(ch)
    CROSS JOIN full_p f
    LEFT JOIN finals fv ON fv.v = c.ch
),
tot AS (SELECT CAST(sum(removal_micro) AS BIGINT) AS t FROM re)
SELECT re.ch AS channel,
       CAST(re.p_full AS BIGINT) AS conv_full_micro,
       CAST(re.p_removed AS BIGINT) AS conv_removed_micro,
       CAST(re.removal_micro AS BIGINT) AS removal_micro,
       CAST(CASE WHEN tot.t > 0
                 THEN re.removal_micro * 1000000 // tot.t
                 ELSE 0 END AS BIGINT) AS share_ppm
FROM re CROSS JOIN tot
"""


@query("markov_attribution", oracle=_mk_oracle)
def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2016): model user
    journeys as an absorbing Markov chain (START -> touch channels ->
    CONV/NULL, truncated at the first purchase), estimate conversion
    probability from START by iterating the absorption recurrence
    {K} rounds in integer micro-units (floor division each step — the
    pagerank determinism recipe), then credit each channel by how much
    conversion DROPS when the channel is removed from the chain.
    Principled where `multi_touch_attribution`'s linear credit is a
    heuristic: a channel earns credit only if journeys fail without it.

    Scale shape: the fact table reduces to (src, dst, n) transition
    counts — bounded by |channels|^2, map-side combinable — in one
    window+aggregate pass; the chain solve runs on that BOUNDED matrix
    (driver-side here, mirrored by the oracle's unrolled CTE rounds —
    the same bounded-model collect as the Holt/conformal recurrences).
    Removal variants re-solve the tiny matrix, never re-scan events."""
    events = read_events(spark, sf_dir)
    w_user = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w_all = Window.partitionBy("user_id")
    from ..functions.scalar import epoch_us

    numbered = (
        events.withColumn("ts_us", epoch_us(F.col("ts")))
        .withColumn("rn", F.row_number().over(w_user))
        .withColumn(
            "first_pk",
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("rn"))
            ).over(w_all),
        )
    )
    kept = (
        numbered.where(
            F.col("rn")
            <= F.coalesce(F.col("first_pk"), F.lit(2**63 - 1))
        )
        .withColumn(
            "st",
            F.when(F.col("event_type") == "purchase", "CONV").otherwise(
                F.col("event_type")
            ),
        )
        .withColumn("last_rn", F.max("rn").over(w_all))
    )
    seq = kept.withColumn(
        "src",
        F.coalesce(
            F.lag("st").over(Window.partitionBy("user_id").orderBy("rn")),
            F.lit("START"),
        ),
    )
    trans = (
        seq.select(F.col("src"), F.col("st").alias("dst"))
        .unionByName(
            kept.where(
                (F.col("rn") == F.col("last_rn")) & (F.col("st") != "CONV")
            ).select(F.col("st").alias("src"), F.lit("NULL").alias("dst"))
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    rows = trans.collect()  # bounded by |states|^2, never data-sized
    if not rows:
        # 0-row input: the oracle's full_p CTE is empty, so its final
        # CROSS JOIN yields 0 rows — mirror that shape instead of
        # emitting 4 all-zero channel rows (round-8 advice item).
        return spark.createDataFrame(
            [],
            schema=(
                "channel string, conv_full_micro long,"
                " conv_removed_micro long, removal_micro long,"
                " share_ppm long"
            ),
        )

    def solve(removed: str | None) -> int:
        # drop only OUTGOING rows of the removed channel: its p stays 0,
        # but edges into it keep their denominator share (mass is lost)
        tr = {
            (r["src"], r["dst"]): r["n"]
            for r in rows
            if r["src"] != removed
        }
        n_out: dict[str, int] = {}
        for (s, _), n in tr.items():
            n_out[s] = n_out.get(s, 0) + n
        p = {s: 0 for s in n_out}
        for _ in range(MARKOV_ITERS):
            nxt = {}
            for s in n_out:
                acc = 0
                for (a, b), n in tr.items():
                    if a != s:
                        continue
                    if b == "CONV":
                        acc += n * 1_000_000
                    elif b == "NULL":
                        acc += 0
                    else:
                        acc += n * p.get(b, 0)
                nxt[s] = acc // n_out[s]
            p = nxt
        return p.get("START", 0)

    p_full = solve(None)
    removed = {c: solve(c) for c in MARKOV_CHANNELS}
    res = [
        (c, p_full, removed[c], p_full - removed[c])
        for c in MARKOV_CHANNELS
    ]
    tot = sum(r[3] for r in res)
    out = [
        (
            c,
            pf,
            pr,
            rm,
            (rm * 1_000_000 // tot) if tot > 0 else 0,
        )
        for c, pf, pr, rm in res
    ]
    return spark.createDataFrame(
        out,
        schema=(
            "channel string, conv_full_micro long, conv_removed_micro long,"
            " removal_micro long, share_ppm long"
        ),
    )


q_markov_attribution.__doc__ = q_markov_attribution.__doc__.format(
    K=MARKOV_ITERS
)


# ------------------------------------------ Shapley value attribution

# channel -> bitmask bit, in MARKOV_CHANNELS order (view=1, click=2,
# signup=4, error=8); n=4 channels -> 16 coalitions, weights in 24ths
SHAPLEY_BITS = tuple((c, 1 << i) for i, c in enumerate(MARKOV_CHANNELS))

_SHAP_W24 = (
    "CASE bit_count(s) WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 "
    "ELSE 6 END"
)


def _shapley_oracle() -> str:
    bits = ", ".join(f"('{c}', {b})" for c, b in SHAPLEY_BITS)
    cases = " ".join(
        f"WHEN '{c}' THEN {b}" for c, b in SHAPLEY_BITS
    )
    chans = ", ".join(f"'{c}'" for c, _ in SHAPLEY_BITS)
    return f"""
WITH ev AS (
    SELECT user_id, event_type, epoch_us(ts) AS t, event_id AS id
    FROM events
),
fp AS (
    SELECT user_id, t, id FROM (
        SELECT user_id, t, id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY t, id) AS rn
        FROM ev WHERE event_type = 'purchase'
    ) WHERE rn = 1
),
touched AS (
    SELECT e.user_id,
           bit_or(CASE e.event_type {cases} END) AS mask
    FROM ev e JOIN fp ON fp.user_id = e.user_id
    WHERE (e.t < fp.t OR (e.t = fp.t AND e.id < fp.id))
      AND e.event_type IN ({chans})
    GROUP BY 1
),
patt AS (
    SELECT CAST(coalesce(tc.mask, 0) AS INT) AS mask,
           CAST(count(*) AS BIGINT) AS cnt
    FROM fp LEFT JOIN touched tc ON tc.user_id = fp.user_id
    GROUP BY 1
),
s AS (SELECT CAST(range AS INT) AS s FROM range(0, 16)),
v AS (
    SELECT s.s, CAST(coalesce(sum(p.cnt), 0) AS BIGINT) AS v
    FROM s LEFT JOIN patt p ON (p.mask & s.s) = p.mask
    GROUP BY 1
),
chan(channel, bit) AS (VALUES {bits}),
terms AS (
    SELECT c.channel,
           CAST(sum(({_SHAP_W24.replace("bit_count(s)", "bit_count(s.s)")})
                    * (v1.v - v0.v)) AS BIGINT)
               AS phi_24ths
    FROM chan c
    JOIN s ON (s.s & c.bit) = 0
    JOIN v v0 ON v0.s = s.s
    JOIN v v1 ON v1.s = (s.s | c.bit)
    GROUP BY 1
),
tot AS (SELECT (SELECT v FROM v WHERE s = 15) AS conv_total,
               (SELECT v FROM v WHERE s = 0) AS conv_untouched)
SELECT t.channel,
       t.phi_24ths,
       CAST(CASE WHEN (tot.conv_total - tot.conv_untouched) > 0
                 THEN t.phi_24ths * 1000000
                      // (24 * (tot.conv_total - tot.conv_untouched))
                 ELSE 0 END AS BIGINT) AS share_ppm,
       CAST(tot.conv_total AS BIGINT) AS conv_total,
       CAST(tot.conv_untouched AS BIGINT) AS conv_untouched
FROM terms t CROSS JOIN tot
"""


@query("shapley_attribution", oracle=_shapley_oracle())
def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value channel attribution (Shapley 1953, applied to
    journeys per Zhao et al. 2018): coalition value v(S) = number of
    converting users whose pre-conversion touched-channel set is a
    subset of S; each channel is credited its exact Shapley value
    phi_i = sum_S |S|!(n-1-|S|)!/n! * (v(S+i) - v(S)). The axiomatic
    complement of `markov_attribution`'s removal effects and
    `multi_touch_attribution`'s linear split: Shapley is the unique
    credit rule satisfying efficiency/symmetry/null-player.

    Everything is exact integers: with n=4 channels the weights are
    multiples of 1/24, so phi is emitted in 24ths (bigint) and the
    normalized share as floor-ppm of sum(phi) = v(N) - v(empty).

    Scale shape: the events scan reduces to one (first-purchase struct)
    hash-agg plus one bit_or hash-agg per user, then to the <=2^n-row
    coalition pattern table — the Fellegi-Sunter bounded-pattern
    contract, except the solve here stays IN-PLAN: v(S) and the Shapley
    terms are broadcast joins over 16-row literal relations, so nothing
    is collected and the plan is identical at any corpus size. No
    windows: "events before first purchase" is a struct-comparison
    join against the per-user min(struct(t, id)) aggregate."""
    from ..functions.scalar import epoch_us

    ev = read_events(spark, sf_dir).select(
        "user_id",
        "event_type",
        epoch_us(F.col("ts")).alias("t"),
        "event_id",
    )
    key = F.struct(F.col("t").alias("t"), F.col("event_id").alias("id"))
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(key).alias("fp"))
    )
    bit_expr = F.when(F.lit(False), F.lit(None).cast("int"))
    for c, b in SHAPLEY_BITS:
        bit_expr = bit_expr.when(F.col("event_type") == c, F.lit(b))
    touched = (
        ev.join(conv, "user_id")
        .where(key < F.col("fp"))
        .select("user_id", bit_expr.alias("b"))
        .where(F.col("b").isNotNull())
        .groupBy("user_id")
        .agg(F.expr("bit_or(b)").alias("mask"))
    )
    masks = conv.join(touched, "user_id", "left").select(
        F.coalesce("mask", F.lit(0)).cast("int").alias("mask")
    )
    return shapley_from_masks(spark, masks)


def shapley_from_masks(spark: SparkSession, masks: DataFrame) -> DataFrame:
    """Shared Shapley scoring body: one `mask` row per CONVERTING user ->
    (channel, phi_24ths, share_ppm, conv_total, conv_untouched). Used by
    the batch query above and by the streaming monitor's serve path
    (`streaming/shapley.py`), so the two tiers cannot drift."""
    patt = masks.groupBy("mask").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    s_tbl = spark.range(16).select(F.col("id").cast("int").alias("s"))
    v = (
        s_tbl.join(
            F.broadcast(patt),
            F.expr("(mask & s) = mask"),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("v"))
    )
    chan = spark.createDataFrame(
        list(SHAPLEY_BITS), schema="channel string, bit int"
    )
    v0 = v.select(F.col("s").alias("s0"), F.col("v").alias("va"))
    v1 = v.select(F.col("s").alias("s1"), F.col("v").alias("vb"))
    terms = (
        chan.join(F.broadcast(s_tbl), F.expr("(s & bit) = 0"))
        .join(F.broadcast(v0), F.col("s0") == F.col("s"))
        .join(F.broadcast(v1), F.expr("s1 = (s | bit)"))
        .groupBy("channel")
        .agg(
            F.sum(
                F.expr(_SHAP_W24) * (F.col("vb") - F.col("va"))
            )
            .cast("long")
            .alias("phi_24ths")
        )
    )
    tot = (
        v.agg(
            F.max(F.when(F.col("s") == 15, F.col("v"))).alias(
                "conv_total"
            ),
            F.max(F.when(F.col("s") == 0, F.col("v"))).alias(
                "conv_untouched"
            ),
        )
    )
    return terms.crossJoin(F.broadcast(tot)).select(
        "channel",
        "phi_24ths",
        F.expr(
            "CAST(CASE WHEN (conv_total - conv_untouched) > 0 "
            "THEN phi_24ths * 1000000 "
            "div (24 * (conv_total - conv_untouched)) "
            "ELSE 0 END AS BIGINT)"
        ).alias("share_ppm"),
        F.col("conv_total").cast("long").alias("conv_total"),
        F.col("conv_untouched").cast("long").alias("conv_untouched"),
    )


# ------------------------------------------------ windowed funnel depth

WF_WINDOW_US = 43_200_000_000  # 12 h, in integer microseconds
WF_STEPS = ("view", "click", "purchase")

_WF_AFTER = "({b}_t > {a}_t OR ({b}_t = {a}_t AND {b}_id > {a}_id))"


def _window_funnel_oracle() -> str:
    w = WF_WINDOW_US
    after_vc = _WF_AFTER.format(a="v", b="c")
    after_cp = _WF_AFTER.format(a="c", b="p")
    return f"""
WITH e AS (
    SELECT user_id, event_type, epoch_us(ts) AS t, event_id AS id
    FROM events
),
u AS (SELECT DISTINCT user_id FROM e),
l1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'view'),
l2 AS (
    SELECT DISTINCT v.user_id
    FROM (SELECT user_id, t AS v_t, id AS v_id FROM e
          WHERE event_type = 'view') v
    JOIN (SELECT user_id, t AS c_t, id AS c_id FROM e
          WHERE event_type = 'click') c
      ON c.user_id = v.user_id AND {after_vc} AND c_t - v_t <= {w}
),
l3 AS (
    SELECT DISTINCT v.user_id
    FROM (SELECT user_id, t AS v_t, id AS v_id FROM e
          WHERE event_type = 'view') v
    JOIN (SELECT user_id, t AS c_t, id AS c_id FROM e
          WHERE event_type = 'click') c
      ON c.user_id = v.user_id AND {after_vc} AND c_t - v_t <= {w}
    JOIN (SELECT user_id, t AS p_t, id AS p_id FROM e
          WHERE event_type = 'purchase') p
      ON p.user_id = v.user_id AND {after_cp} AND p_t - v_t <= {w}
),
lv AS (
    SELECT u.user_id,
           CASE WHEN l3.user_id IS NOT NULL THEN 3
                WHEN l2.user_id IS NOT NULL THEN 2
                WHEN l1.user_id IS NOT NULL THEN 1
                ELSE 0 END AS level
    FROM u
    LEFT JOIN l1 ON l1.user_id = u.user_id
    LEFT JOIN l2 ON l2.user_id = u.user_id
    LEFT JOIN l3 ON l3.user_id = u.user_id
)
SELECT CAST(level AS INT) AS level,
       CAST(count(*) AS BIGINT) AS n_users
FROM lv GROUP BY 1
"""


@query("window_funnel_steps", oracle=_window_funnel_oracle())
def q_window_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window funnel depth (the ClickHouse `windowFunnel`
    operator, exact semantics): per user, the deepest prefix of the
    step chain view -> click -> purchase that occurs in strict
    (t, event_id) order with the WHOLE chain inside a 12 h window
    anchored at its first step; output is the user count per reached
    level (0..3). Complements `funnel` (adjacent page-flow hops) and
    `timed_funnel` with the any-gap bounded-span semantics ad/retention
    analytics actually query.

    Engine side prunes with the greedy-chain identity: a chain
    (v, c, p) exists iff one exists through the EARLIEST qualifying
    click after v (min over a struct — earlier click can only widen
    the residual window), so views join to ONE candidate click each,
    never the full view x click x purchase cube; the oracle states the
    naive EXISTS form and the hash match proves the pruning lossless.
    All comparisons are integer microseconds with event_id tiebreak —
    a total order, so results are placement-independent. Scale shape:
    per-step frames are equi-joined on user_id only (AQE-splittable),
    candidate pairs are bounded by per-user step events inside one
    window, and levels reduce to a 4-row count table."""
    from ..functions.scalar import epoch_us

    w = WF_WINDOW_US
    ev = read_events(spark, sf_dir).select(
        "user_id",
        "event_type",
        epoch_us(F.col("ts")).alias("t"),
        F.col("event_id").alias("id"),
    )
    step = {
        s: ev.where(F.col("event_type") == s).select(
            "user_id",
            F.col("t").alias(f"{s[0]}_t"),
            F.col("id").alias(f"{s[0]}_id"),
        )
        for s in WF_STEPS
    }
    after_vc = F.expr(_WF_AFTER.format(a="v", b="c"))
    vc = (
        step["view"]
        .join(
            step["click"],
            ["user_id"],
        )
        .where(after_vc & (F.col("c_t") - F.col("v_t") <= w))
        .groupBy("user_id", "v_t", "v_id")
        .agg(
            F.min(
                F.struct(
                    F.col("c_t").alias("c_t"), F.col("c_id").alias("c_id")
                )
            ).alias("cf")
        )
        .select(
            "user_id",
            "v_t",
            "v_id",
            F.col("cf.c_t").alias("c_t"),
            F.col("cf.c_id").alias("c_id"),
        )
    )
    after_cp = F.expr(_WF_AFTER.format(a="c", b="p"))
    vcp = (
        vc.join(step["purchase"], ["user_id"])
        .where(after_cp & (F.col("p_t") - F.col("v_t") <= w))
        .select("user_id")
        .distinct()
        .withColumn("has3", F.lit(True))
    )
    l2 = vc.select("user_id").distinct().withColumn("has2", F.lit(True))
    l1 = (
        step["view"].select("user_id").distinct()
        .withColumn("has1", F.lit(True))
    )
    levels = (
        ev.select("user_id")
        .distinct()
        .join(l1, "user_id", "left")
        .join(l2, "user_id", "left")
        .join(vcp, "user_id", "left")
        .select(
            F.when(F.col("has3"), 3)
            .when(F.col("has2"), 2)
            .when(F.col("has1"), 1)
            .otherwise(0)
            .cast("int")
            .alias("level")
        )
    )
    return levels.groupBy("level").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
