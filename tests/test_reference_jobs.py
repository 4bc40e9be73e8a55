"""Golden parity of the reference's four jobs on the NATIVE data model
(SURVEY §5 item 4): seeded mock tables → Spark jobs vs independently-written
DuckDB SQL over the same parquet."""

from __future__ import annotations

import dataclasses
import math

import duckdb
import pytest

from log_analysis_system_spark.params import TaskParams
from log_analysis_system_spark.queries.reference_jobs import (
    aggregate_sessions,
    area_top3_products,
    extract_sessions,
    page_convert_rate,
    session_analyze,
)
from log_analysis_system_spark.sources.mockdata import mock_user_visit_data

PARAMS = TaskParams(
    start_date="2018-12-01",
    end_date="2018-12-03",
    start_age=20,
    end_age=50,
    sex="male",
    target_page_flow=[1, 2, 3, 4, 5, 6, 7],
)


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


@pytest.fixture(scope="module")
def native(spark, tmp_path_factory):
    """Mock tables written to parquet, loadable by both engines."""
    d = tmp_path_factory.mktemp("native")
    dfs = mock_user_visit_data(spark, n_users=60, sessions_per_user=6)
    paths = {}
    for name, df in dfs.items():
        p = str(d / name)
        df.coalesce(2).write.mode("overwrite").parquet(p)
        paths[name] = p
    con = duckdb.connect()
    for name, p in paths.items():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{p}/*.parquet'"
        )
    dfs = {n: spark.read.parquet(p) for n, p in paths.items()}
    return {"dfs": dfs, "duck": con}


def _compare(sdf, duck, sql):
    cols = sorted(sdf.columns)
    srows = sorted(tuple(canon(r[c]) for c in cols) for r in sdf.collect())
    tbl = duck.execute(sql).fetch_arrow_table()
    assert sorted(tbl.column_names) == cols
    pyd = tbl.to_pydict()
    drows = sorted(
        tuple(canon(pyd[c][i]) for c in cols) for i in range(tbl.num_rows)
    )
    assert srows == drows


SESS_AGG_SQL = """
sess_agg AS (
    SELECT session_id,
           min(user_id) AS user_id,
           count(*) AS step_length,
           date_diff('second',
                     min(strptime(action_time, '%Y-%m-%d %H:%M:%S')),
                     max(strptime(action_time, '%Y-%m-%d %H:%M:%S'))) AS visit_length,
           min(date) AS date,
           min(action_time) AS start_time
    FROM user_visit_action
    WHERE date BETWEEN '2018-12-01' AND '2018-12-03'
    GROUP BY session_id
),
filtered AS (
    SELECT a.* FROM sess_agg a
    JOIN user_info u ON a.user_id = u.user_id
    WHERE u.age BETWEEN 20 AND 50 AND u.sex = 'male'
)
"""


def test_session_aggregate_stats_match(native, spark):
    sdf = aggregate_sessions(native["dfs"]["user_visit_action"]).select(
        "session_id", "user_id", "step_length", "visit_length"
    )
    _compare(
        sdf,
        native["duck"],
        """
SELECT session_id, min(user_id) AS user_id, count(*) AS step_length,
       date_diff('second',
                 min(strptime(action_time, '%Y-%m-%d %H:%M:%S')),
                 max(strptime(action_time, '%Y-%m-%d %H:%M:%S'))) AS visit_length
FROM user_visit_action GROUP BY session_id
""",
    )


def test_session_aggr_stat_ratios_match(native):
    out = session_analyze(
        native["dfs"]["user_visit_action"], native["dfs"]["user_info"], PARAMS
    )
    bins_sql = ", ".join(
        f"round(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) / count(*), 2) AS {name}_ratio"
        for name, cond in {
            "visit_1s_3s": "visit_length >= 1 AND visit_length <= 3",
            "visit_4s_6s": "visit_length >= 4 AND visit_length <= 6",
            "visit_7s_9s": "visit_length >= 7 AND visit_length <= 9",
            "visit_10s_30s": "visit_length >= 10 AND visit_length <= 30",
            "visit_30s_60s": "visit_length > 30 AND visit_length <= 60",
            "visit_1m_3m": "visit_length > 60 AND visit_length <= 180",
            "visit_3m_10m": "visit_length > 180 AND visit_length <= 600",
            "visit_10m_30m": "visit_length > 600 AND visit_length <= 1800",
            "visit_30m": "visit_length > 1800",
            "step_1_3": "step_length >= 1 AND step_length <= 3",
            "step_4_6": "step_length >= 4 AND step_length <= 6",
            "step_7_9": "step_length >= 7 AND step_length <= 9",
            "step_10_30": "step_length >= 10 AND step_length <= 30",
            "step_30_60": "step_length > 30 AND step_length <= 60",
            "step_60": "step_length > 60",
        }.items()
    )
    _compare(
        out["session_aggr_stat"],
        native["duck"],
        f"WITH {SESS_AGG_SQL} SELECT count(*) AS session_count, {bins_sql} FROM filtered",
    )


def test_top10_category_match(native):
    out = session_analyze(
        native["dfs"]["user_visit_action"], native["dfs"]["user_info"], PARAMS
    )
    _compare(
        out["top10_category"],
        native["duck"],
        f"""
WITH {SESS_AGG_SQL},
details AS (
    SELECT v.* FROM user_visit_action v
    WHERE v.date BETWEEN '2018-12-01' AND '2018-12-03'
      AND v.session_id IN (SELECT session_id FROM filtered)
),
clicks AS (
    SELECT CAST(click_category_id AS VARCHAR) AS category_id, count(*) AS click_count
    FROM details WHERE click_category_id IS NOT NULL GROUP BY 1
),
orders AS (
    SELECT id AS category_id, count(*) AS order_count FROM (
        SELECT unnest(string_split(order_category_ids, ',')) AS id
        FROM details WHERE order_category_ids IS NOT NULL) WHERE id <> '' GROUP BY 1
),
pays AS (
    SELECT id AS category_id, count(*) AS pay_count FROM (
        SELECT unnest(string_split(pay_category_ids, ',')) AS id
        FROM details WHERE pay_category_ids IS NOT NULL) WHERE id <> '' GROUP BY 1
),
all_ids AS (
    SELECT category_id FROM clicks UNION
    SELECT category_id FROM orders UNION
    SELECT category_id FROM pays
)
SELECT CAST(a.category_id AS BIGINT) AS category_id,
       COALESCE(c.click_count, 0) AS click_count,
       COALESCE(o.order_count, 0) AS order_count,
       COALESCE(p.pay_count, 0) AS pay_count
FROM all_ids a
LEFT JOIN clicks c USING (category_id)
LEFT JOIN orders o USING (category_id)
LEFT JOIN pays p USING (category_id)
ORDER BY click_count DESC, order_count DESC, pay_count DESC, category_id
LIMIT 10
""",
    )


def _page_rate_sql(flow: list[int]) -> str:
    """DuckDB spelling of job 2 over the PARAMS date range for ``flow``."""
    targets = [f"{a}_{b}" for a, b in zip(flow, flow[1:])]
    values = ", ".join(f"('{t}', {i})" for i, t in enumerate(targets))
    return f"""
WITH scanned AS (
    SELECT *, strptime(action_time, '%Y-%m-%d %H:%M:%S') AS ts
    FROM user_visit_action
    WHERE date BETWEEN '2018-12-01' AND '2018-12-03'
),
splits AS (
    SELECT CAST(lag(page_id) OVER w AS VARCHAR) || '_' || CAST(page_id AS VARCHAR) AS split
    FROM scanned
    WINDOW w AS (PARTITION BY session_id ORDER BY ts, page_id)
),
counts AS (
    SELECT split, count(*) AS split_pv FROM splits
    WHERE split IN ({", ".join(f"'{t}'" for t in targets)})
    GROUP BY split
),
start_pv AS (SELECT count(*) AS pv FROM scanned WHERE page_id = {flow[0]}),
targets(split, ord) AS (VALUES {values}),
chained AS (
    SELECT t.split, t.ord, COALESCE(c.split_pv, 0) AS split_pv,
           lag(COALESCE(c.split_pv, 0)) OVER (ORDER BY t.ord) AS prev_pv
    FROM targets t LEFT JOIN counts c USING (split)
)
SELECT ch.split, ch.split_pv,
       round(ch.split_pv / COALESCE(ch.prev_pv, s.pv), 2) AS convert_rate
FROM chained ch CROSS JOIN start_pv s
"""


def test_page_convert_rate_match(native):
    sdf = page_convert_rate(native["dfs"]["user_visit_action"], PARAMS)
    _compare(sdf, native["duck"], _page_rate_sql(PARAMS.target_page_flow))


@pytest.mark.parametrize(
    "flow",
    [[42, 1], [1, 2, 42, 3]],
    ids=["zero_start", "zero_middle_step"],
)
def test_page_convert_rate_zero_traffic_step(native, flow):
    """A step with no traffic (page 42 never occurs in the mock) makes a
    denominator zero: the rate is NULL, as SQL division gives, instead of
    an ANSI DIVIDE_BY_ZERO error."""
    params = dataclasses.replace(PARAMS, target_page_flow=flow)
    sdf = page_convert_rate(native["dfs"]["user_visit_action"], params)
    assert any(r["convert_rate"] is None for r in sdf.collect())
    _compare(sdf, native["duck"], _page_rate_sql(flow))


def test_area_top3_products_match(native):
    sdf = area_top3_products(
        native["dfs"]["user_visit_action"],
        native["dfs"]["city_info"],
        native["dfs"]["product_info"],
        PARAMS,
    )
    _compare(
        sdf,
        native["duck"],
        """
WITH clicks AS (
    SELECT v.city_id, v.click_product_id AS product_id
    FROM user_visit_action v
    WHERE v.date BETWEEN '2018-12-01' AND '2018-12-03'
      AND v.click_product_id IS NOT NULL
),
joined AS (
    SELECT c.*, ci.city_name, ci.area FROM clicks c
    JOIN city_info ci USING (city_id)
),
grouped AS (
    SELECT area, product_id, count(*) AS click_count,
           string_agg(DISTINCT CAST(city_id AS VARCHAR) || ':' || city_name,
                      ',' ORDER BY CAST(city_id AS VARCHAR) || ':' || city_name)
               AS city_infos
    FROM joined GROUP BY area, product_id
),
ranked AS (
    SELECT *, row_number() OVER (
                PARTITION BY area ORDER BY click_count DESC, product_id) AS rnk
    FROM grouped
)
SELECT r.area,
       CASE WHEN r.area IN ('East', 'North') THEN 'A Level'
            WHEN r.area IN ('South', 'Central') THEN 'B Level'
            WHEN r.area IN ('Northwest', 'Southwest') THEN 'C Level'
            ELSE 'D Level' END AS area_level,
       r.product_id, r.click_count, r.city_infos, p.product_name,
       CASE WHEN CAST(json_extract_string(p.extend_info, '$.product_status') AS INTEGER) = 0
            THEN 'Self' ELSE 'Third Party' END AS product_status,
       r.rnk
FROM ranked r JOIN product_info p USING (product_id)
WHERE r.rnk <= 3
""",
    )


def test_stratified_extract_respects_quota(native):
    out = session_analyze(
        native["dfs"]["user_visit_action"], native["dfs"]["user_info"], PARAMS
    )
    extracted = out["session_random_extract"]
    filtered = out["filtered_sessions"]
    n_days = filtered.select("date").distinct().count()
    # never more than ~100/day (+1 per hour from flooring is impossible:
    # floor only shrinks), and deterministic across runs
    assert extracted.count() <= 100 * n_days
    again = session_analyze(
        native["dfs"]["user_visit_action"], native["dfs"]["user_info"], PARAMS
    )["session_random_extract"]
    a = sorted(r["session_id"] for r in extracted.collect())
    b = sorted(r["session_id"] for r in again.collect())
    assert a == b


@pytest.mark.parametrize("per_day", [100, 7])
def test_stratified_extract_matches_duckdb(native, per_day):
    """R1 exact parity: the hour-stratified md5-rank extraction of the
    filtered sessions, spelled like the ``stratified_sample`` oracle. At
    100/day every session of the mock fits its quota; 7/day makes the
    quota floor and the md5 rank decide."""
    out = session_analyze(
        native["dfs"]["user_visit_action"], native["dfs"]["user_info"], PARAMS
    )
    extracted = (
        out["session_random_extract"]
        if per_day == 100
        else extract_sessions(out["filtered_sessions"], per_day=per_day)
    )
    cols = ["session_id", "user_id", "step_length", "visit_length", "date", "start_time"]
    _compare(
        extracted.select(*cols),
        native["duck"],
        f"""
WITH {SESS_AGG_SQL},
keyed AS (
    SELECT {", ".join(cols)},
           CAST(hour(strptime(start_time, '%Y-%m-%d %H:%M:%S')) AS BIGINT) AS hour_key
    FROM filtered
),
hour_counts AS (
    SELECT date, hour_key, count(*) AS n_h FROM keyed GROUP BY 1, 2
),
day_counts AS (SELECT date, count(*) AS n_d FROM keyed GROUP BY 1),
quotas AS (
    SELECT h.date, h.hour_key,
           least(h.n_h, CAST(floor(h.n_h * {per_day}.0 / d.n_d) AS BIGINT)) AS quota
    FROM hour_counts h JOIN day_counts d USING (date)
),
ranked AS (
    SELECT k.*, row_number() OVER (
               PARTITION BY k.date, k.hour_key
               ORDER BY md5(k.session_id), k.session_id) AS rnk
    FROM keyed k
)
SELECT {", ".join(cols)}
FROM ranked r JOIN quotas q USING (date, hour_key)
WHERE r.rnk <= q.quota
""",
    )


def test_top10_sessions_rank_bounds(native):
    out = session_analyze(
        native["dfs"]["user_visit_action"], native["dfs"]["user_info"], PARAMS
    )
    rows = out["top10_category_session"].collect()
    assert rows, "expected some top sessions"
    assert all(1 <= r["rnk"] <= 10 for r in rows)
    cats = {r["category_id"] for r in rows}
    top_cats = {r["category_id"] for r in out["top10_category"].collect()}
    assert cats <= top_cats
