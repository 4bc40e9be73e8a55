"""Untimed correctness checks, each against an implementation that shares no
code with the engine:

- registry queries: their DuckDB ``ORACLES`` entry, compared by the canon and
  value hash of ``scripts/driver_sim.py``;
- runner tasks: DuckDB SQL over the same native parquet, written for the
  task's own parameters, compared row by row with what the sink wrote;
- the ad stream: a pure-Python replay of the checkpoint's per-batch file
  lists, compared with the final state tables.
"""

from __future__ import annotations

import json
import math
import os
import time
from collections import Counter

import duckdb

from log_analysis_system_spark.streaming.ad_analytics import BLACKLIST_THRESHOLD


# ---------------------------------------------------------------- registry --

def registry_hash(cols: list[str], rows: list) -> tuple[int, str]:
    """(row count, value hash) of collected Spark rows, as driver_sim does."""
    from driver_sim import canon, value_hash

    cols = sorted(cols)
    canon_rows = [tuple(canon(r[c]) for c in cols) for r in rows]
    return len(canon_rows), value_hash(cols, canon_rows)


def oracle_hash(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], int, str]:
    from driver_sim import canon, value_hash

    tbl = con.execute(sql).fetch_arrow_table()
    cols = sorted(tbl.column_names)
    pyd = tbl.to_pydict()
    rows = [tuple(canon(pyd[c][i]) for c in cols) for i in range(tbl.num_rows)]
    return cols, len(rows), value_hash(cols, rows)


def sf_connection(sf_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


# ------------------------------------------------------------ runner tasks --

def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def native_connection(native_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in os.listdir(native_dir):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{native_dir}/{t}/*.parquet'")
    return con


def page_task_sql(start: str, end: str, flow: list[int]) -> str:
    """Job 2: the chained one-step conversion rates of ``flow``."""
    targets = [f"{a}_{b}" for a, b in zip(flow, flow[1:])]
    values = ", ".join(f"('{t}', {i})" for i, t in enumerate(targets))
    return f"""
WITH scanned AS (
    SELECT *, strptime(action_time, '%Y-%m-%d %H:%M:%S') AS ts
    FROM user_visit_action WHERE date BETWEEN '{start}' AND '{end}'
),
splits AS (
    SELECT CAST(lag(page_id) OVER w AS VARCHAR) || '_' || CAST(page_id AS VARCHAR) AS split
    FROM scanned
    WINDOW w AS (PARTITION BY session_id ORDER BY ts, page_id)
),
counts AS (
    SELECT split, count(*) AS split_pv FROM splits
    WHERE split IN ({", ".join(f"'{t}'" for t in targets)}) GROUP BY split
),
start_pv AS (SELECT count(*) AS pv FROM scanned WHERE page_id = {flow[0]}),
targets(split, ord) AS (VALUES {values}),
chained AS (
    SELECT t.split, COALESCE(c.split_pv, 0) AS split_pv,
           lag(COALESCE(c.split_pv, 0)) OVER (ORDER BY t.ord) AS prev_pv
    FROM targets t LEFT JOIN counts c USING (split)
)
SELECT ch.split, ch.split_pv, round(ch.split_pv / COALESCE(ch.prev_pv, s.pv), 2) AS convert_rate
FROM chained ch CROSS JOIN start_pv s
"""


def area_task_sql(start: str, end: str) -> str:
    """Job 3: per area, the three most clicked products."""
    return f"""
WITH grouped AS (
    SELECT ci.area, v.click_product_id AS product_id, count(*) AS click_count,
           string_agg(DISTINCT CAST(v.city_id AS VARCHAR) || ':' || ci.city_name, ','
                      ORDER BY CAST(v.city_id AS VARCHAR) || ':' || ci.city_name) AS city_infos
    FROM user_visit_action v JOIN city_info ci ON v.city_id = ci.city_id
    WHERE v.date BETWEEN '{start}' AND '{end}' AND v.click_product_id IS NOT NULL
    GROUP BY ci.area, v.click_product_id
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY area ORDER BY click_count DESC, product_id) AS rnk
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
"""


def sorted_rows(tbl) -> tuple[list[str], list[tuple]]:
    cols = sorted(tbl.column_names)
    pyd = tbl.to_pydict()
    return cols, sorted(tuple(canon(pyd[c][i]) for c in cols) for i in range(tbl.num_rows))


def task_matches(con: duckdb.DuckDBPyConnection, written: str, sql: str) -> bool:
    """Whether the parquet dataset the sink wrote at ``written`` holds
    exactly the rows of ``sql``, and at least one."""
    actual = sorted_rows(con.execute(f"SELECT * FROM '{written}/*.parquet'").fetch_arrow_table())
    expected = sorted_rows(con.execute(sql).fetch_arrow_table())
    return actual == expected and len(actual[1]) > 0


# --------------------------------------------------------------- ad stream --

def source_batches(checkpoint: str) -> dict[str, int]:
    """File path -> id of the micro-batch that read it, from the file
    source's metadata log (plain and compacted entries)."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh.read().splitlines()[1:]:
                entry = json.loads(line)
                out[entry["path"].removeprefix("file://")] = entry["batchId"]
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Batch id -> wall time its commit marker was written."""
    d = os.path.join(checkpoint, "commits")
    if not os.path.isdir(d):
        return {}
    return {
        int(n): os.path.getmtime(os.path.join(d, n))
        for n in os.listdir(d)
        if n.isdigit()
    }


def replay_ad_state(files_by_batch: list[list[str]]) -> dict[str, set]:
    """Independent replay of AdAnalyticsPipeline.process_batch: per batch,
    drop blacklisted users, fold counts, then blacklist every user over the
    threshold on a date the batch touched."""
    blacklist: set[int] = set()
    user_counts: Counter = Counter()
    stats: Counter = Counter()
    for files in files_by_batch:
        records = []
        for path in files:
            with open(path) as fh:
                for line in fh:
                    ts, province, city, user, ad = line.split()
                    day = time.strftime("%Y-%m-%d", time.gmtime(int(ts) // 1000))
                    records.append((day, province, city, int(user), int(ad)))
        dates = {r[0] for r in records}
        for day, province, city, user, ad in records:
            if user in blacklist:
                continue
            user_counts[(day, user, ad)] += 1
            stats[(day, province, city, ad)] += 1
        blacklist |= {
            u for (day, u, _), n in user_counts.items()
            if day in dates and n > BLACKLIST_THRESHOLD
        }
    per_ad: Counter = Counter()
    for (day, province, _, ad), n in stats.items():
        per_ad[(day, province, ad)] += n
    groups: dict[tuple, list] = {}
    for (day, province, ad), n in per_ad.items():
        groups.setdefault((day, province), []).append((-n, ad))
    top3 = {
        (day, province, ad, -neg, rank)
        for (day, province), rows in groups.items()
        for rank, (neg, ad) in enumerate(sorted(rows)[:3], start=1)
    }
    return {
        "ad_blacklist": {(u,) for u in blacklist},
        "ad_user_click_count": {(d, u, a, n) for (d, u, a), n in user_counts.items()},
        "ad_stat": {(d, p, c, a, n) for (d, p, c, a), n in stats.items()},
        "ad_province_top3": top3,
    }


AD_STATE_SQL = {
    "ad_blacklist": "SELECT user_id FROM read_parquet('{d}/*.parquet')",
    "ad_user_click_count": "SELECT date_key, user_id, ad_id, click_count "
    "FROM read_parquet('{d}/*/*.parquet', hive_partitioning = true, hive_types_autocast = false)",
    "ad_stat": "SELECT date_key, province, city, ad_id, click_count "
    "FROM read_parquet('{d}/*/*.parquet', hive_partitioning = true, hive_types_autocast = false)",
    "ad_province_top3": "SELECT date_key, province, ad_id, click_count, rnk "
    "FROM read_parquet('{d}/*/*.parquet', hive_partitioning = true, hive_types_autocast = false)",
}


def ad_state_matches(state_dir: str, expected: dict[str, set]) -> dict[str, bool]:
    con = duckdb.connect()
    out = {}
    for table, sql in AD_STATE_SQL.items():
        rows = con.execute(sql.format(d=os.path.join(state_dir, table))).fetchall()
        actual = {tuple(str(v) if isinstance(v, str) else v for v in r) for r in rows}
        out[table] = len(rows) == len(actual) and actual == expected[table]
    return out
