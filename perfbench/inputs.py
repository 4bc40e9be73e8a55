"""Seeded input generators. The same seed gives the same files.

- ``write_sf_tables``: the engine's dataset directory (TESTDATA.md layout).
  ``events`` and ``customer`` follow the sf0.1 profile; every other table is
  written empty with its schema, because the session workload reads only
  these two and ``Engine`` registers all ten.
- ``write_native_tables``: the reference's native clickstream tables from
  ``sources.mockdata.mock_user_visit_data``, as parquet, for the runner tasks.

The ad-click stream's records are generated by ``adgen.py``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

_EMPTY = {
    "region": "r_regionkey:int32 r_name:string",
    "nation": "n_nationkey:int32 n_name:string n_regionkey:int32",
    "supplier": "s_suppkey:int64 s_name:string s_nationkey:int32 s_acctbal:float64",
    "part": "p_partkey:int64 p_name:string p_brand:string p_type:string "
    "p_size:int32 p_retailprice:float64",
    "orders": "o_orderkey:int64 o_custkey:int64 o_orderstatus:string "
    "o_totalprice:float64 o_orderdate:ts o_orderpriority:string",
    "lineitem": "l_orderkey:int64 l_partkey:int64 l_suppkey:int64 "
    "l_linenumber:int32 l_quantity:float64 l_extendedprice:float64 "
    "l_discount:float64 l_tax:float64 l_returnflag:string l_linestatus:string "
    "l_shipdate:ts",
    "documents": "doc_id:int64 text:string lang:string source:string n_chars:int64",
    "embeddings": "vec_id:int64 embedding:vec label:int32",
}
_TYPES = {
    "int32": pa.int32(),
    "int64": pa.int64(),
    "float64": pa.float64(),
    "string": pa.string(),
    "ts": pa.timestamp("us"),
    "vec": pa.list_(pa.float32()),
}


def write_sf_tables(
    out_dir: str, seed: int, n_events: int = 100_000, n_users: int = 1_500,
    days: int = 30, n_customers: int = 15_000,
) -> dict[str, tuple[int, int]]:
    """Write the ten engine tables; returns {table: (rows, bytes)}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    offsets = np.sort(rng.integers(0, days * 86_400 * 10**6, n_events))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offsets.astype("timedelta64[us]")
    tables = {
        "events": pa.table(
            {
                "event_id": np.arange(n_events, dtype=np.int64),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": rng.integers(0, n_users, n_events),
                "event_type": rng.choice(EVENT_TYPES, n_events),
                "value": np.round(rng.exponential(50.0, n_events), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_customers, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
                "c_nationkey": rng.integers(0, 25, n_customers).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customers), 2),
                "c_mktsegment": rng.choice(SEGMENTS, n_customers),
            }
        ),
    }
    for name, spec in _EMPTY.items():
        fields = [f.split(":") for f in spec.split()]
        tables[name] = pa.schema([(n, _TYPES[t]) for n, t in fields]).empty_table()
    out = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        out[name] = (table.num_rows, os.path.getsize(path))
    return out


def parquet_size(path: str) -> tuple[int, int]:
    """(rows, bytes) of the parquet files under ``path``, from their footers."""
    rows = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                rows += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                size += os.path.getsize(os.path.join(d, f))
    return rows, size


class _TableRecorder:
    """Takes the place of the SparkSession ``mock_user_visit_data`` is given:
    its ``createDataFrame`` keeps the rows and schema, which are then written
    with pyarrow. The rows are the generator's own; no Spark job runs."""

    TYPES = {"StringType": pa.string(), "LongType": pa.int64(), "IntegerType": pa.int32()}

    def createDataFrame(self, rows: list[tuple], schema) -> pa.Table:  # noqa: N802
        cols = list(zip(*rows))
        return pa.table(
            {f.name: pa.array(col, self.TYPES[type(f.dataType).__name__]) for f, col in zip(schema.fields, cols)}
        )


def write_native_tables(out_dir: str, seed: int, n_users: int) -> dict[str, tuple[int, int]]:
    """Write ``mock_user_visit_data(seed=seed)`` (user_visit_action,
    user_info, product_info, city_info) as one parquet dataset per table;
    returns {table: (rows, bytes)}."""
    from log_analysis_system_spark.sources.mockdata import mock_user_visit_data

    out = {}
    for name, table in mock_user_visit_data(_TableRecorder(), n_users=n_users, seed=seed).items():
        path = os.path.join(out_dir, name)
        os.makedirs(path)
        pq.write_table(table, os.path.join(path, "part-0.parquet"))
        out[name] = parquet_size(path)
    return out
