"""Table reads through ``sources.catalog``: ``read_table`` infers a table's
schema once per snapshot (and per schema-inference conf), ``read_events``
normalizes a nanosecond ``ts``, no query reads an ``sf_dir`` table around
them, and the dedup caches over ``documents.parquet`` follow its snapshot."""

from __future__ import annotations

import ast
import os
import shutil
import sys
import threading

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.readwriter import DataFrameReader

from log_analysis_system_spark import queries as queries_pkg
from log_analysis_system_spark.queries import ORACLES, QUERIES, load_all
from log_analysis_system_spark.sources.catalog import read_table
from tests.conftest import SF_DIR, assert_matches_oracle

load_all()

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.fixture()
def sf_copy(tmp_path):
    """A writable copy of the test tables: a new path, so a new snapshot."""
    out = tmp_path / "sf"
    out.mkdir()
    for name in os.listdir(SF_DIR):
        shutil.copyfile(os.path.join(SF_DIR, name), out / name)
    return str(out)


def test_rewrite_that_adds_a_column_shows_it(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = read_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_flipped_nanos_as_long_is_not_served_the_cached_schema(spark, tmp_path):
    """With ``nanosAsLong`` on, a TIMESTAMP(NANOS) column infers as bigint;
    with it off, inference rejects the type. The reader must do what
    ``spark.read.parquet`` does under the current value, not reuse the
    schema it inferred under the other."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"ts": pa.array([1_000_000_123], pa.timestamp("ns"))}), path)
    old = spark.conf.get(NANOS_AS_LONG)
    try:
        spark.conf.set(NANOS_AS_LONG, "true")
        df = read_table(spark, str(tmp_path), "t")
        assert df.schema == spark.read.parquet(path).schema
        assert df.collect()[0][0] == 1_000_000_123
        spark.conf.set(NANOS_AS_LONG, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            spark.read.parquet(path)
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            read_table(spark, str(tmp_path), "t")
    finally:
        spark.conf.set(NANOS_AS_LONG, old)


def test_concurrent_readers_infer_a_new_snapshot_once(spark, tmp_path, monkeypatch):
    """Eight threads (more than the host's cores) read a table nobody has
    read before. Only one parquet read is made without a schema (the
    inference); every call is given the cached one."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": list(range(10))}), path)
    inferred, given = [], []
    real_schema, real_parquet = DataFrameReader.schema, DataFrameReader.parquet

    def schema(self, *args, **kwargs):
        self._given_schema = True
        return real_schema(self, *args, **kwargs)

    def parquet(self, *args, **kwargs):
        (given if getattr(self, "_given_schema", False) else inferred).append(args)
        return real_parquet(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameReader, "schema", schema)
    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    counts, errors = [], []

    def run():
        try:
            counts.append(read_table(spark, str(tmp_path), "t").count())
        except Exception as exc:  # surfaced on the main thread below
            errors.append(exc)

    threads = [threading.Thread(target=run) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the slot checks as finely as possible
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert counts == [10] * 8
    assert len(inferred) == 1 and len(given) == 8


def _sf_dir_reads(path: str) -> list[str]:
    """``<x>.read…(…)`` calls (DataFrameReader chains) whose arguments name
    ``sf_dir``."""
    tree = ast.parse(open(path).read())
    out = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        chain, reads = node.func, False
        while isinstance(chain, (ast.Attribute, ast.Call)):
            if isinstance(chain, ast.Attribute):
                reads |= chain.attr == "read"
                chain = chain.value
            else:
                chain = chain.func
        args = [*node.args, *(k.value for k in node.keywords)]
        if reads and any(
            isinstance(n, ast.Name) and n.id == "sf_dir" for a in args for n in ast.walk(a)
        ):
            out.append(f"{os.path.basename(path)}:{node.lineno}")
    return out


def test_queries_read_sf_dir_tables_only_through_the_catalog():
    """Every table a query reads from ``sf_dir`` goes through
    ``read_table`` or ``read_events``, so its schema is inferred once per
    snapshot and a nanosecond ``ts`` is normalized."""
    qdir = os.path.dirname(queries_pkg.__file__)
    violations = []
    for f in sorted(os.listdir(qdir)):
        if f.endswith(".py"):
            violations += _sf_dir_reads(os.path.join(qdir, f))
    assert violations == []


@pytest.fixture()
def sf_nanos(tmp_path):
    """The test tables with ``events.ts`` rewritten as TIMESTAMP(NANOS)."""
    out = tmp_path / "sf_ns"
    out.mkdir()
    for name in os.listdir(SF_DIR):
        shutil.copyfile(os.path.join(SF_DIR, name), out / name)
    events = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    i = events.schema.get_field_index("ts")
    events = events.set_column(i, "ts", events["ts"].cast(pa.timestamp("ns")))
    pq.write_table(events, out / "events.parquet")
    return str(out)


@pytest.mark.parametrize(
    "name", ["dq_checks", "sprt_conversion_monitor", "diff_in_diff_lift", "xmr_control_chart"]
)
def test_nanosecond_events_give_the_same_rows(spark, sf_nanos, name):
    def rows(sf_dir):
        df = QUERIES[name](spark, sf_dir)
        return sorted(tuple(r[c] for c in sorted(df.columns)) for r in df.collect())

    assert rows(sf_nanos) == rows(SF_DIR)


DEDUP_CACHED = [
    "dedup_minhash_lsh",
    "dedup_simhash_neardup",
    "winnow_overlap",
    "incremental_dedup_delta",
]


def test_rewritten_documents_are_not_served_stale(spark, duck, sf_copy):
    """An external rewrite of ``documents.parquet`` at the same path must
    reach every dedup query that caches an intermediate over it. The
    rewrite keeps half the documents and adds exact copies of some of them
    under new ids, so the near-dup pairs change."""
    for name in DEDUP_CACHED:
        assert_matches_oracle(spark, duck, QUERIES[name], ORACLES[name], sf_copy)
    path = os.path.join(sf_copy, "documents.parquet")
    table = pq.read_table(path)
    ids = table["doc_id"]
    kept = table.filter(pc.equal(pc.bit_wise_and(ids, 1), 0))
    copies = kept.slice(0, 20)
    new_ids = pc.add(copies["doc_id"], pc.max(ids).as_py() + 1)
    copies = copies.set_column(copies.schema.get_field_index("doc_id"), "doc_id", new_ids)
    rewritten = pa.concat_tables([kept, copies])
    assert rewritten.num_rows < table.num_rows
    pq.write_table(rewritten, path)
    for name in DEDUP_CACHED:
        assert_matches_oracle(spark, duck, QUERIES[name], ORACLES[name], sf_copy)
