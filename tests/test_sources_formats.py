"""Multi-format source parity: ORC / JSON-lines / CSV round-trips must
reproduce the parquet rows bit-for-bit for the catalog's flat schemas —
the engine serves whichever interchange format an upstream emits."""

from __future__ import annotations

import pytest

from log_analysis_system_spark.sources.catalog import (
    read_events,
    read_format,
    write_table,
)
from tests.conftest import SF_DIR


def _canon(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


@pytest.mark.parametrize("fmt", ["orc", "json", "csv"])
def test_roundtrip_matches_parquet(spark, tmp_path, fmt):
    src = read_events(spark, SF_DIR)
    path = str(tmp_path / f"events_{fmt}")
    write_table(src, path, fmt)
    back = read_format(spark, path, fmt, schema=src.schema)
    assert back.schema == src.schema
    assert _canon(back) == _canon(src)


def test_unknown_format_rejected(spark):
    with pytest.raises(ValueError):
        read_format(spark, "/nowhere", "avro")


def test_schema_evolution_merge(spark, tmp_path):
    """Parquet schema evolution: an upstream adds a column mid-stream; a
    mergeSchema read unifies old and new footers, back-filling NULL for
    rows written before the column existed — the no-rewrite way a 100 TB
    table grows columns."""
    from pyspark.sql import Row

    base = str(tmp_path / "evolving")
    spark.createDataFrame(
        [Row(id=1, v=10), Row(id=2, v=20)]
    ).write.parquet(f"{base}/load=1")
    spark.createDataFrame(
        [Row(id=3, v=30, source="s3")]
    ).write.parquet(f"{base}/load=2")

    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(merged.columns) == {"id", "v", "source", "load"}
    rows = {r.id: (r.v, r.source) for r in merged.collect()}
    assert rows == {1: (10, None), 2: (20, None), 3: (30, "s3")}
