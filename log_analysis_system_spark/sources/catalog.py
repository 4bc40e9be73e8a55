"""Batch sources (SURVEY §2.1 S1-S7, S13).

The reference reads Hive-default ``\\x01``-delimited text registered as temp tables
(reference: src/main/java/com/soto/test/MockData.java:89-108) and a MySQL dimension
via the Spark JDBC source (AreaTop3ProductSpark.java:205-206). Here the primary
format is parquet (columnar scan, predicate pushdown, column pruning — all free
from Catalyst once the plan is declarative); ``\\x01`` text and JDBC are kept as
secondary connectors for format parity.

Scale notes: `spark.read.parquet` on a 100 TB table prunes partitions and row
groups from the WHERE clause — S1's hand-interpolated
``WHERE date>=:start AND date<=:end`` (SparkUtils.java:73-77) becomes a plain
``.where`` that Catalyst pushes into the scan.
"""

from __future__ import annotations

import itertools
import os
import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

#: Driver-provided test tables (TESTDATA.md) — one parquet file each.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load ``events`` with its nanosecond timestamp normalized to Spark's
    microsecond TimestampType.

    The driver parquet stores ``ts`` as TIMESTAMP(NANOS), which Spark rejects
    by default (PARQUET_TYPE_ILLEGAL); ``nanosAsLong`` reads it as raw nanos,
    and integer-division to micros truncates exactly like DuckDB's ns→us cast,
    so both engines see identical timestamps."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Naive (isAdjustedToUTC=false) parquet timestamps read as TIMESTAMP_NTZ;
    # epoch arithmetic on them casts through timestamp_ltz (functions/scalar
    # .epoch_us), which is only deterministic under a pinned session timezone.
    # UTC matches DuckDB's naive-timestamp epoch semantics exactly.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = read_table(spark, sf_dir, "events")
    if isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # NOT widen_scan'd: measured A/B at sf0.1 (round 7) shows the extra
    # round-robin shuffle is a wash for the events family (±10%; the
    # per-event derivation is cheap) and costs 20%+ where a consumer
    # repartitions again anyway (stratified_sample). widen_scan pays off
    # only above CPU-heavy per-row derivation — the shingle/minhash
    # pipelines, where it measures ~2x.
    return df


def snapshot(path: str) -> tuple:
    """(path, size, mtime_ns) of a file, or of every data file under a
    directory (names starting with '.' or '_' are skipped, as Spark's file
    listing skips them). A rewrite of the input changes the snapshot."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return ((path, st.st_size, st.st_mtime_ns),)
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
        for name in sorted(files):
            if not name.startswith((".", "_")):
                st = os.stat(os.path.join(root, name))
                out.append((os.path.join(root, name), st.st_size, st.st_mtime_ns))
    return tuple(out)


_slots: dict[tuple, tuple[tuple, DataFrame, int]] = {}
_builds = itertools.count()
#: Guards the per-snapshot slots, the schema map and the planner sessions;
#: reentrant, so a build under it may read its own bases.
slots_lock = threading.RLock()
_planners: dict[SparkSession, SparkSession] = {}

#: Session confs that change the schema parquet inference gives a file.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
_schemas: dict[str, tuple[tuple, StructType]] = {}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``spark.read.parquet`` of the table ``name`` under ``sf_dir``, with
    its schema inferred once per input snapshot.

    Inference reads a parquet footer; on a small query that costs more than
    the scan. The schema is kept per path, keyed by the file's snapshot and
    the confs that change inference, so a rewrite or a flipped
    ``nanosAsLong`` infers again. Every call builds a new relation: a shared
    DataFrame would share attribute ids and break self-joins. A path that is
    not a local file or directory is read as is."""
    path = f"{sf_dir}/{name}.parquet"
    if not os.path.exists(path):
        return spark.read.parquet(path)
    key = (snapshot(path), *(spark.conf.get(c, None) for c in _SCHEMA_CONFS))
    with slots_lock:
        entry = _schemas.get(path)
        if entry is None or entry[0] != key:
            entry = (key, spark.read.parquet(path).schema)
            _schemas[path] = entry
    return spark.read.schema(entry[1]).parquet(path)


def per_snapshot(
    spark: SparkSession, name: str, path: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """The DataFrame ``build()`` gave for this session, ``name`` and the
    current snapshot of ``path``; ``build`` should return it ``.cache()``d.

    One entry per (session, name). It is rebuilt when ``path`` changes on
    disk, or when its data left the cache (``spark.catalog.clearCache()``).
    The old entry is unpersisted first: Spark's cache matches plans, not
    file contents, so a cached plan over the same path would otherwise keep
    serving the old rows. The RLock serializes builds across threads (one
    build per snapshot) and lets a build call ``per_snapshot`` for its own
    base."""
    key = (spark, name)
    with slots_lock:
        snap = snapshot(path)
        entry = _slots.get(key)
        if entry is not None:
            if entry[0] == snap and _is_cached(entry[1]):
                return entry[1]
            entry[1].unpersist()
        df = build()
        _slots[key] = (snap, df, next(_builds))
        return df


def live_bases(spark: SparkSession) -> tuple[int, ...]:
    """Build numbers of ``spark``'s ``per_snapshot`` entries whose data is
    still cached. The tuple changes when an entry is rebuilt or leaves the
    cache, so a plan over those entries can be keyed on it."""
    with slots_lock:
        return tuple(
            sorted(n for (s, _), (_, df, n) in _slots.items() if s is spark and _is_cached(df))
        )


def _is_cached(df: DataFrame) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def cache_partitioned(
    spark: SparkSession, frame: Callable[[SparkSession], DataFrame]
) -> DataFrame:
    """``frame(spark)``, resolved to a cache entry whose plan reports its
    output partitioning before it is materialized.

    Under AQE a cached plan reports unknown partitioning until its first
    run, so every keyed operator planned over it adds an exchange that AQE
    only drops at run time (and that tests/test_plan_budget.py counts).
    The entry is therefore planned in a sibling session with AQE off; the
    cache is shared between sessions and matches plans, so ``frame(spark)``
    scans the same entry, and its operators keep adaptive execution."""
    with slots_lock:
        planner = _planners.get(spark)
        if planner is None:
            planner = spark.newSession()
            planner.conf.set("spark.sql.adaptive.enabled", "false")
            _planners[spark] = planner
    frame(planner).cache()
    return frame(spark)


def widen_scan(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Rebalance a NARROW scan before CPU-heavy derivation (shingling,
    embedding quantization, per-doc hashing): when the leaf scan yields
    fewer partitions than the cluster has cores, every downstream map-side
    expression runs on that handful of cores no matter how wide the
    cluster is — a single-row-group parquet file (the driver testdata
    shape) pins the whole shingle/minhash/quantize pipeline to ONE thread.

    The repartition is GUARDED: at 100 TB a table scan already has
    orders-of-magnitude more splits than cores, so this is a no-op there
    (no shuffle added); it only fires when scan parallelism < cores, where
    the one small shuffle of raw rows buys cores-way parallelism for all
    derivation above it. This mirrors what AQE does for post-shuffle
    stages but which nothing does for the scan→first-shuffle segment."""
    if df.isStreaming:  # partitioning is the source's business there
        return df
    sc = df.sparkSession.sparkContext
    target = min_parallelism or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every driver test table from ``sf_dir`` as a DataFrame."""
    return {
        name: read_events(spark, sf_dir) if name == "events" else read_table(spark, sf_dir, name)
        for name in TABLES
    }


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load and register each table as a temp view (SQL surface, S7 analog)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def read_x01_text(
    spark: SparkSession,
    path: str,
    schema: StructType,
    null_value: str | None = None,
) -> DataFrame:
    """Hive-default ``\\x01``-separated text scan (S13; reference sales.txt /
    user_visit_action.txt fixtures). Explicit schema — no inference in prod
    paths. ``null_value`` maps a literal token (the reference's mock data
    writes the string ``"null"``, MockData.java:63-75) to SQL NULL."""
    reader = spark.read
    if null_value is not None:
        reader = reader.option("nullValue", null_value)
    return reader.csv(path, sep="\x01", schema=schema, header=False)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    user: str | None = None,
    password: str | None = None,
    driver: str | None = None,
    partition_column: str | None = None,
    num_partitions: int = 1,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
) -> DataFrame:
    """JDBC source (S3; reference AreaTop3ProductSpark.java:180-228).

    For anything bigger than a dimension table, pass ``partition_column`` +
    bounds so the read parallelizes instead of funneling through one connection.
    ``driver`` pins the JDBC driver class when the URL scheme alone cannot
    resolve it (e.g. Derby embedded, which ships on Spark's own classpath).
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
    )
    if user is not None:
        reader = reader.option("user", user)
    if password is not None:
        reader = reader.option("password", password)
    if driver is not None:
        reader = reader.option("driver", driver)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    return reader.load()


_FORMATS = ("parquet", "orc", "json", "csv")


def write_table(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """Write a table in any interchange format the engine serves
    (S1/S13 generalized): columnar parquet/ORC for analytics, JSON-lines /
    CSV for interchange with line-oriented tooling. CSV keeps headers and
    explicit timestamp formatting so a round-trip is lossless for the flat
    schemas the catalog carries."""
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {_FORMATS}")
    w = df.write.mode("overwrite").format(fmt)
    if fmt in ("json", "csv"):
        # Text formats default to millisecond timestamp rendering; micros
        # keep the round-trip lossless vs the parquet TIMESTAMP(NTZ).
        w = w.option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    if fmt == "csv":
        w = w.option("header", "true")
    w.save(path)


def read_format(
    spark: SparkSession, path: str, fmt: str = "parquet", schema: StructType | None = None
) -> DataFrame:
    """Read a table written by ``write_table``. Schemaless columnar formats
    (parquet/ORC) self-describe; JSON/CSV take the explicit schema — no
    inference in production paths (inference is a full extra pass at
    100 TB and can mistype empty partitions)."""
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {_FORMATS}")
    reader = spark.read.format(fmt)
    if fmt in ("json", "csv"):
        if schema is None:
            raise ValueError(f"{fmt} reads require an explicit schema")
        reader = reader.schema(schema).option(
            "timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
        )
    if fmt == "csv":
        reader = reader.option("header", "true")
    return reader.load(path)
