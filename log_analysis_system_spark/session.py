"""SparkSession factory.

The reference hand-tunes Spark 1.6 shuffle/memory knobs per job
(reference: src/main/java/com/soto/spark/session/UserVisitSessionAnalyzeSpark.java:47-60).
On modern Spark almost all of that is subsumed by AQE + Tungsten; the only knobs we
keep are shuffle partition sizing and session timezone (pinned UTC so results are
comparable with a UTC-naive oracle).

Scale notes (100 TB design):
- AQE handles skew-join splitting and post-shuffle coalescing at runtime, replacing
  the reference's manual random-prefix / map-join rewrites (README.md:1365-1507).
- ``spark.sql.shuffle.partitions`` here defaults to local core count; on a real
  cluster set it 2-3x total cores (the reference's own rule, README.md:174) or rely
  on AQE's initialPartitionNum.
- Arrow is enabled for the pandas-UDF extension operators (vectorized transfer).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "log-analysis-system-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    hive_warehouse: str | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession configured for this engine.

    Local parallelism defaults from ``SPARK_GRAFT_CPUS``, else the CPUs this
    process may run on, so the same code path serves pytest (conftest
    defaults to local[8]), scripts and the bench harness.

    ``hive_warehouse``: opt-in Hive-catalog mode (the reference's prod-mode
    table surface, util/SparkUtils.java:38-45): managed tables + a persistent
    Derby metastore rooted at the given directory. Parquet + temp views stay
    the primary catalog — this mode exists for parity with deployments that
    register the DDL of README.md:1584-1620 in a metastore. The catalog
    implementation is fixed at first-session creation per JVM; use a fresh
    process to switch modes.
    """
    n = str(
        cpus
        or os.environ.get("SPARK_GRAFT_CPUS")
        or len(os.sched_getaffinity(0))
    )
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        # AQE: runtime re-planning — skew join splitting, partition coalescing,
        # broadcast-join conversion. Replaces the reference's manual skew playbook.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffle sizing: ~cores locally; a cluster deployment overrides this.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        # Arrow for pandas UDF / mapInPandas extension operators.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # UTC everywhere: parquet timestamps are UTC-naive and the DuckDB oracle
        # compares string-rendered timestamps.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    if hive_warehouse is not None:
        builder = (
            builder.enableHiveSupport()
            .config("spark.sql.warehouse.dir", f"{hive_warehouse}/warehouse")
            .config(
                "javax.jdo.option.ConnectionURL",
                f"jdbc:derby:;databaseName={hive_warehouse}/metastore_db;"
                "create=true",
            )
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
