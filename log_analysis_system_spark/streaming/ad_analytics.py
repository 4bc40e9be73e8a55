"""Realtime ad-click analytics — Structured Streaming re-design of the
reference's DStream job (SURVEY §2.11 ST1-ST6; AdClickRealTimeSpark.java:37-127).

Topology (reference :96-116, preserved):

  kafka/file source → parse → [anti-join blacklist] → per-batch counts →
    cumulative state upsert → blacklist append (feedback) ;
  cumulative state → province top-3 (windowed rank, keyed replace) ;
  parsed stream → 60-min/10-s sliding window counts.

Differences from the reference, by design:
- State lives in the engine (streaming aggregation / parquet state tables),
  not in per-row MySQL probes inside filter() (:313-337) — the reference's
  pattern does one DB round-trip per record, which is exactly what kills a
  1000-executor deployment.
- Watermarks bound state and define late-data semantics explicitly (ST7;
  the DStream version silently miscounts late records).
- Exactly-once sink semantics via foreachBatch: each micro-batch is one
  transaction over the parquet state tables. It freezes its input against
  the blacklist as read before the batch, commits the two count tables
  date partition by date partition with an atomically-committed
  ``_applied_batch`` marker, then the top-3, and the blacklist last. A
  crash-replayed batch id therefore recomputes the same input and skips
  what was already committed, instead of at-least-once upserts. Recovery
  from a commit cut short runs once, at the start of the next batch.

Kafka is the production source (S4); tests drive the same DAG from a file
source — the transformations are source-agnostic DataFrame functions.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.partials import attach_foreach_batch
from ..sinks import overwrite_keyed_parquet

BLACKLIST_THRESHOLD = 2  # reference `> 1` is off-by-one vs its narrative (:330)


def build_kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str = "AdRealTimeLog",
    starting_offsets: str = "latest",
    min_partitions: int | None = None,
) -> DataFrame:
    """S4/ST1: Kafka direct stream (value = 'ts province city userid adid').
    Requires the spark-sql-kafka package on the classpath; raises a clear
    error otherwise (the container has no Kafka jars — tests use files).
    ``min_partitions`` should be >= the topic's partition count so a busy
    Kafka partition can fan out across Spark tasks."""
    try:
        reader = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", brokers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
        )
        if min_partitions is not None:
            reader = reader.option("minPartitions", str(min_partitions))
        raw = reader.load()
    except Exception as exc:  # pragma: no cover - no kafka jars in test env
        raise RuntimeError(
            "Kafka source unavailable (spark-sql-kafka jars not on classpath); "
            "use build_file_stream for local runs"
        ) from exc
    return parse_ad_click_log(raw.selectExpr("CAST(value AS STRING) AS value"))


def build_file_stream(spark: SparkSession, path: str) -> DataFrame:
    """Test/replay source: text files of the same space-delimited records the
    reference's mock producer emits (MockRealTimeData.java:39-41)."""
    return parse_ad_click_log(spark.readStream.format("text").load(path))


def parse_ad_click_log(raw: DataFrame) -> DataFrame:
    """Parse 'timestamp(ms) province city userid adid' into typed columns
    (consumer parse: AdClickRealTimeSpark.java:434-446). Works on both batch
    and streaming DataFrames."""
    p = F.split(F.col("value"), " ")
    return raw.select(
        F.timestamp_millis(p.getItem(0).cast("long")).alias("ts"),
        p.getItem(1).alias("province"),
        p.getItem(2).alias("city"),
        p.getItem(3).cast("long").alias("user_id"),
        p.getItem(4).cast("long").alias("ad_id"),
    ).withColumn("date_key", F.date_format("ts", "yyyy-MM-dd"))


def province_top3(cum_state: DataFrame) -> DataFrame:
    """ST5/W2: province rollup of the cumulative state + top-3 per
    (date, province). Implements the documented intent rank<=3 — the
    reference ships `WHERE rank>=3` (AdClickRealTimeSpark.java:658), recorded
    divergence. One exchange on (date, province) serves both the rollup and
    the window."""
    rolled = (
        cum_state.repartition("date_key", "province")
        .groupBy("date_key", "province", "ad_id")
        .agg(F.sum("click_count").alias("click_count"))
    )
    w = Window.partitionBy("date_key", "province").orderBy(
        F.desc("click_count"), F.asc("ad_id")
    )
    return rolled.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= 3)


def sliding_window_counts(
    parsed: DataFrame,
    window: str = "60 minutes",
    slide: str = "10 seconds",
    watermark: str = "10 minutes",
) -> DataFrame:
    """ST6/A13 + ST7: per-ad sliding-window counts with an explicit lateness
    bound (the reference's reduceByKeyAndWindow has none)."""
    return (
        parsed.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide), "ad_id")
        .agg(F.count(F.lit(1)).alias("click_count"))
        .select(F.col("window.start").alias("window_start"), "ad_id", "click_count")
    )


class AdAnalyticsPipeline:
    """ST3 blacklist feedback loop + ST4/ST5 state, on parquet state tables.

    One ``foreachBatch`` per micro-batch (reference: one DStream graph per
    batch) runs one transaction:

      0. recovery: heal a commit a crashed batch cut short, once, before
         any state is read (``_recover``);
      1. freeze the input: read the blacklist once, anti-join the batch
         against it (J8) and materialize the surviving clicks, ``clean``;
      2. A10/A11/ST4 upserts, the (date,user,ad) counts then the
         (date,province,city,ad) stats: per table, one read of the batch's
         date partitions, one aggregate with the batch's clicks, one
         partitioned write, then each date directory swapped in;
      3. ST5: the province top-3 of the batch's dates, recomputed from their
         committed stats (keyed overwrite);
      4. last, and only when the batch mints an offender: users over the
         threshold on a batch date join the blacklist (the feedback edge,
         seen by step 1 of the NEXT batch — the reference's MySQL round
         trip, :96-99,232-403).

    Scale + exactly-once design: state tables are hive-layout parquet
    directories (``date_key=D/``), the test double for a lakehouse MERGE;
    per-batch work is O(batch dates' partitions), never O(all state). Each
    date directory is committed by a two-rename swap from a staging dir
    beside the table root, with an ``_applied_batch`` marker inside
    (underscore files are invisible to Spark readers). Steps 1-3 use only
    the blacklist as it stood before the batch, so a re-execution of the
    batch id after a crash at any point computes the same ``clean``; dates
    whose marker already reaches it are not merged again, the top-3 is a
    deterministic recompute and the blacklist a set union.
    """

    _USER_SCHEMA = "date_key string, user_id long, ad_id long, click_count long"
    _STAT_SCHEMA = (
        "date_key string, province string, city string, ad_id long, click_count long"
    )

    def __init__(self, state_dir: str):
        self.state_dir = state_dir
        self.user_counts_path = os.path.join(state_dir, "ad_user_click_count")
        self.blacklist_path = os.path.join(state_dir, "ad_blacklist")
        self.stat_path = os.path.join(state_dir, "ad_stat")
        self.top3_path = os.path.join(state_dir, "ad_province_top3")

    # -- state I/O -----------------------------------------------------------
    @staticmethod
    def _applied_batch(part_dir: str) -> int:
        """Batch id committed into ``part_dir`` by the atomic swap, or -1."""
        marker = os.path.join(part_dir, "_applied_batch")
        if os.path.isfile(marker):
            with open(marker) as fh:
                return int(fh.read().strip())
        return -1

    def _recover(self) -> None:
        """Heal a crash inside ``_swap_in``. If a live directory was renamed
        aside but the new one never landed, restore the aside (state =
        pre-batch; its marker makes the replay re-merge). If the new one
        landed and only the aside cleanup was lost, finish the cleanup. A
        ``.tmp-`` staging dir was never committed: remove it. Either way
        exactly one committed directory remains — the committed history and
        its marker can never both vanish."""
        for parent in (self.state_dir, self.user_counts_path, self.stat_path):
            for name in os.listdir(parent) if os.path.isdir(parent) else ():
                path = os.path.join(parent, name)
                if ".tmp-" in name:
                    shutil.rmtree(path, ignore_errors=True)
                elif name.endswith(".prev"):
                    target = path[: -len(".prev")]
                    if os.path.isdir(target):
                        shutil.rmtree(path)
                    else:
                        os.rename(path, target)

    def _swap_in(
        self, df: DataFrame, target: str, batch_id: int, partition_col: str | None = None
    ) -> None:
        """Write ``df`` to a staging dir beside ``target`` and commit it with
        the batch marker inside — with ``partition_col``, each ``<col>=V``
        directory of the write into ``target`` on its own, the others left
        as they are. A commit renames the live directory ASIDE (never
        deleted pre-commit), renames the new one in, and only then removes
        the aside — so a crash at any point leaves the old or the new
        committed state on disk for ``_recover``."""
        tmp = f"{target}.tmp-{uuid.uuid4().hex[:8]}"
        if partition_col is None:
            df.write.parquet(tmp)
            moves = [(tmp, target)]
        else:
            df.write.partitionBy(partition_col).parquet(tmp)
            os.makedirs(target, exist_ok=True)
            moves = [
                (os.path.join(tmp, d), os.path.join(target, d))
                for d in sorted(os.listdir(tmp))
                if d.startswith(f"{partition_col}=")
            ]
        for src, dst in moves:
            with open(os.path.join(src, "_applied_batch"), "w") as fh:
                fh.write(str(batch_id))
            aside = f"{dst}.prev"
            if os.path.isdir(dst):
                os.rename(dst, aside)
            os.rename(src, dst)
            if os.path.isdir(aside):
                shutil.rmtree(aside)
        shutil.rmtree(tmp, ignore_errors=True)

    @staticmethod
    def _read(
        spark: SparkSession, path: str, schema: str, dates: list[str] | None = None
    ) -> DataFrame:
        """The committed rows under ``path``; with ``dates``, only those date
        partitions (no other date directory is listed)."""
        dirs = [path] if dates is None else [f"{path}/date_key={d}" for d in dates]
        dirs = [d for d in dirs if os.path.isdir(d)]
        if not dirs:  # no rows, and no Python worker to produce them
            return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)
        return spark.read.schema(schema).option("basePath", path).parquet(*dirs)

    def blacklist(self, spark: SparkSession) -> DataFrame:
        return self._read(spark, self.blacklist_path, "user_id long")

    def user_counts(self, spark: SparkSession) -> DataFrame:
        return self._read(spark, self.user_counts_path, self._USER_SCHEMA)

    def stats(self, spark: SparkSession) -> DataFrame:
        return self._read(spark, self.stat_path, self._STAT_SCHEMA)

    # -- the per-batch transaction ------------------------------------------
    def _upsert(
        self, clean: DataFrame, root: str, schema: str, dates: list[str], batch_id: int
    ) -> DataFrame:
        """Add the batch's clicks, counted by ``schema``'s key columns, to
        the dates of ``root`` whose marker is below ``batch_id`` (a date at
        or past it was committed by a crashed run of this batch). Returns
        the committed rows of every batch date."""
        spark = clean.sparkSession
        pending = [
            d for d in dates
            if self._applied_batch(f"{root}/date_key={d}") < batch_id
        ]
        if pending:
            old = self._read(spark, root, schema, pending)
            keys = [c for c in old.columns if c != "click_count"]
            clicks = clean.where(F.col("date_key").isin(pending)).select(
                *keys, F.lit(1).alias("click_count")
            )
            merged = (
                old.unionByName(clicks)
                .groupBy(*keys)
                .agg(F.sum("click_count").alias("click_count"))
            )
            self._swap_in(merged, root, batch_id, "date_key")
        return self._read(spark, root, schema, dates)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        self._recover()  # 0)
        # 1) the blacklist as it stood before this batch; ``clean`` is
        #    materialized by the dates collect, before any state is written.
        blacklist = self.blacklist(spark)
        clean = batch_df.join(F.broadcast(blacklist), "user_id", "left_anti").cache()
        try:
            dates = sorted(
                r["date_key"] for r in clean.select("date_key").distinct().collect()
            )
            if not dates:
                return
            # 2) the count tables; 3) the top-3 from the committed stats
            counts = self._upsert(
                clean, self.user_counts_path, self._USER_SCHEMA, dates, batch_id
            )
            stats = self._upsert(clean, self.stat_path, self._STAT_SCHEMA, dates, batch_id)
            overwrite_keyed_parquet(province_top3(stats), self.top3_path, ["date_key"])
            # 4) committed last
            minted = sorted({
                r["user_id"]
                for r in counts.where(F.col("click_count") > BLACKLIST_THRESHOLD)
                .select("user_id")
                .join(F.broadcast(blacklist), "user_id", "left_anti")
                .collect()
            })
            if minted:  # built in the JVM: a list-made frame runs Python workers
                new = spark.range(1).select(
                    F.explode(F.array([F.lit(u).cast("long") for u in minted]))
                    .alias("user_id")
                )
                self._swap_in(
                    blacklist.unionByName(new).coalesce(1), self.blacklist_path, batch_id
                )
        finally:
            clean.unpersist()

    def start(self, parsed_stream: DataFrame, checkpoint: str):
        """Attach the per-batch transaction to a parsed stream."""
        return attach_foreach_batch(parsed_stream, self.process_batch, checkpoint)
