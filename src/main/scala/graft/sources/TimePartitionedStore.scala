package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Time-partitioned lake layout — the third pruning axis the engine
  * attests, next to key-bucket pruning (DedupLogStore) and IVF list-dir
  * pruning (Similarity): events land `partitionBy(event_date)`, so a
  * date-range query reads ONLY the matching day directories. At 100 TB
  * this is the difference between scanning a year and scanning a week —
  * the scan's `PartitionFilters` (asserted in TimePartitionedStoreSpec,
  * with the post-execution `numFiles` metric) prove the bytes were never
  * opened, not merely filtered after decode.
  *
  * The registered row is a full round trip: events → dated layout →
  * pruned re-read → per-type daily stats over a one-week window. The
  * oracle recomputes from the raw events table with the equivalent ts
  * bounds, so a green row proves the layout preserved the data AND the
  * date derivation/pruning predicate agree byte-exactly. Money follows
  * the int64-cents convention (FIXTURES.md §3): doubles are snapped to
  * DECIMAL(18,2) per row before the order-independent integer sum.
  */
object TimePartitionedStore {

  /** One dated-layout materialization per (JVM, source dir). */
  def ensureDatedLayout(spark: SparkSession, dir: String): String =
    Artifacts.scratch("graft_dated_events_", dir) { p =>
      Tables.events(spark, dir)
        .withColumn("event_date", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("event_date").parquet(p)
      p
    }

  /** Incrementally-maintained daily rollup — materialized-view
    * maintenance in miniature: per-(day, type) partial aggregates
    * (count + exact cent sum) persisted one directory per day, with the
    * newest day APPENDED after the base build (no prior-day file is
    * touched), and merged on read. At 100 TB this is the pre-aggregation
    * structure that turns a full-corpus dashboard query into a scan of
    * day×type partial rows: partials are algebraic (SUM/COUNT), so
    * maintenance cost is one day's data per day, not a recompute.
    */
  def ensureDailyRollup(spark: SparkSession, dir: String): String =
    Artifacts.scratch("graft_rollup_", dir) { p =>
      val agg = Tables.events(spark, dir)
        .withColumn("event_date", to_date(col("ts")))
        .groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum((col("value").cast("decimal(18,2)") * 100).cast("bigint"))
            .as("value_cents"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // base days first, then the max day appended — the daily-ingest
      // lifecycle, so the append path is what the row actually gates
      val maxDay = agg.agg(max(col("event_date"))).head.getDate(0)
      agg.filter(col("event_date") < lit(maxDay))
        .write.mode("overwrite").partitionBy("event_date").parquet(p)
      agg.filter(col("event_date") === lit(maxDay))
        .write.mode("append").partitionBy("event_date").parquet(p)
      agg.unpersist()
      p
    }

  /** The oracle-gated row: corpus totals merged from the rollup's
    * partial aggregates — must equal a direct aggregation of the raw
    * events (the oracle computes exactly that).
    */
  def rollupTotals(spark: SparkSession, dir: String): DataFrame =
    totalsOf(spark, ensureDailyRollup(spark, dir))

  /** Merge-on-read over any rollup directory's partial rows. */
  def totalsOf(spark: SparkSession, rollupDir: String): DataFrame =
    spark.read.parquet(rollupDir)
      .groupBy(col("event_type"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("value_cents")).as("value_cents"))
      .orderBy(col("event_type"))

  /** The STREAMING half of rollup maintenance: append one set of
    * partial-aggregate rows per micro-batch (`foreachBatch` caller).
    * Partials are algebraic (SUM/COUNT), so merge-on-read equals the
    * one-shot aggregation no matter how arrivals were batched — the
    * incremental-view-maintenance property StreamingRollupSpec pins.
    */
  def appendRollupPartials(rollupDir: String, batch: DataFrame): Unit =
    batch.withColumn("event_date", to_date(col("ts")))
      .groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("bigint"))
          .as("value_cents"))
      .write.mode("append").partitionBy("event_date").parquet(rollupDir)

  /** Pruned re-read: only the window's day directories are listed. */
  def readWindow(spark: SparkSession, storeDir: String,
                 from: String, until: String): DataFrame =
    spark.read.parquet(storeDir)
      .filter(col("event_date") >= lit(from) && col("event_date") < lit(until))

  /** The oracle-gated row: per-(day, type) counts and exact cent sums
    * over one week, read through the pruned dated layout.
    */
  def prunedDailyStats(spark: SparkSession, dir: String,
                       from: String = "2024-01-08",
                       until: String = "2024-01-15"): DataFrame =
    readWindow(spark, ensureDatedLayout(spark, dir), from, until)
      .groupBy(col("event_date"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("bigint"))
          .as("value_cents"))
      .orderBy(col("event_date"), col("event_type"))

  /** Small-file COMPACTION — the lake-maintenance job every streaming or
    * micro-batch ingest eventually needs: each day partition is
    * rewritten as one file (`repartition(1)` per partition via the
    * partition column), because a 100 TB table fed by N-writer
    * micro-batches otherwise accumulates files whose per-file overhead
    * (open, footer, scheduling) dominates the scan. Data is unchanged —
    * TimePartitionedStoreSpec pins exact row equality and the file-count
    * drop.
    */
  def compactDatedLayout(spark: SparkSession, storeDir: String,
                         outDir: String, filesPerDay: Int = 1): Unit =
    spark.read.parquet(storeDir)
      // the within-day salt honors filesPerDay (and parallelizes a hot
      // day across that many tasks); at the default 1 the salt is
      // constant and each day compacts to a single file
      .repartition(col("event_date"),
        pmod(col("event_id"), lit(filesPerDay.toLong)))
      .sortWithinPartitions(col("event_date"), col("ts"))
      .write.mode("overwrite").partitionBy("event_date")
      .parquet(outDir)

  /** Idempotent single-day BACKFILL: re-ingesting one day must replace
    * exactly that day's directory and touch nothing else — Spark's
    * STATIC partition-overwrite default would instead drop EVERY
    * partition of the table on overwrite (the classic
    * lost-a-year-of-data lake incident), so the writer pins dynamic
    * mode for just this write. The spec proves both halves: the target
    * day's rows are replaced, and every other day's files are not even
    * rewritten (file modification identity, not just row equality).
    */
  def backfillDay(spark: SparkSession, storeDir: String, day: String,
                  rows: DataFrame): Unit =
    rows
      .withColumn("event_date", to_date(col("ts")))
      .filter(col("event_date") === lit(day))
      .write.mode("overwrite")
      // per-WRITE dynamic mode (writer option, not session conf): a
      // session-global toggle would race concurrent writers in the
      // same session into silent partial overwrites
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_date").parquet(storeDir)

  /** Streaming ingest into the SAME dated layout: `writeStream` with a
    * file sink commits each micro-batch's files through the
    * `_spark_metadata` transaction log, so a crashed/retried batch never
    * double-counts — exactly-once at the file level, the property a
    * continuously-fed lake table stands on. The spec replays events as a
    * file stream and pins byte-equality of the result with the batch
    * layout.
    */
  def streamIntoDatedLayout(spark: SparkSession, eventsStream: DataFrame,
                            outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    eventsStream
      .withColumn("event_date", to_date(col("ts")))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("event_date")
      .outputMode("append")
      .start()

  /** Retention VACUUM — the third lake-maintenance job beside
    * compaction and backfill: day partitions strictly older than
    * `keepFrom` are deleted at the DIRECTORY level (a metadata
    * operation — no file is ever read or rewritten, which is the whole
    * point: at 100 TB a retention pass that scans data is a bug).
    * Returns the dropped day names; kept days' files are untouched
    * (mtime identity pinned in TimePartitionedStoreSpec).
    */
  def vacuumBefore(storeDir: String, keepFrom: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(storeDir)
    val dropped = java.nio.file.Files.list(root).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("event_date="))
      .filter(p => p.getFileName.toString.stripPrefix("event_date=") < keepFrom)
      .toSeq
    dropped.foreach { d =>
      java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    dropped.map(_.getFileName.toString.stripPrefix("event_date=")).sorted
  }

  /** The oracle-gated vacuum row: fresh layout copy → vacuum everything
    * before `keepFrom` → per-day stats over what REMAINS. The oracle
    * recomputes from raw events with the same retention bound, so a
    * green row proves the directory-level delete removed exactly the
    * pre-retention days and nothing else.
    */
  def vacuumedDailyStats(spark: SparkSession, dir: String,
                         keepFrom: String = "2024-01-15"): DataFrame = {
    val src = ensureDatedLayout(spark, dir)
    val p = Scratch.tempDir("graft_vacuum_row_")
    spark.read.parquet(src).write.mode("overwrite")
      .partitionBy("event_date").parquet(p)
    vacuumBefore(p, keepFrom)
    spark.read.parquet(p)
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n_events"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("bigint"))
          .as("value_cents"))
      .orderBy(col("event_date"))
  }

  /** Events SORTED at rest by `sortCol`: parquet keeps min/max stats
    * per row group, so a point/range predicate on the sort column
    * decodes only the row groups whose stat range matches — within-file
    * skipping, one level below directory pruning. The write IS the
    * "sort your data at rest" ingest discipline; the spec compares the
    * same predicate against a layout sorted by an unrelated column to
    * isolate what the sorting buys.
    */
  def writeSortedLayout(spark: SparkSession, dir: String, outDir: String,
                        sortCol: String, blockBytes: Long = 64 * 1024): Unit =
    Tables.events(spark, dir)
      .repartition(1)
      .sortWithinPartitions(col(sortCol))
      .write.mode("overwrite")
      // small row groups so the test-scale file has MANY groups to skip;
      // production uses the 128 MB default — the layout property is the
      // same, only the granularity differs
      .option("parquet.block.size", blockBytes.toString)
      .parquet(outDir)
}
