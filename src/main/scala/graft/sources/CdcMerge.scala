package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDC MERGE into the dated lake layout — the Delta/Iceberg `MERGE INTO`
  * shape expressed with the primitives a plain-parquet lake has:
  *
  *   1. the change batch (op = upsert | delete, keyed by event_id,
  *      carrying its partition value like any real CDC feed) determines
  *      the TOUCHED day set — a handful of values, collected driver-side
  *      as the merge's planning step;
  *   2. ONLY those day directories are read back (partition-pruned scan,
  *      attested in CdcMergeSpec via PartitionFilters + the files-opened
  *      metric), deletes are anti-joined out, upserts win over snapshot
  *      rows per key (last-writer-wins priority, not array collection);
  *   3. the touched days are rewritten atomically-per-partition through
  *      dynamic partition overwrite — every untouched day's files are
  *      not even rewritten (mtime identity, same discipline as
  *      [[TimePartitionedStore.backfillDay]]).
  *
  * At 100 TB the whole merge costs O(changed days), not O(table): the
  * snapshot outside the touched days is never opened, and the rewrite
  * shuffles only the touched days' rows. This is exactly the
  * copy-on-write MERGE cost model of the table formats, minus their
  * transaction log (which [[TimePartitionedStore.streamIntoDatedLayout]]
  * covers separately via `_spark_metadata`).
  */
object CdcMerge {

  private val dataCols =
    Seq("event_id", "ts", "user_id", "event_type", "value", "props")

  /** The day partitions a change batch touches (CDC rows carry their
    * partition value; an update that must MOVE a row across days is two
    * CDC rows — delete@old-day + upsert@new-day — as in any
    * partition-keyed CDC feed).
    */
  def touchedDays(changes: DataFrame): Seq[java.sql.Date] =
    changes.select(to_date(col("ts")).as("event_date")).distinct()
      .collect().map(_.getDate(0)).sortBy(_.toString).toSeq

  /** The post-merge content of the touched partitions, as a plan the
    * spec can inspect: snapshot rows from ONLY the touched days
    * (isin on the partition column → directory pruning), minus deleted
    * keys, with batch upserts winning over snapshot rows per event_id.
    */
  def mergedView(spark: SparkSession, storeDir: String, changes: DataFrame,
                 days: Seq[java.sql.Date]): DataFrame = {
    val dayLits: Seq[Column] = days.map(d => lit(d))
    val snapshot = spark.read.parquet(storeDir)
      .filter(col("event_date").isin(dayLits: _*))
      .select(dataCols.map(col) :+ col("event_date"): _*)
      .withColumn("__prio", lit(0))
    val batch = changes
      .withColumn("event_date", to_date(col("ts")))
      .select(dataCols.map(col) ++ Seq(col("event_date"), col("op")): _*)
    val upserts = batch.filter(col("op") === "upsert").drop("op")
      .withColumn("__prio", lit(1))
    val deletes = batch.filter(col("op") === "delete")
      .select(col("event_id").as("__del_id"))
    // event_id is the merge key and MUST be unique within the snapshot
    // (precondition of any PK-keyed CDC merge; cdcMergeSummary asserts
    // its synthetic insert keys can't collide). The extra orderings make
    // the winner deterministic even if an upstream violates that —
    // never a silent data-dependent pick.
    val w = Window.partitionBy(col("event_id"))
      .orderBy(col("__prio").desc, col("ts").desc,
        col("event_date").desc, col("value").desc)
    snapshot.unionByName(upserts)
      .join(deletes, col("event_id") === col("__del_id"), "left_anti")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__prio", "__rn")
  }

  /** Apply the merge: rewrite exactly the touched day directories. */
  def mergeChanges(spark: SparkSession, storeDir: String,
                   changes: DataFrame): Seq[java.sql.Date] =
    mergeChanges(spark, storeDir, changes, touchedDays(changes))

  /** [[mergeChanges]] with the touched-day set already known — callers
    * that derive the batch themselves (e.g. [[cdcMergeSummary]]) fold
    * the day collection into planning work they already do, one fewer
    * driver job per merge.
    */
  def mergeChanges(spark: SparkSession, storeDir: String,
                   changes: DataFrame, days: Seq[java.sql.Date]): Seq[java.sql.Date] = {
    val merged = mergedView(spark, storeDir, changes, days)
      // the view reads the directories this write replaces — materialize
      // the new content before the overwrite starts deleting them
      .localCheckpoint(true)
    // per-WRITE dynamic mode (writer option, not session conf): a
    // session-global toggle would race any concurrent writer in the
    // same session into a silent partial overwrite
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_date")
      .parquet(storeDir)
    // dynamic overwrite only replaces partitions PRESENT in the output:
    // a touched day whose rows were all deleted writes nothing and would
    // silently keep its stale files — drop those directories explicitly
    val survived = merged.select(col("event_date")).distinct()
      .collect().map(_.getDate(0).toString).toSet
    days.filterNot(d => survived(d.toString)).foreach { d =>
      // through the store path's OWN filesystem, not java.nio — the
      // store lives wherever fs.defaultFS says on a real deployment
      FsPaths.deleteRecursively(spark,
        new org.apache.hadoop.fs.Path(storeDir, s"event_date=$d"))
    }
    days
  }

  /** Per-(JVM, dir) MUTABLE copy of the dated layout — the merge's
    * target. Built once (the bench stage builder pays the full copy);
    * repeat probes then [[resetWindow]] only the merge window's day
    * directories back to pristine, O(touched days) — the same cost
    * model as the merge itself. The previous shape re-copied the
    * WHOLE layout on every probe, charging a full-table write to a
    * lane whose entire point is that a CDC merge costs O(changed
    * days), not O(table).
    */
  def ensureMergeScratch(spark: SparkSession, dir: String): String =
    Artifacts.scratch("graft_cdc_merge_", dir) { p =>
      val src = TimePartitionedStore.ensureDatedLayout(spark, dir)
      spark.read.parquet(src).write.mode("overwrite")
        .partitionBy("event_date").parquet(p)
      p
    }

  /** Restore `[from, until]`'s day directories in the scratch store
    * from the pristine layout (ISO dates compare lexicographically, so
    * the partition-dir names bound the window directly). Every change
    * row of [[cdcMergeSummary]]'s batch carries a window day — cloned
    * inserts keep their source ts — so only these directories can
    * differ from pristine after a merge.
    */
  private[graft] def resetWindow(spark: SparkSession, dir: String, store: String,
                          from: String, until: String): Unit = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val src = TimePartitionedStore.ensureDatedLayout(spark, dir)
    val (lo, hi) = (s"event_date=$from", s"event_date=$until")
    // through each path's OWN Hadoop filesystem, not java.nio: the
    // scratch store and the pristine layout live wherever fs.defaultFS
    // points on a real deployment (the same local-FS/defaultFS
    // divergence the stream-matrix sink fix closed)
    def windowDays(root: String): Seq[Path] = {
      val rp = new Path(root)
      val fs = rp.getFileSystem(conf)
      if (!fs.exists(rp)) Seq.empty
      else fs.listStatus(rp).toSeq.map(_.getPath).filter { p =>
        val n = p.getName
        n.startsWith("event_date=") && n >= lo && n <= hi
      }
    }
    windowDays(store).foreach(d => FsPaths.deleteRecursively(spark, d))
    val storeFs = new Path(store).getFileSystem(conf)
    windowDays(src).foreach { d =>
      FileUtil.copy(d.getFileSystem(conf), d, storeFs,
        new Path(store, d.getName), false, conf)
    }
  }

  /** Per-scratch-dir monitor: [[cdcMergeSummary]] mutates the shared
    * scratch (resetWindow → merge → read); two unserialized callers on
    * the same dir would interleave restore and overwrite and corrupt
    * both stores.
    */
  private val mergeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The oracle-gated row: a deterministic CDC batch (derived purely
    * from the events table, so DuckDB can re-derive it) applied to a
    * FRESH copy of the dated layout, then summarized per day over the
    * merged store. Within a 3-day window: event_id % 13 == 0 rows are
    * upserted with value + 1000, % 17 == 0 rows deleted (delete beats a
    * same-key upsert, as in any MERGE), % 19 == 0 rows cloned as inserts
    * under key + 10^7. A green row proves the pruned-read merge path end
    * to end: layout copy → touched-day rewrite → re-read.
    */
  def cdcMergeSummary(spark: SparkSession, dir: String,
                      from: String = "2024-01-08",
                      until: String = "2024-01-10"): DataFrame =
    mergeLocks.computeIfAbsent(dir, _ => new Object).synchronized {
      cdcMergeSummaryLocked(spark, dir, from, until)
    }

  private def cdcMergeSummaryLocked(spark: SparkSession, dir: String,
                                    from: String, until: String): DataFrame = {
    val store = ensureMergeScratch(spark, dir)
    resetWindow(spark, dir, store, from, until)
    val windowed = spark.read.parquet(store)
      .filter(col("event_date") >= lit(from) && col("event_date") <= lit(until))
    val upserts = windowed.filter(col("event_id") % 13 === 0)
      .withColumn("value", col("value") + 1000.0).withColumn("op", lit("upsert"))
    val deletes = windowed.filter(col("event_id") % 17 === 0)
      .withColumn("op", lit("delete"))
    // ONE planning pass over the window computes both driver-side
    // inputs: the key-range guard and the touched-day set (every
    // change row keeps its source day, so the touched days are the
    // days of rows matching any change predicate) — previously two
    // separate jobs against the same scan.
    //
    // The cloned-insert offset must clear the real key range or a
    // clone collides with a live event_id and the merge silently drops
    // one; fail loudly at the SF where ids outgrow the offset (the
    // oracle SQL hard-codes the same +10^7, so it must stay a
    // literal). max() over an empty window is NULL — nothing to clone
    // then, so nothing to guard.
    val isChange = col("event_id") % 13 === 0 ||
      col("event_id") % 17 === 0 || col("event_id") % 19 === 0
    val metaRow = windowed.agg(
      max(col("event_id")).as("max_id"),
      sort_array(collect_set(when(isChange, to_date(col("ts"))))).as("days")).head
    if (!metaRow.isNullAt(0))
      require(metaRow.getLong(0) < 10000000L,
        s"cdcMergeSummary insert-key offset 10^7 collides: max event_id=${metaRow.getLong(0)}")
    val days = metaRow.getSeq[java.sql.Date](1)
    val inserts = windowed.filter(col("event_id") % 19 === 0)
      .withColumn("event_id", col("event_id") + 10000000L)
      .withColumn("op", lit("upsert"))
    val changes = upserts.unionByName(deletes).unionByName(inserts)
      .select((Seq("op") ++ dataCols).map(col): _*)
    mergeChanges(spark, store, changes, days)
    spark.read.parquet(store)
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n_events"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("bigint"))
          .as("value_cents"))
      .orderBy(col("event_date"))
      // materialize the per-day summary (≤ days rows) while we still
      // hold the lock — a lazily-escaping plan would re-read the store
      // after a later caller has mutated it
      .localCheckpoint(true)
  }
}
