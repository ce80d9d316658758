package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-VERSION table on plain parquet — the transaction-log kernel of
  * the lakehouse formats (Delta/Iceberg), reduced to its two load-bearing
  * ideas and nothing else:
  *
  *   1. **Immutable data + a manifest log.** Data lives in
  *      `data/v<n>/__bucket=<k>/` directories written once and never
  *      mutated; a version IS a manifest (`_log/v<n>.manifest`) mapping
  *      each key-bucket to the data version that last rewrote it. Commit
  *      = write new bucket dirs + publish the next manifest. The manifest
  *      file is the commit: it is staged to a temp name and RENAMED into
  *      place (atomic on HDFS; the rename also fails there if a
  *      concurrent writer claimed the version first — Delta's optimistic
  *      concurrency, which this store checks explicitly before renaming).
  *      A reader never consults anything but the manifest list, so a
  *      crashed half-written commit (data dirs without a manifest) is
  *      invisible garbage, not corruption.
  *   2. **Copy-on-write at key-bucket granularity.** Rows hash into a
  *      fixed set of buckets (`pmod(key, buckets)`); a change batch
  *      rewrites ONLY its touched buckets' content — every other bucket's
  *      files are carried by reference into the new manifest (mtime
  *      identity pinned in SnapshotStoreSpec). At 100 TB a commit costs
  *      O(touched buckets), not O(table), the table formats' COW cost
  *      model; `buckets` would be thousands there, and the bucket id a
  *      proper hash — `pmod` keeps the spec's expected sets derivable.
  *
  * TIME TRAVEL falls out: `readAt(v)` resolves manifest v and reads each
  * referenced data version pruned to the buckets that manifest assigns it
  * (one partition-pruned scan per distinct data version — bounded by the
  * version count, not the bucket count). `vacuum` deletes bucket dirs no
  * KEPT manifest references — pure metadata planning, no data file is
  * ever read; a vacuumed version's `readAt` then fails loudly at resolve
  * time rather than returning partial rows.
  *
  * All path operations go through the path's own Hadoop `FileSystem`
  * (never `java.nio`), so the same code serves `file:`, `hdfs:` and
  * `s3a:` stores — the r8 marker-portability lesson applied from the
  * start.
  */
object SnapshotStore {

  final val Buckets = 8

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(dir: String) = new Path(dir, "_log")
  private def manifestPath(dir: String, v: Int) =
    new Path(logDir(dir), f"v$v%06d.manifest")
  private def dataDir(dir: String, v: Int) = new Path(dir, s"data/v$v")

  /** Largest committed version, or -1 on an empty store. The manifest
    * LIST is the source of truth — there is no mutable pointer file to
    * torn-write or lag.
    */
  def latestVersion(spark: SparkSession, dir: String): Int = {
    val h = fs(spark, new Path(dir))
    val ld = logDir(dir)
    if (!h.exists(ld)) -1
    else h.listStatus(ld).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toInt }
      .foldLeft(-1)(math.max)
  }

  private def manifestText(spark: SparkSession, dir: String, v: Int): String = {
    val p = manifestPath(dir, v)
    val h = fs(spark, p)
    require(h.exists(p), s"snapshot version $v does not exist (or was vacuumed) at $dir")
    val in = h.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
      out.toString("UTF-8")
    } finally in.close()
  }

  /** bucket → data version holding that bucket's live file, at `v`.
    * `#`-prefixed header lines (commit metadata, e.g. the streaming
    * transaction id) are not entries.
    */
  private def manifest(spark: SparkSession, dir: String, v: Int): Map[Int, Int] =
    manifestText(spark, dir, v).split('\n')
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(b, dv) = l.split('\t'); b.toInt -> dv.toInt
      }.toMap

  /** The `#txn` metadata of version `v`, if its commit carried one. */
  def committedTxn(spark: SparkSession, dir: String, v: Int): Option[String] =
    manifestText(spark, dir, v).split('\n')
      .find(_.startsWith("#txn\t")).map(_.stripPrefix("#txn\t"))

  private def writeManifest(spark: SparkSession, dir: String, v: Int,
                            entries: Map[Int, Int], txn: Option[String] = None): Unit = {
    val target = manifestPath(dir, v)
    val h = fs(spark, target)
    h.mkdirs(logDir(dir))
    // optimistic concurrency: the version file must not exist; the
    // staged rename is the atomic claim on HDFS (dest-exists ⇒ fail)
    if (h.exists(target))
      throw new java.util.ConcurrentModificationException(
        s"version $v already committed at $dir")
    val tmp = new Path(logDir(dir), s".tmp_v$v-${java.util.UUID.randomUUID()}")
    val out = h.create(tmp, false)
    val body = txn.map(t => s"#txn\t$t\n").getOrElse("") +
      entries.toSeq.sorted.map { case (b, dv) => s"$b\t$dv" }.mkString("\n")
    try out.write(body.getBytes("UTF-8"))
    finally out.close()
    if (!h.rename(tmp, target)) {
      h.delete(tmp, false)
      throw new java.util.ConcurrentModificationException(
        s"lost the commit race for version $v at $dir")
    }
  }

  /** Initialize the store: all buckets written as data version 0,
    * manifest v0 published. `df` must carry an int64 `keyCol`.
    */
  def create(spark: SparkSession, dir: String, df: DataFrame, keyCol: String): Unit = {
    require(latestVersion(spark, dir) < 0, s"store already exists at $dir")
    df.withColumn("__bucket", pmod(col(keyCol), lit(Buckets.toLong)).cast("int"))
      .write.partitionBy("__bucket").parquet(dataDir(dir, 0).toString)
    writeManifest(spark, dir, 0, (0 until Buckets).map(_ -> 0).toMap)
  }

  /** Commit a change batch against `expectedVersion` (optimistic
    * concurrency: fails if another writer got there first). `changes`
    * carries the data columns plus `op` ∈ {upsert, delete}. Only the
    * buckets the batch touches are rewritten; the rest of the table is
    * carried by reference.
    */
  def commit(spark: SparkSession, dir: String, changes: DataFrame, keyCol: String,
             expectedVersion: Int, txn: Option[String] = None): Int = {
    val latest = latestVersion(spark, dir)
    if (latest != expectedVersion)
      throw new java.util.ConcurrentModificationException(
        s"expected version $expectedVersion but store is at $latest")
    val next = latest + 1
    val cur = manifest(spark, dir, latest)
    val withBucket = changes
      .withColumn("__bucket", pmod(col(keyCol), lit(Buckets.toLong)).cast("int"))
    val touched = withBucket.select(col("__bucket")).distinct()
      .collect().map(_.getInt(0)).sorted // ≤ Buckets values — planning metadata
    if (touched.nonEmpty) {
      // ascending __prio: 0 = batch upsert (wins), 1 = snapshot row.
      // allowMissingColumns is the SCHEMA EVOLUTION seam: a change
      // batch carrying a column the store has never seen widens the
      // touched buckets (old rows null-backfilled); untouched buckets
      // keep their schema and widen lazily at read time.
      val old = readBuckets(spark, dir, cur.view.filterKeys(touched.contains).toMap)
        .withColumn("__prio", lit(1))
      val upserts = withBucket.filter(col("op") === "upsert").drop("op")
        .withColumn("__prio", lit(0))
      val deletes = withBucket.filter(col("op") === "delete")
        .select(col(keyCol).as("__delkey")).distinct()
      val merged = old.unionByName(upserts, allowMissingColumns = true)
        .join(deletes, col(keyCol) === col("__delkey"), "left_anti")
      val winner = graft.operators.Dedup.firstWins(
        merged, Seq(keyCol), Seq("__prio")).drop("__prio")
      winner.write.partitionBy("__bucket").parquet(dataDir(dir, next).toString)
    }
    writeManifest(spark, dir, next,
      cur ++ touched.map(_ -> next), txn)
    next
  }

  /** Idempotent commit for streaming ingestion (the `foreachBatch`
    * exactly-once pattern): the transaction id — the micro-batch's
    * epoch id — is recorded in the manifest it commits; a re-delivered
    * batch whose txn is already committed is a NO-OP returning the
    * existing latest version, so checkpoint-recovery replays never
    * double-apply. The txn scan reads manifests only (metadata-sized).
    */
  def commitIfNew(spark: SparkSession, dir: String, changes: DataFrame,
                  keyCol: String, txn: String): Int = {
    val latest = latestVersion(spark, dir)
    val h = fs(spark, new Path(dir))
    val seen = (0 to latest).exists(v =>
      h.exists(manifestPath(dir, v)) && committedTxn(spark, dir, v).contains(txn))
    if (seen) latest
    else commit(spark, dir, changes, keyCol, latest, Some(txn))
  }

  /** The rows of `entries` (bucket → data version): one scan per
    * distinct data version, each listing ONLY its assigned bucket
    * directories (structural pruning — unreferenced dirs aren't even in
    * the relation's file index, vs a partition filter that prunes at
    * planning but still lists everything). A manifest-referenced bucket
    * dir may legitimately not exist: `partitionBy` writes no directory
    * for a bucket whose rows were all deleted.
    */
  private def readBuckets(spark: SparkSession, dir: String,
                          entries: Map[Int, Int]): DataFrame =
    {
      // sorted by data version for a deterministic unified schema;
      // allowMissingColumns null-backfills buckets written before a
      // schema-evolving commit
      val frames = entries.toSeq.groupBy(_._2).toSeq.sortBy(_._1)
        .flatMap { case (dv, bs) =>
          val root = dataDir(dir, dv)
          val h = fs(spark, root)
          val dirs = bs.map { case (b, _) => new Path(root, s"__bucket=$b") }
            .filter(h.exists(_)).map(_.toString)
          if (dirs.isEmpty) None
          else Some(spark.read.option("basePath", root.toString).parquet(dirs: _*))
        }
      require(frames.nonEmpty, s"no live data files under $dir for $entries")
      frames.reduce(_.unionByName(_, allowMissingColumns = true))
    }

  /** Time travel: the full content of version `v`. */
  def readAt(spark: SparkSession, dir: String, v: Int): DataFrame =
    readBuckets(spark, dir, manifest(spark, dir, v)).drop("__bucket")

  /** Keyed point lookup at version `v`: the key's bucket is resolved
    * from the manifest and ONLY that bucket's directory is opened — an
    * O(1/Buckets) read no matter how large the table, the
    * metadata-pruned point-read path of the table formats.
    */
  def readKeyAt(spark: SparkSession, dir: String, v: Int,
                keyCol: String, key: Long): DataFrame = {
    val b = java.lang.Math.floorMod(key, Buckets.toLong).toInt
    val m = manifest(spark, dir, v)
    readBuckets(spark, dir, Map(b -> m(b)))
      .filter(col(keyCol) === key).drop("__bucket")
  }

  /** CHANGE DATA FEED between two versions (Delta's `table_changes`
    * read): per key, whether it was inserted, updated (value differs),
    * or deleted going `fromV` → `toV`. The manifest diff plans the
    * read: buckets whose data-version pointer did not move CANNOT
    * contain changes and are never opened — the scan cost is
    * O(changed buckets), not O(table), at any table size. Emits
    * (change, key, …old/new columns) rows; unchanged keys in changed
    * buckets are joined out.
    */
  def readChangesBetween(spark: SparkSession, dir: String, fromV: Int, toV: Int,
                         keyCol: String): DataFrame = {
    require(fromV < toV, s"fromV $fromV must precede toV $toV")
    val a = manifest(spark, dir, fromV)
    val b = manifest(spark, dir, toV)
    val moved = a.keySet.filter(k => a(k) != b(k))
    if (moved.isEmpty) {
      // no bucket moved ⇒ no changes; an empty frame with the change schema
      val base = readBuckets(spark, dir, a).drop("__bucket")
      return base.withColumn("change", lit("")).where(lit(false))
        .select(col("change") +: base.columns.map(col): _*)
    }
    val old = readBuckets(spark, dir, a.view.filterKeys(moved.contains).toMap)
      .drop("__bucket")
    val neu = readBuckets(spark, dir, b.view.filterKeys(moved.contains).toMap)
      .drop("__bucket")
    // union of both sides' columns: a schema-evolving commit means the
    // new side can carry columns the old side never had (old side reads
    // as null for them — exactly the evolved-read semantics)
    val dataCols = (old.columns ++ neu.columns).distinct.filterNot(_ == keyCol)
    def sided(df: DataFrame, side: String) = {
      val renamed = df.columns.filterNot(_ == keyCol).foldLeft(df)(
        (d, c) => d.withColumnRenamed(c, s"__${side}_$c"))
      dataCols.foldLeft(renamed)((d, c) =>
        if (d.columns.contains(s"__${side}_$c")) d
        else d.withColumn(s"__${side}_$c", lit(null)))
        .withColumn(s"__${side}_present", lit(1))
    }
    val o = sided(old, "old")
    val n = sided(neu, "new")
    val joined = o.join(n, Seq(keyCol), "full_outer")
    val differs = dataCols.map(c =>
      !(col(s"__old_$c") <=> col(s"__new_$c"))).reduce(_ || _)
    joined
      .withColumn("change",
        when(col("__old_present").isNull, lit("insert"))
          .when(col("__new_present").isNull, lit("delete"))
          .when(differs, lit("update"))
          .otherwise(lit("none")))
      .where(col("change") =!= "none")
      .select(col("change") +: col(keyCol) +:
        dataCols.flatMap(c => Seq(col(s"__old_$c"), col(s"__new_$c"))): _*)
  }

  /** Defragment: rewrite the CURRENT content as one fresh data version
    * (every bucket rewritten, one file set), published as a normal
    * commit — after many small streaming commits scattered content
    * across data versions, this restores one-dir-per-bucket locality.
    * Content is untouched (pinned in SnapshotStoreSpec); a following
    * `vacuum(keepFrom = returned version)` reclaims every fragment.
    */
  def optimize(spark: SparkSession, dir: String): Int = {
    val latest = latestVersion(spark, dir)
    val next = latest + 1
    val cur = readBuckets(spark, dir, manifest(spark, dir, latest))
    cur.write.partitionBy("__bucket").parquet(dataDir(dir, next).toString)
    writeManifest(spark, dir, next, (0 until Buckets).map(_ -> next).toMap)
    next
  }

  /** Delete every (data version, bucket) directory not referenced by a
    * manifest ≥ `keepFrom`, then the dropped manifests themselves.
    * Metadata-only: plans from the manifest set, never reads data.
    * Returns the deleted bucket-directory paths.
    */
  def vacuum(spark: SparkSession, dir: String, keepFrom: Int): Seq[String] = {
    val h = fs(spark, new Path(dir))
    val latest = latestVersion(spark, dir)
    require(keepFrom <= latest, s"keepFrom $keepFrom is past latest $latest")
    val versions = (0 to latest).filter(v => h.exists(manifestPath(dir, v)))
    val (dropV, keepV) = versions.partition(_ < keepFrom)
    // .toSeq before the swap: mapping a Map re-keys it, and every
    // (bucket → dataVersion) entry sharing a data version would
    // collapse to one survivor — vacuuming live data
    val live: Set[(Int, Int)] = keepV.flatMap(v =>
      manifest(spark, dir, v).toSeq.map { case (b, dv) => (dv, b) }).toSet
    val deleted = scala.collection.mutable.ArrayBuffer[String]()
    val dataRoot = new Path(dir, "data")
    if (h.exists(dataRoot)) h.listStatus(dataRoot).foreach { vs =>
      val dv = vs.getPath.getName.stripPrefix("v").toInt
      h.listStatus(vs.getPath).foreach { bs =>
        val name = bs.getPath.getName
        if (name.startsWith("__bucket=")) {
          val b = name.stripPrefix("__bucket=").toInt
          if (!live.contains((dv, b))) {
            h.delete(bs.getPath, true); deleted += bs.getPath.toString
          }
        }
      }
      if (h.listStatus(vs.getPath).isEmpty) h.delete(vs.getPath, true)
    }
    dropV.foreach(v => h.delete(manifestPath(dir, v), false))
    deleted.toSeq
  }

  /** Oracle lane (`source_time_travel`): build a three-version store
    * from a deterministic events window and summarize EVERY version via
    * time travel after the last commit — the gate pins the exact row
    * content of historical snapshots, not just the head.
    *
    *   v0: events in [from, until]
    *   v1: delete id%17=0; upsert id%13=0 with value+1000
    *   v2: (on v1's content) delete id%23=0; upsert id%11=0 with value+5000
    *
    * Both batches derive from store CONTENT at commit time (the CDC
    * producer's view), so the oracle reconstructs them as sequential
    * relational passes. Output: one row per version with row count,
    * id checksum, and exact cents total.
    */
  def timeTravelSummary(spark: SparkSession, dir: String,
                        from: String = "2024-01-08",
                        until: String = "2024-01-10"): DataFrame = {
    val store = builtThreeVersionStore(spark, dir, from, until)
    (0 to 2).map { v =>
      readAt(spark, store, v).agg(
        count(lit(1)).as("n_rows"),
        sum(col("event_id")).as("id_sum"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("bigint")).as("value_cents"))
        .select(lit(v.toLong).as("version"), col("n_rows"), col("id_sum"),
          col("value_cents"))
    }.reduce(_ unionByName _)
  }

  /** Oracle lane (`source_snapshot_changes`): the CHANGE DATA FEED of
    * the same three-version store — per version step, the
    * insert/update/delete rows [[readChangesBetween]] emits, reduced to
    * counts + key checksums the oracle re-derives from the batch rules
    * (v0→v1: delete id%17=0, update id%13=0∧id%17≠0; v1→v2 from v1's
    * keys: delete %23=0, update %11=0∧%23≠0; inserts are structurally
    * absent because both batches derive from store content).
    */
  def snapshotChangesSummary(spark: SparkSession, dir: String,
                             from: String = "2024-01-08",
                             until: String = "2024-01-10"): DataFrame = {
    val store = builtThreeVersionStore(spark, dir, from, until)
    Seq((0, 1), (1, 2)).map { case (a, b) =>
      readChangesBetween(spark, store, a, b, "event_id")
        .groupBy(col("change"))
        .agg(count(lit(1)).as("n_rows"), sum(col("event_id")).as("id_sum"))
        .select(lit(a.toLong).as("from_v"), lit(b.toLong).as("to_v"),
          col("change"), col("n_rows"), col("id_sum"))
    }.reduce(_ unionByName _)
  }

  /** Bench build seam: materialize the shared three-version drill store
    * so the time-travel and change-feed probes read, not rebuild.
    */
  def ensureTimeTravelStore(spark: SparkSession, dir: String): Unit = {
    builtThreeVersionStore(spark, dir, "2024-01-08", "2024-01-10"); ()
  }

  /** The deterministic three-version drill store shared by the
    * time-travel and change-feed lanes — built once per (dir, window)
    * per JVM (after its two commits it is immutable, so sharing is
    * safe; each consumer pays reads, not rebuilds).
    */
  private def builtThreeVersionStore(spark: SparkSession, dir: String,
                                     from: String, until: String): String =
    Artifacts.scratch("graft_snapshot_", (dir, from, until)) { store =>
      val base = graft.Tables.events(spark, dir)
        .filter(to_date(col("ts")) >= lit(from) && to_date(col("ts")) <= lit(until))
        .select(col("event_id"), col("event_type"), col("value"))
      create(spark, store, base, "event_id")
      def batch(src: DataFrame, delMod: Int, upMod: Int, bump: Double) = {
        val deletes = src.filter(col("event_id") % delMod === 0)
          .withColumn("op", lit("delete"))
        val upserts = src.filter(col("event_id") % upMod === 0)
          .withColumn("value", col("value") + bump).withColumn("op", lit("upsert"))
        deletes.unionByName(upserts)
      }
      commit(spark, store, batch(readAt(spark, store, 0), 17, 13, 1000.0),
        "event_id", expectedVersion = 0)
      commit(spark, store, batch(readAt(spark, store, 1), 23, 11, 5000.0),
        "event_id", expectedVersion = 1)
      store
    }
}
