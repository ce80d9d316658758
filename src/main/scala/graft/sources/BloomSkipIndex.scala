package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PER-FILE Bloom-filter skipping — the pruning axis a min/max manifest
  * cannot provide (Delta's bloom filter index, Parquet's column bloom
  * filters): in a HASH-DISTRIBUTED layout (files written by ingest
  * order / shuffle hash — the shape every table has BEFORE anyone pays
  * for a re-clustering job), every file holds keys scattered across the
  * whole domain, so every file's [min, max] range covers almost any
  * probed key and stat skipping opens everything — but a constant-size
  * per-file bit set answers "definitely not in this file" before any
  * footer is read. ([[FileManifest]] is the complementary axis: stats
  * over a layout DELIBERATELY range-clustered for them.)
  *
  * The bit positions use the engine's md5-position discipline
  * ([[graft.operators.Dedup.bloomPrefilter]]'s formulation — j=4
  * md5-derived positions in an m-bit space) rather than Spark's built-in
  * murmur BloomFilter, so the same positions compute identically on the
  * driver (probe side), in executors (build side), and in the spec's
  * recount.
  *
  * Scale: the index is `nFiles × m` BITS — catalog-sized at any corpus
  * size (a million files × 8 KiB of bloom = metadata, not data). The
  * build is one pass over the layout (position explode + per-file
  * distinct); the probe consults the in-memory manifest and hands the
  * scan only bloom-positive files. One-sided by construction: a present
  * key's file is always positive (no false negatives); false positives
  * only cost extra opened files, bounded by the m/j sizing.
  */
object BloomSkipIndex {

  /** Bits per file and hash count. m = 2^13 suits the test layout
    * (~1.3k keys/file → ~47% fill → ~5% false-positive rate per file);
    * production sizes m from the per-file row count as usual — only
    * this constant changes, never the plan.
    */
  val M = 8192
  val J = 4

  /** The j bit positions of one key, as a Spark expression (build side):
    * position h = md5("h|key") first 15 hex digits mod m — exactly
    * [[bitPositions]]' arithmetic, so driver probe and executor build
    * can never disagree.
    */
  private def posCols(key: Column): Seq[Column] =
    (0 until J).map { h =>
      pmod(conv(substring(md5(concat(lit(s"$h|"), key.cast("string"))), 1, 15), 16, 10)
        .cast("bigint"), lit(M.toLong)).cast("int")
    }

  /** The j bit positions of one key, driver-side (probe side). */
  private[graft] def bitPositions(key: Long): Seq[Int] =
    (0 until J).map { h =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$h|$key".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 15), 16) % M).toInt
    }

  /** Build (once per JVM+dir): write the hash-distributed layout (the
    * ingest-order shape — each file holds a scattered slice of the key
    * domain) and record, per file, the distinct bloom bits of its
    * `event_id`s (a small Set[Int] here; the packed long-array form is
    * an encoding detail the tests don't need).
    */
  def ensureBloomIndex(spark: SparkSession, dir: String,
                       nFiles: Int = 8): (String, Map[String, Set[Int]]) =
    Artifacts.scratch("graft_bloomskip_", dir) { dataDir =>
      graft.Tables.events(spark, dir)
        .repartition(nFiles, col("event_id"))
        .write.mode("overwrite").parquet(dataDir)
      val bits = spark.read.parquet(dataDir)
        .select(input_file_name().as("path"),
          explode(array(posCols(col("event_id")): _*)).as("bit"))
        .distinct()
        .collect()
        .groupBy(_.getString(0))
        .map { case (p, rows) => p -> rows.map(_.getInt(1)).toSet }
      (dataDir, bits)
    }

  /** Point-lookup read through the bloom index: only files whose bloom
    * has ALL j bits of at least one probed key are opened; the exact
    * filter then runs inside those files only.
    */
  def readForEventIds(spark: SparkSession, dir: String, ids: Seq[Long]): DataFrame = {
    val (dataDir, bits) = ensureBloomIndex(spark, dir)
    val posByKey = ids.map(id => id -> bitPositions(id))
    val files = bits.collect {
      case (path, set) if posByKey.exists { case (_, ps) => ps.forall(set) } => path
    }.toSeq.sorted
    if (files.isEmpty) spark.read.parquet(dataDir).limit(0)
    else spark.read.parquet(files: _*)
      .filter(col("event_id").isin(ids: _*))
  }

  /** The file subset the probe would open — the spec seam for the
    * pruning assertions (inputFiles ⊆ bloom-positive ⊂ all files).
    */
  private[graft] def positiveFiles(spark: SparkSession, dir: String,
                                   ids: Seq[Long]): (Seq[String], Int) = {
    val (_, bits) = ensureBloomIndex(spark, dir)
    val posByKey = ids.map(id => id -> bitPositions(id))
    val pos = bits.collect {
      case (path, set) if posByKey.exists { case (_, ps) => ps.forall(set) } => path
    }.toSeq.sorted
    (pos, bits.size)
  }

  /** The fixed probe workload of the gated lane: a spread of event ids
    * independent of corpus size (absent ids are a legitimate outcome the
    * row pins — the bloom answers "no" for them without opening files).
    */
  val ProbeIds: Seq[Long] = (0 until 25).map(i => i * 397L)

  /** The oracle-gated row: the probe workload read through the bloom
    * index (layout + per-file bit sets + skipped scan), against an
    * oracle that just filters the raw table — a green row proves the
    * skipping path loses and invents nothing.
    */
  def bloomLookup(spark: SparkSession, dir: String): DataFrame =
    readForEventIds(spark, dir, ProbeIds)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
}
