package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Manifest-based FILE skipping — the metadata layer of the table
  * formats (Iceberg manifests / Delta add-file stats), expressed with
  * plain parquet: the layout step range-clusters events by `user_id`
  * (`repartitionByRange`, so each file covers a disjoint key range) and
  * a one-time manifest job records per-file (path, min, max). A keyed
  * read consults the MANIFEST first — a few rows — and hands the scan
  * only the files whose stat range can match.
  *
  * This is the fourth pruning axis the engine attests, above row-group
  * skipping (sorted-at-rest / Z-order) and directory pruning
  * (partitions/buckets/IVF lists): at 100 TB the directory listing
  * itself is expensive, and a manifest turns "list + open a million
  * footers" into "scan a manifest table, open k files". Unlike
  * row-group stats, the skip happens before any file is opened.
  */
object FileManifest {

  /** Range-clustered layout + its manifest; one per (JVM, source dir).
    * Returns (dataDir, manifest rows).
    */
  def ensureClusteredLayout(spark: SparkSession, dir: String,
                            nFiles: Int = 8): (String, Seq[(String, Long, Long)]) =
    Artifacts.scratch("graft_manifest_", dir) { p =>
      Tables.events(spark, dir)
        .repartitionByRange(nFiles, col("user_id"))
        .write.mode("overwrite").parquet(p)
      // the one-time manifest job: per-file key range (what a table
      // format persists at write time; recomputed here because plain
      // parquet has no transaction log to carry it)
      val manifest = spark.read.parquet(p)
        .select(col("user_id"), input_file_name().as("path"))
        .groupBy(col("path"))
        .agg(min(col("user_id")).as("lo"), max(col("user_id")).as("hi"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      (p, manifest)
    }

  /** Keyed read through the manifest: only files whose [lo, hi] covers
    * the key are handed to the scan. Returns the pruned DataFrame; the
    * spec asserts `inputFiles` is the matching subset, not the layout.
    */
  def readForKey(spark: SparkSession, dir: String, userId: Long): DataFrame = {
    val (dataDir, manifest) = ensureClusteredLayout(spark, dir)
    val files = manifest.collect {
      case (path, lo, hi) if lo <= userId && userId <= hi => path
    }
    if (files.isEmpty)
      // no file's stat range covers the key: that IS the manifest
      // working — an empty result with the layout's schema, zero files
      // opened (limit(0) keeps it a metadata-only plan)
      spark.read.parquet(dataDir).limit(0)
    else spark.read.parquet(files: _*).filter(col("user_id") === userId)
  }

  /** The oracle-gated row: one user's events read through the manifest
    * (layout write + manifest build + stat-pruned read), against an
    * oracle that just filters the raw table — a green row proves the
    * clustered layout + manifest round trip loses and invents nothing.
    */
  def manifestLookup(spark: SparkSession, dir: String,
                     userId: Long = 7L): DataFrame =
    readForKey(spark, dir, userId)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy(col("event_id"))
}
