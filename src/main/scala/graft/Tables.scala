package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All operators take an `sfDir` (scale-factor directory) and read the
  * parquet directly — filters and column pruning push down to the scan,
  * so at 100 TB only the needed columns/row-groups are read.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Schema cache, keyed by path: `spark.read.parquet` re-infers the
    * schema from a file footer on EVERY call, and the bench/verify
    * harness loads each table hundreds of times per run — that footer
    * read + inference is pure per-query overhead. A production engine
    * gets the schema from its catalog; this map is that catalog for the
    * bare-path corpus tables. Metadata only (a StructType), never data:
    * every query still computes from the parquet files. The corpus
    * tables are immutable per sfDir, so keying by path is sound.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Table `name` of `sfDir`; `wide` applies [[widened]]. */
  def load(spark: SparkSession, sfDir: String, name: String,
           wide: Boolean = false): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    val df = spark.read.schema(schema).parquet(path)
    if (wide) widened(spark, df, path) else df
  }

  /** File stats (count, total bytes) per table path — metadata, cached
    * like the schema: the corpus files are immutable per sfDir.
    */
  private val fileStatsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Long)]()

  private def fileStats(spark: SparkSession, path: String): (Int, Long) =
    fileStatsCache.computeIfAbsent(path, { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
      val it = fs.listFiles(hp, true)
      var n = 0; var bytes = 0L
      while (it.hasNext) {
        val f = it.next()
        val base = f.getPath.getName
        if (!base.startsWith("_") && !base.startsWith(".")) {
          n += 1; bytes += f.getLen
        }
      }
      (n, bytes)
    })

  /** Guide §2.5 (unsplittable input): the driver's corpus tables are
    * written ONE parquet row group per file, and Spark hands a row group
    * to the single scan split holding its midpoint — so the FILE COUNT
    * is the number of scan tasks that can receive rows, no matter what
    * `maxPartitionBytes` says. When that is below the session's
    * parallelism, every per-row kernel downstream of the scan (text
    * quality, tokenization, shingling, vector math) runs on one core
    * while the rest idle — measured at 39 s of narrow-stage wall across
    * the r15 suite. One tiny round-robin exchange after the read spreads
    * it. Scale-adaptive by construction: at production file counts
    * (sf1+ GenData layouts, any 100 TB table) nFiles >= cores and this
    * is the identity — and the size guard keeps it off for any table
    * big enough that the exchange would cost more than a scan pass
    * (> one maxPartitionBytes split per core).
    *
    * Which tables widen, measured per consumer:
    *   - documents, opt-in (`wide = true`) for the per-row text kernels
    *     (quality/repetition regex ladders, trigram/PII scans,
    *     shinglers, chunkers, BPE training): 0.3-0.9 s/lane faster with
    *     scan parallelism. Light consumers (sampling filters, count
    *     rollups, doc_id/source projections) stay narrow: for them the
    *     extra exchange is pure cost (+0.1-0.4 s/lane).
    *   - events, opt-in for expensive per-row work (JSON props parsing)
    *     straight off the scan. Most events consumers shuffle by
    *     user/key immediately — the window's own exchange already
    *     provides the parallelism and widening is pure cost
    *     (+0.2 s/lane).
    *   - orders, opt-in for the one consumer (column profiling) whose
    *     multi-distinct Expand multiplies every scanned row 10× inside
    *     the scan stage; everywhere else orders broadcasts or joins
    *     keyed.
    *   - lineitem, always: the fact table's dims all broadcast at bench
    *     scale, so join + partial-agg chains execute INSIDE the scan
    *     stage; with a single-row-group file that is one task doing the
    *     whole join (a 0.98 s single-task stage in q_region_revenue).
    *   - embeddings, never: the ANN probes broadcast the query side and
    *     the store scans feed straight into k-heap partial aggregates;
    *     widening measured as a uniform +0.2 s/lane loss there.
    */
  private[graft] def widened(spark: SparkSession, df: DataFrame,
                             path: String): DataFrame = {
    val (nFiles, bytes) = fileStats(spark, path)
    val par = spark.sparkContext.defaultParallelism
    val maxPart = spark.sessionState.conf.filesMaxPartitionBytes
    if (nFiles < par && bytes <= maxPart * par) df.repartition(par) else df
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String, wide: Boolean = false): DataFrame =
    load(s, d, "orders", wide)
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem", wide = true)
  /** Driver-written events.parquet stores `ts` as parquet
    * TIMESTAMP(NANOS), which Spark rejects by default
    * (PARQUET_TYPE_ILLEGAL). Read nanos as long and truncate to
    * microseconds — exactly what DuckDB does when it reads the same
    * file, so oracle comparisons agree. Files written by Spark itself
    * (e.g. the GenData scale corpus) store micros and arrive as a
    * TimestampType column already — pass those through unchanged.
    */
  def events(s: SparkSession, d: String, wide: Boolean = false): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    val ts = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)")
      case _ => org.apache.spark.sql.functions.col("ts")
    }
    val df = raw.withColumn("ts", ts)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    if (wide) widened(s, df, s"$d/events.parquet") else df
  }

  def documents(s: SparkSession, d: String, wide: Boolean = false): DataFrame =
    load(s, d, "documents", wide)
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
