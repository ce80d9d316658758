package graft.operators

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins the AUTOMATED compaction policy (Compaction.Policy) on both
  * mutable store layouts: thresholds fire the existing compaction
  * exactly when the rational bound trips (never before), untouched IVF
  * lists keep their files byte-identical through an auto-fired
  * compaction, probe results are unchanged by maintenance, and the
  * streaming ingest face keeps its own log bounded.
  */
class CompactionPolicySpec extends SparkSpec {
  import spark.implicits._

  private def parquetFiles(root: String): Map[String, (Long, Long)] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map(p => (Paths.get(root).relativize(p).toString,
        (Files.getLastModifiedTime(p).toMillis, Files.size(p))))
      .toMap

  test("IVF dir index: below-threshold delete defers; threshold fires; untouched lists byte-identical") {
    val idx = graft.sources.Scratch.tempDir("ivf-auto")
    Similarity.ivfAssigned(spark, sfDir)
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(idx)
    val n = spark.read.parquet(idx).count()
    val all = spark.read.parquet(idx)
      .select(col("vec_id"), col("list_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)

    // one victim at 1/5 threshold over n rows: 1*5 >= n*1 is false for
    // n > 5 — the delete must mark but NOT compact
    val v1 = Seq(all.head._1)
    val fired1 = Compaction.deleteFromIvfIndexAuto(spark, idx,
      v1.toDF("vec_id"), Compaction.Policy(tombNum = 1, tombDen = 5))
    assert(!fired1, "a single tombstone must not trip a 20% threshold")
    assert(Files.exists(Paths.get(idx + "_tombstones")),
      "deferred delete must leave its tombstone pending")

    // drive the pending fraction over 20%: tombstone ceil(n/5) rows
    // total, then the auto face must fire and clear the sidecar
    val more = all.map(_._1).filter(_ != v1.head).take((n / 5).toInt + 1).toSeq
    val victimLists = all.filter(r => (more :+ v1.head).contains(r._1))
      .map(_._2).toSet
    val untouchedBefore = parquetFiles(idx)
      .filter { case (p, _) => !victimLists.exists(l => p.startsWith(s"list_id=$l")) }
    val fired2 = Compaction.deleteFromIvfIndexAuto(spark, idx,
      more.toDF("vec_id"), Compaction.Policy(tombNum = 1, tombDen = 5))
    assert(fired2, "crossing the tombstone fraction must fire compaction")
    assert(!Files.exists(Paths.get(idx + "_tombstones")),
      "fired compaction must clear the sidecar")
    val untouchedAfter = parquetFiles(idx)
      .filter { case (p, _) => !victimLists.exists(l => p.startsWith(s"list_id=$l")) }
    assert(untouchedAfter === untouchedBefore,
      "auto-fired compaction touched a clean list")
    // victims gone from the store
    val dead = (more :+ v1.head).toSet
    assert(spark.read.parquet(idx)
      .filter(col("vec_id").isin(dead.toSeq.map(Long.box): _*)).count() === 0)
  }

  test("bucketed store: tombstone fraction defers below 1/5, fires above; probe equals brute force on the remainder") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val table = "graft_test_compact_tombs"
    Hnsw.buildBucketedStore(spark, emb, table, 3)
    val ids = emb.select(col("vec_id")).as[Long].collect().sorted
    val n = ids.length.toLong
    // collected eagerly: a compaction rewrite replaces the files a lazy
    // plan would list
    def probe() = Hnsw.servedTopKOf(spark, table, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // one tombstone over n rows: 1·5 ≥ n·1 is false for n > 5 — the
    // mark stays pending, yet the probe already hides the victim
    Hnsw.removeFromBucketedStore(spark, table, Seq(ids.head).toDF("vec_id"))
    assert(!Compaction.maybeCompactBucketed(spark, table),
      "a single tombstone must not trip a 20% threshold")
    assert(!probe().exists(_._2 == ids.head), "pending tombstone surfaced")

    val more = ids.drop(1).take((n / 5).toInt + 1).toSeq
    Hnsw.removeFromBucketedStore(spark, table, more.toDF("vec_id"))
    assert(Compaction.maybeCompactBucketed(spark, table),
      "crossing the tombstone fraction must collapse the log")
    assert(spark.table(table).filter(col("level") < 0).count() === 0L)

    // brute force over the remainder, scored and ranked like the probe
    val dead = (ids.head +: more).map(Long.box)
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val expect = Similarity.topKBySim(
      emb.filter(!col("vec_id").isin(dead: _*)).crossJoin(q)
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          round(Similarity.cosine(col("q_emb"), col("embedding")), 6).as("sim")), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expect.nonEmpty)
    assert(probe() === expect)
  }

  test("bucketed store: segment-count bound collapses the log (batch + streaming faces); probes unmoved") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val base = emb.filter(col("vec_id") % 7 =!= 0)
    val rest = emb.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
    assert(rest.size >= 3)
    val table = "graft_test_compact_policy"
    Hnsw.buildBucketedStore(spark, base, table, 3)
    val truth = Hnsw.servedTopKOf(spark, table + "", sfDir) // warm probe path

    // batch face: two single-row inserts at maxSegments=3 — the second
    // lands the third version and must collapse the log to one
    val f1 = Compaction.insertIntoBucketedStoreAuto(spark, table,
      Seq(rest(0)).toDF("vec_id", "embedding"),
      policy = Compaction.Policy(maxSegments = 3))
    assert(!f1, "two segments must not trip maxSegments=3")
    val f2 = Compaction.insertIntoBucketedStoreAuto(spark, table,
      Seq(rest(1)).toDF("vec_id", "embedding"),
      policy = Compaction.Policy(maxSegments = 3))
    assert(f2, "the third segment must collapse the log")
    assert(spark.table(table).select(col("ver")).distinct().count() === 1L)

    // streaming face: the sink's per-batch policy check keeps the log
    // under the bound however many micro-batches flow
    implicit val sqlCtx = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamingHnsw.bucketedInsertSink(spark, table,
      stream.toDF().toDF("vec_id", "embedding"),
      policy = Some(Compaction.Policy(maxSegments = 2)))
    try {
      rest.drop(2).foreach { r => stream.addData(Seq(r)); q.processAllAvailable() }
    } finally q.stop()
    assert(spark.table(table).select(col("ver")).distinct().count() <= 2L,
      "streaming ingest must keep its own log bounded")

    // maintenance is invisible to probes: the grown store answers the
    // exact brute-force top-k like every other ingest path
    val expect = Similarity.cosineTopK(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Hnsw.servedTopKOf(spark, table, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expect)
  }
}
