package graft.operators

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Tombstoned DELETE in the ANN stores (the Faiss remove_ids / Lucene
  * delete-doc analog): a deleted vector must never surface from a
  * probe. On the HNSW bucketed store deletion is a pure append and
  * compaction drops the tombstone, making the id re-insertable; on the
  * IVF index compaction rebuilds ONLY tombstone-bearing lists —
  * producing exactly the rows of the remainder — while untouched lists
  * keep their files byte-identical.
  */
class AnnDeleteSpec extends SparkSpec {

  private val params = Hnsw.Params()
  private val shards = 3

  private def parquetFiles(root: String): Map[String, (Long, Long)] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map(p => (Paths.get(root).relativize(p).toString,
        (Files.getLastModifiedTime(p).toMillis, Files.size(p))))
      .toMap

  test("bucketed store: tombstone row hides the vec; compaction drops it and re-insert revives it") {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sfDir)
    val table = "graft_test_bhnsw_delete"
    Hnsw.buildBucketedStore(spark, emb, table, shards, params)

    // collected EAGERLY: this plan's file listing dies with the
    // compaction rewrite below
    val baseline = Hnsw.servedTopKOf(spark, table, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val victims = baseline.filter(_._1 == 0L).map(_._2).toSeq.sorted.take(2)
    assert(victims.size === 2)

    // file snapshot: deletion is pure append
    def files() = {
      val root = graft.sources.FsPaths.warehouseTablePath(spark, table)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(root, true)
      val b = Map.newBuilder[String, (Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          b += f.getPath.toString -> (f.getModificationTime, f.getLen)
      }
      b.result()
    }
    val before = files()
    Hnsw.removeFromBucketedStore(spark, table, victims.toDF("vec_id"))
    val after = files()
    assert(before.forall { case (f, sig) => after.get(f).contains(sig) },
      "delete rewrote a pre-existing bucket file")

    val marked = Hnsw.servedTopKOf(spark, table, sfDir)
    assert(marked.filter(col("vec_id").isin(victims.map(Long.box): _*)).count() === 0,
      "tombstoned vec surfaced from the bucketed store")

    // exactness on the remainder: brute-force cosine top-5 (excluding
    // the victims) recomputed in Scala from the raw embeddings
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      a.indices.foreach { i => d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    val expected = vecs.keys.filter(_ % 50 == 0).flatMap { q =>
      vecs.toSeq.filter { case (v, _) => v != q && !victims.contains(v) }
        .map { case (v, e) => (v, cos(vecs(q), e)) }
        .sortBy { case (v, s) => (-s, v) }.take(5).map { case (v, _) => (q, v) }
    }.toSet
    val got = marked.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected, "post-delete probe diverges from brute force on the remainder")

    // compaction drops history + tombstones; probe rows unmoved
    Hnsw.compactBucketedStore(spark, table)
    assert(spark.table(table)
      .filter(col("vec_id").isin(victims.map(Long.box): _*)).count() === 0)
    val gotC = Hnsw.servedTopKOf(spark, table, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotC === expected)

    // post-compaction re-insert revives the id
    Hnsw.insertIntoBucketedStore(spark, table,
      victims.map(v => (v, vecs(v))).toDF("vec_id", "embedding"), params)
    val revived = Hnsw.servedTopKOf(spark, table, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(revived === baseline, "revived store diverges from the original probe")
  }

  test("IVF index: deleted vec never surfaces; compaction ≡ remainder rows; untouched lists byte-identical") {
    import spark.implicits._
    val idx = graft.sources.Scratch.tempDir("ivf-del")
    Similarity.ivfAssigned(spark, sfDir)
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(idx)

    val baseline = Similarity.ivfTopKPrunedAt(spark, sfDir, idx)
    val victims = baseline.filter(col("q_id") === 0L)
      .select(col("vec_id")).limit(2).as[Long].collect().toSeq
    assert(victims.size === 2)
    val victimLists = spark.read.parquet(idx)
      .filter(col("vec_id").isin(victims.map(Long.box): _*))
      .select(col("list_id").cast("long")).distinct().as[Long].collect().toSet

    Similarity.deleteFromIvfIndex(spark, idx, victims.toDF("vec_id"))
    val marked = Similarity.ivfTopKPrunedAt(spark, sfDir, idx)
    assert(marked.filter(col("vec_id").isin(victims.map(Long.box): _*)).count() === 0,
      "tombstoned vec surfaced from an IVF probe")

    val untouchedBefore = parquetFiles(idx)
      .filter { case (p, _) => !victimLists.exists(l => p.startsWith(s"list_id=$l")) }
    Similarity.compactIvfIndex(spark, idx)
    val untouchedAfter = parquetFiles(idx)
      .filter { case (p, _) => !victimLists.exists(l => p.startsWith(s"list_id=$l")) }
    assert(untouchedAfter === untouchedBefore, "compaction touched a clean list")

    // compacted rows ≡ the assignment of the remainder (per-row codebook
    // assignment makes this exact row equality)
    val remainder = Similarity.ivfAssigned(spark, sfDir)
      .filter(!col("vec_id").isin(victims.map(Long.box): _*))
      .select(col("vec_id"), col("list_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val compacted = spark.read.parquet(idx)
      .select(col("vec_id"), col("list_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(compacted === remainder)
    // steady state: tombstone sidecar cleared
    assert(!Files.exists(Paths.get(idx + "_tombstones")))
  }
}
