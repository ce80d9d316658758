package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Hnsw

/** Streaming ingest into the bucketed HNSW serving store — the
  * graph-index member of the exactly-once ingest family
  * ([[StreamingIvf]] for inverted lists, [[StreamingIncremental]] for
  * shingle buckets): vector micro-batches are INSERTED into their
  * shard graphs via `foreachBatch` as log-structured appends, and a
  * replayed micro-batch performs zero writes (the insert narrows to
  * never-seen vec_ids first), so store CONTENT is exactly-once under
  * at-least-once replay without a batch-id layout.
  *
  * Parity (StreamingBucketedHnswSpec, StreamingHnswSq8Spec): after the
  * stream drains, the store holds the same rows as the same
  * [[Hnsw.insertIntoBucketedStore]] (or [[Hnsw.insertIntoSq8Store]])
  * calls made synchronously in batch
  * (micro-batch boundaries are the ONLY thing streaming adds, and each
  * insert is a deterministic function of store content + batch), and
  * probing it surfaces the exact brute-force top-k — ingest must not
  * cost recall, the same contract the grown-graph lane gates.
  *
  * Why `foreachBatch`: the per-shard graph reconstruction and the
  * anti-join narrowing are batch constructs; a streaming file sink
  * cannot express read-modify-append of a graph.
  */
object StreamingHnsw {

  /** Streaming ingest into the BUCKETED serving store (the
    * `ann_hnsw_served` catalog table) — the streaming face the r12
    * layout lacked: each micro-batch rides
    * [[Hnsw.insertIntoBucketedStore]]'s log-structured append (new +
    * rewired node rows under the next version, pre-existing bucket
    * files untouched), and the same anti-join narrowing makes a
    * replayed batch write NOTHING — store content is exactly-once
    * under at-least-once delivery. Each insert also re-touches the
    * store marker, so standing probes' executor graph caches roll
    * forward per batch.
    */
  def bucketedInsertSink(spark: SparkSession, table: String,
                         vectors: DataFrame,
                         params: Hnsw.Params = Hnsw.Params(),
                         checkpoint: Option[String] = None,
                         policy: Option[graft.operators.Compaction.Policy] = None)
      : StreamingQuery = {
    val writer = vectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        Hnsw.insertIntoBucketedStore(spark, table, batch.toDF(), params)
        // the streaming face of the automated merge policy: every
        // micro-batch runs the same cheap health check the batch face
        // does, so an unattended ingest stream keeps its own log
        // bounded (compaction is result-preserving — probes read
        // through latest-per-vec_id either way)
        policy.foreach(p =>
          graft.operators.Compaction.maybeCompactBucketed(spark, table, p))
      }
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c)).start()
  }

  /** Streaming ingest into the SQ8 COMPRESSED serving store — the face
    * the compressed tier lacked (it was batch-rebuild-only, VERDICT r14
    * next-round #4): each micro-batch encodes through `dir`'s fixed
    * trained codec and rides [[Hnsw.insertIntoSq8Store]]'s
    * log-structured append (new + rewired rows under the next version,
    * pre-existing bucket files untouched; replayed batches write
    * nothing), with the same optional per-batch compaction policy as
    * the float sink — the shared log-collapse is schema-agnostic.
    */
  def sq8InsertSink(spark: SparkSession, table: String, dir: String,
                    vectors: DataFrame,
                    params: Hnsw.Params = Hnsw.Params(),
                    checkpoint: Option[String] = None,
                    policy: Option[graft.operators.Compaction.Policy] = None)
      : StreamingQuery = {
    val writer = vectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        Hnsw.insertIntoSq8Store(spark, table, batch.toDF(), dir, params)
        policy.foreach(p =>
          graft.operators.Compaction.maybeCompactBucketed(spark, table, p))
      }
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c)).start()
  }
}
