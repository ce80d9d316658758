package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** AUTOMATED compaction policy for the two mutable ANN stores — the
  * IVF dir index (list_id-partitioned parquet + tombstone sidecar) and
  * the HNSW bucketed serving store (log-structured catalog table). It
  * is the maintenance loop a standing deployment runs so nobody has to
  * remember to: every ingest-time mutation checks cheap store health
  * metrics against thresholds and fires the EXISTING compaction when
  * one trips (the LSM/Lucene merge-policy pattern). The compactions
  * themselves are unchanged and result-preserving, so every store
  * oracle row reads identically whether maintenance ran by hand or by
  * policy; only file lifetimes differ — and untouched IVF lists stay
  * byte-identical either way (CompactionPolicySpec re-pins it through
  * the auto face).
  *
  * Thresholds are exact RATIONALS compared by integer cross-multiply
  * (`tombstones·tombDen ≥ liveRows·tombNum`, default 1/5, live = total
  * minus pending tombstones) — never a float
  * fraction — plus a segment-count bound on the log-structured
  * bucketed store (distinct `ver` values, default 8). Both metrics
  * are one cheap aggregate over data the mutation just touched.
  *
  * Scale: the policy adds two counts per mutation batch; a fire costs
  * exactly what the manual compaction costs — the IVF index rewrites
  * only its tombstone-bearing lists; the bucketed store's log collapse
  * is a full-table rewrite by design.
  */
object Compaction {

  /** `tombNum/tombDen` — the tombstone fraction that triggers a
    * compaction on either store; `maxSegments` — the bucketed store's
    * version count that triggers a log collapse.
    */
  final case class Policy(tombNum: Long = 1L, tombDen: Long = 5L,
                          maxSegments: Long = 8L)

  // ── IVF dir index (list_id-partitioned parquet + tombstone sidecar) ──

  /** Tombstone `ids` then compact if the pending-tombstone fraction
    * reached the policy threshold. Returns whether compaction fired.
    */
  def deleteFromIvfIndexAuto(spark: SparkSession, indexDir: String,
                             ids: DataFrame,
                             policy: Policy = Policy()): Boolean = {
    Similarity.deleteFromIvfIndex(spark, indexDir, ids)
    maybeCompactIvf(spark, indexDir, policy)
  }

  /** The policy check alone (the seam a scheduled maintenance tick or
    * a streaming micro-batch calls): fires [[Similarity.compactIvfIndex]]
    * when tombstones·tombDen ≥ liveRows·tombNum.
    */
  def maybeCompactIvf(spark: SparkSession, indexDir: String,
                      policy: Policy = Policy()): Boolean = {
    val t = Similarity.ivfTombstones(spark, indexDir).count()
    if (t == 0L) false
    else {
      // LIVE-row denominator: the store scan counts every resident row
      // including the pending victims, so the live population is n − t —
      // a total-rows denominator would quietly fire a 1/5 policy at
      // tombstones/live ≈ 1/4 (r14 ADVICE)
      val n = spark.read.parquet(indexDir).count()
      val fire = t * policy.tombDen >= (n - t) * policy.tombNum
      if (fire) Similarity.compactIvfIndex(spark, indexDir)
      fire
    }
  }

  // ── HNSW bucketed serving store (log-structured catalog table) ──

  /** Insert `batch` then collapse the log if the store's segment count
    * (distinct versions) or pending-tombstone fraction reached the
    * policy bound. Returns whether compaction fired.
    */
  def insertIntoBucketedStoreAuto(spark: SparkSession, table: String,
                                  batch: DataFrame,
                                  params: Hnsw.Params = Hnsw.Params(),
                                  policy: Policy = Policy()): Boolean = {
    Hnsw.insertIntoBucketedStore(spark, table, batch, params)
    maybeCompactBucketed(spark, table, policy)
  }

  def maybeCompactBucketed(spark: SparkSession, table: String,
                           policy: Policy = Policy()): Boolean = {
    val stats = spark.table(table).agg(
      countDistinct(col("ver")).as("segs"),
      count(lit(1)).as("rows"),
      count(when(col("level") < 0, 1)).as("tombs")).head
    val (segs, rows, tombs) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    // live denominator (rows counts the tombstone marker rows too)
    val fire = segs >= policy.maxSegments ||
      (tombs > 0L && tombs * policy.tombDen >= (rows - tombs) * policy.tombNum)
    if (fire) Hnsw.compactBucketedStore(spark, table)
    fire
  }
}
