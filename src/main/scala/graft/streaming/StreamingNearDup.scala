package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming near-duplicate detection: the MinHash+LSH pipeline
  * (operators.MinHash) with the band join replaced by band STATE — the
  * shape a training-data ingest pipeline needs when the corpus arrives
  * continuously and each new document must be checked against everything
  * already admitted.
  *
  *  - Signature + banding are per-row codegen'd expression work
  *    (WordShingles / MinHashSig kernels), stateless in the stream.
  *  - Each (band_id, band_key) group keeps the doc ids seen so far in
  *    `GroupState`; a new arrival emits one candidate pair per stored
  *    doc. Hash-partitioned by band key across executors, exactly like
  *    the batch band shuffle.
  *  - `maxDocsPerBand` caps state (the streaming twin of the batch df
  *    cap): a degenerate band (e.g. empty-ish docs) would otherwise
  *    accumulate unbounded state AND emit quadratic pairs.
  *  - `ttlMillis > 0` arms an EVENT-TIME timeout (watermark clock, like
  *    StreamingDedup.auditStream) re-armed on every arrival: a band idle
  *    for ttl is dropped wholesale. Without a TTL the band universe
  *    grows with the corpus forever — mandatory at scale (SURVEY §7.4).
  *
  * Candidates are LSH candidates, not verified pairs — the verify join
  * (exact Jaccard on shingle arrays) runs downstream on the candidate
  * stream, e.g. in foreachBatch against the document store, same as the
  * batch `MinHash.exactJaccard`.
  */
object StreamingNearDup {

  case class Doc(doc_id: Long, text: String, event_time: Timestamp)
  case class CandPair(doc_a: Long, doc_b: Long, band_id: Int)

  /** [[CandPair]] plus the arrival's event time — the clock the bounded
    * verify stage ([[StreamingVerify.verifiedPairsBounded]]) keys its
    * watermark-scoped dedup state on.
    */
  case class TimedCandPair(doc_a: Long, doc_b: Long, band_id: Int,
                           event_time: Timestamp)

  def candidates(docs: Dataset[Doc], maxDocsPerBand: Int = 256,
                 ttlMillis: Long = 0, watermarkDelay: String = "0 seconds")
                (implicit spark: SparkSession): Dataset[CandPair] = {
    import spark.implicits._
    candidateCore[CandPair](docs, maxDocsPerBand, ttlMillis, watermarkDelay,
      (a, b, band, _) => CandPair(a, b, band))
  }

  /** [[candidates]] with each pair stamped by the triggering arrival's
    * event time — same state machine, richer output for bounded
    * downstream dedup.
    */
  def candidatesTimed(docs: Dataset[Doc], maxDocsPerBand: Int = 256,
                      ttlMillis: Long = 0, watermarkDelay: String = "0 seconds")
                     (implicit spark: SparkSession): Dataset[TimedCandPair] = {
    import spark.implicits._
    candidateCore[TimedCandPair](docs, maxDocsPerBand, ttlMillis, watermarkDelay,
      (a, b, band, t) => TimedCandPair(a, b, band, t))
  }

  private def candidateCore[T: org.apache.spark.sql.Encoder](
      docs: Dataset[Doc], maxDocsPerBand: Int,
      ttlMillis: Long, watermarkDelay: String,
      emit: (Long, Long, Int, Timestamp) => T)
      (implicit spark: SparkSession): Dataset[T] = {
    import spark.implicits._
    import graft.functions.functions._
    import graft.operators.MinHash.{NumHashes, ShingleSize, bandStructs}
    val src =
      if (ttlMillis > 0) docs.toDF().withWatermark("event_time", watermarkDelay)
      else docs.toDF()
    // banding inline (not MinHash.bands) so event_time rides along for
    // the TTL clock
    val banded = src
      .withColumn("sig", minhash_sig(word_shingles(col("text"), ShingleSize), NumHashes))
      .select(col("doc_id"), col("event_time"), explode(bandStructs(col("sig"))).as("bk"))
      .select(col("doc_id"), col("event_time"),
        col("bk.band_id").as("band_id"), col("bk.band_key").as("band_key"))
      .as[(Long, Timestamp, Int, String)]
    banded
      .groupByKey { case (_, _, bandId, bandKey) => s"$bandId|$bandKey" }
      .flatMapGroupsWithState[List[Long], T](
        OutputMode.Append,
        if (ttlMillis > 0) GroupStateTimeout.EventTimeTimeout
        else GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(Long, Timestamp, Int, String)],
         state: GroupState[List[Long]]) =>
          if (state.hasTimedOut) {
            state.remove() // idle band reclaimed: its docs age out of dedup
            Iterator.empty
          } else {
            val bandId = key.takeWhile(_ != '|').toInt
            val batch = rows.toSeq
            // deterministic intra-batch order; each arrival keeps its max
            // event time as the pair stamp
            val arrivalTimes = batch.groupBy(_._1)
              .map { case (id, rs) => id -> rs.map(_._2).maxBy(_.getTime) }
            val arrivals = arrivalTimes.keys.toSeq.sorted
            val seen = state.getOption.getOrElse(Nil)
            val out = scala.collection.mutable.ArrayBuffer.empty[T]
            var acc = seen
            arrivals.foreach { id =>
              if (!acc.contains(id)) {
                acc.take(maxDocsPerBand).foreach { prev =>
                  val (a, b) = if (prev < id) (prev, id) else (id, prev)
                  out += emit(a, b, bandId, arrivalTimes(id))
                }
                acc = id :: acc
              }
            }
            // cap the stored list — overflow docs beyond the cap still got
            // compared against the first maxDocsPerBand (bounded work),
            // mirroring the batch df cap's "hot shingle carries no signal"
            state.update(acc.take(maxDocsPerBand))
            if (ttlMillis > 0) {
              // sliding expiry: ttl after the band's latest arrival
              // (re-armed every invocation — Spark clears the timeout
              // whenever the function runs with data)
              val maxEvent = batch.map(_._2.getTime).max
              state.setTimeoutTimestamp(
                math.max(maxEvent + ttlMillis, state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }
  }
}
