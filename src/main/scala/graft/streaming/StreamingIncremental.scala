package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.MinHash

/** Stream-STATIC incremental near-dedup: a stream of incoming documents
  * probes the STATIC admitted-corpus band index — the streaming twin of
  * [[graft.operators.MinHash.incrementalDedup]] and the stateless
  * complement to [[StreamingNearDup]]'s band state:
  *
  *  - [[StreamingNearDup]] answers "does the new doc match anything seen
  *    ON THE STREAM so far" — needs GroupState, pays state management.
  *  - This answers "does the new doc match the EXISTING corpus" — the
  *    corpus side is a table re-read per micro-batch (bucketed/cached in
  *    production), so candidate generation and verification need NO
  *    state store at all: signature/banding are per-row kernels, and
  *    both the band probe and the shingle verify are stream-static
  *    joins, which Structured Streaming executes statelessly.
  *
  * The incoming shingle array rides THROUGH the band join, so the exact
  * Jaccard verify is a second stream-static join (corpus shingles) plus
  * per-row array intersection — candidate-bounded, same cost model as
  * the batch verify. A pair colliding in several bands emits more than
  * once (no stateful dedup here by design — stateless means restart-
  * trivial); downstream consumers upsert by pair id, the same idempotent
  * contract as [[StreamingVerify]]'s sink.
  */
object StreamingIncremental {

  /** The static side: (band_id, band_key, doc_b) over admitted docs —
    * in production this materializes once per ingest cycle as a bucketed
    * table; the probe re-reads it per micro-batch.
    */
  def corpusBandIndex(corpusDocs: DataFrame): DataFrame =
    MinHash.bands(MinHash.signatures(corpusDocs))
      .select(col("band_id"), col("band_key"), col("doc_id").as("doc_b"))

  /** The static verify side: (doc_b, sh_b) shingle arrays. */
  def corpusShingleStore(corpusDocs: DataFrame): DataFrame =
    MinHash.shingleArray(corpusDocs)
      .select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"))

  /** Verified (doc_a, doc_b, jaccard) matches of the incoming stream
    * (`doc_id`, `text`) against the static corpus index, ≥ `threshold`.
    * Append-mode safe with zero streaming state.
    */
  def matches(incoming: DataFrame, corpusBands: DataFrame,
              corpusShingles: DataFrame, threshold: Double = 0.5): DataFrame = {
    import graft.functions.functions._
    import MinHash.{NumHashes, ShingleSize, bandStructs}
    val banded = incoming
      .withColumn("sh_a", word_shingles(col("text"), ShingleSize))
      .withColumn("sig", minhash_sig(col("sh_a"), NumHashes))
      .select(col("doc_id").as("doc_a"), col("sh_a"),
        explode(bandStructs(col("sig"))).as("bk"))
      .select(col("doc_a"), col("sh_a"),
        col("bk.band_id").as("band_id"), col("bk.band_key").as("band_key"))
    banded.join(corpusBands, Seq("band_id", "band_key"))
      .join(corpusShingles, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("bigint").as("inter"),
        size(col("sh_a")).cast("bigint").as("n_a"),
        size(col("sh_b")).cast("bigint").as("n_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }
}
