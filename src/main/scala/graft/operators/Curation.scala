package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The end-to-end corpus-curation CAPSTONE: near-dup cluster survivor
  * selection ([[MinHash.clusterSurvivors]] — transitive-safe,
  * longest-member-wins) composed with a quality gate
  * ([[TextOps.qualityScore]] signals), summarized per provenance
  * source — the one-row-per-source report a training-data pipeline
  * publishes after every curation run: how much came in, what dedup
  * removed, what quality removed, what ships.
  *
  * The quality gate here is deliberately STRICTER than text_quality's
  * contract row (≥ 40 tokens, at least one English stopword, bounded
  * avg token length): the curation decision is a policy choice, and at
  * the test corpus's distribution this policy drops a meaningful
  * fraction on each leg, so every column of the report is non-vacuous.
  *
  * Scale: both inputs are session-staged intermediates (the cluster
  * labels memoize; the quality signals are one codegen pass), the
  * composition is two broadcast-sized joins against the documents scan,
  * and the output is source-cardinality.
  */
object Curation {

  def curationSummary(spark: SparkSession, dir: String,
                      threshold: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val kept = MinHash.clusterSurvivors(spark, dir, threshold)
      .select(col("doc_id"), col("kept"))
    val quality = TextOps.qualityScore(spark, dir)
      .select(col("doc_id"),
        (col("n_tokens") >= 40 && col("n_stopwords") >= 1 &&
          col("avg_token_len") < 12.0).as("is_quality"))
    docs.join(kept, Seq("doc_id")).join(quality, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept") === 0, 1L).otherwise(0L)).as("n_dup_dropped"),
        sum(when(col("kept") === 1 && !col("is_quality"), 1L).otherwise(0L))
          .as("n_quality_dropped"),
        sum(when(col("kept") === 1 && col("is_quality"), 1L).otherwise(0L))
          .as("n_final"))
      .orderBy(col("source"))
  }

  /** The CROSS-MODALITY capstone: a doc ships only if every modality's
    * dedup lane keeps it — text (near-dup cluster survivor,
    * longest-member-wins), image (dHash), audio (aHash), and video
    * (vHash) perceptual lanes (a doc is dropped by a media lane when it
    * is the larger id of a verified near-dup pair, the same
    * greater-id-loses rule as [[MinHash.minhashSurvivors]]). Per-source
    * report: per-lane drop counts (independent — one doc can trip
    * several lanes) and the docs surviving all four.
    *
    * Scale: all four lane frames are session-staged intermediates (the
    * cluster labels and the three fingerprint-pair graphs memoize per
    * (session, dir) — this row adds three joins, not three pipelines);
    * the drop sets are near-dup-output-sized, so the joins broadcast
    * under AQE; output is source-cardinality.
    */
  def crossModalCuration(spark: SparkSession, dir: String,
                         threshold: Double = 0.5,
                         maxHamming: Int = 12): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val text = MinHash.clusterSurvivors(spark, dir, threshold)
      .select(col("doc_id"), col("kept").as("kept_text"))
    def dropsOf(pairs: DataFrame, flag: String): DataFrame =
      pairs.select(col("doc_b").as("doc_id")).distinct()
        .withColumn(flag, lit(1L))
    val img = dropsOf(Multimodal.mediaPhashPairs(spark, dir, maxHamming), "d_img")
    val aud = dropsOf(Multimodal.mediaAhashPairs(spark, dir, maxHamming), "d_aud")
    val vid = dropsOf(Multimodal.mediaVhashPairs(spark, dir, maxHamming), "d_vid")
    docs.join(text, Seq("doc_id"))
      .join(img, Seq("doc_id"), "left")
      .join(aud, Seq("doc_id"), "left")
      .join(vid, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept_text") === 0, 1L).otherwise(0L)).as("n_text_drop"),
        sum(coalesce(col("d_img"), lit(0L))).as("n_image_drop"),
        sum(coalesce(col("d_aud"), lit(0L))).as("n_audio_drop"),
        sum(coalesce(col("d_vid"), lit(0L))).as("n_video_drop"),
        sum(when(col("kept_text") === 1 && col("d_img").isNull &&
          col("d_aud").isNull && col("d_vid").isNull, 1L).otherwise(0L))
          .as("n_final"))
      .orderBy(col("source"))
  }

  /** The LLM-CORPUS capstone: the full text-curation funnel in one
    * per-language report — CDC chunk scrub ([[TextOps.cdcScrub]]) →
    * Gopher-style quality gate re-evaluated on the CLEANED text
    * ([[TextOps.gopherRulesOf]]) → weighted mixture sampling of the
    * survivors with the [[TextOps.mixtureSample]] rate arithmetic
    * (zero-candidate languages rate 0 instead of dividing by zero).
    * Columns: docs in → after scrub → after quality → available
    * tokens → sampling rate → sampled docs/tokens.
    *
    * Scale: the scrub is the only corpus-sized stage (one window pass
    * keyed on doc_id + df-filtered broadcast anti-join); the gate is a
    * row-local projection; everything after reduces to
    * language-cardinality frames (5 rows) that broadcast.
    */
  def llmCorpusFunnel(spark: SparkSession, dir: String,
                      budgetPct: Int = 30): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // session-staged: the scrub output feeds FIVE consumers below
    // (after-scrub counts, gate, candidates, avail, sampled) — one
    // persisted frame instead of five scrub re-executions
    val surv1 = StageMemo.memoized(spark, "llm_surv1", dir)(
      TextOps.cdcScrub(spark, dir)
        .filter(col("clean_text") =!= "")
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("clean_text").as("text")))
    val gateKeep = TextOps.gopherRulesOf(surv1.select(col("doc_id"), col("text")))
      .filter(col("passes") === 1).select(col("doc_id"))
    val cand = StageMemo.memoized(spark, "llm_cand", dir)(
      surv1.join(gateKeep, Seq("doc_id"))
        .select(col("doc_id"), col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok")))
    val inC = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_in"))
    val s1C = surv1.groupBy(col("lang")).agg(count(lit(1)).as("n_after_scrub"))
    val avail = cand.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_after_quality"), sum(col("n_tok")).as("avail_tokens"))
    val total = avail.agg(coalesce(sum(col("avail_tokens")), lit(0L)).as("total"))
    val weights = Seq(("en", 40L), ("de", 15L), ("es", 15L), ("fr", 15L), ("zh", 15L))
    val wdf = spark.createDataFrame(weights).toDF("lang", "w")
    val rates = inC
      .join(s1C, Seq("lang"), "left").join(avail, Seq("lang"), "left")
      .crossJoin(broadcast(total)).join(broadcast(wdf), Seq("lang"))
      .withColumn("n_after_scrub", coalesce(col("n_after_scrub"), lit(0L)))
      .withColumn("n_after_quality", coalesce(col("n_after_quality"), lit(0L)))
      .withColumn("avail_tokens", coalesce(col("avail_tokens"), lit(0L)))
      .withColumn("target", expr(s"total * $budgetPct DIV 100 * w DIV 100"))
      .withColumn("rate_bp", when(col("avail_tokens") === 0, lit(0L))
        .otherwise(least(lit(10000L), expr("target * 10000 DIV avail_tokens"))))
    val sampled = cand
      .join(broadcast(rates.select(col("lang"), col("rate_bp"))), Seq("lang"))
      .filter(TextOps.h60(col("doc_id").cast("string")) % 10000 < col("rate_bp"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("n_tok")).as("tokens_sampled"))
    rates.select(col("lang"), col("n_in"), col("n_after_scrub"),
        col("n_after_quality"), col("avail_tokens"), col("rate_bp"))
      .join(sampled, Seq("lang"), "left")
      .select(col("lang"), col("n_in"), col("n_after_scrub"),
        col("n_after_quality"), col("avail_tokens"), col("rate_bp"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("tokens_sampled"), lit(0L)).as("tokens_sampled"))
      .orderBy(col("lang"))
  }

  /** Bench build seam for the funnel: materialize the staged scrub
    * output and candidate frames (and transitively the chunk stage).
    */
  /** SELECTION funnel (`pipeline_selection`): the data-selection half
    * of curation, composing the round's two selection operators in the
    * order a mixture pipeline runs them — per-domain QUOTA cap first
    * (no single source may dominate, [[TextOps.quotaSample]]), then
    * DSIR importance selection over the capped pool (global top-`k` by
    * target-likeness, [[TextOps.dsirTopK]]'s scores restricted to quota
    * survivors). Per source: docs in, docs surviving the quota, docs
    * selected, and the selected-id checksum — every stage's loss
    * attributable per provenance domain.
    *
    * Scale: the quota is the cap-bounded heap agg; the scores come off
    * the staged feature frame; the global top-k ranks ONLY the
    * quota-capped pool (≤ sources × cap rows — catalog-sized, however
    * large the corpus).
    */
  def selectionFunnel(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("source"), col("doc_id"))
    val nIn = docs.groupBy(col("source")).agg(count(lit(1)).as("n_in"))
    val quota = TextOps.quotaSample(spark, dir).select(col("source"), col("doc_id"))
    val nQuota = quota.groupBy(col("source")).agg(count(lit(1)).as("n_quota"))
    val scoredQuota = quota
      .join(TextOps.dsirScores(spark, dir), Seq("doc_id"))
    val selected = Dedup.topKPerKey(
        scoredQuota.withColumn("neg", -col("dsir_score")),
        Seq.empty, Seq(col("neg"), col("doc_id")), k)
    val nSel = selected.groupBy(col("source"))
      .agg(count(lit(1)).as("n_selected"), sum(col("doc_id")).as("selected_id_sum"))
    nIn.join(nQuota, Seq("source"), "left")
      .join(nSel, Seq("source"), "left")
      .select(col("source"), col("n_in"),
        coalesce(col("n_quota"), lit(0L)).as("n_quota"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"),
        coalesce(col("selected_id_sum"), lit(0L)).as("selected_id_sum"))
      .orderBy(col("source"))
  }

  /** Per-source CURATION RULE MATRIX (`pipeline_rule_matrix`): the
    * observability face of the three per-row gates — for every
    * provenance source, how many docs fail the Gopher document rules
    * ([[TextOps.gopherBitCols]]), how many fail the repetition ladder
    * ([[TextOps.RepetitionPct]] over the RepStats kernel), how many
    * carry PII ([[TextOps.PiiEmailRe]]-class regexes), and how many
    * are clean on all three. Runs over the PII-seeded corpus
    * ([[TextOps.piiSeeded]]) so the PII column attests — the synthetic
    * docs carry no organic PII.
    *
    * Scale: ONE scan — all three rule families are per-row expressions
    * (HOF bits + one RepStats kernel call + codegen'd regexp_count) in
    * a single projection, then one hash-agg keyed by source with
    * map-side partial combine. No joins, one exchange carrying ≤
    * |sources| rows per split, however large the corpus.
    */
  def ruleMatrix(spark: SparkSession, dir: String): DataFrame =
    ruleMatrixAggOf(ruleBitsOf(TextOps.piiSeeded(Tables.documents(spark, dir, wide = true)
      .select(col("doc_id"), col("source"), col("text")))))
      .orderBy(col("source"))

  /** Per-doc gate bits (source, q_pass, rep_pass, pii_hit) over an
    * already-seeded frame — stateless per-row expression work, shared
    * with the streaming twin
    * ([[graft.streaming.StreamingCuration.matrixReport]]).
    */
  private[graft] def ruleBitsOf(seeded: DataFrame): DataFrame = {
    val perDoc = seeded.select(
      col("source"),
      TextOps.gopherBitCols.map(_._2).reduce(_ * _).as("q_pass"),
      graft.functions.functions.rep_stats(col("text")).as("__r"),
      ((regexp_count(col("text"), lit(TextOps.PiiEmailRe)) +
        regexp_count(col("text"), lit(TextOps.PiiPhoneRe)) +
        regexp_count(col("text"), lit(TextOps.PiiIpv4Re))) > 0)
        .cast("bigint").as("pii_hit"))
    val repFails = TextOps.RepetitionPct.map { case (f, p) =>
      (col(s"__r.$f") * 100 > col("__r.den") * p).cast("bigint") }.reduce(_ + _)
    perDoc.select(col("source"), col("q_pass"),
      (repFails === 0).cast("bigint").as("rep_pass"), col("pii_hit"))
  }

  /** The matrix rollup over a gate-bit frame, unordered (streaming
    * aggregations cannot sort mid-stream; the batch face orders).
    */
  private[graft] def ruleMatrixAggOf(bits: DataFrame): DataFrame =
    bits.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(lit(1) - col("q_pass")).as("n_fail_quality"),
        sum(lit(1) - col("rep_pass")).as("n_fail_repetition"),
        sum(col("pii_hit")).as("n_pii_docs"),
        sum(col("q_pass") * col("rep_pass") * (lit(1) - col("pii_hit"))).as("n_clean"))

  def ensureLlmStages(spark: SparkSession, dir: String): Unit = {
    llmCorpusFunnel(spark, dir).count()
    ()
  }
}
