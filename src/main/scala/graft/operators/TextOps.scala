package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface (language ID, quality scoring, token
  * counting, fingerprinting). All are single-scan, per-row expression
  * pipelines: no shuffle at all except where an aggregation is the point,
  * so they scale linearly with input splits at 100 TB.
  *
  * Determinism discipline: per-row scalar double arithmetic (ratios,
  * divisions) is IEEE-deterministic and safe for the DuckDB oracle; only
  * *aggregated* double sums are not, and none are used here.
  */
object TextOps {

  /** Whitespace tokens. The corpus is single-space separated (verified:
    * no runs/leading/trailing spaces), so a plain split is exact and
    * matches DuckDB's string_split.
    */
  def tokens(text: Column): Column = split(text, " ")

  val StopWords: Seq[String] = Seq("the", "a", "of", "and", "is", "to", "in")

  /** Marker words per language for the n-gram-free language-ID heuristic.
    * Deterministic scoring: count marker hits per language, argmax with a
    * fixed tie order (en > de > es > fr > zh).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "of", "and"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "es" -> Seq("el", "la", "los", "es", "y"),
    "fr" -> Seq("le", "les", "et", "est", "du"),
    "zh" -> Seq("de5", "shi4", "le5"))

  /** Quality stats via one codegen'd [[graft.functions.TokenStats]] pass
    * (the declarative four-HOF chain is CodegenFallback in Spark 4 —
    * interpreted per row; kept as [[qualityScoreDeclarative]] for the
    * kernel-equivalence guard).
    */
  private def withQualityCols(d: DataFrame): DataFrame = {
    val st = graft.functions.functions.token_stats(col("text"))
    d.withColumn("__st", st)
      .select(
        (d.columns.filter(_ != "text").map(col).toSeq ++ Seq(
          col("__st.n_chars").as("n_chars"),
          col("__st.n_tokens").as("n_tokens"),
          col("__st.n_types").as("n_types"),
          col("__st.n_stopwords").as("n_stopwords"))): _*)
      .withColumn("stopword_ratio",
        col("n_stopwords").cast("double") / col("n_tokens").cast("double"))
      .withColumn("avg_token_len",
        (col("n_chars") - (col("n_tokens") - lit(1))).cast("double") /
          col("n_tokens").cast("double"))
      .withColumn("is_quality",
        (col("n_tokens") >= 10) && (col("n_tokens") <= 1000) &&
        (col("stopword_ratio") < lit(0.5)) && (col("avg_token_len") < lit(12.0)))
  }

  /** doc_id, n_chars, n_tokens, n_types, n_stopwords, stopword_ratio,
    * avg_token_len, is_quality — the quality-scoring op.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    withQualityCols(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  /** Reference formulation with built-in higher-order functions — slower
    * (interpreted) but independently derived; the guard test pins kernel
    * ≡ declarative on the real corpus.
    */
  private[graft] def qualityScoreDeclarative(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("bigint")
    val nStop = size(filter(toks, t => t.isInCollection(StopWords))).cast("bigint")
    // single-space separated => token chars = n_chars - (n_tokens - 1)
    val tokChars = length(col("text")).cast("bigint") - (nTok - lit(1))
    val stopRatio = nStop.cast("double") / nTok.cast("double")
    val avgTokLen = tokChars.cast("double") / nTok.cast("double")
    d.select(
        col("doc_id"),
        length(col("text")).cast("bigint").as("n_chars"),
        nTok.as("n_tokens"),
        size(array_distinct(toks)).cast("bigint").as("n_types"),
        nStop.as("n_stopwords"),
        stopRatio.as("stopword_ratio"),
        avgTokLen.as("avg_token_len"))
      .withColumn("is_quality",
        (col("n_tokens") >= 10) && (col("n_tokens") <= 1000) &&
        (col("stopword_ratio") < lit(0.5)) && (col("avg_token_len") < lit(12.0)))
  }

  /** Gopher-style quality-rule gate (Rae et al. 2021 §A1.1, adapted to
    * the corpus scale): per document, each rule as an exact 0/1 integer
    * plus the conjunction — the form a curation pipeline materializes
    * so every drop is attributable to a rule, and the oracle-safe form
    * (no ratios; every threshold is cross-multiplied into int64
    * arithmetic per FIXTURES.md §3):
    *
    *  - r_word_count:    20 ≤ words ≤ 100000 (Gopher's 50 floor scaled
    *                     to the 10-100-word synthetic docs)
    *  - r_mean_word_len: 3 ≤ mean word length ≤ 10, as
    *                     3·words ≤ non-space chars ≤ 10·words
    *  - r_alpha_words:   ≥ 80% of words contain an ASCII letter
    *                     (5·alpha_words ≥ 4·words; [A-Za-z] matches
    *                     identically in Java and RE2)
    *  - r_stopwords:     ≥ 2 distinct stop words present
    *
    * Engine-neutral by construction: whitespace split, ASCII letter
    * class, per-stopword array membership — no lower(), no division,
    * no engine-specific regex.
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherRulesOf(Tables.documents(spark, dir, wide = true))

  /** The four Gopher document-rule bit columns over a `text` column —
    * shared by [[gopherRulesOf]] and the rule-matrix capstone
    * ([[Curation.ruleMatrix]]).
    */
  private[graft] def gopherBitCols: Seq[(String, Column)] = {
    val words = split(col("text"), " ")
    val nWords = size(words).cast("bigint")
    val nonSpace = length(regexp_replace(col("text"), " ", "")).cast("bigint")
    val alphaWords = size(filter(words, w => w.rlike("[A-Za-z]"))).cast("bigint")
    val nStops = StopWords.map(sw => array_contains(words, sw).cast("bigint"))
      .reduce(_ + _)
    Seq(
      "r_word_count" -> (nWords >= 20 && nWords <= 100000).cast("bigint"),
      "r_mean_word_len" -> (nonSpace >= nWords * 3 && nonSpace <= nWords * 10).cast("bigint"),
      "r_alpha_words" -> (alphaWords * 5 >= nWords * 4).cast("bigint"),
      "r_stopwords" -> (nStops >= 2).cast("bigint"))
  }

  private[graft] def gopherRulesOf(d: DataFrame): DataFrame = {
    val bits = gopherBitCols
    d.select(col("doc_id") +: bits.map { case (n, c) => c.as(n) }: _*)
      .withColumn("passes", bits.map(_._1).map(col).reduce(_ * _))
  }

  /** Gopher REPETITION rules (Rae et al. 2021, Table A1 — the half of
    * the Gopher gate [[gopherRules]] doesn't cover): per doc, the
    * character coverage of the most-covering word n-gram for n = 2..4
    * and of all duplicated n-grams for n = 5..10, each thresholded as a
    * fraction of the doc's code-point length (top2 ≤ 20% … dup10 ≤ 10%,
    * the paper's ladder). One codegen'd [[graft.functions.RepStats]]
    * pass per row — zero joins, zero shuffles, all integers: rule bits
    * compare `numerator·100` against `den·pct` so no division ever
    * happens (oracle hash-exact by construction).
    *
    * Scale: per-row kernel over a linear scan; per-row state is the
    * doc's own n-gram table. A 100-TB corpus maps embarrassingly — the
    * repetition gate composes with the quality gate as one more
    * AND-able column, no extra pass over the data.
    */
  def repetitionRules(spark: SparkSession, dir: String): DataFrame =
    repetitionRulesOf(Tables.documents(spark, dir, wide = true))

  private[graft] val RepetitionPct: Seq[(String, Int)] = Seq(
    "top2" -> 20, "top3" -> 18, "top4" -> 16, "dup5" -> 15, "dup6" -> 14,
    "dup7" -> 13, "dup8" -> 12, "dup9" -> 11, "dup10" -> 10)

  private[graft] def repetitionRulesOf(d: DataFrame): DataFrame = {
    val r = d
      .select(col("doc_id"), graft.functions.functions.rep_stats(col("text")).as("__r"))
      .select(col("doc_id") +: col("__r.den").as("den") +:
        RepetitionPct.map { case (f, _) => col(s"__r.$f").as(s"${f}_chars") }: _*)
    val fails = RepetitionPct.map { case (f, p) =>
      (col(s"${f}_chars") * 100 > col("den") * p).cast("bigint") }
    r.withColumn("n_fail", fails.reduce(_ + _))
      .withColumn("passes", (col("n_fail") === 0).cast("bigint"))
  }

  /** Language-ID heuristic: marker-word voting with fixed argmax order,
    * one codegen'd [[graft.functions.LangScores]] pass per row.
    * (The corpus `lang` labels are synthetic and uncorrelated with the
    * text, so this op is graded on deterministic plumbing, not accuracy.)
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val scored = d.select(col("doc_id"), col("lang"),
      graft.functions.functions.lang_scores(col("text")).as("__ls"))
    val Seq(en, de, es, fr, zh) =
      LangMarkers.map { case (l, _) => col(s"__ls.s_$l") }
    scored.select(
      col("doc_id"), col("lang").as("labeled_lang"),
      when(en >= greatest(de, es, fr, zh), "en")
        .when(de >= greatest(es, fr, zh), "de")
        .when(es >= greatest(fr, zh), "es")
        .when(fr >= zh, "fr")
        .otherwise("zh").as("predicted_lang"),
      en.as("s_en"), de.as("s_de"), es.as("s_es"), fr.as("s_fr"), zh.as("s_zh"))
  }

  /** Declarative five-HOF-pass variant, kept for the equivalence guard. */
  private[graft] def langIdDeclarative(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val toks = tokens(col("text"))
    val scored = LangMarkers.foldLeft(d.select(col("doc_id"), col("lang"), toks.as("toks"))) {
      case (df, (lang, markers)) =>
        df.withColumn(s"s_$lang",
          size(filter(col("toks"), t => t.isInCollection(markers))).cast("bigint"))
    }
    val Seq(en, de, es, fr, zh) = LangMarkers.map { case (l, _) => col(s"s_$l") }
    scored.select(
      col("doc_id"), col("lang").as("labeled_lang"),
      when(en >= greatest(de, es, fr, zh), "en")
        .when(de >= greatest(es, fr, zh), "de")
        .when(es >= greatest(fr, zh), "es")
        .when(fr >= zh, "fr")
        .otherwise("zh").as("predicted_lang"),
      en.as("s_en"), de.as("s_de"), es.as("s_es"), fr.as("s_fr"), zh.as("s_zh"))
  }

  /** BPE-ish token counting: words, numbers, and single non-space symbols
    * as separate tokens (the classic pre-tokenizer regex).
    */
  /** Engine-neutral ASCII case fold: translate A-Z to a-z, leave every
    * other codepoint untouched. `lower()` is NOT portable across
    * engines on Unicode (Spark's full case mapping vs DuckDB's
    * utf8proc diverge on U+0130/final sigma/etc. — surfaced by the
    * round-8 second-seed fuzz); the lanes that want full Unicode
    * canonicalization use [[graft.functions.Expressions.NfcCasefold]]
    * (`dedup_exact_unicode`), everything else folds ASCII case only,
    * identically in both engines by construction.
    */
  private[operators] def asciiLower(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    translate(c, ('A' to 'Z').mkString, ('a' to 'z').mkString)

  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("bigint").as("n_ws_tokens"),
      size(regexp_extract_all(asciiLower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
        .cast("bigint").as("n_bpe_tokens"))

  /** Winnowing fingerprints (MOSS): per-doc distinct window-min k-gram
    * hashes — the classic local-similarity fingerprint whose guarantee is
    * that any shared run of ≥ w+k-1 tokens yields a shared fingerprint.
    * Single codegen'd pass per row ([[graft.functions.WinnowFingerprints]]),
    * exploded to (doc_id, fp) rows — the shape a fingerprint inverted
    * index is built from at scale.
    */
  def winnowFingerprints(spark: SparkSession, dir: String,
                         k: Int = 3, w: Int = 4): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      explode(graft.functions.functions.winnow_fingerprints(col("text"), k, w)).as("fp"))

  /** Deterministic content-addressed dataset split (train 90 / valid 5 /
    * test 5): bucket = 60-bit md5 prefix of the TEXT mod 100, so the
    * assignment is stable under re-ingestion, re-partitioning, and id
    * reassignment — and byte-identical duplicates land in the SAME split
    * by construction (exact-dup leakage across splits is impossible;
    * near-dup leakage is what `trainTestContamination` hunts).
    */
  def splitAssign(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), splitCol.as("split"))

  /** The content-addressed split rule as a column — the single source of
    * truth [[splitAssign]] and [[decontaminate]] share (md5 bucket:
    * <90 train, <95 valid, else test).
    */
  private[graft] def splitCol: Column = {
    val bucket = pmod(
      conv(substring(md5(col("text")), 1, 15), 16, 10).cast("bigint"), lit(100))
    when(bucket < 90, "train").when(bucket < 95, "valid").otherwise("test")
  }

  /** Split sizes per language — the sanity dashboard for `splitAssign`. */
  def datasetSplit(spark: SparkSession, dir: String): DataFrame =
    splitAssign(Tables.documents(spark, dir))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("split"))

  /** BPE-style adjacent character-pair counts over corpus tokens — the
    * first merge-candidate table a byte-pair-encoding tokenizer trainer
    * computes (frequency-weighted: every token occurrence contributes
    * its pairs, as BPE requires). Top `k` by (count desc, pair).
    *
    * Scale: pure per-row expression work (split → pair transform →
    * explode) into one hash aggregation on a bounded key space
    * (|alphabet|² pairs), then a constant-k heap. Iterating the actual
    * BPE merge loop would re-run this table per merge with the learned
    * symbol pairs substituted — each iteration is this same one-shuffle
    * shape.
    */
  def bpePairs(spark: SparkSession, dir: String, k: Int = 50): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(term) - 1), i -> substring(term, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)

  /** Deterministic stratified sampling: within each (lang, source)
    * stratum keep the docs whose content-addressed hash bucket falls
    * under `pct` — the downsampling step a data-mixture pipeline runs
    * per provenance stratum. Emits per-stratum totals, sampled counts,
    * and an exact id-sum checksum of the sampled set, so the gate pins
    * WHICH docs were sampled, not just how many.
    *
    * Scale: the sample decision is a per-row hash (no shuffle); the only
    * exchange is the final stratum aggregation over constant-cardinality
    * keys. Same-hash-same-fate means the sample is stable under
    * repartitioning, retries, and incremental reruns — the property that
    * matters when the sample seeds a training mix.
    */
  def stratifiedSample(spark: SparkSession, dir: String, pct: Int = 25): DataFrame = {
    val bucket = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10).cast("bigint"),
      lit(100))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        (bucket < pct).cast("long").as("sampled"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_total"),
           sum(col("sampled")).as("n_sampled"),
           sum(col("doc_id") * col("sampled")).as("sampled_id_sum"))
      .orderBy(col("lang"), col("source"))
  }

  /** TEMPERATURE-weighted mixture sampling — the domain-reweighting
    * pass of LLM data prep (UNIMAX/DoReMi shape): each source's target
    * share ∝ n^(1/2) (temperature-flattened vs proportional), realized
    * as a deterministic per-source md5-hash cutoff, so small domains
    * are up-weighted and giant domains down-weighted without any RNG
    * state.
    *
    * Oracle-exact float discipline: the per-source weight is
    * floor(sqrt(n)·10^6) in INT64 (sqrt and the multiply are
    * correctly-rounded IEEE ops — identical in any engine; the floor
    * makes Z an integer sum, which is partition-order independent where
    * a double sum is not). rate = min(1, target·w/Z) and the 2^60
    * cutoff then use only exact-input correctly-rounded double ops, so
    * the sampled set is bit-identical in DuckDB.
    *
    * Scale: two hash-aggs (source cardinality is tiny → the weights
    * broadcast); the doc pass is one scan with a per-row hash compare.
    */
  def temperatureSample(spark: SparkSession, dir: String,
                        totalTarget: Long = 200L): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val weights = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      // weight by TOKEN VOLUME, not doc count — the quantity a mixture
      // actually balances (and the axis along which sources differ)
      .withColumn("w", floor(sqrt(col("chars")) * lit(1e6)).cast("bigint"))
    val withCut = weights
      .crossJoin(broadcast(weights.agg(sum(col("w")).as("z"))))
      .withColumn("rate", least(lit(1.0),
        lit(totalTarget.toDouble) * col("w") / col("z") / col("n_docs")))
      .withColumn("cut",
        floor(col("rate") * lit(1152921504606846976.0)).cast("bigint")) // 2^60
    val u = conv(substring(md5(concat(lit("mix|"), col("doc_id").cast("string"))),
      1, 15), 16, 10).cast("bigint")
    d.select(col("doc_id"), col("source"))
      .join(broadcast(withCut.select(col("source"), col("n_docs"), col("cut"))),
        Seq("source"))
      .withColumn("sampled", (u < col("cut")).cast("long"))
      .groupBy(col("source"), col("n_docs"))
      .agg(sum(col("sampled")).as("n_sampled"),
           sum(col("doc_id") * col("sampled")).as("sampled_id_sum"))
      .orderBy(col("source"))
  }

  /** Per-source QUOTA cap — the per-domain document cap of web-corpus
    * curation (RefinedWeb/C4 cap URLs per domain so no single site
    * dominates the mix): each source keeps at most `cap` docs, chosen
    * by content-addressed md5 priority (smallest hash wins, doc_id
    * tie-break), so the kept set is deterministic, stable under
    * repartitioning, and stable under corpus GROWTH in expectation
    * (a doc's priority never changes; new docs displace the current
    * worst only if they hash lower).
    *
    * Scale: executed as the k-bounded heap aggregation
    * ([[Dedup.topKPerKey]]) — at most `cap` rows per source leave each
    * map split; no window sort ever touches the corpus. Emits the kept
    * (source, doc_id, rk) rows; rk is the 1-based priority rank.
    */
  def quotaSample(spark: SparkSession, dir: String, cap: Int = 15): DataFrame = {
    val pri = Tables.documents(spark, dir).select(col("source"), col("doc_id"),
      h60(concat(lit("quota|"), col("doc_id").cast("string"))).as("h"))
    Dedup.topKPerKey(pri, Seq("source"), Seq(col("h"), col("doc_id")), cap)
      .select(col("source"), col("doc_id"), col("rk"))
  }

  /** PRIORITY SAMPLING (`q_sample_priority` — Duffield/Lund/Thorup
    * 2007, the weighted twin of [[quotaSample]]'s uniform hash cap):
    * per source, the top-k docs by priority `q_i = w_i / u_i` — the
    * scheme whose k-sample supports UNBIASED subset-sum estimation,
    * and the right way to spend a token budget ∝ document weight
    * (here w = whitespace token count + 1, the sample-long-docs-more
    * framing; any integer quality weight slots in unchanged).
    *
    * Determinism discipline: u_i derives from the engine-neutral md5
    * hash ([[h60]]), so the priority is ONE IEEE binary64 division of
    * exact integer operands — both engines convert the same int64 pair
    * and divide once, bit-identical (the DSIR centered-ratio lesson:
    * a single shared-shape float op is hash-safe; chains and
    * transcendentals are not). Ties (astronomically unlikely) break by
    * doc_id in both engines, and only integers are EMITTED — the float
    * priority never crosses the gate.
    *
    * Scale: one scan, one k-bounded heap per source ([[Dedup.topKPerKey]]
    * map-side combine) — no global sort, nothing driver-resident; this
    * is the one-pass reservoir shape (priority sampling IS the
    * mergeable weighted reservoir: union the heaps, keep the top k).
    */
  def prioritySample(spark: SparkSession, dir: String, k: Int = 15): DataFrame = {
    val pri = Tables.documents(spark, dir).select(col("source"), col("doc_id"),
      (size(split(col("text"), " ", -1)) + 1).cast("long").as("n_tokens"),
      h60(concat(lit("prio|"), col("doc_id").cast("string"))).as("h"))
      .withColumn("pri",
        col("n_tokens").cast("double") / (col("h") + 1L).cast("double"))
    Dedup.topKPerKey(pri, Seq("source"), Seq(-col("pri"), col("doc_id")), k)
      .select(col("source"), col("doc_id"), col("n_tokens"), col("rk"))
  }

  /** DSIR-shaped data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): rank raw docs by how
    * target-like their hashed n-gram feature distribution is, where
    * the target is a trusted slice (here lang='en') and features are
    * hashed word BIGRAMS with multiplicity
    * ([[graft.functions.ExpressionKernels.dsirBuckets]], `b` buckets).
    *
    * Exactness discipline (this engine's log-free variant): DSIR's
    * per-feature log-likelihood ratio is replaced by the CENTERED
    * quantized probability ratio
    * `floor(1e6·((n_t+1)/(T+b)) / ((n_r+1)/(R+b))) − 1e6` (Laplace
    * smoothing; ratio−1 ≈ ln ratio near 1, negative for anti-target
    * features exactly as the log weight is) — two IEEE divisions and a
    * multiply of exact integer operands in an identical left-to-right
    * shape in the oracle, so the int64 weight is bit-identical with no
    * transcendental in sight. The doc score is the int64 weight sum
    * NORMALIZED per bigram (one final floor-div) to kill pure length
    * bias. Measured discrimination at sf0.01: 45 of the top 50 are
    * target-language docs vs a 44% base rate.
    *
    * Scale: one kernel scan + one hash-agg build the b-row bucket
    * weight table (b is a constant → broadcast); per-doc counts are a
    * second hash-agg; ranking is the k-bounded heap — no global sort,
    * nothing corpus-sized on the driver, and the weight table would be
    * trained ONCE on a sample then reused per batch at 100 TB.
    */
  def dsirTopK(spark: SparkSession, dir: String, buckets: Int = 1024,
               k: Int = 50): DataFrame =
    Dedup.topKPerKey(
        dsirScores(spark, dir, buckets).withColumn("neg", -col("dsir_score")),
        Seq.empty, Seq(col("neg"), col("doc_id")), k)
      .select(col("doc_id"), col("dsir_score"))

  /** Per-doc DSIR scores (doc_id, dsir_score): the staged feature frame
    * joined to the broadcast weight table; docs with no bigram features
    * carry no score (inner join), mirroring the oracle CTE.
    */
  private[graft] def dsirScores(spark: SparkSession, dir: String,
                                buckets: Int = 1024): DataFrame =
    dsirFeatStage(spark, dir, buckets)
      .join(broadcast(dsirWeightFrame(spark, dir, buckets)), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt") * col("wt")).as("s"), sum(col("cnt")).as("nb"))
      .withColumn("dsir_score",
        floor(col("s").cast("double") / col("nb")).cast("bigint"))
      .select(col("doc_id"), col("dsir_score"))

  /** Bench build seam for the DSIR lane: materialize the staged hashed
    * feature frame (the ingest artifact a selection pipeline would
    * persist once and score many batches against).
    */
  def ensureDsirStages(spark: SparkSession, dir: String, buckets: Int = 1024): Unit =
    dsirFeatStage(spark, dir, buckets).count()

  /** The trained bucket-weight table (b, wt): centered quantized
    * probability ratios over the staged feature frame — one kernel scan
    * + one hash-agg feeding a ≤`buckets`-row result.
    */
  private def dsirWeightFrame(spark: SparkSession, dir: String, buckets: Int): DataFrame = {
    val feat = dsirFeatStage(spark, dir, buckets)
    val counts = feat.groupBy(col("b"))
      .agg(sum(col("cnt")).as("n_r"),
           sum(when(col("lang") === "en", col("cnt")).otherwise(0L)).as("n_t"))
    val tots = counts.agg(sum(col("n_r")).as("tot_r"), sum(col("n_t")).as("tot_t"))
    counts.crossJoin(broadcast(tots))
      .withColumn("wt",
        (floor(lit(1e6) * ((col("n_t") + lit(1L)).cast("double") / (col("tot_t") + lit(buckets.toLong)))
                        / ((col("n_r") + lit(1L)).cast("double") / (col("tot_r") + lit(buckets.toLong))))
          .cast("bigint") - lit(1000000L)))
      .select(col("b"), col("wt"))
  }

  /** The weight table EXPORTED as a dense int64 vector (index = bucket)
    * — the serving artifact [[graft.functions.ExpressionKernels.dsirScore]]
    * takes as a broadcast plan literal, so arriving docs score in one
    * stateless codegen'd pass (zero joins, zero streaming state).
    * Buckets absent from the training corpus get the both-sides-Laplace
    * weight (n_t = n_r = 0), the same formula evaluated at zero. The
    * collect is `buckets`-bounded — a training artifact, not data.
    */
  def dsirWeightsVector(spark: SparkSession, dir: String,
                        buckets: Int = 1024): Array[Long] = {
    val trained = dsirWeightFrame(spark, dir, buckets).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val totsRow = dsirFeatStage(spark, dir, buckets)
      .agg(sum(col("cnt")).as("tot_r"),
           sum(when(col("lang") === "en", col("cnt")).otherwise(0L)).as("tot_t"))
      .collect().head
    val (totR, totT) = (totsRow.getLong(0), totsRow.getLong(1))
    val absent =
      (math.floor(1e6 * (1.0 / (totT + buckets)) / (1.0 / (totR + buckets))))
        .toLong - 1000000L
    Array.tabulate(buckets)(b => trained.getOrElse(b, absent))
  }

  /** Staged DSIR feature frame: (doc_id, lang, bucket, cnt), one kernel
    * scan + one hash-agg, memoized per (dir, buckets).
    */
  private def dsirFeatStage(spark: SparkSession, dir: String, buckets: Int): DataFrame =
    StageMemo.memoized(spark, s"dsir_feat_$buckets", dir) {
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"),
          explode(graft.functions.functions.dsir_buckets(col("text"), buckets)).as("b"))
        .groupBy(col("doc_id"), col("lang"), col("b"))
        .agg(count(lit(1)).as("cnt"))
    }

  /** Train→eval contamination: (train doc, eval doc) pairs sharing at
    * least `minShared` winnowing fingerprints — the decontamination step
    * every training pipeline runs against its benchmark/eval sets. The
    * winnowing guarantee makes this principled: any shared token run of
    * ≥ w+k-1 tokens is caught. Fingerprints with document frequency
    * above `dfCap` are dropped (consistently, both sides of the oracle)
    * for the same reason as the Jaccard df cap: a boilerplate sentence
    * shared by thousands of docs is noise, and its d² pair blow-up is a
    * job-killer at scale.
    */
  /** The df-capped winnow fingerprint index — the stage shared by the
    * contamination and span-pair rows (one materialization per
    * (session, dir, cap), not one persisted copy per caller).
    */
  private def liveWinnowIndex(spark: SparkSession, dir: String,
                              dfCap: Int): DataFrame =
    StageMemo.memoized(spark, s"winnow_live_$dfCap", dir) {
      val fps = winnowFingerprints(spark, dir)
      val hot = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .filter(col("df") > dfCap).select(col("fp"))
      fps.join(hot, Seq("fp"), "left_anti")
    }

  /** Materialize the df-capped winnow index (the ingest half of the
    * span-pair and contamination rows) — bench build/probe seam; see
    * [[MinHash.ensureNearDupStages]] for the rationale.
    */
  def ensureWinnowIndex(spark: SparkSession, dir: String,
                        dfCap: Int = 128): Unit =
    liveWinnowIndex(spark, dir, dfCap).count()

  /** Corpus-internal LOCAL near-dup detection: pairs of docs sharing at
    * least `minShared` winnow fingerprints — the plagiarism/shared-span
    * detector. Winnowing guarantees any shared token run of ≥ w+k-1
    * tokens yields a shared fingerprint, so this finds docs with long
    * common passages even when their overall Jaccard is tiny — the
    * sublinear cousin of [[MinHash.ngramContainmentPairs]] (fingerprints
    * are a selected subset of shingles, so the inverted index is a
    * fraction of the shingle index's size).
    *
    * Scale: same df-capped inverted-index self-join shape as the ngram
    * rows — the cap bounds the join at Σ min(df, cap)², and the
    * fingerprint universe is already winnow-thinned.
    */
  def winnowSpanPairs(spark: SparkSession, dir: String,
                      minShared: Int = 3, dfCap: Int = 128): DataFrame = {
    val live = liveWinnowIndex(spark, dir, dfCap)
    live.select(col("doc_id").as("doc_a"), col("fp"))
      .join(live.select(col("doc_id").as("doc_b"), col("fp")), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def trainTestContamination(spark: SparkSession, dir: String,
                             minShared: Int = 2, dfCap: Int = 128): DataFrame = {
    val live = liveWinnowIndex(spark, dir, dfCap)
    val splits = splitAssign(Tables.documents(spark, dir)).select(col("doc_id"), col("split"))
    val train = live.join(splits.filter(col("split") === "train"), Seq("doc_id"))
      .select(col("doc_id").as("train_doc"), col("fp"))
    val eval = live.join(splits.filter(col("split") =!= "train"), Seq("doc_id"))
      .select(col("doc_id").as("eval_doc"), col("fp"))
    train.join(eval, Seq("fp"))
      .groupBy(col("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("train_doc"), col("eval_doc"))
  }

  /** GPT-3-style exact 13-gram DECONTAMINATION (Brown et al. 2020
    * Appendix C — the published recipe PaLM / Llama reuse): a training
    * document is contaminated when any of its word 13-grams appears in
    * the held-out (valid ∪ test) split. Where [[trainTestContamination]]
    * surfaces fuzzy train↔eval PAIRS through winnow fingerprints, this
    * is the exact-membership doc-level drop filter: per contaminated
    * train doc, its total distinct 13-gram count and how many of them
    * are dirty — the evidence a curation run logs before dropping.
    *
    * Scale shape: ONE corpus gram explode (distinct per doc via the
    * [[graft.functions.Expressions.WordShingles]] kernel), staged
    * because three branches consume it; the eval side reduces to its
    * DISTINCT gram set before the join, so the join is linear in train
    * gram occurrences (each meets ≤1 eval-set row) — never
    * train-docs × eval-docs. Grams ship as md5 keys (32 bytes however
    * long the gram), the same discipline as the sentence-dedup lane;
    * the oracle joins on the identical md5, so both engines agree by
    * construction. Docs shorter than 13 tokens have no grams and
    * cannot be flagged — exactly the published semantics.
    */
  def decontaminate(spark: SparkSession, dir: String, n: Int = 13): DataFrame =
    deconFlags(
      deconGrams(spark, dir, n).filter(col("split") === "train")
        .select(col("doc_id"), col("gh")),
      loadDeconEvalGrams(spark, dir, n))

  /** [[decontaminate]] over an explicit (doc_id, split, text) frame —
    * the spec seam (splits injectable; the content-addressed rule
    * itself is pinned by the `q_dataset_split` oracle row).
    */
  private[graft] def decontaminateOf(docs: DataFrame, n: Int = 13): DataFrame =
    deconFrom(docs.select(col("doc_id"), col("split"),
      explode(graft.functions.functions.word_shingles(col("text"), n)).as("g"))
      .select(col("doc_id"), col("split"), md5(col("g")).as("gh")))

  private def deconFrom(g: DataFrame): DataFrame =
    deconFlags(
      g.filter(col("split") === "train").select(col("doc_id"), col("gh")),
      g.filter(col("split") =!= "train").select(col("gh")).distinct())

  /** The flag tail shared with the streaming twin: train-side
    * (doc_id, gh) occurrences against the reduced eval gram SET.
    */
  private[graft] def deconFlags(train: DataFrame, evalGrams: DataFrame): DataFrame = {
    val dirty = train.join(evalGrams, Seq("gh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dirty"))
    val tot = train.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    dirty.join(tot, Seq("doc_id"))
      .select(col("doc_id"), col("n_grams"), col("n_dirty"))
      .orderBy(col("doc_id"))
  }

  /** Distinct (doc_id, md5-gram) rows of a (doc_id, text) frame — the
    * per-row half both decontamination faces share.
    */
  private[graft] def gramsetOf(docs: DataFrame, n: Int = 13): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.functions.word_shingles(col("text"), n)).as("g"))
      .select(col("doc_id"), md5(col("g")).as("gh"))

  /** Decontamination SPAN CUT — the surgical variant of
    * [[decontaminate]] (GPT-3's Appendix C actually REMOVES the
    * colliding windows rather than dropping documents): every train-doc
    * token position covered by a 13-gram that appears in the held-out
    * splits is cut from the text itself, and the clean remainder ships.
    * Per train doc: token total, dirty-position count, scrubbed text —
    * the [[spanCut]] contract pointed at eval-set membership instead of
    * corpus-internal repetition.
    *
    * Scale: the positional train gram frame is one explode (staged);
    * the eval side rides the SAME session-staged [[deconGrams]] frame
    * the flag lane consumes (one eval explode for both faces), reduced
    * to its distinct set — the coverage join is linear in train gram
    * occurrences. Reassembly is [[spanCut]]'s per-doc hash-agg.
    */
  def decontaminateCut(spark: SparkSession, dir: String, n: Int = 13): DataFrame =
    deconCutTailFrom(trainTokenized(spark, dir), deconCutCovered(spark, dir, n))

  /** The staged COVERED-POSITION set (doc_id, pos) — like the eval gram
    * set it derives from, this is an ingest artifact: the eval side
    * only changes when the benchmark suite does, so a production
    * pipeline materializes the dirty positions once per eval release
    * (the [[spanCut]] family's accounting — its covered frame is staged
    * the same way). The probe is then reassembly only.
    */
  private[graft] def deconCutCovered(spark: SparkSession, dir: String,
                                     n: Int = 13): DataFrame =
    StageMemo.memoized(spark, s"deconcut_covered_$n", dir) {
      spark.read.parquet(ensureDeconStores(spark, dir, n)._2)
    }

  /** The covered-position computation itself (one train gram explode
    * joined to the eval set) — the build half of the persisted store,
    * and the value the store must equal (DeconStoreSpec pins parity).
    */
  private[graft] def deconCutCoveredCompute(spark: SparkSession, dir: String,
                                            n: Int = 13): DataFrame = {
    val tgrams = positionalGrams(trainTokenized(spark, dir), n)
    val evalSet = deconGrams(spark, dir, n)
      .filter(col("split") =!= "train").select(col("gh")).distinct()
    tgrams.join(evalSet, Seq("gh"))
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + (n - 1))).as("pos"))
      .distinct()
  }

  /** PERSISTED DECONTAMINATION ARTIFACTS — the durable face of the
    * session-staged eval gram set and covered-position frame: real
    * pipelines materialize both ONCE per eval-set release (GPT-3
    * Appendix C scrubs against a fixed benchmark suite), then every
    * later job — a fresh JVM, a streaming ingest — loads the small
    * store instead of re-paying the corpus gram explode. Two warehouse
    * parquet tables (the eval splits' distinct md5 grams; the train
    * docs' covered token positions), each a
    * [[graft.sources.Artifacts.corpusStore]]. Returns
    * (evalGramsPath, coveredPath).
    */
  def ensureDeconStores(spark: SparkSession, dir: String,
                        n: Int = 13): (String, String) = {
    import graft.sources.{Artifacts, FsPaths}
    val corpus = s"$dir/documents.parquet"
    val evalPath = FsPaths.warehouseTablePath(spark,
      s"graft_decon_evalgrams_${n}_" + Search.dirHash(dir))
    val covPath = FsPaths.warehouseTablePath(spark,
      s"graft_decon_covered_${n}_" + Search.dirHash(dir))
    Artifacts.corpusStore(spark, evalPath, corpus) { tmp =>
      deconGrams(spark, dir, n).filter(col("split") =!= "train")
        .select(col("gh")).distinct()
        .write.mode("overwrite").parquet(tmp.toString)
    }
    Artifacts.corpusStore(spark, covPath, corpus) { tmp =>
      deconCutCoveredCompute(spark, dir, n)
        .write.mode("overwrite").parquet(tmp.toString)
    }
    (evalPath.toString, covPath.toString)
  }

  /** The persisted eval gram set as a frame — the static side a fresh
    * JVM or a streaming ingest flags against without any corpus pass.
    */
  def loadDeconEvalGrams(spark: SparkSession, dir: String,
                         n: Int = 13): DataFrame =
    spark.read.parquet(ensureDeconStores(spark, dir, n)._1)

  private def trainTokenized(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(splitCol === "train")
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("nn", size(col("t")))

  /** [[decontaminateCut]] over an explicit (doc_id, split, text) frame —
    * the spec seam (unstaged).
    */
  private[graft] def decontaminateCutOf(docs: DataFrame, n: Int = 13): DataFrame =
    decontaminateCutBatch(
      docs.filter(col("split") === "train").select(col("doc_id"), col("text")),
      gramsetOf(docs.filter(col("split") =!= "train")
        .select(col("doc_id"), col("text")), n).select(col("gh")).distinct(), n)

  /** The cut pipeline over an explicit all-train (doc_id, text) frame
    * and a prepared eval gram SET — the unit the streaming twin runs
    * per micro-batch.
    */
  private[graft] def decontaminateCutBatch(docs: DataFrame, evalSet: DataFrame,
                                           n: Int = 13): DataFrame = {
    val base = docs.select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("nn", size(col("t")))
    val covered = positionalGrams(base, n).join(evalSet, Seq("gh"))
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + (n - 1))).as("pos"))
      .distinct()
    deconCutTailFrom(base, covered)
  }

  /** Positional (doc_id, i, gh) word n-grams of a tokenized frame —
    * md5 keys identical to [[gramsetOf]]'s (same gram strings).
    */
  private def positionalGrams(base: DataFrame, n: Int): DataFrame =
    base.filter(col("nn") >= n)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), col("nn") - (n - 1))).as("i"))
      .select(col("doc_id"), col("i"),
        md5(array_join(slice(col("t"), col("i"), lit(n)), " ")).as("gh"))

  private def deconCutTailFrom(trainBase: DataFrame, covered: DataFrame): DataFrame = {
    val toks = trainBase
      .select(col("doc_id"), posexplode(col("t")).as(Seq("i0", "tok")))
      .select(col("doc_id"), (col("i0") + 1).as("pos"), col("tok"))
    val cov = covered.groupBy(col("doc_id")).agg(count(lit(1)).as("n_dirty"))
    val cut = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
        x => x.getField("tok")), " ").as("clean_text"))
    val tot = trainBase.select(col("doc_id"), col("nn").cast("long").as("n_tokens"))
    tot.join(cov, Seq("doc_id"), "left").join(cut, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dirty"), lit(0L)).as("n_dirty"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** The staged (doc_id, split, md5-gram) frame [[decontaminate]]'s
    * three branches consume — the one corpus-sized pass, memoized per
    * (session, dir, n) and warmed by the bench build seam.
    */
  private[graft] def deconGrams(spark: SparkSession, dir: String,
                                n: Int = 13): DataFrame =
    StageMemo.memoized(spark, s"decon_grams_$n", dir) {
      Tables.documents(spark, dir).select(
        col("doc_id"), splitCol.as("split"),
        explode(graft.functions.functions.word_shingles(col("text"), n)).as("g"))
        .select(col("doc_id"), col("split"), md5(col("g")).as("gh"))
    }

  /** Document fingerprinting: md5 content hash plus a 60-bit numeric
    * fingerprint (md5-prefix) usable as a join/partition key at scale.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      md5(col("text")).as("fp_md5"),
      conv(substring(md5(col("text")), 1, 15), 16, 10).cast("bigint").as("fp_60bit"))

  /** Exact dedup over normalized text: winner = min doc_id per content
    * hash (hash-groupBy with partial combine; one shuffle on the hash).
    */
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("fp", md5(asciiLower(trim(col("text")))))
    d.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("fp"), col("n_copies"))
  }

  /** [[exactDedup]] with a Unicode canonicalization pre-pass: NFC
    * normalization + root-locale casefold before hashing, so composed
    * vs decomposed encodings of the same glyphs (and case variants)
    * land in one class — the first thing a real web-scale pipeline hits
    * that byte-level hashing misses. Same single-shuffle hash-groupBy
    * shape; the normalization is per-row codegen'd expression work.
    */
  def exactDedupUnicode(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).withColumn("fp",
      md5(graft.functions.functions.nfc_casefold(trim(col("text")))))
    d.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("fp"), col("n_copies"))
  }

  /** Char-trigram likelihood score — the perplexity-proxy quality
    * signal: per doc, the count of char trigrams, the sum of their
    * CORPUS frequencies, and the average frequency. Gibberish and
    * encoding garbage are built from rare trigrams (low score); fluent
    * text from common ones — the deterministic stand-in for an LM
    * quality filter (log-prob scoring is the same join with log-count
    * weights, but logs aren't cross-engine exact, so the gate ships the
    * exact-integer formulation).
    *
    * Scale: the trigram count table is alphabet-bounded (≪ corpus), so
    * the frequency join broadcasts; everything else is one explode +
    * two hash-aggs, linear in corpus bytes.
    */
  def charTrigramScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir, wide = true)
    // staged once: the exploded trigram frame feeds BOTH the count
    // build and the scoring join — without the memo each branch would
    // re-scan and re-explode the corpus
    val tri = StageMemo.memoized(spark, "char_trigrams", dir)(
      docs.select(col("doc_id"),
        explode(expr(
          """CASE WHEN char_length(text) >= 3
            |THEN transform(sequence(1, char_length(text) - 2),
            |               i -> substring(text, i, 3))
            |ELSE array() END""".stripMargin)).as("tri")))
    val counts = tri.groupBy(col("tri")).agg(count(lit(1)).as("cf"))
    // the count table is alphabet-bounded (distinct trigrams ≪ corpus
    // rows) but its estimate flows from the explode — pin the broadcast
    tri.join(broadcast(counts), Seq("tri"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tri"),
        sum(col("cf")).as("freq_sum"))
      .select(col("doc_id"), col("n_tri"), col("freq_sum"),
        (col("freq_sum").cast("double") / col("n_tri").cast("double"))
          .as("avg_freq"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-wide n-gram frequency: top 20 word trigrams with counts —
    * inverted-index shape: shingle explode, hash agg, deterministic
    * top-k (count desc, shingle asc).
    */
  def ngramFreq(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    MinHash.shingles(Tables.documents(spark, dir))
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("shingle"))
      .limit(k)

  /** Vocabulary construction (the tokenizer-training precursor): top-k
    * tokens by corpus frequency with dense ids assigned in (count desc,
    * token asc) order — deterministic, so the id assignment is
    * reproducible across runs and engines.
    *
    * Ranking mechanism: the orderBy+limit is a TakeOrderedAndProject
    * (per-partition k-heaps, one k-row sorted merge — no global sort at
    * any corpus size); ids are then a `row_number()` window over the
    * LIMITED k rows, keyed on the same (n desc, token) order. The window
    * re-sorts its own input, so the ids are a pure function of the row
    * VALUES — no dependence on TakeOrderedAndProject's physical
    * partition/order contract (which AQE, `topKSortFallbackThreshold`,
    * or a Spark bump could change). The partition-less window is safe
    * here by construction: its input is the k-row (≤1000) limit result,
    * a single tiny partition — corpus size never reaches it.
    */
  def vocab(spark: SparkSession, dir: String, k: Int = 1000): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("token"))
    Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)
      .withColumn("token_id", row_number().over(w).cast("bigint"))
  }

  /** PII scrub patterns — the C4/CCNet-style regex classes every public
    * pre-training pipeline masks before anything else sees the text.
    * Engine-neutral subset by construction: plain character classes,
    * bounded repetition, `\b`, non-capturing groups — no lookaround, no
    * backreferences (RE2 lacks them), and `\d` is ASCII [0-9] in both
    * Java's default mode and RE2, so Spark and DuckDB match the same
    * spans byte-for-byte.
    */
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiPhoneRe = "\\+?\\d{1,3}[- ]\\d{3}[- ]\\d{4}"
  val PiiIpv4Re  = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"

  /** Per-doc PII accounting + masked text in ONE projection (all
    * regexp_count/regexp_replace calls are codegen'd built-ins inside a
    * single whole-stage span — zero shuffle, linear in corpus bytes):
    * match counts per class on the RAW text, then the masked text with
    * the classes replaced in the fixed order email → phone → IPv4
    * (counts are per-class raw-text facts; masking is sequential, so a
    * span matching two classes — a digits-and-dashes email local part —
    * is masked by the first class only; the oracle mirrors both rules
    * exactly).
    */
  private[graft] def piiScrubOf(docs: DataFrame): DataFrame =
    docs.select(
      (docs.columns.filter(_ != "text").map(col).toSeq ++ Seq(
        regexp_count(col("text"), lit(PiiEmailRe)).cast("bigint").as("n_emails"),
        regexp_count(col("text"), lit(PiiPhoneRe)).cast("bigint").as("n_phones"),
        regexp_count(col("text"), lit(PiiIpv4Re)).cast("bigint").as("n_ipv4"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), PiiEmailRe, "<EMAIL>"),
            PiiPhoneRe, "<PHONE>"),
          PiiIpv4Re, "<IP>").as("masked"))): _*)

  /** Deterministic PII seeding for the gate corpus: the synthetic
    * documents carry no organic emails/phones/IPs, so the oracle row
    * would attest nothing — both engines append the SAME derived PII
    * spans (doc_id-keyed) before scrubbing, making every count column
    * and the masked-text hash non-vacuous.
    */
  private[graft] def piiSeeded(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact u"), col("doc_id").cast("string"), lit("@ex"),
          (col("doc_id") % 7).cast("string"), lit(".org"))).otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
        concat(lit(" ip 10."), (col("doc_id") % 256).cast("string"), lit("."),
          (col("doc_id") % 100).cast("string"), lit(".1"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" call 555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit(""))))

  /** The oracle-gated scrub row: per-doc class counts + masked text
    * over the seeded corpus.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    piiScrubOf(piiSeeded(
      Tables.documents(spark, dir, wide = true).select(col("doc_id"), col("text"))))

  /** The curation-report face of the scrub lane: per-source scrub
    * volume (docs touched, spans per class) — the third drop/transform
    * lane a curation run publishes beside dedup and quality.
    */
  def piiReport(spark: SparkSession, dir: String): DataFrame =
    piiReportAggOf(piiScrubOf(piiSeeded(
      Tables.documents(spark, dir, wide = true).select(col("doc_id"), col("source"), col("text")))))
      .orderBy(col("source"))

  /** The report aggregation over a scrubbed frame, unordered — shared
    * with the streaming twin ([[graft.streaming.StreamingCuration]]),
    * where a sort is not expressible mid-stream.
    */
  private[graft] def piiReportAggOf(scrubbed: DataFrame): DataFrame =
    scrubbed.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_emails") + col("n_phones") + col("n_ipv4") > 0, 1L)
          .otherwise(0L)).as("n_docs_scrubbed"),
        sum(col("n_emails")).as("n_emails"),
        sum(col("n_phones")).as("n_phones"),
        sum(col("n_ipv4")).as("n_ipv4"))

  /** C4 heuristic rules (Raffel et al. 2020 §2.2 — the third public
    * rule-set beside the Gopher document rules [[gopherRules]] and the
    * Gopher repetition ladder [[repetitionRules]]). C4 is LINE-based:
    * per page, keep only lines that end in terminal punctuation, have
    * at least five words, and don't mention javascript; then drop the
    * whole page when fewer than three lines survive, or when the page
    * contains "lorem ipsum", a curly brace, or a blocklisted word.
    * Output per doc: line accounting, one 0/1 bit per document rule,
    * the conjunction, and the kept-line REASSEMBLY (the text C4
    * actually trains on).
    *
    * Engine-neutral by construction: newline split, space split,
    * suffix/substring tests — no regex, no case folding, no division.
    * The HOF line filter is per-row with per-line state only (the
    * doc's own line list) — zero joins, zero shuffles, linear in
    * corpus bytes, embarrassingly parallel at 100 TB.
    */
  def c4Rules(spark: SparkSession, dir: String): DataFrame =
    c4RulesOf(c4Seeded(
      Tables.documents(spark, dir).select(col("doc_id"), col("text"))))

  /** Stand-in blocklist: the real C4 uses the public "List of Dirty,
    * Naughty…" word list; the gate corpus seeds neutral placeholder
    * tokens so the rule's mechanics (any-hit page drop) are attested
    * without shipping the list.
    */
  val C4Blocklist: Seq[String] = Seq("badword1", "badword2")

  /** Deterministic line seeding for the gate corpus: the synthetic
    * documents are single-line token streams with no terminal
    * punctuation, so every C4 rule would be vacuous on them — both
    * engines append the SAME doc_id-keyed line structure (terminal
    * punctuation on a rotating schedule, a kept line, a too-short
    * line, a javascript line, and the three page-killers) before
    * gating, making every bit column and the reassembled-text hash
    * non-vacuous.
    */
  private[graft] def c4Seeded(docs: DataFrame): DataFrame = {
    val id = col("doc_id").cast("string")
    docs.withColumn("text", concat(col("text"),
      when(col("doc_id") % 3 === 0, lit("."))
        .when(col("doc_id") % 3 === 1, lit("!")).otherwise(lit("")),
      when(col("doc_id") % 2 === 0,
        concat(lit("\nreport item "), id, lit(" confirms the metric today.")))
        .otherwise(lit("")),
      when(col("doc_id") % 4 === 0, lit("\nshort line.")).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit("\nenable javascript to view item "), id, lit(" now.")))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0, lit("\nlorem ipsum dolor sit amet text."))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0, lit("\nconfig block { width = 10 } end."))
        .otherwise(lit("")),
      when(col("doc_id") % 13 === 0, lit("\nbadword1 appears in this line here."))
        .otherwise(lit("")),
      // unconditional clean closer: with it, a page with a kept line 1
      // and the %2 report line reaches the 3-kept-line floor without
      // needing any page-killer line — so `passes` = 1 genuinely occurs
      lit("\nevery page carries this closing line.")))
  }

  private[graft] def c4RulesOf(d: DataFrame): DataFrame = {
    val lines = split(col("text"), "\n")
    val kept = filter(lines, l =>
      (l.endsWith(".") || l.endsWith("!") || l.endsWith("?")) &&
        size(split(l, " ")) >= 5 && !l.contains("javascript"))
    val bits = Seq(
      "r_min_lines" -> (size(kept) >= 3).cast("bigint"),
      "r_no_lorem" -> (!col("text").contains("lorem ipsum")).cast("bigint"),
      "r_no_brace" -> (!col("text").contains("{")).cast("bigint"),
      "r_no_blocklist" ->
        (!C4Blocklist.map(col("text").contains(_)).reduce(_ || _)).cast("bigint"))
    d.select(
      (d.columns.filter(_ != "text").map(col).toSeq ++
        Seq(
          size(lines).cast("bigint").as("n_lines"),
          size(kept).cast("bigint").as("n_kept")) ++
          bits.map { case (n, c) => c.as(n) } ++
          Seq(
            bits.map(_._2).reduce(_ * _).as("passes"),
            array_join(kept, "\n").as("cleaned"))): _*)
  }

  /** The curation-report face of the C4 lane (the `pipeline_pii_report`
    * shape): per-source page/line volume and one drop counter per page
    * killer — every C4 drop attributable to its rule at the source
    * granularity a curation run publishes.
    */
  def c4Report(spark: SparkSession, dir: String): DataFrame =
    c4ReportAggOf(c4RulesOf(c4Seeded(
      Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("text")))))
      .orderBy(col("source"))

  /** The report aggregation over a gated frame, unordered — shared with
    * the streaming twin ([[graft.streaming.StreamingCuration]]): all
    * counters are associatively-merging integer sums, so streaming
    * state stays one row per source.
    */
  private[graft] def c4ReportAggOf(gated: DataFrame): DataFrame =
    gated.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("passes")).as("n_pages_kept"),
        sum(col("n_lines")).as("n_lines"),
        sum(col("n_kept")).as("n_lines_kept"),
        sum(lit(1L) - col("r_min_lines")).as("n_drop_min_lines"),
        sum(lit(1L) - col("r_no_lorem")).as("n_drop_lorem"),
        sum(lit(1L) - col("r_no_brace")).as("n_drop_brace"),
        sum(lit(1L) - col("r_no_blocklist")).as("n_drop_blocklist"))

  /** Iterative BPE merge-loop TRAINING — the step [[bpePairs]] stops
    * short of: run `merges` rounds, each picking the highest-count
    * adjacent symbol pair (tie-break: count desc, then pair bytes asc —
    * identical UTF-8 binary comparison in Spark and DuckDB) and fusing
    * it corpus-wide, emitting one vocabulary row per round:
    * (merge_rank, left, right, new_token, n). This is the actual BPE
    * trainer (Sennrich et al. 2016): new_token joins the symbol
    * alphabet and later rounds merge ON it.
    *
    * Representation: training runs over the DISTINCT-WORD frame
    * (word → corpus frequency) — the standard trainer optimization
    * (cost per round ∝ vocabulary, not corpus). Each word's current
    * symbol SEQUENCE is a string in which every symbol is exactly one
    * character: base symbols are the word's own characters, and merge
    * round k assigns its new token the single private-use character
    * U+E000+k-1. One-char symbols make `replace(repr, leftChar ∘
    * rightChar, newChar)` EXACTLY the greedy left-to-right
    * non-overlapping merge scan BPE specifies (a match can never span
    * symbol boundaries, and a just-merged char can never re-match
    * inside the same round), with no separator bookkeeping. Words
    * containing private-use chars (possible in a hostile corpus) are
    * excluded from training up front, identically in the oracle.
    *
    * Driver-loop discipline (the [[PageRank]] pattern): bounded rounds;
    * one K-bounded collect per round (the single argmax row);
    * localCheckpoint per round with prior-round unpersist so lineage
    * and cache stay O(1) in rounds. Counts are integer sums —
    * partial-aggregation order cannot change a bit. Scale: per round =
    * one hash-agg over the vocab frame + one per-row replace; the
    * corpus is scanned ONCE (word-frequency build).
    *
    * The oracle is the same loop unrolled as a DuckDB CTE
    * ([[graft.SparkEntry]] builds it programmatically per round).
    */
  def bpeTrain(spark: SparkSession, dir: String, merges: Int = 8): DataFrame =
    bpeTrainOf(Tables.documents(spark, dir, wide = true), merges)

  /** [[bpeTrain]] over any (doc_id, text) frame — spec entry point. */
  private[graft] def bpeTrainOf(docs: DataFrame, merges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeMergesOf(docs, merges)
      .map(m => (m.rank.toLong, m.left, m.right, m.token, m.n))
      .toDF("merge_rank", "left", "right", "new_token", "n")
  }

  /** One trained merge: the round's argmax `pair` in single-char symbol
    * space plus the private-use `newChar` it fuses into (the two values
    * the ENCODER's literal-replace chain needs), and the expanded
    * human-readable (left, right, token) strings the vocabulary row
    * reports.
    */
  private[graft] final case class BpeMerge(rank: Int, pair: String,
      newChar: String, left: String, right: String, token: String, n: Long)

  /** The training driver loop itself — K-bounded rounds, one argmax
    * collect per round (see [[bpeTrain]] for the full discipline).
    */
  private[graft] def bpeMergesOf(docs: DataFrame, merges: Int): Seq[BpeMerge] = {
    val words = docs
      .select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .filter(!col("word").rlike("[\\uE000-\\uF8FF]"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word").as("repr"), col("freq"))
    bpeLoop(words, merges)
  }

  /** BYTE-LEVEL trainer (the GPT-2/tiktoken lineage): identical merge
    * loop, but the base symbol alphabet is the 256 UTF-8 BYTES — each
    * word's representation maps byte b to the single char U+0100+b
    * ([[graft.functions.ExpressionKernels.byteRepr]]), so a multi-byte
    * character decomposes into byte symbols and merges can cross (or
    * split) codepoint boundaries, exactly where byte-level differs
    * from char-level on non-ASCII text. No private-use pre-filter is
    * needed: hostile PUA characters in the corpus map to ordinary
    * byte-repr chars (U+0100–U+01FF), disjoint from the merge symbols
    * (U+E000+k). Reported left/right/new_token strings are in the
    * mapped-byte alphabet (merge boundaries need not align with valid
    * UTF-8, so raw decoding is not generally possible — the same
    * reason GPT-2 vocabularies publish byte-mapped strings).
    */
  private[graft] def bpeByteMergesOf(docs: DataFrame, merges: Int): Seq[BpeMerge] = {
    val words = docs
      .select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      // byte_repr is injective, so mapping AFTER the word rollup keeps
      // one row per distinct word with no re-aggregation
      .select(graft.functions.functions.byte_repr(col("word")).as("repr"),
        col("freq"))
    bpeLoop(words, merges)
  }

  /** The shared merge loop over a (repr, freq) vocabulary frame —
    * symbol space (chars vs mapped bytes) is the caller's choice; the
    * loop only requires that every symbol is exactly one char.
    */
  private def bpeLoop(words: DataFrame, merges: Int): Seq[BpeMerge] = {
    require(merges >= 1 && merges <= BpeMaxMerges,
      s"merges must be in [1, $BpeMaxMerges]")
    var cur = words.localCheckpoint(false)
    val expand = scala.collection.mutable.Map.empty[String, String]
    val out = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    for (k <- 1 to merges) {
      val best = cur.filter(length(col("repr")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(repr) - 1), i -> substring(repr, i, 2))"))
          .as("pair"), col("freq"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(1).collect() // exactly one row — K-bounded by construction
      require(best.nonEmpty, s"corpus exhausted before merge $k")
      val pair = best(0).getString(0)
      val n = best(0).getLong(1)
      val newChar = (0xE000 + k - 1).toChar.toString
      val (l, r) = (pair.substring(0, 1), pair.substring(1))
      val lExp = expand.getOrElse(l, l)
      val rExp = expand.getOrElse(r, r)
      expand(newChar) = lExp + rExp
      out += BpeMerge(k, pair, newChar, lExp, rExp, lExp + rExp, n)
      // EAGER checkpoint: the merged frame must materialize while the
      // prior round's blocks still exist (CC's lazy variant is safe
      // only because its convergence action runs before the unpersist)
      val next = cur
        .withColumn("repr", replace(col("repr"), lit(pair), lit(newChar)))
        .localCheckpoint(true)
      ConnectedComponents.unpersistLocalCheckpoint(cur)
      cur = next
    }
    ConnectedComponents.unpersistLocalCheckpoint(cur)
    out.toSeq
  }

  /** Per-(dir, merges) JVM memo of the trained merge list — the
    * tokenizer-apply lanes probe a vocabulary whose training is an
    * ingest-time stage (bench build/probe seam, like the shingle/IVF
    * stores). Deterministic contents, so memoization is invisible to
    * the oracle.
    */
  private val bpeMergeCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Seq[BpeMerge]]()

  private def mergesFor(spark: SparkSession, dir: String, merges: Int): Seq[BpeMerge] =
    bpeMergeCache.computeIfAbsent((dir, merges),
      _ => bpeMergesOf(Tables.documents(spark, dir, wide = true), merges))

  /** Warm the merge memo (the training half of the encode lanes) —
    * registered as the bench stage builder for `text_bpe_encode` /
    * `text_pack_bpe`.
    */
  def ensureBpeMerges(spark: SparkSession, dir: String, merges: Int = 8): Unit = {
    mergesFor(spark, dir, merges); ()
  }

  /** PERSISTED TOKENIZER ARTIFACT — the deployment seam the session
    * memo cannot provide: real pipelines train a tokenizer ONCE and
    * ship the vocabulary as a durable artifact every later job loads
    * (HuggingFace's `tokenizer.json`, tiktoken's `.tiktoken` files).
    * The trained merge list persists as a parquet
    * [[graft.sources.Artifacts.corpusStore]] under the warehouse: a
    * later JVM LOADS the 8-row table instead of re-running the
    * corpus-sized training loop, and a regenerated corpus rebuilds
    * instead of being served a stale vocabulary. Loaded merges are fed
    * into the same per-JVM cache [[mergesFor]] trains into, so every
    * encode path (`bpeEncode`, the packers, [[maxMatchEncode]]) is
    * artifact-backed with zero code change at the call sites.
    */
  def ensureBpeVocabStore(spark: SparkSession, dir: String,
                          merges: Int = 8): Seq[BpeMerge] = {
    val path = graft.sources.FsPaths.warehouseTablePath(spark,
      s"graft_bpe_vocab_${merges}_" + Search.dirHash(dir))
    graft.sources.Artifacts.corpusStore(spark, path, s"$dir/documents.parquet") { tmp =>
      val ms = mergesFor(spark, dir, merges)
      import spark.implicits._
      ms.toDF("rank", "pair", "newChar", "left", "right", "token", "n")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      ms
    }.getOrElse(bpeMergeCache.computeIfAbsent((dir, merges), _ =>
      spark.read.parquet(path.toString)
        .orderBy(col("rank")).collect().toSeq.map(r => BpeMerge(
          r.getAs[Int]("rank"), r.getAs[String]("pair"),
          r.getAs[String]("newChar"), r.getAs[String]("left"),
          r.getAs[String]("right"), r.getAs[String]("token"),
          r.getAs[Long]("n")))))
  }

  /** Spec seam: forget the per-JVM trained merges for `dir`, forcing
    * the next [[ensureBpeVocabStore]] through the LOAD path (a fresh
    * JVM's view of a persisted artifact).
    */
  private[graft] def clearBpeCacheFor(dir: String): Unit = {
    val it = bpeMergeCache.keySet.iterator
    while (it.hasNext) if (it.next()._1 == dir) it.remove()
  }

  /** Greedy MAXIMAL-MUNCH tokenization count (`text_maxmatch_tokens`) —
    * WordPiece's inference algorithm (the MaxMatch / longest-match-first
    * segmentation BERT's tokenizer runs; Song et al. 2021 "Fast
    * WordPiece Tokenization" studies exactly this loop) over the
    * BPE-trained vocabulary: per word, repeatedly take the LONGEST
    * vocab token prefixing the remainder, falling back one code point
    * when nothing matches (the single-char alphabet is implicitly
    * complete, so no UNK). Deliberately a THIRD segmentation semantics
    * beside the two BPE replace chains: BPE applies merges in training-
    * rank order (`ab` before `abc` if ranked earlier), maximal munch
    * always takes the longest — the two differ on nested vocab entries
    * (MaxMatchSpec constructs the divergence), so this lane is a
    * genuine algorithm, not a re-labelled encode.
    *
    * Scale: one codegen kernel pass per row, zero joins/shuffles — the
    * 8-token vocabulary enters as ONE array literal (the
    * [[graft.streaming.StreamingDsir]] serving-kernel discipline), so
    * the plan is a bare projection at any corpus size.
    */
  def maxMatchEncode(spark: SparkSession, dir: String,
                     merges: Int = 8): DataFrame = {
    val vocab = typedLit(mergesFor(spark, dir, merges).map(_.token))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(filter(tokens(col("text")), w => length(w) > lit(0)))
        .cast("bigint").as("n_ws_tokens"),
      graft.functions.functions.max_match_count(col("text"), vocab)
        .as("n_maxmatch_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Unigram-LM segmentation (`text_unigram_tokens`) — the THIRD
    * tokenizer-inference algorithm beside the BPE replace chain and
    * WordPiece maximal munch: SentencePiece (Kudo 2018) picks the
    * segmentation maximizing the summed per-token score by Viterbi.
    * Scores here are the log-free integer surrogate freq(t) (trained
    * merge counts; single-char fallback 0), minimized lexicographically
    * as (token count asc, frequency sum desc) ≡ min Σ (T − freq) — see
    * [[graft.functions.ExpressionKernels.unigramViterbi]]. Emits per
    * doc the whitespace-token count, the Viterbi token count, and the
    * Viterbi frequency sum (the tie-break evidence, pinning the full
    * DP — not just its length — against the oracle).
    *
    * Scale: one codegen kernel pass per row, vocabulary as ONE array
    * literal pair, zero joins/shuffles — a bare projection at any
    * corpus size (the [[maxMatchEncode]] plan shape). The oracle
    * re-derives the DP per distinct word with a recursive CTE carrying
    * the cost vector as a list, T-encoded (k·T − s, T = 10^12) — the
    * `require` below fails loudly at the corpus size where a word's
    * frequency sum could reach T and the encoding would go ambiguous.
    */
  def unigramEncode(spark: SparkSession, dir: String,
                    merges: Int = 8): DataFrame = {
    val ms = mergesFor(spark, dir, merges)
    require(ms.map(_.n).max < 1000000000L,
      s"unigram oracle T-encoding headroom exhausted: max merge count ${ms.map(_.n).max}")
    val vocab = typedLit(ms.map(_.token))
    val freqs = typedLit(ms.map(_.n))
    Tables.documents(spark, dir)
      .withColumn("__uv",
        graft.functions.functions.unigram_viterbi(col("text"), vocab, freqs))
      .select(
        col("doc_id"),
        size(filter(tokens(col("text")), w => length(w) > lit(0)))
          .cast("bigint").as("n_ws_tokens"),
        col("__uv.n_tokens").as("n_unigram_tokens"),
        col("__uv.freq_sum").as("unigram_freq"))
      .orderBy(col("doc_id"))
  }

  /** TOKENIZER SELECTION EVAL (`text_tokenizer_eval`) — the
    * compression/fertility comparison a pipeline runs before fixing
    * its tokenizer (the tokens-per-character "fertility" study of the
    * multilingual-tokenizer literature, e.g. Rust et al. 2021): all
    * four segmenters this engine ships — whitespace, rank-ordered BPE,
    * WordPiece maximal munch, unigram-LM Viterbi — over the SAME
    * trained vocabulary and the SAME documents, rolled up per
    * (tokenizer, language): doc count, total tokens, total characters,
    * and integer tokens-per-1000-chars. Restricted to the char-BPE
    * encodability domain (non-PUA docs — the only set all four cover),
    * so every tokenizer sees identical input and the rows are directly
    * comparable; all counts exact integers, the whole table hash-gated.
    *
    * Scale: three codegen kernel passes + one whitespace count over
    * one documents scan each, melted and reduced to
    * |tokenizers|·|langs| rows — no joins beyond doc_id equi-joins, no
    * state; the eval costs what the three encode lanes cost.
    */
  def tokenizerEval(spark: SparkSession, dir: String,
                    merges: Int = 8): DataFrame = {
    val b = bpeEncode(spark, dir, merges)
      .select(col("doc_id"), col("n_chars"), col("n_ws_tokens"),
        col("n_bpe_tokens"))
    val m = maxMatchEncode(spark, dir, merges)
      .select(col("doc_id"), col("n_maxmatch_tokens"))
    val u = unigramEncode(spark, dir, merges)
      .select(col("doc_id"), col("n_unigram_tokens"))
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    b.join(m, Seq("doc_id")).join(u, Seq("doc_id")).join(d, Seq("doc_id"))
      .selectExpr("lang", "n_chars",
        """stack(4,
          |  'whitespace', n_ws_tokens,
          |  'bpe', n_bpe_tokens,
          |  'maxmatch', n_maxmatch_tokens,
          |  'unigram', n_unigram_tokens) AS (tokenizer, n)""".stripMargin)
      .groupBy(col("tokenizer"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .withColumn("tokens_per_kchar",
        when(col("n_chars") === 0L, 0L)
          .otherwise(expr("n_tokens * 1000 DIV n_chars")))
      .orderBy(col("tokenizer"), col("lang"))
  }

  /** Byte-level vocabulary rows (`text_bpe_bytes`): one row per merge,
    * left/right/new_token in the mapped-byte alphabet — see
    * [[bpeByteMergesOf]]. The oracle unrolls the identical loop with
    * byte reprs built by `chr(256 + byte)` over `hex(encode(word))`.
    */
  def bpeByteTrain(spark: SparkSession, dir: String, merges: Int = 8): DataFrame = {
    import spark.implicits._
    bpeByteMergesOf(Tables.documents(spark, dir, wide = true), merges)
      .map(m => (m.rank.toLong, m.left, m.right, m.token, m.n))
      .toDF("merge_rank", "left", "right", "new_token", "n")
  }

  private val bpeByteMergeCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Seq[BpeMerge]]()

  private def byteMergesFor(spark: SparkSession, dir: String,
                            merges: Int): Seq[BpeMerge] =
    bpeByteMergeCache.computeIfAbsent((dir, merges),
      _ => bpeByteMergesOf(Tables.documents(spark, dir, wide = true), merges))

  /** Warm the byte-merge memo — bench stage builder for
    * `text_bpe_bytes_encode`.
    */
  def ensureBpeByteMerges(spark: SparkSession, dir: String, merges: Int = 8): Unit = {
    byteMergesFor(spark, dir, merges); ()
  }

  /** Byte-symbol count under the trained byte merges: the replace
    * chain runs over the FULL document's byte repr (merge pairs never
    * contain the space byte's repr char, so the chain equals per-word
    * encoding — [[bpeTokenCount]]'s argument, one alphabet down), and
    * symbols = length(encoded) − n_space_bytes, where n_space_bytes =
    * the count of 0x20 bytes = the count of ' ' chars in the raw text.
    */
  private[graft] def bpeByteTokenCount(ms: Seq[BpeMerge]): Column = {
    val encoded = ms.foldLeft(
      graft.functions.functions.byte_repr(col("text")))((acc, m) =>
      replace(acc, lit(m.pair), lit(m.newChar)))
    val nSpaces = length(col("text")) - length(replace(col("text"), lit(" "), lit("")))
    (length(encoded) - nSpaces).cast("bigint")
  }

  /** TOKENIZER APPLY, byte alphabet (`text_bpe_bytes_encode`): per-doc
    * UTF-8 byte budget next to the trained byte-BPE symbol count —
    * the pair a packing stage at byte granularity needs. Covers EVERY
    * document (no PUA exclusion — the byte alphabet absorbs hostile
    * chars), which is exactly where the byte lane's contract is
    * stronger than the char lane's.
    */
  def bpeByteEncode(spark: SparkSession, dir: String, merges: Int = 8): DataFrame = {
    val ms = byteMergesFor(spark, dir, merges)
    Tables.documents(spark, dir, wide = true)
      .select(col("doc_id"),
        octet_length(col("text")).cast("bigint").as("n_bytes"),
        bpeByteTokenCount(ms).as("n_bpe_byte_tokens"))
  }

  /** BPE symbol count of `text` under the trained merge list: apply the
    * merges IN TRAINING ORDER as literal replaces over the whole text.
    * Exactly per-word encoding: a merge pair is two adjacent word-repr
    * symbols, so it never contains a space and can never match across a
    * word boundary — the full-text chain equals word-by-word encoding
    * with zero tokenization bookkeeping. Spaces are untouched by every
    * replace, so symbols = length(encoded) − n_spaces(original).
    */
  private[graft] def bpeTokenCount(ms: Seq[BpeMerge]): Column = {
    val encoded = ms.foldLeft(col("text"))((acc, m) =>
      replace(acc, lit(m.pair), lit(m.newChar)))
    val nSpaces = length(col("text")) - length(replace(col("text"), lit(" "), lit("")))
    (length(encoded) - nSpaces).cast("bigint")
  }

  /** TOKENIZER APPLY — encode every document with the vocabulary
    * [[bpeTrain]] produced and report its real token budget: whitespace
    * token count (what [[packAssign]] packs on today) next to the BPE
    * symbol count (what a training run actually pays for). Docs already
    * containing private-use chars are excluded, identically to training
    * and identically in the oracle.
    *
    * Scale: training is the bounded driver loop paid ONCE per (dir,
    * merges) ([[ensureBpeMerges]]); the encode itself is one scan of
    * per-row replace-chain expression work — zero shuffle, stays in
    * whole-stage codegen.
    */
  def bpeEncode(spark: SparkSession, dir: String, merges: Int = 8): DataFrame = {
    val ms = mergesFor(spark, dir, merges)
    Tables.documents(spark, dir, wide = true)
      .filter(!col("text").rlike("[\\uE000-\\uF8FF]"))
      .select(col("doc_id"),
        length(col("text")).cast("bigint").as("n_chars"),
        size(filter(tokens(col("text")), w => length(w) > lit(0)))
          .cast("bigint").as("n_ws_tokens"),
        bpeTokenCount(ms).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** [[packAssign]] with REAL token counts: packs are budgeted on the
    * trained-BPE symbol count instead of the whitespace proxy — the
    * pack boundaries a training run would actually see. Same
    * per-language cumulative-window shape (and the same 100-TB sharding
    * note) as the whitespace variant.
    */
  def packAssignBpe(spark: SparkSession, dir: String, budget: Int = 2048,
                    merges: Int = 8): DataFrame = {
    val ms = mergesFor(spark, dir, merges)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .filter(!col("text").rlike("[\\uE000-\\uF8FF]"))
      .select(col("doc_id"), col("lang"), bpeTokenCount(ms).as("n_tokens"))
      .withColumn("prior_tokens", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", expr(s"prior_tokens DIV $budget"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("pack_id"))
  }

  /** [[packAssignBpe]] at BYTE granularity (`text_pack_bpe_bytes`):
    * packs budgeted on the trained byte-BPE symbol count
    * ([[bpeByteTokenCount]]) — the boundaries a byte-level-tokenizer
    * training run sees. Covers EVERY document (the byte alphabet
    * absorbs hostile chars, so no PUA exclusion — the byte lane's
    * standing contract), same per-language cumulative-window shape and
    * 100-TB sharding note as the other packers.
    */
  def packAssignBpeBytes(spark: SparkSession, dir: String, budget: Int = 2048,
                         merges: Int = 8): DataFrame = {
    val ms = byteMergesFor(spark, dir, merges)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), bpeByteTokenCount(ms).as("n_tokens"))
      .withColumn("prior_tokens", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", expr(s"prior_tokens DIV $budget"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("pack_id"))
  }

  /** The encoded form of `text` under the trained merge list (the
    * replace chain [[bpeTokenCount]] measures).
    */
  private[graft] def bpeEncoded(ms: Seq[BpeMerge]): Column =
    ms.foldLeft(col("text"))((acc, m) => replace(acc, lit(m.pair), lit(m.newChar)))

  /** DECODE under the trained vocabulary: the reverse replace chain in
    * reverse training order. Every merge symbol is a fresh private-use
    * char absent from the corpus and from all earlier symbols' pairs,
    * so decode∘encode ≡ identity exactly — the tokenizer-lifecycle
    * contract a training pipeline depends on (what is packed can be
    * reconstructed byte-for-byte). Same zero-shuffle per-row expression
    * shape as the encoder.
    */
  private[graft] def bpeDecoded(ms: Seq[BpeMerge], encoded: Column): Column =
    ms.reverse.foldLeft(encoded)((acc, m) => replace(acc, lit(m.newChar), lit(m.pair)))

  /** BMP private-use area size bounds the merge count (one fresh
    * single-char symbol per round).
    */
  val BpeMaxMerges: Int = 0xF8FF - 0xE000 + 1

  /** Intra-document repetition (the C4/Gopher repeated-n-gram quality
    * signal): per doc, the total 3-gram position count and the DISTINCT
    * 3-gram count. The repeated fraction is 1 − n_distinct/n_grams,
    * derivable exactly from the two int64s — no float ratio crosses the
    * oracle, so the row is hash-stable. A doc whose repeated fraction is
    * high is boilerplate/spam; the standard pre-training corpus filter
    * thresholds on exactly this pair.
    *
    * Scale: one codegen pass per row (WordShingles kernel + size) — zero
    * shuffle; the distinct-shingle count comes from the per-doc array,
    * never a global explode+distinct.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    repetitionOf(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** [[repetition]] over any (doc_id, text) frame — spec entry point. */
  private[graft] def repetitionOf(docs: DataFrame): DataFrame = {
    val n = size(tokens(col("text"))).cast("bigint")
    docs.select(col("doc_id"),
      greatest(n - lit(2L), lit(0L)).as("n_grams"),
      size(graft.functions.functions.word_shingles(
        col("text"), MinHash.ShingleSize)).cast("bigint").as("n_distinct"))
  }

  /** Document length histogram: docs per 10-token bucket — the corpus
    * shape dashboard (a skewed histogram is the first sign of a broken
    * extraction step upstream).
    */
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val n = size(tokens(col("text"))).cast("bigint")
    Tables.documents(spark, dir)
      .select((n - pmod(n, lit(10L))).as("bucket")) // integer 10-bucket floor
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("bucket"))
  }

  /** Sequence packing: assign documents to fixed-token-budget packs (the
    * batch-construction step before tokenizer/training runs — contiguous
    * fill in deterministic doc order, the streaming-corpus packing
    * discipline). pack_id = (running token total BEFORE this doc) div
    * budget, per language: a doc starts a new pack when the budget
    * would overflow at pack granularity. Partitioned by lang so the
    * cumulative window shuffles one language per reducer — at 100 TB the
    * partition key would be (lang, shard) with per-shard budgets.
    */
  def packAssign(spark: SparkSession, dir: String, budget: Int = 2048): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val nTok = size(tokens(col("text"))).cast("bigint")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), nTok.as("n_tokens"))
      .withColumn("prior_tokens", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", expr(s"prior_tokens DIV $budget"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("pack_id"))
  }

  /** Per-language corpus profile: single scan → token-stats kernel →
    * hash agg on lang (round 1 re-scanned documents and joined on doc_id
    * just to pick up `lang` — a whole extra scan + shuffle for a column
    * already in the table).
    */
  def corpusProfile(spark: SparkSession, dir: String): DataFrame =
    withQualityCols(Tables.documents(spark, dir).select(col("lang"), col("text")))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        sum(when(col("is_quality"), 1L).otherwise(0L)).as("n_quality"))
      .orderBy(col("lang"))

  /** SENTENCE-level (sub-document) dedup accounting — the C4-style pass
    * that document-granularity dedup cannot express: a doc that shares
    * boilerplate sentences with other docs is partially duplicated even
    * when no whole-doc pair fires. Sentences are '. '-split spans,
    * md5-keyed; a sentence is SHARED when it appears in ≥ 2 distinct
    * docs. Emits per-doc totals — the inputs a curation policy prunes
    * or rewrites on.
    *
    * Scale: one explode pass; the shared-set reduction is a hash-agg on
    * the sentence hash with map-side combine; the per-doc recount
    * semi-joins the (small) shared set back — never doc×doc. This is
    * exactly how C4's three-sentence-span dedup is staged over a
    * 100 TB corpus.
    */
  def sentenceDedup(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), "\\. ")).as("sent"))
      .filter(length(trim(col("sent"))) > 0)
      .select(col("doc_id"), md5(col("sent")).as("h"))
    val shared = s.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    val tot = s.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sentences"))
    val shr = s.join(shared, Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    tot.join(shr, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sentences"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  /** 60-bit positive integer from an md5 prefix — the engine-neutral
    * hash both engines compute identically (DuckDB:
    * `CAST('0x'||substr(md5(x),1,15) AS UBIGINT)`).
    */
  private[operators] def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("bigint")

  /** CONTENT-DEFINED chunk scrub — C4's "remove lines occurring ≥ 3
    * times in the corpus", made shift-robust for delimiter-free text by
    * borrowing the storage-dedup trick (content-defined chunking, the
    * rsync/LBFS boundary rule): a chunk ends after any token whose hash
    * ≡ 0 (mod `mask`), so identical passages segment into identical
    * chunks no matter where they sit in a document. Chunks present in
    * ≥ `minDf` distinct docs are scrubbed and the document reassembled
    * from the survivors in original order.
    *
    * Scale: one explode, one per-doc window pass (single shuffle keyed
    * on doc_id — expected chunk length is `mask` tokens so state per doc
    * is its own tokens), a df-filtered banned set (tiny ⇒ broadcast
    * anti-join), and per-doc reassembly as a hash-agg. Never doc×doc;
    * the banned set is bounded by corpus-repeated content only.
    */
  def cdcScrub(spark: SparkSession, dir: String,
               mask: Int = 8, minDf: Int = 3): DataFrame =
    cdcScrubFromChunks(cdcChunks(spark, dir, mask), minDf)

  /** Session-staged CDC chunk frame: the scrub's three consumers
    * (banned set, per-doc totals, reassembly) and the funnel capstone
    * all read ONE persisted segmentation instead of re-running the
    * explode + per-doc window per branch — the [[StageMemo]] pattern
    * the near-dup family set.
    */
  private[operators] def cdcChunks(spark: SparkSession, dir: String,
                                   mask: Int = 8): DataFrame =
    StageMemo.memoized(spark, s"cdc_chunks_$mask", dir)(
      cdcChunkRows(Tables.documents(spark, dir, wide = true), mask))

  /** Bench build seam for the scrub lanes: materialize the chunk
    * stage (and for the capstone, the scrub output itself).
    */
  def ensureCdcStages(spark: SparkSession, dir: String): Unit = {
    cdcChunks(spark, dir).count()
    ()
  }

  /** Bench build seam for the span-cut lane: one pass through the
    * pipeline materializes the persisted gram and covered-position
    * stages (the probe then re-runs only the final joins over them).
    */
  def ensureSpanCutStages(spark: SparkSession, dir: String, k: Int = 5): Unit = {
    spanCut(spark, dir, k).count()
    substringSpans(spark, dir, k).count()
    ()
  }

  /** The CDC segmentation stage on its own: one row per (doc, chunk)
    * with the chunk text and its md5 — the frame the persisted chunk
    * store holds and every scrub face derives from. Chunking is
    * per-doc work (batch-local by construction), so an appended batch
    * produces exactly the rows a full rebuild would.
    */
  private[graft] def cdcChunkRows(docs: DataFrame, mask: Int = 8): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("i0", "tok")))
      .select(col("doc_id"), (col("i0") + 1).as("pos"), col("tok"))
      .withColumn("f", when(h60(col("tok")) % mask === 0, 1L).otherwise(0L))
      .withColumn("chunk_id", coalesce(sum(col("f")).over(w), lit(0L)))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
        x => x.getField("tok")), " ").as("chunk_text"))
      .withColumn("h", md5(col("chunk_text")))
  }

  private[graft] def cdcScrubOf(docs: DataFrame,
                                mask: Int = 8, minDf: Int = 3): DataFrame =
    cdcScrubFromChunks(cdcChunkRows(docs, mask), minDf)

  /** Scrub report/reassembly from a chunk frame — shared by the
    * in-memory lane and the persisted-store lane (`dedup_cdc_grown`),
    * so both faces are one code path and the store twin's oracle is
    * the one-shot SQL verbatim.
    */
  private[graft] def cdcScrubFromChunks(chunks: DataFrame, minDf: Int = 3): DataFrame = {
    val banned = chunks.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDf).select(col("h"))
    val tot = chunks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
    val kept = chunks.join(banned, Seq("h"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("chunk_id"), col("chunk_text")))),
          x => x.getField("chunk_text")), " ").as("clean_text"))
    tot.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Append a document batch's chunk rows into a persisted bucketed
    * chunk store: new docs land as additional files in their doc_id
    * buckets, no existing file rewritten. Chunking is per-doc work, so
    * the appended rows are exactly what a full rebuild would hold —
    * the incremental half of the CDC store lifecycle (the streaming
    * twin drives this per micro-batch).
    */
  def appendChunkIndex(table: String, batch: DataFrame, nBuckets: Int = 32): Unit =
    graft.sources.BucketedTables.appendBucketed(
      cdcChunkRows(batch), table, "doc_id", nBuckets)

  /** One grown chunk-store build per (JVM, dir): base store from
    * doc_id % batchMod != 0, then [[appendChunkIndex]] of the rest —
    * scrubbing from it must equal the in-memory one-shot scrub (the
    * dedup_cdc_grown oracle row's gate, SQL shared verbatim).
    */
  private[graft] def ensureGrownChunkIndex(spark: SparkSession, dir: String,
                                           batchMod: Int = 5): String = {
    val name = s"graft_chunk_grown_${batchMod}_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    graft.sources.Artifacts.table(spark, name) {
      val docs = Tables.documents(spark, dir)
      graft.sources.BucketedTables.writeBucketed(
        cdcChunkRows(docs.filter(col("doc_id") % batchMod =!= 0)),
        name, "doc_id", 32)
      appendChunkIndex(name, docs.filter(col("doc_id") % batchMod === 0))
    }
    name
  }

  /** [[cdcScrub]] reading the persisted grown chunk store instead of
    * re-segmenting the corpus: the scrub's corpus-sized stage (explode
    * + per-doc window) is ingest-time work paid once; every scrub-on-
    * read is a scan of the bucketed store + the df-filtered anti-join.
    */
  def cdcScrubStored(spark: SparkSession, dir: String, minDf: Int = 3): DataFrame =
    cdcScrubFromChunks(
      spark.table(ensureGrownChunkIndex(spark, dir))
        .select(col("doc_id"), col("chunk_id"), col("chunk_text"), col("h")), minDf)

  /** EXACT-SUBSTRING span cut (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", §ExactSubstr): any token
    * `k`-gram appearing in ≥ 2 distinct docs marks its k positions as
    * duplicated; the cut text keeps only uncovered tokens. Unlike the
    * winnow-span PAIR detector this is the transform — the per-doc
    * coverage and the scrubbed text itself.
    *
    * Scale: the gram frame is one explode (n−k+1 rows per doc); shared
    * grams come from a hash-agg with map-side combine; coverage is a
    * bounded k-row explode per shared OCCURRENCE (linear in corpus, not
    * pairs — a 10k-doc boilerplate gram costs 10k·k rows, never 10k²);
    * reassembly is per-doc hash-agg. The suffix-array formulation of the
    * paper is the single-node approach; this is its shuffle-native dual.
    */
  def spanCut(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    // gram stage from the WIDENED read (builder-phase, per-row explode
    // work wants the parallelism); probe-side reassembly from the plain
    // read (its joins re-exchange by doc_id anyway — the extra
    // round-robin exchange measured +0.4 s on the probe)
    spanCutImpl(Tables.documents(spark, dir), k,
      (name, df) => StageMemo.memoized(spark, s"span_${name}_$k", dir)(df),
      gramDocs = Tables.documents(spark, dir, wide = true))

  private[graft] def spanCutOf(docs: DataFrame, k: Int = 5): DataFrame =
    spanCutImpl(docs, k, (_, df) => df)

  /** `stage` wraps the multiply-consumed intermediates (gram frame,
    * covered-position set) — session-persisted on the (spark, dir)
    * path, identity for the pure spec path.
    */
  private def spanCutImpl(docs: DataFrame, k: Int,
                          stage: (String, DataFrame) => DataFrame,
                          gramDocs: DataFrame = null): DataFrame = {
    val base = docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")))
    // the staged gram frame may come from a differently-partitioned
    // read than the probe frames — same rows, same stage key either way
    val gbase = (if (gramDocs == null) docs else gramDocs)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")))
    val toks = base
      .select(col("doc_id"), col("n"), posexplode(col("t")).as(Seq("i0", "tok")))
      .select(col("doc_id"), col("n"), (col("i0") + 1).as("pos"), col("tok"))
    val grams = stage("grams", gbase.filter(col("n") >= k)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), col("n") - (k - 1))).as("i"))
      .select(col("doc_id"), col("i"),
        md5(array_join(slice(col("t"), col("i"), lit(k)), " ")).as("h")))
    val shared = stage("shared", grams.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("h")))
    val covered = stage("covered", grams.join(shared, Seq("h"))
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + (k - 1))).as("pos"))
      .distinct())
    val cov = covered.groupBy(col("doc_id")).agg(count(lit(1)).as("n_covered"))
    val cut = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
        x => x.getField("tok")), " ").as("cut_text"))
    val tot = base.select(col("doc_id"), col("n").cast("long").as("n_tokens"))
    tot.join(cov, Seq("doc_id"), "left").join(cut, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        coalesce(col("cut_text"), lit("")).as("cut_text"))
      .orderBy(col("doc_id"))
  }

  /** Length-THRESHOLDED ExactSubstr (Lee et al. 2022 §ExactSubstr: the
    * paper's stated contract is removing any substring of **50 or more
    * tokens** repeated verbatim in the corpus) — where [[spanCut]] cuts
    * every repeated `k`-gram, this lane chains adjacent repeated-gram
    * start positions into MAXIMAL RUNS (gaps-and-islands over the same
    * staged occurrence frame) and cuts only runs whose covered length
    * `e − s + k` reaches `minLen`. A 49-token repeat survives; a
    * 50-token one is removed (SpanRunsSpec pins exactly that boundary).
    *
    * The run chain is a sound proxy for the paper's suffix-array scan:
    * a verbatim L-token repeat yields L−k+1 consecutive shared starts
    * (covered length exactly L), while isolated shared grams below the
    * threshold — the boilerplate the paper deliberately keeps — are
    * left alone.
    *
    * Scale: rides [[spanCut]]'s staged gram frame (one explode, shared
    * via StageMemo); the islands pass is one doc-partitioned window
    * (row_number over the doc's own shared starts — never a global
    * sort); qualifying runs explode to Σ run-length positions (linear
    * in cut volume); reassembly is the same per-doc hash-agg as
    * spanCut.
    */
  def spanRuns(spark: SparkSession, dir: String, k: Int = 5, minLen: Int = 50): DataFrame =
    spanRunsImpl(Tables.documents(spark, dir), k, minLen,
      (name, df) => StageMemo.memoized(spark, s"span_${name}_$k", dir)(df),
      gramDocs = Tables.documents(spark, dir, wide = true))

  private[graft] def spanRunsOf(docs: DataFrame, k: Int = 5, minLen: Int = 50): DataFrame =
    spanRunsImpl(docs, k, minLen, (_, df) => df)

  private def spanRunsImpl(docs: DataFrame, k: Int, minLen: Int,
                           stage: (String, DataFrame) => DataFrame,
                           gramDocs: DataFrame = null): DataFrame = {
    val base = docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")))
    val gbase = (if (gramDocs == null) docs else gramDocs)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")))
    val toks = base
      .select(col("doc_id"), posexplode(col("t")).as(Seq("i0", "tok")))
      .select(col("doc_id"), (col("i0") + 1).as("pos"), col("tok"))
    // same stage key as spanCutImpl: the two ExactSubstr lanes share
    // one materialized gram frame per (session, dir)
    val grams = stage("grams", gbase.filter(col("n") >= k)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), col("n") - (k - 1))).as("i"))
      .select(col("doc_id"), col("i"),
        md5(array_join(slice(col("t"), col("i"), lit(k)), " ")).as("h")))
    // same stage key as spanCutImpl: one shared-gram-hash frame serves
    // both ExactSubstr lanes
    val shared = stage("shared", grams.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("h")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
    // staged: `runs` feeds the run stats AND the position explode, and
    // `cutPos` feeds the coverage count AND the reassembly anti-join —
    // without persistence the grams⋈shared→window chain re-executes
    // once per consumer (measured 37.2 s → staged at sf10; span_cut's
    // sibling `covered` stage is the same discipline)
    val runs = stage(s"runs_$minLen", grams.join(shared, Seq("h"))
      .select(col("doc_id"), col("i"))
      .withColumn("isl", col("i") - row_number().over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("i")).as("s"), max(col("i")).as("e"))
      .withColumn("covlen", col("e") - col("s") + lit(k))
      .filter(col("covlen") >= minLen))
    // maximal islands are start-disjoint but their k−1 tails can
    // overlap the next island's head — distinct before counting
    val cutPos = stage(s"cutpos_$minLen", runs
      .select(col("doc_id"), explode(sequence(col("s"), col("e") + (k - 1))).as("pos"))
      .distinct())
    val cov = cutPos.groupBy(col("doc_id")).agg(count(lit(1)).as("n_cut"))
    val runStats = runs.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_runs"), max(col("covlen")).cast("long").as("max_run"))
    val cut = toks.join(cutPos, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
        x => x.getField("tok")), " ").as("cut_text"))
    val tot = base.select(col("doc_id"), col("n").cast("long").as("n_tokens"))
    tot.join(runStats, Seq("doc_id"), "left").join(cov, Seq("doc_id"), "left")
      .join(cut, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs"),
        coalesce(col("max_run"), lit(0L)).as("max_run"),
        coalesce(col("n_cut"), lit(0L)).as("n_cut"),
        coalesce(col("cut_text"), lit("")).as("cut_text"))
      .orderBy(col("doc_id"))
  }

  /** PAIRWISE exact-substring spans (Lee et al. 2022 §ExactSubstr, the
    * suffix-array formulation's distributed dual at PAIR granularity):
    * for every ordered doc pair (a < b), every MAXIMAL verbatim
    * token-span of length ≥ `minLen` they share — the match-extension
    * step the paper's suffix array performs via LCP scans. Where
    * [[spanRuns]] chains a doc's shared-gram starts regardless of WHO
    * they are shared with (a run there may stitch grams shared with
    * different partners), this lane extends along one partner at a
    * time: seeds are (a, ia, b, ib) gram matches bucketed by gram
    * hash, and a verbatim L-token repeat between a and b yields
    * exactly L−k+1 seeds on one DIAGONAL (ia−ib constant, consecutive
    * ia) — so gaps-and-islands per (a, b, diagonal) recovers each
    * maximal span exactly (SubstringSpanSpec pins verbatim equality
    * and two-sided maximality).
    *
    * Scale: rides [[spanCut]]'s staged gram frame (one explode per
    * session); the seed join is BUCKET-LOCAL on the gram hash with a
    * document-frequency cap (`dfCap`) bounding any bucket's pair
    * fan-out to df² — the MinHash/n-gram-Jaccard banding discipline;
    * boilerplate grams above the cap never seed (their long repeats
    * still surface through their rarer flanking grams whenever any
    * in-cap gram witnesses the diagonal). The islands pass is one
    * window per (pair, diagonal) partition — never a global sort; no
    * doc×doc product anywhere.
    */
  def substringSpans(spark: SparkSession, dir: String, k: Int = 5,
                     minLen: Int = 15, dfCap: Int = 50): DataFrame =
    // the span catalog is an ingest artifact (the decon-store
    // discipline): the seed join + islands pass runs once per
    // (session, corpus), probes read the staged pair-span frame
    StageMemo.memoized(spark,
        s"span_substr_${k}_${minLen}_$dfCap", dir)(
      substringSpansImpl(Tables.documents(spark, dir, wide = true), k, minLen, dfCap,
        (name, df) => StageMemo.memoized(spark, s"span_${name}_$k", dir)(df)))

  private[graft] def substringSpansOf(docs: DataFrame, k: Int = 5,
                                      minLen: Int = 15,
                                      dfCap: Int = 50): DataFrame =
    substringSpansImpl(docs, k, minLen, dfCap, (_, df) => df)

  private def substringSpansImpl(docs: DataFrame, k: Int, minLen: Int,
                                 dfCap: Int,
                                 stage: (String, DataFrame) => DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")))
    // same stage key as spanCutImpl/spanRunsImpl: one gram frame serves
    // all three ExactSubstr lanes per (session, dir)
    val grams = stage("grams", base.filter(col("n") >= k)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), col("n") - (k - 1))).as("i"))
      .select(col("doc_id"), col("i"),
        md5(array_join(slice(col("t"), col("i"), lit(k)), " ")).as("h")))
    val ok = grams.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2 && col("c") <= dfCap).select(col("h"))
    val g = grams.join(ok, Seq("h"))
    val seeds = g.select(col("h"), col("doc_id").as("doc_a"), col("i").as("ia"))
      .join(g.select(col("h"), col("doc_id").as("doc_b"), col("i").as("ib")),
        Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("ia"), col("ib"),
        (col("ia") - col("ib")).as("diag"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("diag")).orderBy(col("ia"))
    seeds.withColumn("grp", col("ia") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
      .agg(min(col("ia")).as("a0"), min(col("ib")).as("b0"),
        (max(col("ia")) - min(col("ia")) + k).as("len"))
      .filter(col("len") >= minLen)
      .select(col("doc_a"), col("doc_b"),
        col("a0").cast("long").as("a_pos"), col("b0").cast("long").as("b_pos"),
        col("len").cast("long").as("span_tokens"))
      .orderBy(col("doc_a"), col("doc_b"), col("a_pos"), col("b_pos"))
  }

  /** CCNet-style perplexity BUCKETING: per language, rank documents by
    * the char-trigram likelihood proxy ([[charTrigramScore]] — high
    * avg corpus-frequency = fluent) and cut into head/middle/tail
    * thirds; emit per-bucket volume stats. The standard three-way
    * quality partition an LM-data pipeline trains different mixtures
    * from (CCNet: per-language Wikipedia-LM perplexity terciles).
    *
    * Determinism: the ntile sort key is (avg_freq DESC, doc_id) — the
    * double is a single division of exact int64s, correctly rounded and
    * bit-identical in both engines, and the doc_id tiebreak makes the
    * total order unique.
    *
    * Scale: rides the trigram-score stage (alphabet-bounded frequency
    * table broadcast); the rank is per-language over per-DOC reductions
    * (one row per doc, never corpus tokens), then a hash-agg.
    */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame =
    ccnetBucketsOf(charTrigramScore(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")), Seq("doc_id")))

  /** `scored` = (doc_id, lang, n_tri, freq_sum, avg_freq) — one row per doc. */
  private[graft] def ccnetBucketsOf(scored: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("avg_freq").desc, col("doc_id"))
    scored.withColumn("tile", ntile(3).over(w))
      .withColumn("bucket",
        when(col("tile") === 1, "head").when(col("tile") === 2, "middle").otherwise("tail"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tri")).as("total_tri"),
        sum(col("freq_sum")).as("total_freq"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** Deterministic MIXTURE sampler: hit a target per-language token
    * mixture (en 40 / de·es·fr·zh 15 each, percent) within a global
    * budget of `budgetPct`% of corpus tokens. Per language the
    * acceptance rate in basis points is `min(10000, target·10000 /
    * available)` — all int64 arithmetic — and a document is kept iff
    * its 60-bit id-hash falls under the rate, so membership is
    * reproducible row-local work (the Dohan/Pile-style weighted
    * source mixing stage, with hash sampling instead of an RNG).
    *
    * Scale: two scans (per-language reduction + row-local keep test),
    * the language table is 5 rows ⇒ broadcast; no shuffle beyond the
    * per-language hash-agg.
    */
  def mixtureSample(spark: SparkSession, dir: String,
                    budgetPct: Int = 30): DataFrame =
    mixtureSampleOf(Tables.documents(spark, dir), budgetPct)

  private[graft] def mixtureSampleOf(docs: DataFrame, budgetPct: Int = 30): DataFrame = {
    val spark = docs.sparkSession
    val weights = Seq(("en", 40L), ("de", 15L), ("es", 15L), ("fr", 15L), ("zh", 15L))
    val wdf = spark.createDataFrame(weights).toDF("lang", "w")
    val d = docs
      .select(col("doc_id"), col("lang"), size(tokens(col("text"))).cast("long").as("n_tok"))
    val avail = d.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("avail"))
    val total = avail.agg(sum(col("avail")).as("total"))
    val rates = avail.crossJoin(broadcast(total)).join(broadcast(wdf), Seq("lang"))
      .withColumn("target", expr(s"total * $budgetPct DIV 100 * w DIV 100"))
      .withColumn("rate_bp", least(lit(10000L), expr("target * 10000 DIV avail")))
    val sampled = d.join(broadcast(rates.select(col("lang"), col("rate_bp"))), Seq("lang"))
      .filter(h60(col("doc_id").cast("string")) % 10000 < col("rate_bp"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("n_tok")).as("tokens_sampled"))
    rates.select(col("lang"), col("n_docs"), col("avail"), col("rate_bp"))
      .join(sampled, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("avail"), col("rate_bp"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("tokens_sampled"), lit(0L)).as("tokens_sampled"))
      .orderBy(col("lang"))
  }

  // ──────────────────── classifier-based selection ────────────────────

  /** The C4 page gate reduced to ONE row-local bit — the weak LABEL for
    * classifier training. Same four rules as [[c4RulesOf]] (kept-line
    * floor, lorem-ipsum, brace, blocklist), evaluated over the seeded
    * text so both classes genuinely occur on the gate corpus.
    */
  private def c4PassBit(text: Column): Column = {
    val kept = filter(split(text, "\n"), l =>
      (l.endsWith(".") || l.endsWith("!") || l.endsWith("?")) &&
        size(split(l, " ")) >= 5 && !l.contains("javascript"))
    ((size(kept) >= 3) && !text.contains("lorem ipsum") &&
      !text.contains("{") &&
      !C4Blocklist.map(text.contains(_)).reduce(_ || _)).cast("bigint")
  }

  /** Vocabulary cap for the trained quality classifier: top terms by
    * corpus occurrence count, ties broken by term — small enough to
    * broadcast everywhere, large enough to cover every discriminative
    * seed token on the gate corpus.
    */
  val ClassifierVocab = 512

  /** Classifier-based data selection — the GPT-3 §2.2 / CCNet pattern
    * (Brown et al. 2020 appendix A; Wenzek et al. 2020): TRAIN a
    * Bernoulli-naive-Bayes-flavored linear text classifier on weak
    * labels from an existing rule gate, CALIBRATE its operating point
    * on the training scores, then SCORE every page, so selection can
    * generalize past the hand-written rules. The weak label here is the
    * [[c4PassBit]] page gate; features are PRESENCE bits of whitespace
    * unigrams over the seeded text (newlines flattened to spaces so
    * line structure doesn't leak into tokens; per-doc distinct is
    * row-local `array_distinct`, no extra shuffle).
    *
    * Integer discipline (the oracle compares stringified cells, so no
    * transcendentals): each vocab term carries a ppm-scaled difference
    * of add-one-smoothed class-conditional DOCUMENT rates
    *   w_ppm(t) = (df1+1)·1e6 div (D1+2) − (df0+1)·1e6 div (D0+2)
    * (exact int64 floor division of non-negative operands — identical
    * in Spark and DuckDB), and a doc scores the sum of its in-vocab
    * presence weights. Rate differences underweight rare killer terms
    * relative to log-odds, so the sign is NOT the decision rule;
    * instead the trained threshold is read off the score histogram:
    * bucket the (shifted non-negative) scores at 10k-ppm granularity,
    * cumulative tp/fp down the buckets, and pick the bucket boundary
    * maximizing training accuracy (ties → the most selective
    * boundary; the empty-selection sentinel competes too). `predicted`
    * is `score_ppm >= threshold`.
    *
    * Scale: linear scans of the exploded distinct-token stream (vocab
    * df count, class df counts, doc scoring), each shuffling only
    * token- or doc-keyed aggregates; the vocab (V=512) and trained
    * weights broadcast; the calibration window runs over the score
    * HISTOGRAM, whose size is bounded by construction (≤ ~205k buckets
    * spanning the ±V·1e6 score range) rather than by corpus size, so
    * the single-partition cumsum is constant work at 100 TB.
    */
  def classifierScores(spark: SparkSession, dir: String): DataFrame =
    StageMemo.memoized(spark, "clf_scores", dir) {
      classifierScoresOf(c4Seeded(
        Tables.documents(spark, dir).select(col("doc_id"), col("text"))))
    }

  /** Warms the trained+scored frame (the bench stage builder: training
    * is the once-per-corpus cost; both lanes probe the memoized result).
    */
  def ensureClassifierStages(spark: SparkSession, dir: String): Unit =
    classifierScores(spark, dir).count()

  /** Shift making every score non-negative before bucketing (|score| ≤
    * V·1e6 = 512e6 < 1024e6): integer division of NEGATIVE operands is
    * the one place Spark (truncating DIV) and DuckDB (flooring //)
    * disagree, so the lane never divides a negative.
    */
  private val ScoreShift = 1024000000L

  private[graft] def classifierScoresOf(seeded: DataFrame): DataFrame = {
    val V = ClassifierVocab
    val lab = seeded.select(col("doc_id"), c4PassBit(col("text")).as("label"),
      col("text"))
    val tok = lab.select(col("doc_id"), col("label"),
      explode(array_distinct(split(translate(col("text"), "\n", " "), " ")))
        .as("token"))
    val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(V).select("token")
    val cnt = tok.join(broadcast(vocab), Seq("token"))
      .groupBy(col("token"))
      .agg(sum(col("label")).as("df1"), sum(lit(1L) - col("label")).as("df0"))
    val dtot = lab.agg(sum(col("label")).as("d1"),
      sum(lit(1L) - col("label")).as("d0"))
    val w = cnt.crossJoin(broadcast(dtot))
      .select(col("token"),
        expr("(df1 + 1) * 1000000 DIV (d1 + 2) - (df0 + 1) * 1000000 DIV (d0 + 2)")
          .as("w_ppm"))
    val agg = tok.join(broadcast(w), Seq("token"))
      .groupBy(col("doc_id"))
      .agg(sum(col("w_ppm")).as("tok_ppm"), count(lit(1)).as("n_vocab_tokens"))
    val scored = lab.select(col("doc_id"), col("label"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("label"),
        coalesce(col("n_vocab_tokens"), lit(0L)).as("n_vocab_tokens"),
        coalesce(col("tok_ppm"), lit(0L)).as("score_ppm"))
    scored
      .crossJoin(broadcast(trainedThresholdOf(scored)))
      .withColumn("predicted",
        (col("score_ppm") >= col("threshold_ppm")).cast("bigint"))
      .select("doc_id", "label", "n_vocab_tokens", "score_ppm", "predicted")
  }

  /** Operating-point calibration: one (threshold_ppm) row — the 10k-ppm
    * bucket boundary maximizing training-set accuracy of the rule
    * `score >= boundary`, ties to the most selective boundary. The
    * sentinel bucket above the max score (selecting nothing, accuracy =
    * the negative base rate) competes on equal terms, so a worthless
    * score never yields a worse-than-baseline selector.
    */
  private def trainedThresholdOf(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = scored
      .groupBy(expr(s"(score_ppm + $ScoreShift) DIV 10000").as("bucket"))
      .agg(sum(col("label")).as("n1"), sum(lit(1L) - col("label")).as("n0"))
    val withSentinel = hist.unionByName(
      hist.agg((max(col("bucket")) + 1).as("bucket"),
        lit(0L).as("n1"), lit(0L).as("n0")))
    val desc = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withSentinel
      .select(col("bucket"), sum(col("n1")).over(desc).as("tp"),
        sum(col("n0")).over(desc).as("fp"),
        (sum(col("n1")).over(desc) - sum(col("n0")).over(desc)).as("net"))
      // accuracy = tp + (D0 - fp) = net + D0: D0 is constant, so argmax
      // over net needs no total-count join
      .orderBy(col("net").desc, col("bucket").desc).limit(1)
      .select((col("bucket") * 10000 - ScoreShift).as("threshold_ppm"))
  }

  /** Confusion-matrix evaluation of the trained classifier against its
    * own weak labels (the train-set fit a curation run publishes before
    * trusting the classifier on unlabeled data): exact integer counts
    * plus ppm-scaled accuracy/precision/recall/F1, each ONE int64 floor
    * division (non-negative operands) with a zero-denominator guard.
    * One row out.
    */
  def classifierEval(spark: SparkSession, dir: String): DataFrame =
    classifierEvalOf(classifierScores(spark, dir))

  private[graft] def classifierEvalOf(scored: DataFrame): DataFrame =
    scored
      .agg(
        sum(col("label") * col("predicted")).as("tp"),
        sum((lit(1L) - col("label")) * col("predicted")).as("fp"),
        sum(col("label") * (lit(1L) - col("predicted"))).as("fn"),
        sum((lit(1L) - col("label")) * (lit(1L) - col("predicted"))).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        expr("(tp + tn) * 1000000 DIV (tp + fp + fn + tn)").as("accuracy_ppm"),
        expr("CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 1000000 DIV (tp + fp) END")
          .as("precision_ppm"),
        expr("CASE WHEN tp + fn = 0 THEN 0 ELSE tp * 1000000 DIV (tp + fn) END")
          .as("recall_ppm"),
        expr("CASE WHEN 2 * tp + fp + fn = 0 THEN 0 ELSE 2 * tp * 1000000 DIV (2 * tp + fp + fn) END")
          .as("f1_ppm"))
}
