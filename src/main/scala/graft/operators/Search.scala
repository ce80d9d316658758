package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Keyword search over the document corpus: BM25-ranked top-k retrieval
  * (Robertson/Spärck Jones; k1 = 1.2, b = 0.75) — the lexical
  * counterpart of the embedding ANN tier.
  *
  * Determinism (oracle hash-compare): the per-term score is computed as
  * `floor(1e6 · idf · tfpart)` where idf and tfpart are single double
  * divisions of EXACT integer operands, written in the identical
  * left-to-right shape in the DuckDB oracle — IEEE division and
  * multiplication are correctly rounded in both engines, so the floored
  * int64 is bit-identical. Per-doc scores are int64 SUMS of those —
  * partition-order independent. The rational forms come from clearing
  * denominators with avgdl = ltot/n:
  *   idf    = (N − df + ½)/(df + ½)            = (2N − 2df + 1)/(2df + 1)
  *   tfpart = 2.2·tf/(tf + 1.2(¼ + ¾·dl·N/L))  = 44·tf·L/(20·tf·L + 6·L + 18·dl·N)
  *
  * Scale: tf/dl are one explode + two hash aggs over the corpus (the
  * inverted-index build — at 100 TB this materializes once as a bucketed
  * table keyed by term); the query-term set is broadcast, so scoring
  * touches only postings of queried terms; ranking is the k-bounded
  * heap aggregation, never a global sort.
  */
object Search {

  /** The fixed query workload: tiny, versioned with the engine. */
  val Queries: Seq[(Long, String)] = Seq(
    0L -> "hash join merge",
    1L -> "stream window agg",
    2L -> "scan filter sort table")

  /** The fixed phrase workload for [[phraseTopK]]. Phrase 1 exercises
    * the 3-term walk and legitimately has zero hits at the test SFs —
    * an empty result set for one phrase is a real search outcome the
    * gate should pin, not avoid; phrases 0/2/3 keep the row non-vacuous.
    */
  val Phrases: Seq[(Long, String)] = Seq(
    0L -> "hash join",
    1L -> "sort merge join",
    2L -> "scan filter",
    3L -> "stream window")

  /** Exact-phrase search: top-k docs by phrase occurrence count, from a
    * POSITIONAL postings index — the classic inverted-index phrase walk:
    * each phrase term's postings are joined on (doc_id, start_pos −
    * term_offset), so an occurrence survives iff all terms line up
    * consecutively. Overlapping occurrences count (the oracle's m-gram
    * scan counts them too).
    *
    * Scale: the postings index is built once (one explode + no shuffle —
    * the joins repartition term-FILTERED postings only, each a tiny
    * fraction of the corpus); the phrase workload is a constant. At
    * 100 TB the index materializes as a bucketed table keyed by term and
    * the walk joins rarest-term-first; the fold below keeps that shape.
    */
  def phraseTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
      .persist(MEMORY_AND_DISK)
    val perPhrase = Phrases.map { case (qid, phrase) =>
      val terms = phrase.split(" ")
      // postings of term i, rebased to the phrase start position
      def postings(t: String, i: Int) =
        toks.filter(col("term") === t)
          .select(col("doc_id"), (col("pos") - i).as("p0"))
      val matches = terms.zipWithIndex.map((postings _).tupled)
        .reduce(_.join(_, Seq("doc_id", "p0")))
      matches.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("phrase_tf"))
        .select(lit(qid).as("query_id"), col("doc_id"), col("phrase_tf"))
    }.reduce(_.unionAll(_))
    Dedup.topKPerKey(perPhrase, Seq("query_id"),
        Seq(-col("phrase_tf"), col("doc_id")), k)
      .withColumnRenamed("rk", "rnk")
      .orderBy(col("query_id"), col("rnk"))
  }

  /** The postings frame (doc_id, term, tf) — the inverted-index core
    * every lexical retriever reads. Session-staged so BM25, the TF-IDF
    * VSM ranker, and the hybrid fusion share ONE corpus explode (at
    * 100 TB this is the bucketed term-keyed index table, built once).
    */
  private def tfStage(spark: SparkSession, dir: String): DataFrame =
    StageMemo.memoized(spark, "search_tf", dir)(
      Tables.documents(spark, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf")))

  /** BM25's index-side artifacts beyond the postings, session-staged:
    * doc lengths (Σ tf per doc), the two corpus scalars, per-term
    * document frequencies — exactly what a Lucene segment PERSISTS
    * beside its postings. Before staging, every probe re-aggregated
    * them from the postings frame (a corpus-sized rollup per query
    * batch for values the index already holds — the round-10 protocol
    * runs charged it to bm25 once and to the hybrid lane twice).
    */
  private def bm25Stages(spark: SparkSession,
                         dir: String): (DataFrame, DataFrame, DataFrame) = {
    val tf = tfStage(spark, dir)
    val dl = StageMemo.memoized(spark, "search_dl", dir)(
      tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")))
    val st = StageMemo.memoized(spark, "search_stats", dir)(
      dl.agg(sum(col("dl")).as("ltot"), count(lit(1)).as("n")))
    val dfT = StageMemo.memoized(spark, "search_df", dir)(
      tf.groupBy(col("term")).agg(count(lit(1)).as("df")))
    (dl, st, dfT)
  }

  def bm25TopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    // postings (tf) feed the scoring join — the ONLY corpus scan+explode
    // in the query; dl/stats/df come pre-aggregated from the staged
    // index artifacts (at 100 TB a re-rollup per probe is a full
    // postings pass wasted on values the index already holds).
    val tf = tfStage(spark, dir)
    val (dl, st, dfT) = bm25Stages(spark, dir)
    bm25Scores(tf, dl, st, dfT, k)
  }

  /** The per-(term, doc) BM25 integer score — floor(10⁶·idf·tfpart)
    * over columns (tf, dl, df, n, ltot): one double division per
    * factor, multiplied left-to-right, floored to int64 (identical
    * expression shape as the oracle SQL). Shared by the plain scoring
    * join and RM3's expansion-term mining, so "the same score" is one
    * expression, not two maintained copies.
    */
  private def bm25S: Column = {
    val idf = (lit(2.0) * col("n") - lit(2) * col("df") + lit(1)) /
      (lit(2) * col("df") + lit(1))
    val tfpart = (lit(44.0) * col("tf") * col("ltot")) /
      (lit(20.0) * col("tf") * col("ltot") + lit(6.0) * col("ltot") +
        lit(18.0) * col("dl") * col("n"))
    floor(lit(1000000.0) * idf * tfpart)
  }

  /** The BM25 scoring join over index-artifact frames — ONE code path
    * shared by the session-staged index ([[bm25TopK]]) and the
    * persisted store ([[bm25TopKStored]]), so probe ≡ full-rebuild
    * holds by construction, not by parallel maintenance.
    */
  private def bm25Scores(tf: DataFrame, dl: DataFrame, st: DataFrame,
                         dfT: DataFrame, k: Int): DataFrame = {
    val spark = tf.sparkSession
    import spark.implicits._
    val qt = Queries.toDF("query_id", "qtext")
      .select(col("query_id"), explode(split(col("qtext"), " ")).as("term"))
      .distinct()
    val termScores = broadcast(qt).join(tf, Seq("term"))
      .join(dl, Seq("doc_id"))
      .join(dfT, Seq("term"))
      .crossJoin(broadcast(st))
      .select(col("query_id"), col("doc_id"), bm25S.as("s"))
    val scores = termScores.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("s")).as("score"))
    Dedup.topKPerKey(scores, Seq("query_id"), Seq(-col("score"), col("doc_id")), k)
      .withColumnRenamed("rk", "rnk")
      .orderBy(col("query_id"), col("rnk"))
  }

  /** RM3-style pseudo-relevance feedback (Rocchio expansion over a
    * relevance-model term pool — the query-expansion step Anserini/
    * Indri run as `-rm3`): retrieve with plain BM25, treat the top
    * `fbDocs` as pseudo-relevant, mine the `fbTerms` strongest
    * expansion terms from them, and re-retrieve with the expanded
    * weighted query. Term strength = the SAME integer BM25 score the
    * ranker uses, summed over the feedback docs — so the whole loop is
    * one expression family end to end. Original terms never re-enter
    * the expansion pool (left-anti on the query terms), and the final
    * score interpolates origW:expW (the integer analog of RM3's λ mix).
    *
    * Determinism: both passes rank integer scores with doc/term
    * tie-breaks; the mined pool is integer-weighted with a term
    * tie-break — bit-reproducible in the DuckDB oracle.
    *
    * Scale: pass 1 is [[bm25TopK]] (staged index artifacts); the mining
    * join touches only |queries|·fbDocs postings rows by doc_id
    * (point lookups against the postings index at 100 TB); pass 2 is
    * the plain scoring join with ≤ |orig|+fbTerms terms per query —
    * term-filtered postings, never a corpus re-scan.
    */
  def bm25Rm3TopK(spark: SparkSession, dir: String, k: Int = 10,
                  fbDocs: Int = 3, fbTerms: Int = 5,
                  origW: Int = 2, expW: Int = 1): DataFrame = {
    import spark.implicits._
    val tf = tfStage(spark, dir)
    val (dl, st, dfT) = bm25Stages(spark, dir)
    val qt = Queries.toDF("query_id", "qtext")
      .select(col("query_id"), explode(split(col("qtext"), " ")).as("term"))
      .distinct()
    val expanded = rm3ExpansionTerms(spark, dir, fbDocs, fbTerms)
      .select(col("query_id"), col("term"), lit(expW.toLong).as("qw"))
    val weighted = qt
      .select(col("query_id"), col("term"), lit(origW.toLong).as("qw"))
      .unionAll(expanded)
    // pass 2: the expanded weighted query through the same scoring join
    val ts = broadcast(weighted).join(tf, Seq("term"))
      .join(dl, Seq("doc_id")).join(dfT, Seq("term"))
      .crossJoin(broadcast(st))
      .select(col("query_id"), col("doc_id"), (col("qw") * bm25S).as("s"))
    val scores = ts.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("s")).as("score"))
    Dedup.topKPerKey(scores, Seq("query_id"), Seq(-col("score"), col("doc_id")), k)
      .withColumnRenamed("rk", "rnk")
      .orderBy(col("query_id"), col("rnk"))
  }

  /** RM3's mined expansion pool: the top `fbTerms` terms per query
    * from the `fbDocs` pseudo-relevant docs, weighted by the shared
    * integer BM25 term score summed over the feedback docs, with the
    * original query terms excluded (left-anti). Spec-visible so the
    * never-re-add-original-terms property is testable directly.
    */
  private[graft] def rm3ExpansionTerms(spark: SparkSession, dir: String,
                                       fbDocs: Int, fbTerms: Int): DataFrame = {
    import spark.implicits._
    val tf = tfStage(spark, dir)
    val (dl, st, dfT) = bm25Stages(spark, dir)
    val qt = Queries.toDF("query_id", "qtext")
      .select(col("query_id"), explode(split(col("qtext"), " ")).as("term"))
      .distinct()
    // pass 1: plain BM25 nominates the pseudo-relevant docs
    val fb = bm25TopK(spark, dir, fbDocs).select(col("query_id"), col("doc_id"))
    // expansion pool: every term of every feedback doc, weighted by the
    // shared integer term score summed over the query's feedback docs
    val mined = tf.join(broadcast(fb), Seq("doc_id"))
      .join(dl, Seq("doc_id")).join(dfT, Seq("term"))
      .crossJoin(broadcast(st))
      .select(col("query_id"), col("term"), bm25S.as("s"))
      .groupBy(col("query_id"), col("term"))
      .agg(sum(col("s")).as("w"))
      .join(qt, Seq("query_id", "term"), "left_anti")
    Dedup.topKPerKey(mined, Seq("query_id"), Seq(-col("w"), col("term")), fbTerms)
      .select(col("query_id"), col("term"), col("w"))
  }

  /** The idf table and per-doc norm rollup — ingest-time artifacts of
    * the VSM index (at 100 TB: columns of the postings table, built
    * once), session-staged so probes pay only the query-term scoring
    * join. `n` is a count on the CACHED postings frame (cheap, and it
    * must precede the idf build it parameterizes).
    */
  private def tfidfStages(spark: SparkSession,
                          dir: String): (DataFrame, DataFrame, DataFrame) = {
    val tf = tfStage(spark, dir)
    // n (corpus doc count) from the staged stats scalar — the previous
    // tf.distinct().count() re-ran a corpus aggregation on every CALL
    // of this method (twice per hybrid probe)
    val n = bm25Stages(spark, dir)._2.collect()(0).getAs[Long]("n")
    val dfT = StageMemo.memoized(spark, "tfidf_idf", dir)(
      tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .withColumn("idfs", expr(s"(2 * $n - 2 * df + 1) * 100 DIV (2 * df + 1)")))
    // weighted postings (tf·idf per (doc, term)) — the stored term
    // weights of a VSM index, staged so probes only JOIN them
    val w = StageMemo.memoized(spark, "tfidf_w", dir)(
      tf.join(dfT.select(col("term"), col("idfs")), Seq("term"))
        .select(col("doc_id"), col("term"), (col("tf") * col("idfs")).as("w")))
    val normD = StageMemo.memoized(spark, "tfidf_norm", dir)(
      w.groupBy(col("doc_id")).agg(sum(col("w") * col("w")).as("norm2_d")))
    (dfT, w, normD)
  }

  /** Bench build seam for the search family: postings, idf table, and
    * per-doc norms materialize once.
    */
  def ensureSearchStages(spark: SparkSession, dir: String): Unit = {
    val (bdl, bst, bdf) = bm25Stages(spark, dir)
    bdl.count(); bst.count(); bdf.count()
    val (dfT, w, normD) = tfidfStages(spark, dir)
    dfT.count(); w.count(); normD.count()
    qrelStage(spark, dir).count()
    ()
  }

  /** TF-IDF vector-space ranking — the classic VSM cosine retriever
    * beside BM25. Exact-arithmetic discipline: the idf is the
    * 100-scaled integer `(2N − 2df + 1)·100 DIV (2df + 1)` (same
    * rational idf as BM25, floored once), term weights `tf·idf` and
    * both squared norms are int64 sums, and the only float work is the
    * terminal `floor(1e6 · dot / (√norm_d · √norm_q))` — int64→double
    * conversion, sqrt, multiply, divide are all IEEE-correctly-rounded
    * in both engines, so the floored score hash-matches the oracle.
    * (The 100 idf scale keeps the int64 norm sums overflow-free to
    * ~1e5-doc corpora — verified at the 50k-doc sf1 drill; a larger
    * deployment drops the scale another decade.)
    *
    * Scale: rides the staged postings frame; the per-DOC norm rollup is
    * one hash-agg over it; scoring touches only queried-term postings
    * (query set broadcast); ranking is the k-bounded heap.
    */
  def tfidfTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    val (dfT, w, normD) = tfidfStages(spark, dir)
    val qt = Queries.toDF("query_id", "qtext")
      .select(col("query_id"), explode(split(col("qtext"), " ")).as("term"))
      .distinct()
    val qw = broadcast(qt).join(dfT.select(col("term"), col("idfs")), Seq("term"))
    val normQ = qw.groupBy(col("query_id"))
      .agg(sum(col("idfs") * col("idfs")).as("norm2_q"))
    val dot = qw.join(w, Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w") * col("idfs")).as("dot"))
    val scores = dot.join(normD, Seq("doc_id")).join(broadcast(normQ), Seq("query_id"))
      .select(col("query_id"), col("doc_id"),
        floor(lit(1000000.0) * col("dot") /
          (sqrt(col("norm2_d").cast("double")) * sqrt(col("norm2_q").cast("double"))))
          .cast("bigint").as("score"))
    Dedup.topKPerKey(scores, Seq("query_id"), Seq(-col("score"), col("doc_id")), k)
      .withColumnRenamed("rk", "rnk")
      .orderBy(col("query_id"), col("rnk"))
  }

  /** HYBRID retrieval with reciprocal-rank fusion (the Elasticsearch /
    * Vespa / Cormack-Clarke-Buettcher RRF): the BM25 and TF-IDF top-k
    * lists fuse per (query, doc) as Σ 1000000 DIV (60 + rank) —
    * all-integer, so the fused order is oracle-exact. A doc retrieved
    * by only one ranker contributes a single term (standard RRF).
    *
    * Scale: fusion inputs are k-bounded rank lists (k·|queries| rows),
    * so the outer join and re-rank are driver-trivial regardless of
    * corpus size; the cost is the two retrievers, which share the
    * staged postings frame.
    */
  def hybridRrfTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    rrfFuse(bm25TopK(spark, dir, k), tfidfTopK(spark, dir, k), k)

  /** RRF over two already-ranked lists — split out so [[evalRankers]]
    * can fuse the SAME (persisted) lists it evaluates instead of
    * re-running both retrievers inside the fusion.
    */
  private def rrfFuse(bm: DataFrame, tv: DataFrame, k: Int): DataFrame = {
    def contrib(df: DataFrame, name: String) =
      df.select(col("query_id"), col("doc_id"),
        expr("1000000 DIV (60 + rnk)").as(name))
    val fused = contrib(bm, "c_bm25")
      .join(contrib(tv, "c_tfidf"), Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(col("c_bm25"), lit(0L)) + coalesce(col("c_tfidf"), lit(0L)))
          .as("rrf_score"))
    Dedup.topKPerKey(fused, Seq("query_id"), Seq(-col("rrf_score"), col("doc_id")), k)
      .withColumnRenamed("rk", "rnk")
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Retrieval EVALUATION over all three rankers — the harness a search
    * stack ships beside its retrievers (trec_eval's job): per (ranker,
    * query), the first-relevant rank, reciprocal rank, precision@k
    * numerator, and the relevant-set size, against self-derived qrels:
    * a doc is relevant iff it contains EVERY query term at least
    * [[RelevanceTf]] times (the Boolean-AND judgment with a tf floor —
    * at floor 1 the synthetic corpus saturates: >50% of docs qualify
    * and every ranker scores a perfect MRR; at 3 the relevant sets are
    * 1-7% of the corpus and the rankers actually differ). Derivable
    * from the same postings frame in both engines, so the whole eval
    * is oracle-exact; graded human qrels would arrive as a table and
    * swap in for the qrels frame.
    *
    * All-integer contract (house recall-row style): hit_rank is the
    * rank itself (0 = no relevant doc retrieved), rr_micro =
    * `1000000 DIV hit_rank` — MRR in micro-units is then a plain AVG
    * downstream, with no float division anywhere.
    *
    * Scale: qrels ride the staged postings frame filtered to query
    * terms (broadcast query side, never a corpus pass beyond the
    * postings it already holds); everything after the retrievers joins
    * k·|queries|-bounded rank lists.
    */
  /** The qrel tf floor (see [[evalRankers]]). */
  val RelevanceTf = 3

  /** The qrels frame, session-staged: an eval harness materializes its
    * judgments once beside the index (trec_eval reads a qrels FILE) —
    * re-deriving them per eval run re-aggregates query-term postings
    * the harness already holds. Graded human qrels would land as a
    * table in exactly this slot.
    */
  private def qrelStage(spark: SparkSession, dir: String): DataFrame =
    StageMemo.memoized(spark, s"search_qrels_$RelevanceTf", dir) {
      import spark.implicits._
      val tf = tfStage(spark, dir).filter(col("tf") >= RelevanceTf)
      val qt = Queries.toDF("query_id", "qtext")
        .select(col("query_id"), explode(split(col("qtext"), " ")).as("term"))
        .distinct()
      val nTerms = qt.groupBy(col("query_id")).agg(count(lit(1)).as("n_terms"))
      // tf is distinct on (doc_id, term), so count(*) counts covered terms
      broadcast(qt).join(tf, Seq("term"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(count(lit(1)).as("nt"))
        .join(broadcast(nTerms), Seq("query_id"))
        .filter(col("nt") === col("n_terms"))
        .select(col("query_id"), col("doc_id"), lit(1L).as("rel"))
    }

  /** The three rank lists (bm25 / rrf / tfidf), k·|queries| rows,
    * session-staged: [[evalRankers]] and [[evalNdcg]] are two metric
    * faces of the SAME retrieval run — a real eval harness scores one
    * run file per ranker, it never re-retrieves per metric. Each
    * retriever runs ONCE inside the build (the k·|queries|-row lists
    * persist and feed both the fusion and the union; without this the
    * RRF branch re-executes both corpus-scoring joins — measured
    * 3.6 s → 1.5 s at sf0.1).
    */
  private def rankedStage(spark: SparkSession, dir: String,
                          k: Int): DataFrame =
    StageMemo.memoized(spark, s"search_ranked_$k", dir) {
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val bm = bm25TopK(spark, dir, k).persist(MEMORY_AND_DISK)
      val tv = tfidfTopK(spark, dir, k).persist(MEMORY_AND_DISK)
      Seq(
        "bm25" -> bm,
        "rrf" -> rrfFuse(bm, tv, k),
        "tfidf" -> tv)
        .map { case (tag, df) =>
          df.select(lit(tag).as("ranker"), col("query_id"), col("doc_id"), col("rnk"))
        }.reduce(_.unionAll(_))
    }

  def evalRankers(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    val qrels = qrelStage(spark, dir)
    val ranked = rankedStage(spark, dir, k)
    val inList = ranked.join(qrels, Seq("query_id", "doc_id"), "left")
      .groupBy(col("ranker"), col("query_id"))
      .agg(min(when(col("rel") === 1, col("rnk"))).as("first_rel"),
        sum(coalesce(col("rel"), lit(0L))).as("pk_hits"))
    val nRel = qrels.groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
    val grid = Seq("bm25", "rrf", "tfidf").toDF("ranker")
      .crossJoin(Queries.toDF("query_id", "qtext").select(col("query_id")))
    grid
      .join(broadcast(nRel), Seq("query_id"), "left")
      .join(broadcast(inList), Seq("ranker", "query_id"), "left")
      .select(col("ranker"), col("query_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("first_rel"), lit(0L)).cast("bigint").as("hit_rank"),
        coalesce(expr("1000000 DIV first_rel"), lit(0L)).cast("bigint").as("rr_micro"),
        coalesce(col("pk_hits"), lit(0L)).as("p10_hits"))
      .orderBy(col("ranker"), col("query_id"))
  }

  /** The nDCG rank-discount table, pre-scaled to exact integers:
    * d(r) = ⌊10⁶ / log₂(1+r)⌋ for r = 1..k. Computed ONCE here and
    * embedded as literals in BOTH the engine plan and the oracle SQL
    * (the floats never cross engines — the DSIR log-free discipline
    * applied to the one metric whose definition demands a logarithm).
    */
  private[graft] def ndcgDiscountsMicro(k: Int): Seq[Long] =
    (1 to k).map(r =>
      math.floor(1e6 / (math.log(1.0 + r) / math.log(2.0))).toLong)

  /** nDCG@k over the same retrieval run — completes the trec_eval
    * triad beside [[evalRankers]]'s MRR and P@k. Binary relevance
    * (the qrel contract), so DCG@k = Σ d(rank) over in-list relevant
    * docs and the ideal DCG is the discount prefix sum at
    * min(n_rel, k); both ship as exact micro-scaled integers plus the
    * ‰ ratio (integer division — 0 when the query has no relevant
    * docs, trec_eval's convention).
    *
    * Scale: two broadcast-sized joins over the staged k·|queries| rank
    * lists ([[rankedStage]] — shared with the MRR lane, retrievers
    * never re-run per metric); the discount table enters as one
    * k-entry array literal.
    */
  def evalNdcg(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    val qrels = qrelStage(spark, dir)
    val ranked = rankedStage(spark, dir, k)
    val disc = ndcgDiscountsMicro(k)
    val discLit = typedLit(disc)
    val prefixLit = typedLit(disc.scanLeft(0L)(_ + _).tail)
    val dcg = ranked.join(qrels, Seq("query_id", "doc_id"))
      .groupBy(col("ranker"), col("query_id"))
      .agg(sum(element_at(discLit, col("rnk").cast("int"))).as("dcg_micro"))
    val nRel = qrels.groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
    val grid = Seq("bm25", "rrf", "tfidf").toDF("ranker")
      .crossJoin(Queries.toDF("query_id", "qtext").select(col("query_id")))
    grid
      .join(broadcast(nRel), Seq("query_id"), "left")
      .join(broadcast(dcg), Seq("ranker", "query_id"), "left")
      .select(col("ranker"), col("query_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
        coalesce(when(col("n_rel") > 0,
          element_at(prefixLit, least(col("n_rel"), lit(k.toLong)).cast("int"))),
          lit(0L)).as("idcg_micro"))
      .withColumn("ndcg_permille",
        when(col("idcg_micro") > 0,
          expr("(1000 * dcg_micro) DIV idcg_micro")).otherwise(lit(0L)))
      .orderBy(col("ranker"), col("query_id"))
  }

  /** QUERY-BY-DOCUMENT hybrid retrieval — "find documents related to
    * this one" (near-dup review queues, recommendation, RAG context
    * widening): the SEMANTIC neighbor list (exact cosine over the
    * embedded subset — the ANN family's truth frame, [[Similarity
    * .cosineTopK]]) RRF-fused with the LEXICAL neighbor list (df-capped
    * n-gram Jaccard ranks from the dedup family's shared intersection
    * frame, [[graft.operators.MinHash.corpusSized]]). Probes are the
    * embedded docs on the ANN query stride — `vec_id` IS the doc_id of
    * the embedded subset, the usual "embeddings cover part of the
    * corpus" layout. The two retrievers deliberately see DIFFERENT
    * candidate universes (cosine ranks only embedded docs; Jaccard any
    * doc sharing a surviving shingle) and the full-outer fusion handles
    * the asymmetry: a doc absent from one list contributes zero from
    * that side, so lexical-only hits still surface and semantically
    * close paraphrases still surface — the production hybrid shape.
    *
    * All-integer contract: lexical ranks order by
    * `jacc_micro = 1000000·inter DIV union` (exact integer division of
    * exact integer counts — never a float Jaccard in an oracle-compared
    * sort key); fusion uses the house `1000000 DIV (60 + rnk)`; output
    * is (q_id, doc_id, rrf_score, rnk), all int64.
    *
    * Scale: the semantic side is the staged cosine frame (query side
    * stride-bounded and broadcast); the lexical side reuses the
    * memoized df-capped intersection frame (collision-bounded, never
    * doc×doc) oriented to the broadcast probe set; the fusion joins two
    * k·|probes| rank lists. No new corpus pass anywhere.
    */
  def relatedHybridTopK(spark: SparkSession, dir: String, k: Int = 5,
                        queryStride: Int = 50): DataFrame = {
    val sem = Similarity.cosineTopK(spark, dir, k, queryStride)
      .select(col("q_id"), col("vec_id").as("doc_id"), col("rnk").as("rnk_sem"))
    val probes = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % queryStride === 0)
      .select(col("vec_id").as("q_id"))
    // the unordered (doc_a < doc_b) pair frame, oriented to the probe:
    // a probe can sit on either side of a stored pair
    val sized = MinHash.corpusSized(spark, dir)
    val un = (col("n_a") + col("n_b") - col("inter")).as("un")
    val oriented = sized
      .select(col("doc_a").as("q_id"), col("doc_b").as("doc_id"), col("inter"), un)
      .unionAll(sized
        .select(col("doc_b").as("q_id"), col("doc_a").as("doc_id"), col("inter"), un))
    val lex = Dedup.topKPerKey(
        oriented.join(broadcast(probes), Seq("q_id"))
          .withColumn("jacc_micro", expr("(1000000 * inter) DIV un")),
        Seq("q_id"), Seq(-col("jacc_micro"), col("doc_id")), k)
      .select(col("q_id"), col("doc_id"), col("rk").as("rnk_lex"))
    val fused = sem.join(lex, Seq("q_id", "doc_id"), "full_outer")
      .select(col("q_id"), col("doc_id"),
        (coalesce(expr("1000000 DIV (60 + rnk_sem)"), lit(0L)) +
          coalesce(expr("1000000 DIV (60 + rnk_lex)"), lit(0L))).as("rrf_score"))
    Dedup.topKPerKey(fused, Seq("q_id"), Seq(-col("rrf_score"), col("doc_id")), k)
      .withColumnRenamed("rk", "rnk")
      .orderBy(col("q_id"), col("rnk"))
  }

  // ── Persisted inverted index with incremental document append — the
  // lexical twin of the shingle ([[MinHash.appendShingleIndex]]), IVF
  // ([[Similarity.appendIvfIndex]]), chunk, and HNSW graph stores.
  // Without it, a corpus pipeline re-pays the postings explode per
  // SESSION; with it, the explode happens once per document at ingest.
  //
  // Layout (what a Lucene segment persists, as four catalog tables):
  //   <name>_postings (doc_id, term, tf)  bucketed by term — scoring
  //     joins the broadcast query-term set bucket-locally, no exchange
  //     on the store side, ever;
  //   <name>_dl       (doc_id, dl)        bucketed by doc_id;
  //   <name>_df       (term, df)          bucketed by term — PER-SEGMENT
  //     partial document frequencies (each doc lives in exactly one
  //     appended segment, so df is additive: the probe SUMs by term);
  //   <name>_stats    (ltot, n)           one row per segment, summed
  //     at probe (the additive corpus scalars).
  // Appends only ADD files to existing buckets (appendBucketed) — no
  // pre-existing file is rewritten (mtime identity pinned in
  // SearchStoreSpec), and probe ≡ full-rebuild because every artifact
  // is a sum of per-segment values a one-shot build would produce.

  /** One segment's postings — the SAME derivation as [[tfStage]]
    * (explode on the space split, count per (doc, term)), applied to a
    * batch instead of the whole corpus.
    */
  private def indexSegment(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Write one segment's four artifacts. `overwrite` for the base
    * build, append for growth; the artifact derivations are shared so
    * base and appended segments are indistinguishable to the probe.
    */
  private def writeSegment(spark: SparkSession, docs: DataFrame,
                           name: String, overwrite: Boolean,
                           nBuckets: Int): Unit = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    import graft.sources.BucketedTables
    val tf = indexSegment(docs).persist(MEMORY_AND_DISK)
    try {
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val st = dl.agg(sum(col("dl")).as("ltot"), count(lit(1)).as("n"))
      if (overwrite) {
        BucketedTables.writeBucketed(tf, s"${name}_postings", "term", nBuckets)
        BucketedTables.writeBucketed(dl, s"${name}_dl", "doc_id", nBuckets)
        BucketedTables.writeBucketed(dfT, s"${name}_df", "term", nBuckets)
        st.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").saveAsTable(s"${name}_stats")
      } else {
        BucketedTables.appendBucketed(tf, s"${name}_postings", "term", nBuckets)
        BucketedTables.appendBucketed(dl, s"${name}_dl", "doc_id", nBuckets)
        BucketedTables.appendBucketed(dfT, s"${name}_df", "term", nBuckets)
        st.write.mode(org.apache.spark.sql.SaveMode.Append)
          .format("parquet").saveAsTable(s"${name}_stats")
      }
    } finally { tf.unpersist(); () }
  }

  /** Build the store from a base corpus. */
  def buildSearchIndex(spark: SparkSession, docs: DataFrame, name: String,
                       nBuckets: Int = 32): Unit =
    writeSegment(spark, docs, name, overwrite = true, nBuckets)

  /** Append a document batch as a new segment: additional files in the
    * term/doc_id buckets + one more stats row — no existing file
    * rewritten. The batch frame alone determines what is appended.
    */
  def appendSearchIndex(spark: SparkSession, name: String, batch: DataFrame,
                        nBuckets: Int = 32): Unit =
    writeSegment(spark, batch, name, overwrite = false, nBuckets)

  /** BM25 over the persisted store — the exact scoring path of
    * [[bm25TopK]] ([[bm25Scores]] is shared), fed by the store's
    * tables: df/stats are per-segment sums (one tiny agg each; df's
    * group-by rides the term bucketing with no exchange), postings join
    * the broadcast query-term set bucket-locally.
    */
  def bm25TopKStored(spark: SparkSession, name: String, k: Int = 10): DataFrame = {
    val tf = spark.table(s"${name}_postings")
    val dl = spark.table(s"${name}_dl")
    val dfT = spark.table(s"${name}_df")
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    val st = spark.table(s"${name}_stats")
      .agg(sum(col("ltot")).as("ltot"), sum(col("n")).as("n"))
    bm25Scores(tf, dl, st, dfT, k)
  }

  /** One grown-store build per (JVM, dir): base segment from
    * doc_id % batchMod != 0, then [[appendSearchIndex]] of the rest —
    * probing it must produce the same ranking as the session-staged
    * full pipeline (the search_grown oracle row's gate, same SQL as
    * search_bm25_topk).
    */
  private[graft] def ensureGrownSearchIndex(spark: SparkSession, dir: String,
                                            batchMod: Int = 5): String = {
    // dir → table name must be INJECTIVE: sanitation alone collides
    // (/a/b and /a_b both map to _a_b, and the second dir would find
    // the first's tables + marker and silently probe the wrong
    // corpus's index), so a content hash of the raw dir string rides
    // along with the readable slug
    val name = s"graft_search_grown_${batchMod}_" +
      dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + dirHash(dir)
    graft.sources.Artifacts.table(spark,
        Seq("_postings", "_dl", "_df", "_stats").map(name + _): _*) {
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      buildSearchIndex(spark, docs.filter(col("doc_id") % batchMod =!= 0), name)
      appendSearchIndex(spark, name, docs.filter(col("doc_id") % batchMod === 0))
    }
    name
  }

  /** 8-hex-char MD5 prefix of the raw dir string — the injectivity
    * term in generated catalog table names (collisions across distinct
    * dirs would cross-wire persisted indexes).
    */
  private[graft] def dirHash(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString

  /** The registered `search_grown` lane: [[bm25TopKStored]] against the
    * grown (base + appended batch) store.
    */
  def bm25TopKGrown(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    bm25TopKStored(spark, ensureGrownSearchIndex(spark, dir), k)
}
