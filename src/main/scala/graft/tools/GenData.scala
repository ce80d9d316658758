package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Knobs for the synthetic corpus. Defaults reproduce the statistical
  * shape measured on the driver corpus (`TESTDATA.md`, seed=42):
  * ~5% of documents are near-dup copies (base text + " dup" appended,
  * lang/source re-randomized), ~0.16% exact copies, ASCII-only text,
  * no empty documents. The fuzz knobs deliberately leave that domain:
  * `nonAsciiRate` draws a document's vocabulary from a Unicode pool
  * (umlauts, CJK, combining marks — exercises NFC/casefold lanes),
  * `emptyDocRate` emits zero-length texts.
  */
final case class GenOpts(
    seed: Long = 42L,
    nearDupRate: Double = 0.05,
    exactDupRate: Double = 0.0016,
    nonAsciiRate: Double = 0.0,
    emptyDocRate: Double = 0.0)

/** Deterministic, distributed synthetic-corpus generator with the same
  * schemas and value domains as the driver tables (FIXTURES.md §2,
  * measured on `/root/testdata/sf0.1` — see BASELINE.md scale-drill
  * notes). Exists for two jobs the read-only driver corpus cannot do:
  *
  *  1. the 10× scale-step drill (sf1 ≈ 6M lineitem rows) proving the
  *     §8 scale arguments by measurement rather than plan shape;
  *  2. second-seed oracle fuzz — same schemas, different seed and
  *     hostile domains (non-ASCII, empty docs, dup-heavy classes).
  *
  * Every value is a pure function of (seed, table, row id, column) via
  * xxhash64 — no driver-side RNG state, so generation distributes
  * across executors and two runs with the same arguments are
  * bit-identical regardless of parallelism. Row counts scale linearly
  * in `sf` exactly as the driver tables do between sf0.01 and sf0.1
  * (dimension tables fixed; embeddings follow the measured ~4× per
  * decade: 500 @ sf0.01, 2000 @ sf0.1 → 8000 @ sf1).
  *
  * Output layout matches the driver's: one plain parquet FILE per
  * table at `<dir>/<table>.parquet` (single row-group-splittable file,
  * written via repartition(1) + rename), so `Tables.load` and the
  * DuckDB oracle read both corpora identically.
  */
object GenData {

  /** Uniform [0,1) from (seed, id, tag, k) — xxhash64 masked to the
    * non-negative long range. The double division keeps ~53 random
    * bits; plenty for value synthesis.
    */
  private def u(seed: Long, id: Column, tag: String, k: Column = lit(0)): Column =
    xxhash64(lit(seed), id, lit(tag), k).bitwiseAND(lit(Long.MaxValue))
      .cast("double") / lit(9.223372036854775807e18)

  private def pick(seed: Long, id: Column, tag: String, vals: Seq[String]): Column =
    element_at(typedlit(vals), (u(seed, id, tag) * vals.size).cast("int") + 1)

  /** Poisson(4) CDF (lines-per-order law measured on the driver corpus:
    * mean 4.0, P(0)=1.8% of orders have no lineitems, max ~17).
    */
  private val poisson4Cdf: Seq[Double] = {
    val lam = 4.0
    val pmf = Iterator.iterate((math.exp(-lam), 0)) { case (p, k) => (p * lam / (k + 1), k + 1) }
      .map(_._1).take(21).toSeq
    pmf.scanLeft(0.0)(_ + _).tail
  }

  // The 30-word driver vocabulary (measured; "dup" is reserved as the
  // near-dup mutation marker and never appears in base text).
  private val vocab: Seq[String] = Seq(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")

  // Fuzz vocabulary: NFC/casefold-hostile forms (precomposed vs
  // combining, final sigma, dotted I, CJK, emoji) for the second-seed
  // oracle drill.
  private val vocabNonAscii: Seq[String] = Seq(
    "café", "café", "straße", "STRASSE", "οδός",
    "ΟΔΟΣ", "İstanbul", "istanbul", "数据",
    "处理", "データ", "한국어", "données",
    "über", "naïve", "😀", "مرحبا",
    "שלום", "Ångström", "angstrom")

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val partAdjs = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val partNouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val partTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val langs = Seq("de", "es", "fr", "zh")

  /** Row counts at scale `sf`, matching the driver's measured scaling
    * (linear between sf0.01 and sf0.1; dimensions fixed).
    */
  def sizes(sf: Double): Map[String, Long] = Map(
    "customer" -> (150000 * sf).round.max(1),
    "supplier" -> (10000 * sf).round.max(1),
    "part" -> (200000 * sf).round.max(1),
    "orders" -> (1500000 * sf).round.max(1),
    "events" -> (1000000 * sf).round.max(1),
    "users" -> (15000 * sf).round.max(1),
    "documents" -> (50000 * sf).round.max(2),
    "embeddings" -> math.max(500L, (8000 * math.pow(sf, 0.6)).round))

  /** `multiFile = false` (default): one plain parquet file per table —
    * byte-layout parity with the driver corpus, required when DuckDB
    * (the oracle) reads `<dir>/<table>.parquet` as a file. A 6M-row
    * single Spark-written file has ONE row group, so every pre-exchange
    * pipeline over it runs in one task — fine at oracle scale (sf≤0.01),
    * a measured 12-50× scan-serialization pathology at sf1.
    *
    * `multiFile = true`: `<table>.parquet` is a DIRECTORY holding the
    * engine's natural write parallelism (~one file per core) — the
    * layout any production pipeline produces and the right substrate
    * for the scale drill; `Tables.load` reads both identically.
    */
  def genAll(spark: SparkSession, dir: String, sf: Double, opts: GenOpts = GenOpts(),
             multiFile: Boolean = false): Unit = {
    val n = sizes(sf)
    writeOne(region(spark), dir, "region", multiFile)
    writeOne(nation(spark), dir, "nation", multiFile)
    writeOne(customer(spark, n("customer"), opts.seed), dir, "customer", multiFile)
    writeOne(supplier(spark, n("supplier"), opts.seed), dir, "supplier", multiFile)
    writeOne(part(spark, n("part"), opts.seed), dir, "part", multiFile)
    writeOne(orders(spark, n("orders"), n("customer"), opts.seed), dir, "orders", multiFile)
    writeOne(lineitem(spark, n("orders"), n("part"), n("supplier"), opts.seed), dir, "lineitem", multiFile)
    writeOne(events(spark, n("events"), n("users"), opts.seed), dir, "events", multiFile)
    writeOne(documents(spark, n("documents"), opts), dir, "documents", multiFile)
    writeOne(embeddings(spark, n("embeddings"), opts.seed), dir, "embeddings", multiFile)
  }

  def region(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name")
  }

  def nation(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until 25).map(i => (i, s"NATION_$i", i % 5)).toDF("n_nationkey", "n_name", "n_regionkey")
  }

  def customer(spark: SparkSession, n: Long, seed: Long): DataFrame =
    spark.range(n).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      (u(seed, col("id"), "c_nat") * 25).cast("int").as("c_nationkey"),
      round(u(seed, col("id"), "c_bal") * 11000 - 1000, 2).as("c_acctbal"),
      pick(seed, col("id"), "c_seg", segments).as("c_mktsegment"))

  def supplier(spark: SparkSession, n: Long, seed: Long): DataFrame =
    spark.range(n).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      (u(seed, col("id"), "s_nat") * 25).cast("int").as("s_nationkey"),
      round(u(seed, col("id"), "s_bal") * 11000 - 1000, 2).as("s_acctbal"))

  def part(spark: SparkSession, n: Long, seed: Long): DataFrame =
    spark.range(n).select(
      col("id").as("p_partkey"),
      concat(pick(seed, col("id"), "p_adj", partAdjs), lit(" "),
        pick(seed, col("id"), "p_noun", partNouns)).as("p_name"),
      concat(lit("Brand#"), ((u(seed, col("id"), "p_brand") * 25).cast("int") + 1)).as("p_brand"),
      pick(seed, col("id"), "p_type", partTypes).as("p_type"),
      ((u(seed, col("id"), "p_size") * 50).cast("int") + 1).as("p_size"),
      round(u(seed, col("id"), "p_price") * 100 + 900, 1).as("p_retailprice"))

  def orders(spark: SparkSession, n: Long, nCust: Long, seed: Long): DataFrame =
    spark.range(n).select(
      col("id").as("o_orderkey"),
      (u(seed, col("id"), "o_cust") * nCust).cast("bigint").as("o_custkey"),
      pick(seed, col("id"), "o_status", Seq("O", "P", "F")).as("o_orderstatus"),
      round(u(seed, col("id"), "o_price") * 499000 + 1000, 2).as("o_totalprice"),
      date_add(to_date(lit("1995-01-01")), (u(seed, col("id"), "o_date") * 2404).cast("int"))
        .cast("timestamp_ntz").as("o_orderdate"),
      pick(seed, col("id"), "o_prio", priorities).as("o_orderpriority"))

  /** Lines-per-order ~ Poisson(4) via inverse CDF on a per-order
    * uniform; orders drawing 0 simply emit no rows (the driver corpus
    * has ~1.8% such orders). Columns are independent uniforms over the
    * measured domains; l_shipdate is NOT correlated with o_orderdate
    * (measured: order↔ship day deltas span the full ±6.5-year range).
    */
  def lineitem(spark: SparkSession, n: Long, nPart: Long, nSupp: Long, seed: Long): DataFrame = {
    val cnt = size(filter(typedlit(poisson4Cdf), c => c <= u(seed, col("id"), "l_cnt")))
    spark.range(n)
      .select(col("id"), explode(when(cnt > 0, sequence(lit(1), cnt))
        .otherwise(array().cast("array<int>"))).as("l_linenumber"))
      .select(
        col("id").as("l_orderkey"),
        (u(seed, col("id"), "l_part", col("l_linenumber")) * nPart).cast("bigint").as("l_partkey"),
        (u(seed, col("id"), "l_supp", col("l_linenumber")) * nSupp).cast("bigint").as("l_suppkey"),
        col("l_linenumber"),
        ((u(seed, col("id"), "l_qty", col("l_linenumber")) * 50).cast("int") + 1)
          .cast("double").as("l_quantity"),
        round(u(seed, col("id"), "l_price", col("l_linenumber")) * 104100 + 900, 2)
          .as("l_extendedprice"),
        ((u(seed, col("id"), "l_disc", col("l_linenumber")) * 11).cast("int") / lit(100.0))
          .as("l_discount"),
        ((u(seed, col("id"), "l_tax", col("l_linenumber")) * 9).cast("int") / lit(100.0))
          .as("l_tax"),
        pick(seed, xxhash64(col("id"), col("l_linenumber")), "l_rf", Seq("A", "N", "R"))
          .as("l_returnflag"),
        pick(seed, xxhash64(col("id"), col("l_linenumber")), "l_ls", Seq("F", "O"))
          .as("l_linestatus"),
        date_add(to_date(lit("1995-01-01")),
          (u(seed, col("id"), "l_ship", col("l_linenumber")) * 2499).cast("int") + 1)
          .cast("timestamp_ntz").as("l_shipdate"))
  }

  /** `event_id` is the rank of the event in `ts` order (measured
    * driver invariant: event_id ascending ⇒ ts ascending), value ~
    * Exponential(mean 50), ts uniform over Jan 2024.
    */
  def events(spark: SparkSession, n: Long, nUsers: Long, seed: Long): DataFrame = {
    val raw = spark.range(n).select(
      col("id"),
      timestamp_micros((lit(1704067200000000L) +
        (u(seed, col("id"), "e_ts") * 2592000e6).cast("bigint")))
        .cast("timestamp_ntz").as("ts"),
      (u(seed, col("id"), "e_user") * nUsers).cast("bigint").as("user_id"),
      pick(seed, col("id"), "e_type", Seq("click", "error", "purchase", "signup", "view"))
        .as("event_type"),
      round(-lit(50.0) * log(lit(1.0) - u(seed, col("id"), "e_val")), 2).as("value"),
      format_string("{\"k\": %d}", (u(seed, col("id"), "e_k") * 100).cast("int")).as("props"))
    raw.withColumn("event_id",
        row_number().over(Window.orderBy(col("ts"), col("id"))).cast("bigint") - 1)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** Near-dup copies re-generate the BASE slot's text from its id and
    * append " dup" (the measured driver mutation); exact copies repeat
    * it verbatim. A base that is itself a copy slot re-derives as an
    * original (probability ~nearDupRate of copies; harmless — such a
    * "copy" is simply a singleton, marginally lowering dup density).
    * lang/source/length are drawn from the COPY's id, matching the
    * driver's re-randomization of copy metadata.
    */
  def documents(spark: SparkSession, n: Long, opts: GenOpts): DataFrame = {
    val seed = opts.seed
    val kind = u(seed, col("id"), "d_kind")
    val isNear = kind < opts.nearDupRate
    val isExact = !isNear && kind < opts.nearDupRate + opts.exactDupRate
    val contentId = when(isNear || isExact,
      (u(seed, col("id"), "d_base") * n).cast("bigint")).otherwise(col("id"))

    def baseText(c: Column): Column = {
      val nWords = (u(seed, c, "d_len") * 91).cast("int") + 10
      val ascii = transform(sequence(lit(0), nWords - 1),
        j => element_at(typedlit(vocab), (u(seed, c, "d_w", j) * vocab.size).cast("int") + 1))
      val exotic = transform(sequence(lit(0), nWords - 1),
        j => element_at(typedlit(vocabNonAscii),
          (u(seed, c, "d_w", j) * vocabNonAscii.size).cast("int") + 1))
      val words =
        if (opts.nonAsciiRate <= 0.0) ascii
        else when(u(seed, c, "d_ascii") < opts.nonAsciiRate, exotic).otherwise(ascii)
      array_join(words, " ")
    }

    val body = when(isNear, concat(baseText(contentId), lit(" dup")))
      .otherwise(baseText(contentId))
    val text =
      if (opts.emptyDocRate <= 0.0) body
      else when(u(seed, col("id"), "d_empty") < opts.emptyDocRate, lit("")).otherwise(body)

    spark.range(n).select(
      col("id").as("doc_id"),
      text.as("text"),
      when(u(seed, col("id"), "d_lang") < 0.41, lit("en"))
        .otherwise(pick(seed, col("id"), "d_lang2", langs)).as("lang"),
      concat(lit("src"), (u(seed, col("id"), "d_src") * 20).cast("int")).as("source"),
      length(text).cast("bigint").as("n_chars"))
  }

  /** 64-dim unit vectors: iid Gaussians (Box–Muller over two per-
    * coordinate uniforms) L2-normalized — matches the measured driver
    * geometry (unit norms, same-label ≈ cross-label cosine ≈ 0, so
    * labels carry no cluster structure).
    */
  def embeddings(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val gauss = transform(sequence(lit(0), lit(63)), j =>
      sqrt(-lit(2.0) * log(u(seed, col("id"), "v_u1", j) + lit(1e-12))) *
        cos(lit(2.0 * math.Pi) * u(seed, col("id"), "v_u2", j)))
    val withRaw = spark.range(n).select(col("id"), gauss.as("raw"))
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (a, x) => a + x * x)))
    withRaw.select(
      col("id").as("vec_id"),
      transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
      (u(seed, col("id"), "v_label") * 10).cast("int").as("label"))
  }

  /** Single plain parquet file at `<dir>/<name>.parquet` — the driver
    * corpus layout, so loaders and oracles treat both identically.
    * Upstream computation stays parallel; only the final write funnels
    * through one task (repartition(1) shuffles computed rows).
    */
  def writeOne(df: DataFrame, dir: String, name: String,
               multiFile: Boolean = false): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    Files.createDirectories(Paths.get(dir))
    if (multiFile) {
      // natural engine parallelism (~one file per core); the repartition
      // also restores width for frames a global window collapsed to one
      // partition (events)
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")
      return
    }
    val tmp = s"$dir/.tmp_$name"
    df.repartition(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    // Collect to a Seq before mutating, and close both NIO streams —
    // a leaked Files.list/walk holds a directory fd per table, and a
    // walk over a directory being deleted is undefined.
    val listStream = Files.list(Paths.get(tmp))
    val parts =
      try listStream.iterator().asScala.toSeq
      finally listStream.close()
    val part = parts.find(_.getFileName.toString.endsWith(".parquet"))
    require(part.isDefined, s"no parquet part written for $name")
    Files.move(part.get, Paths.get(s"$dir/$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val walkStream = Files.walk(Paths.get(tmp))
    val toDelete =
      try walkStream.iterator()
        .asInstanceOf[java.util.Iterator[java.nio.file.Path]].asScala.toSeq
      finally walkStream.close()
    toDelete.reverse.foreach(Files.deleteIfExists(_))
  }

  private implicit class IterOps[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext: Boolean = it.hasNext
      def next(): A = it.next()
    }
  }

  /** `GenData <outDir> <sf> [seed] [nearDupRate exactDupRate nonAsciiRate emptyDocRate]`;
    * set SPARK_GRAFT_GEN_MULTIFILE=1 for the scale-drill directory layout.
    */
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val sf = args(1).toDouble
    val seed = if (args.length > 2) args(2).toLong else 42L
    val multiFile = sys.env.get("SPARK_GRAFT_GEN_MULTIFILE").contains("1")
    val opts =
      if (args.length > 6) GenOpts(seed, args(3).toDouble, args(4).toDouble,
        args(5).toDouble, args(6).toDouble)
      else GenOpts(seed = seed)
    val cpus = graft.DeployProfile.localCpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-gendata")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    genAll(spark, dir, sf, opts, multiFile)
    println(f"[gendata] wrote sf=$sf seed=$seed to $dir in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
