package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs every registered lane against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line (driver contract).
  *
  * Each query is forced through the `noop` sink — a plain `.count()`
  * would let Catalyst prune away all per-row expression work (project
  * pushdown makes counting free), which benchmarks the scan instead of
  * the operator.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = DeployProfile.localCpus
    // session config comes from the DeployProfile so the committed
    // protocol records stay reproducible from one source of truth
    val spark = DeployProfile.configure(
        SparkSession.builder().appName("graft-bench"),
        DeployProfile.local(cpus))
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val loadStart = loadAvg()

    // JVM/codegen warmup on the smallest sf so first-query JIT noise
    // doesn't land on a measured query
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // SPARK_GRAFT_BENCH_REPEATS > 1 reports the per-query MINIMUM over N
    // passes — the BASELINE.md protocol for filtering machine noise; the
    // driver's per-round run keeps the default single pass.
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "1").toInt
    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the run to named queries —
    // fast local iteration on one lane; the driver's run never sets it
    // (and the protocol record must not: the expected-table tripwire in
    // BenchProtocolSpec covers the full suite).
    val only: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val selected = SparkEntry.lanes.filter(l => only.isEmpty || only(l.name))
    val (lines, failed) = run(spark, sfDir, selected, repeats, cpus, loadStart)
    lines.foreach(println)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** One lane's record: minimum probe seconds over the repeats, the 1-min
    * load and external cores sampled after it, and its build seconds.
    */
  private final case class Timed(lane: Lane, sec: Double, load: Double,
                                 ext: Double, build: Option[Double])

  /** Wall seconds of `body`, or None (reported on stderr) when it throws. */
  private def timed(what: String)(body: => Unit): Option[Double] = {
    val t0 = System.nanoTime()
    try { body; Some((System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable =>
      System.err.println(s"[bench] $what failed: ${e.getMessage}")
      None
    }
  }

  private def probe(spark: SparkSession, sfDir: String, lane: Lane): Option[Double] =
    timed(lane.name)(lane.run(spark, sfDir).write.format("noop").mode("overwrite").save())

  /** Times `lanes` in name order. A lane whose builder or any probe
    * throws is never a timing: it comes back in the second list only.
    */
  private def timeLanes(spark: SparkSession, sfDir: String, lanes: Seq[Lane],
                        repeats: Int, cpus: Int): (Seq[Timed], Seq[String]) = {
    var prevSnap = BenchProtocol.cpuSnap()
    val outcomes = lanes.sortBy(_.name).map { lane =>
      // per-query UTC wall-clock provenance on stderr: if an external load
      // spike inflates a contiguous block of queries (seen in two
      // rounds), the timestamps localize the noise window directly
      val startedAt = java.time.Instant.now().toString
      // Ingest-shaped lanes run their stage builder FIRST, timed
      // separately (build_s): index/store construction and probe stop
      // conflating in one reading. Builders are idempotent — a shared
      // store/stage is paid by the first family member in bench order;
      // later members read ~0.
      val build = lane.build.map(b => timed(s"${lane.name} builder")(b(spark, sfDir)))
      val times =
        if (build.contains(None)) Nil
        else Iterator.fill(repeats)(probe(spark, sfDir, lane)).takeWhile(_.isDefined).flatten.toSeq
      // per-query noise provenance: a 1-min load sample (context) and
      // the average EXTERNAL cores busy while this query ran (the
      // contamination signal — immune to the bench's own load).
      val loadAfter = loadAvg()
      val snap = BenchProtocol.cpuSnap()
      val ext = (prevSnap, snap) match {
        case (Some(a), Some(b)) => BenchProtocol.externalCores(a, b, cpus)
        case _ => -1.0
      }
      prevSnap = snap
      if (times.size < repeats) Left(lane.name)
      else {
        val buildNote = build.flatten.map(b => f", build $b%.2f").getOrElse("")
        System.err.println(
          f"[bench] $startedAt ${lane.name}%-28s ${times.min}%8.3f s (min of $repeats, load $loadAfter%.1f, ext $ext%.1f$buildNote)")
        Right(Timed(lane, times.min, loadAfter, ext, build.flatten))
      }
    }
    (outcomes.collect { case Right(t) => t }, outcomes.collect { case Left(n) => n })
  }

  /** Times `lanes` and renders the record: the full JSON line, then the
    * short headline line. Returns the lines and the failed lane names;
    * failed lanes appear in `failed` on both lines and in no timing.
    */
  def run(spark: SparkSession, sfDir: String, lanes: Seq[Lane], repeats: Int,
          cpus: Int, loadStart: Double): (Seq[String], Seq[String]) = {
    val (timedLanes, loopFailed) = timeLanes(spark, sfDir, lanes, repeats, cpus)
    // Self-defense (BenchProtocol, judge rule r7): flag the record when
    // external load contaminated it, and re-time queries that blew past
    // 3x their committed quiet-run expectation — the raw value stays in
    // `queries`; the re-timed minimum lands in `queries_retimed` so a
    // reader can separate machine noise from algorithmic regression
    // without a forensic replay.
    // Each retime carries its own external-cores sample (same meter as
    // the main pass): a retimed minimum without provenance could itself
    // be contamination-inflated — or quietly "fixed" — outside the noisy
    // flag's coverage. Retime samples fold into the noisy computation.
    val expected = BenchProtocol.expectedFor(sfDir)
    var retimeSnap = BenchProtocol.cpuSnap()
    val retimes = timedLanes.collect {
      case t if BenchProtocol.needsRetime(t.sec, expected.get(t.lane.name)) =>
        val again = probe(spark, sfDir, t.lane)
        val snap = BenchProtocol.cpuSnap()
        val ext = (retimeSnap, snap) match {
          case (Some(a), Some(b)) => BenchProtocol.externalCores(a, b, cpus)
          case _ => -1.0
        }
        retimeSnap = snap
        again.foreach(a => System.err.println(
          f"[bench] retime ${t.lane.name}%-28s raw ${t.sec}%.3f -> $a%.3f s (ext $ext%.1f)"))
        (t.lane.name, again.map(math.min(t.sec, _)), ext)
    }
    val failed = loopFailed ++ retimes.collect { case (k, None, _) => k }
    val results = timedLanes.filterNot(t => failed.contains(t.lane.name))
    val retimed = retimes.collect { case (k, Some(v), e) => (k, v, e) }

    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def secs(kv: Seq[(String, Double)]): String = obj(kv.map { case (k, v) => k -> f"$v%.3f" })
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qs = secs(results.map(t => t.lane.name -> t.sec))
    val loads = obj(results.map(t => t.lane.name -> f"${t.load}%.2f"))
    val exts = obj(results.map(t => t.lane.name -> f"${t.ext}%.2f"))
    val total = results.map(_.sec).sum
    val loadEnd = loadAvg()
    val isNoisy = BenchProtocol.noisy(
      loadStart, results.map(_.ext) ++ retimed.map(_._3), cpus)
    val retimedJson = secs(retimed.map { case (k, v, _) => k -> v })
    val retimedExtJson = obj(retimed.map { case (k, _, e) => k -> f"$e%.2f" })
    val totalRetimed = results.map { t =>
      retimed.collectFirst { case (k, r, _) if k == t.lane.name => r }.getOrElse(t.sec) }.sum
    // build/probe split: `queries` values for builder-covered queries
    // are PROBE times (the store/stage already exists); their builds
    // are itemized here and totaled separately — neither half hides in
    // the other.
    val buildsJson = secs(results.flatMap(t => t.build.map(t.lane.name -> _)))
    val totalBuild = results.flatMap(_.build).sum
    val full = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","load_start":$loadStart%.2f,"load_end":$loadEnd%.2f,"noisy":$isNoisy,"query_loads":$loads,"query_external_cores":$exts,"queries_retimed":$retimedJson,"retimed_external_cores":$retimedExtJson,"total_retimed":$totalRetimed%.3f,"queries_build":$buildsJson,"total_build":$totalBuild%.3f,"failed":$failedJson}"""
    // Short headline line LAST: the driver's capture has truncated the
    // long per-query line head-first in past rounds, losing `"total"`.
    // Anything tail-anchored keeps this parseable summary. Distinct
    // metric name so a consumer grepping "total" never double-counts.
    val slowest = secs(results.sortBy(-_.sec).take(5).map(t => t.lane.name -> t.sec))
    val summary = f"""{"metric":"total_summary","value":$total%.3f,"unit":"sec","n_queries":${results.size},"slowest":$slowest,"sf":"$sfDir","load_start":$loadStart%.2f,"load_end":$loadEnd%.2f,"noisy":$isNoisy,"n_retimed":${retimed.size},"total_retimed":$totalRetimed%.3f,"total_build":$totalBuild%.3f,"failed":$failedJson}"""
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} failed: ${failed.mkString(", ")}")
    (Seq(full, summary), failed)
  }

  /** 1-minute load average — recorded at start/end of the run so a
    * noisy benchmark (external load inflating a block of queries, seen
    * in two driver rounds) self-identifies in the JSON instead of
    * requiring forensic timestamp analysis. -1 if unavailable.
    */
  private def loadAvg(): Double =
    try java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    catch { case _: Throwable => -1.0 }
}
