package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import graft.SparkEntry
import graft.tools.{GenData, GenOpts}

/** Batch lanes from `SparkEntry.queries`, one at a time into the `noop`
  * sink: each lane's stage builder in set-up, then a cold call, then
  * warm calls until the measured time is spent.
  */
object Lanes {
  val Sf = 0.01

  /** A fixed panel, so every seed and commit runs the same lanes: what
    * the rule `pick` in run.py takes from the whole suite's timings in
    * lane_survey_sf0.01.tsv (see README.md), one lane per cell of
    * warm-time quartile by construction-share half.
    */
  val Panel: Seq[String] = Seq(
    "ann_sq8_topk",             // warm quartile 1, low construction share
    "q_sample_quota",           // warm quartile 1, high construction share
    "dedup_audit_failures",     // warm quartile 2, low construction share
    "text_repetition_gopher",   // warm quartile 2, high construction share
    "dedup_sentences",          // warm quartile 3, low construction share
    "q_anomaly_days",           // warm quartile 3, high construction share
    "q5_local_supplier_salted", // warm quartile 4, low construction share
    "ann_bq_rerank")            // warm quartile 4, high construction share

  type Lane = (SparkSession, String) => DataFrame

  final case class Call(lane: String, ns: Long, rows: Long)

  /** Generates, for `seed`, the corpus tables the panel's oracle SQL
    * reads (inputs, not timed). */
  def generate(spark: SparkSession, dir: String, seed: Long, panel: Seq[String]): Unit = {
    val n = GenData.sizes(Sf)
    val gen: Map[String, () => DataFrame] = Map(
      "region" -> (() => GenData.region(spark)),
      "nation" -> (() => GenData.nation(spark)),
      "customer" -> (() => GenData.customer(spark, n("customer"), seed)),
      "supplier" -> (() => GenData.supplier(spark, n("supplier"), seed)),
      "part" -> (() => GenData.part(spark, n("part"), seed)),
      "orders" -> (() => GenData.orders(spark, n("orders"), n("customer"), seed)),
      "lineitem" -> (() => GenData.lineitem(spark, n("orders"), n("part"), n("supplier"), seed)),
      "events" -> (() => GenData.events(spark, n("events"), n("users"), seed)),
      "documents" -> (() => GenData.documents(spark, n("documents"), GenOpts(seed = seed))),
      "embeddings" -> (() => GenData.embeddings(spark, n("embeddings"), seed)))
    val sql = panel.flatMap(SparkEntry.oracleSql.get).mkString("\n")
    // one table per concurrent job: most tables are a single small task
    val pool = java.util.concurrent.Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism.max(1))
    try graft.Tables.names.filter(t => s"\\b$t\\b".r.findFirstIn(sql).isDefined)
      .map(t => pool.submit[Unit](() => GenData.writeOne(gen(t)(), dir, t))).foreach(_.get())
    finally pool.shutdown()
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val q = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally s.close()
  }

  /** One lane call into the noop sink; rows come from an observed count. */
  def call(spark: SparkSession, t: Tracer, lane: String, fn: Lane, dir: String, req: Long): Call =
    t.request(req, "lane.call") {
      val s = System.nanoTime()
      val df = t.span("lane.construct")(Sessions.tagged(spark, t)(fn(spark, dir)))
      val obs = new Observation(s"rows_$req")
      t.span("lane.run")(Sessions.tagged(spark, t) {
        df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
      })
      val ns = System.nanoTime() - s
      Call(lane, ns, obs.get("n").asInstanceOf[Long])
    }

  def run(ctx: Ctx, lanes: Seq[(String, Lane)]): Outcome = {
    val panel = lanes.map(_._1)
    val t = ctx.tracer
    val off = new Tracer(false)
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    val base = s"${ctx.scratch}/lanes"
    val spark = Sessions.create(ctx.cpus, ctx.scratch)
    val probe: Option[SparkProbe] =
      if (t.enabled) Some(new SparkProbe(t)).map { p => spark.sparkContext.addSparkListener(p); p } else None
    val plans: Option[WritePlanProbe] =
      if (t.enabled) Some(new WritePlanProbe).map { p => spark.listenerManager.register(p); p } else None
    val g0 = System.nanoTime()
    generate(spark, s"$base/data", ctx.seed, panel)
    val genS = (System.nanoTime() - g0) / 1e9

    // set-up: every panel lane's stage builder over a fresh copy of the
    // tables (builders memoize per session and per directory, so each copy
    // builds anew); the median of three is reported, and the lanes then
    // run over the last copy
    var dir = ""
    val setups = (1 to 3).map { rep =>
      dir = s"$base/data-$rep"
      copyTree(s"$base/data", dir)
      val tr = if (rep == 3) t else off
      val s0 = System.nanoTime()
      panel.foreach { lane =>
        SparkEntry.stageBuilders.get(lane).foreach { b =>
          try tr.request(0L, "lane.build")(Sessions.tagged(spark, tr)(b(spark, dir)))
          catch { case e: Throwable => failures += s"$lane builder: ${e.getClass.getSimpleName}: ${e.getMessage}" }
        }
      }
      (System.nanoTime() - s0) / 1e9
    }

    ctx.jvm.reset()
    var req = 0L
    def attempt(lane: (String, Lane)): Option[Call] = {
      req += 1; attempted += 1
      try Some(call(spark, t, lane._1, lane._2, dir, req))
      catch { case e: Throwable =>
        failures += s"${lane._1}: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
        None
      }
    }
    val cold = lanes.flatMap(attempt)
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val passes = scala.collection.mutable.ArrayBuffer.empty[Seq[Call]]
    // at least three passes, so that the medians below never rest on the
    // first warm pass, which still carries warm-up
    while (passes.size < 3 || System.nanoTime() < deadline) passes += lanes.flatMap(attempt)
    val warm = passes.flatten
    val jvm = ctx.jvm.snapshot()

    // every call of a lane returns the cold call's row count
    val coldRows = cold.map(c => c.lane -> c.rows).toMap
    warm.filter(c => coldRows.get(c.lane).exists(_ != c.rows)).foreach { c =>
      failures += s"${c.lane}: warm call returned ${c.rows} rows, cold call ${coldRows(c.lane)}"
    }
    val failedLanes = panel.filter(l => failures.exists(f => f.startsWith(s"$l:") || f.startsWith(s"$l builder:")))
    val okWarm = warm.filterNot(c => failedLanes.contains(c.lane))
    val perLane = okWarm.groupBy(_.lane).map { case (l, cs) => l -> Stats.median(cs.map(_.ns / 1e6).toSeq) }
    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "cold_s" -> cold.filterNot(c => failedLanes.contains(c.lane)).map(_.ns).sum / 1e9,
      "op_p50_ms" -> Stats.median(perLane.values.toSeq),
      "op_p90_ms" -> Stats.quantile(perLane.values.toSeq, 0.9),
      // the median pass: one pass hit by a GC pause or a host stall
      // moves the result by one rank, not its value
      "throughput_per_s" -> Stats.median(passes.toSeq.map { p =>
        val ok = p.filterNot(c => failedLanes.contains(c.lane))
        ok.size / math.max(1e-9, ok.map(_.ns).sum / 1e9)
      }))

    val layers = if (!t.enabled) Map.empty[String, Double] else {
      probe.foreach(_.drain())
      plans.foreach(_.awaitWrites(cold.size + warm.size))
      val p = probe.get
      def ids(name: String) = t.named(name).map(_.id).toSet
      val construct = ids("lane.construct")
      val runs = t.named("lane.run")
      val runIds = runs.map(_.id).toSet
      val eager = p.jobsUnder(construct)
      val stages = p.stagesUnder(runIds)
      val build = p.stagesUnder(ids("lane.build"))
      // wall covered by stages inside each run span (stages overlap)
      val stageWallNs = runs.map { r =>
        val iv = stages.filter(_.span == r.id).map(s => (s.startNs, s.endNs)).sortBy(_._1)
        iv.foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
          if (b <= end) (acc, end) else (acc + b - math.max(a, end), b)
        }._1
      }.sum
      val planS = plans.map(_.planNs.asScala.map(_.longValue).sum / 1e9).getOrElse(0.0)
      val runS = runs.map(_.durNs).sum / 1e9 - planS
      val taskS = stages.map(_.taskMs).sum / 1000.0
      val skews = stages.filter(_.taskDurMs.size >= 2).map { s =>
        val d = s.taskDurMs.map(_.toDouble)
        d.max / math.max(1.0, Stats.median(d))
      }
      Map(
        "operators.construct_s" -> t.totalS("lane.construct"),
        "operators.eager_jobs" -> eager.size.toDouble,
        "operators.eager_job_s" -> eager.map(j => j.endNs - j.startNs).sum / 1e9,
        "operators.memo_bytes" -> spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum.toDouble,
        "plans.plan_s" -> planS,
        "exec.run_s" -> runS,
        "exec.stage_wall_s" -> stageWallNs / 1e9,
        "exec.task_s" -> taskS,
        "exec.driver_gap_s" -> math.max(0.0, runS - stageWallNs / 1e9),
        "exec.stages" -> stages.size.toDouble,
        "exec.tasks" -> stages.map(_.tasks).sum.toDouble,
        "exec.core_busy" -> (if (stageWallNs == 0) 0.0 else taskS / (stageWallNs / 1e9)),
        "exec.task_skew" -> (if (skews.isEmpty) 0.0 else Stats.median(skews)),
        "exec.shuffle_read_bytes" -> stages.map(_.shuffleRead).sum.toDouble,
        "exec.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
        "exec.spill_bytes" -> stages.map(_.spill).sum.toDouble,
        "exec.gc_s" -> stages.map(_.gcMs).sum / 1000.0,
        "Tables.input_bytes" -> stages.map(_.inputBytes).sum.toDouble,
        "Tables.input_rows" -> stages.map(_.inputRows).sum.toDouble,
        "lanes.output_rows" -> cold.map(_.rows).sum.toDouble,
        "sources.build_jobs" -> p.jobsUnder(ids("lane.build")).size.toDouble,
        "sources.build_task_s" -> build.map(_.taskMs).sum / 1000.0) ++ jvm
    }
    spark.stop()
    Outcome(attempted, failures.toSeq, e2e, layers, Map(
      "sf" -> Sf,
      "panel" -> panel,
      "passes" -> passes.size,
      "lane_rows" -> coldRows,
      "lane_cold_ms" -> cold.map(c => c.lane -> c.ns / 1e6).toMap,
      "lane_warm_p50_ms" -> perLane,
      "oracle_sql" -> panel.flatMap(l => SparkEntry.oracleSql.get(l).map(l -> _)).toMap,
      "data_dir" -> dir,
      "generate_s" -> genS,
      "setup_runs_s" -> setups))
  }
}
