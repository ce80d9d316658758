package graft.tools

import org.apache.spark.sql.SparkSession
import graft.{DeployProfile, Lane, SparkEntry}

/** Dev tool (guide §1): split a lane's wall time into DataFrame
  * construction, analysis+optimization+physical planning, and execution
  * (noop sink), over N repeats — tells whether a lane is Catalyst-bound
  * or execution-bound before any optimization is attempted. Not part of
  * the bench contract; numbers land in OPTIMIZATION_r15.md.
  *
  * Usage: PhaseProbe <sfDir> <repeats> <lane>[,lane...] — exits 1 when
  * any lane failed.
  */
object PhaseProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val repeats = args.lift(1).map(_.toInt).getOrElse(3)
    val lanes = args.lift(2) match {
      case Some("ALL") | None => SparkEntry.lanes.sortBy(_.name)
      case Some(s) => SparkEntry.lanesNamed(s.split(',').toSeq)
    }
    val spark = DeployProfile.configure(
        SparkSession.builder().appName("graft-phase-probe"),
        DeployProfile.local(DeployProfile.localCpus))
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // same warmup as Bench
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    val failed = try run(spark, dir, lanes, repeats) finally spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Probes `lanes` in order and prints each lane's phase and stage
    * lines. A lane whose builder or any repeat throws prints one
    * `[phase] <lane> FAILED: …` line and no timing, and the sweep goes
    * on (Bench's contract). Returns the failed lane names.
    */
  def run(spark: SparkSession, dir: String, lanes: Seq[Lane],
          repeats: Int): Seq[String] = {
    // stage-level accounting: submitted→completed wall span and summed
    // task time per stage, so scheduling gaps (wall ≫ task work) are
    // visible separately from compute
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, Int)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val info = sc.stageInfo
        val wall = (for {s <- info.submissionTime; c <- info.completionTime}
          yield c - s).getOrElse(-1L)
        stages.add((info.stageId, wall, info.taskMetrics.executorRunTime,
          info.numTasks))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try lanes.flatMap { case Lane(lane, fn, _, build) =>
      // a lane's lines are held back until every repeat has run, so a
      // failing lane shows no timing at all
      val lines = Seq.newBuilder[String]
      try {
        // stage builders run first, untimed — same contract as Bench
        build.foreach(_(spark, dir))
        (1 to repeats).foreach { i =>
          stages.clear()
          val t0 = System.nanoTime()
          val df = fn(spark, dir)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan // force analysis/opt/planning
          val t2 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val t3 = System.nanoTime()
          Thread.sleep(100) // let listener drain
          val st = stages.toArray(Array.empty[(Int, Long, Long, Int)]).sortBy(_._1)
          val stageWall = st.map(_._2).sum
          val taskMs = st.map(_._3).sum
          val nTasks = st.map(_._4).sum
          lines += f"[phase] $lane%-26s run$i build=${(t1 - t0) / 1e6}%6.1f plan=${(t2 - t1) / 1e6}%6.1f exec=${(t3 - t2) / 1e6}%7.1f ms | stages=${st.length}%2d stageWall=$stageWall%5d taskSum=$taskMs%5d tasks=$nTasks%4d"
          if (i == repeats)
            st.foreach { case (id, w, tm, n) =>
              lines += f"[stage]   $lane%-24s stage=$id%4d wall=$w%5d ms taskSum=$tm%5d ms tasks=$n%3d"
            }
        }
        lines.result().foreach(println)
        None
      } catch { case e: Throwable =>
        println(s"[phase] $lane FAILED: ${e.getMessage}")
        Some(lane)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
