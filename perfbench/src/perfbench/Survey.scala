package perfbench

import java.nio.file.{Files, Paths}
import graft.SparkEntry

/** Times every registered lane once over a seeded sf0.01 corpus, for
  * picking the `lanes` panel (the rule is `survey` in run.py).
  *
  * `Survey <scratch dir> <cpus> <seed> <out.tsv>` writes one row per lane:
  * builder, cold and warm call times, and the warm call's construction
  * share (the lane function's own time, eager jobs included, over the
  * whole call). Warm is the faster of two warm calls. Each lane runs over
  * a fresh copy of the tables, so lanes that share memoized stages are
  * each timed as if run alone. The corpus stays in
  * `<scratch dir>/survey-data`, with each lane's oracle SQL in
  * `oracle_sql.json`, so that the oracle queries can be timed next.
  */
object Survey {
  final case class Row(lane: String, oracle: Boolean, buildS: Double, coldS: Double,
                       warmS: Double, warmConstructS: Double) {
    def constructShare: Double = if (warmS <= 0) 0.0 else warmConstructS / warmS
  }

  private def timed[A](f: => A): (A, Double) = {
    val s = System.nanoTime(); val a = f; (a, (System.nanoTime() - s) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val Array(scratch, cpus, seed, out) = args
    val dir = s"$scratch/survey-data"
    val spark = Sessions.create(cpus.toInt, scratch)
    val all = SparkEntry.queries.keys.toSeq.sorted
    Lanes.generate(spark, dir, seed.toLong, all)
    def call(fn: Lanes.Lane, at: String): (Double, Double) = {
      val (df, c) = timed(fn(spark, at))
      val (_, r) = timed(df.write.format("noop").mode("overwrite").save())
      (c, c + r)
    }
    // each lane over its own copy of the tables: builders and memoized
    // stages key on the directory, so no lane reuses another's work
    val rows = all.flatMap { lane =>
      val fn = SparkEntry.queries(lane)
      val at = s"$scratch/survey-lane/$lane"
      Lanes.copyTree(dir, at)
      try {
        val (_, b) = timed(SparkEntry.stageBuilders.get(lane).foreach(_(spark, at)))
        val (_, cold) = call(fn, at)
        val (c, w) = Seq(call(fn, at), call(fn, at)).minBy(_._2)
        Some(Row(lane, SparkEntry.oracleSql.contains(lane), b, cold, w, c))
      } catch { case e: Throwable =>
        System.err.println(s"[survey] $lane failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
      } finally {
        spark.catalog.clearCache()
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(at))
      }
    }
    spark.stop()
    val tsv = "lane\toracle\tbuild_s\tcold_s\twarm_s\twarm_construct_share\n" + rows.map { r =>
      f"${r.lane}\t${r.oracle}\t${r.buildS}%.3f\t${r.coldS}%.3f\t${r.warmS}%.3f\t${r.constructShare}%.3f"
    }.mkString("\n") + "\n"
    Files.write(Paths.get(out), tsv.getBytes("UTF-8"))
    Files.write(Paths.get(s"$dir/oracle_sql.json"), Json.render(SparkEntry.oracleSql.toMap).getBytes("UTF-8"))
  }
}
