package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Dev tool: physical-plan audit of registered lanes. Prints one line per
  * lane (scans, pushed-filter scans, exchanges, joins, aggregates,
  * windows, codegen stages) and writes every formatted plan to `out`.
  * The session carries GraftExtensions, as Bench and Verify do, so the
  * plans are the ones those runs execute.
  *
  *   PlanDump [sfDir] [out] [lane,...]   (default: every lane)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("/tmp/plans.txt")
    val lanes = args.lift(2).map(s => SparkEntry.lanesNamed(s.split(',').toSeq))
      .getOrElse(SparkEntry.lanes.sortBy(_.name))
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      // AQE off for the AUDIT ONLY: an unfinalized AdaptiveSparkPlan hides
      // codegen ids and runtime join selections, so the static plan is the
      // honest thing to read here. Bench/Verify keep AQE on.
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    lanes.foreach { lane =>
      try {
        val plan = lane.run(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        // FormattedMode details every operator once as "(n) Op"; codegen
        // spans appear as "[codegen id : k]".
        def nodes(op: String) = s"\\(\\d+\\) $op\\b".r.findAllIn(plan).length
        val pushed = "PushedFilters: \\[[^\\]]+\\]".r.findAllIn(plan).length
        val nWSCG = "codegen id : (\\d+)".r.findAllMatchIn(plan)
          .map(_.group(1)).toSet.size
        println(f"[plan] ${lane.name}%-26s scans=${nodes("Scan parquet")} pushedFilterScans=$pushed exchanges=${nodes("Exchange")} bhj=${nodes("BroadcastHashJoin")} smj=${nodes("SortMergeJoin")} objhash=${nodes("ObjectHashAggregate")} sortagg=${nodes("SortAggregate")} window=${nodes("Window")} wscg=$nWSCG")
        sb.append(s"\n================ ${lane.name} ================\n").append(plan)
      } catch { case e: Throwable =>
        println(s"[plan] ${lane.name} FAILED: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    spark.stop()
  }
}
