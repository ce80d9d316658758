package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.lanes result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check_oracle.py). */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (fast local
    // iteration on one oracle row; the driver's 2-arg call runs all)
    val Array(sfDir, outDir) = args.take(2)
    val only: Set[String] =
      if (args.length > 2) args(2).split(',').map(_.trim).toSet else Set.empty
    // same DeployProfile.local map as the bench: the correctness gate
    // verifies under the exact config the timings were recorded under.
    // SPARK_GRAFT_MASTER overrides the master for the multi-JVM
    // certification run (e.g. local-cluster[2,16,8192]) — real separate
    // executor processes, proving no kernel/cache/closure silently
    // depends on driver-singleton state. Executors are fresh JVMs, so
    // they need the same classpath and --add-opens the driver got.
    val masterOverride = sys.env.get("SPARK_GRAFT_MASTER").map { m =>
      // ABSOLUTE classpath: executor processes launch from the worker
      // dir, where the driver's relative entries resolve to nothing —
      // the first trial run failed exactly there (kernel classes
      // invisible to executor codegen)
      val cp = sys.props("java.class.path")
        .split(java.io.File.pathSeparator).filter(_.nonEmpty)
        .map { p =>
          if (p.endsWith("*"))
            new java.io.File(p.dropRight(1)).getAbsolutePath + "/*"
          else new java.io.File(p).getAbsolutePath
        }.mkString(java.io.File.pathSeparator)
      Map(
        "spark.master" -> m,
        "spark.executor.extraClassPath" -> cp,
        "spark.executor.extraJavaOptions" ->
          sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_OPTS", ""))
    }.getOrElse(Map.empty[String, String])
    val spark = DeployProfile.configure(
        SparkSession.builder(), DeployProfile.local(DeployProfile.localCpus) ++ masterOverride)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // failures are COUNTED and surfaced, never swallowed: the round-13
    // driver artifact arrived empty with exit 0 and nobody noticed
    // until judging — summary.json + a non-zero exit make the evidence
    // chain self-sufficient regardless of driver state
    var nOk = 0
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.lanes
      .filter(lane => only.isEmpty || only.contains(lane.name))
      .foreach { lane =>
        try {
          lane.run(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/${lane.name}")
          nOk += 1
        } catch { case e: Throwable =>
          System.err.println(s"[verify] ${lane.name} failed: ${e.getMessage}")
          failed += lane.name
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // rows-only lanes have no oracle row; the record names them so a
    // reader can tell them from lanes that lost their SQL
    val rowsOnly = SparkEntry.lanes.collect { case Lane(k, _, Lane.RowsOnly(_), _) => q(k) }
    Files.writeString(Paths.get(s"$outDir/summary.json"),
      s"""{"n_ok": $nOk, "n_failed": ${failed.size}, """ +
        s""""failed": [${failed.map(q).mkString(",")}], """ +
        s""""rows_only": [${rowsOnly.mkString(",")}]}""")
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} quer${
        if (failed.size == 1) "y" else "ies"} FAILED: ${failed.mkString(", ")}")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
