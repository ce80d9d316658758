package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.{col, udf}
import scala.jdk.CollectionConverters._

/** A failing lane is never a timing: [[Bench.run]] lists it under
  * `failed` on both record lines and leaves it out of every timing field.
  */
class BenchSpec extends SparkSpec {

  test("a lane that throws lands in failed on both lines; the good lane is timed") {
    val gate = Lane.RowsOnly("graft.BenchSpec")
    val good = Lane("bench_good", (s, _) => s.range(10).toDF(), gate)
    val boom = udf((x: Long) => { if (x >= 0) throw new IllegalStateException("boom"); x })
    val failsInRun = Lane("bench_fails_in_run",
      (s, _) => s.range(3).select(boom(col("id"))), gate)
    val failsInBuild = Lane("bench_fails_in_build", (s, _) => s.range(1).toDF(), gate,
      build = Some((_, _) => throw new IllegalStateException("no store")))

    val (lines, failed) = Bench.run(spark, sfDir, Seq(failsInRun, good, failsInBuild),
      repeats = 2, cpus = 4, loadStart = -1.0)
    assert(failed.toSet === Set("bench_fails_in_run", "bench_fails_in_build"))

    val Seq(full, summary) = lines.map(new ObjectMapper().readTree(_))
    def names(node: com.fasterxml.jackson.databind.JsonNode) = node.asScala.map(_.asText).toSet
    assert(names(full.get("failed")) === failed.toSet)
    assert(names(summary.get("failed")) === failed.toSet)
    assert(full.get("queries").fieldNames.asScala.toSeq === Seq("bench_good"))
    assert(full.get("queries_build").size === 0)
    assert(full.get("value").asDouble === full.get("queries").get("bench_good").asDouble)
    assert(summary.get("n_queries").asInt === 1)
  }
}
