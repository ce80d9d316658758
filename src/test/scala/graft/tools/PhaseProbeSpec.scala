package graft.tools

import java.io.ByteArrayOutputStream
import org.apache.spark.sql.functions.{col, udf}
import graft.{Lane, SparkSpec}

/** A failing lane is never a timing in the phase sweep either:
  * [[PhaseProbe.run]] prints one FAILED line for it, no phase line, and
  * goes on to the next lane.
  */
class PhaseProbeSpec extends SparkSpec {

  test("a lane that throws prints one FAILED line and no timing; the sweep goes on") {
    val gate = Lane.RowsOnly("graft.tools.PhaseProbeSpec")
    val good = Lane("phase_good", (s, _) => s.range(10).toDF(), gate)
    val boom = udf((x: Long) => { if (x >= 0) throw new IllegalStateException("boom"); x })
    val failsInRun = Lane("phase_fails_in_run",
      (s, _) => s.range(3).select(boom(col("id"))), gate)
    val failsInBuild = Lane("phase_fails_in_build", (s, _) => s.range(1).toDF(), gate,
      build = Some((_, _) => throw new IllegalStateException("no store")))

    val out = new ByteArrayOutputStream()
    val failed = Console.withOut(out) {
      PhaseProbe.run(spark, sfDir, Seq(failsInBuild, failsInRun, good), repeats = 2)
    }
    assert(failed === Seq("phase_fails_in_build", "phase_fails_in_run"))

    val lines = out.toString("UTF-8").linesIterator.toSeq
    def linesOf(lane: String) = lines.filter(_.split("\\s+").contains(lane))
    failed.foreach { lane =>
      assert(linesOf(lane).size === 1, lines.mkString("\n"))
      assert(linesOf(lane).head.startsWith(s"[phase] $lane FAILED: "))
    }
    assert(linesOf("phase_good").count(_.startsWith("[phase] ")) === 2)
    assert(linesOf("phase_good").forall(!_.contains("FAILED")))
  }
}
