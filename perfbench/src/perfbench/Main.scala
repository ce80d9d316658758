package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

final case class Ctx(workload: String, seed: Long, seconds: Int, cpus: Int,
                     scratch: String, tracer: Tracer, jvm: JvmMeter)

/** What a workload run returns. `failures` name every operation that
  * threw or failed its check; such operations add no timing.
  */
final case class Outcome(attempted: Long, failures: Seq[String],
                         e2e: Map[String, Double], layers: Map[String, Double],
                         detail: Map[String, Any])

/** Heap peak and GC time over the measured window. */
final class JvmMeter {
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private var gc0 = gcMs

  def reset(): Unit = {
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    gc0 = gcMs
  }

  def snapshot(): Map[String, Double] = {
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    Map("jvm.heap_peak_mb" -> heapPeak / 1048576.0, "jvm.gc_s" -> (gcMs - gc0) / 1000.0)
  }
}

object Host {
  /** (regular files, bytes) under the given roots. */
  def tree(roots: Seq[String]): (Long, Long) =
    roots.map(Paths.get(_)).filter(Files.exists(_)).foldLeft((0L, 0L)) { case (acc, r) =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft(acc) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
      finally s.close()
    }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  def fingerprint(ctx: Ctx): Map[String, Any] = {
    val conf = graft.DeployProfile.local(ctx.cpus).toSeq.sorted.map { case (k, v) => s"$k=$v" }
    val xmx = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .find(_.startsWith("-Xmx")).getOrElse("default")
    Map(
      "nproc" -> ctx.cpus,
      "xmx" -> xmx,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jdk" -> s"${sys.props("java.vendor")} ${sys.props("java.runtime.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString,
      "deploy_profile_local_sha256" -> sha256(conf.mkString("\n")),
      "seed" -> ctx.seed)
  }
}

/** `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --cpus <n> --scratch <dir> --out <record.json>`
  *
  * Runs one workload and writes its record: end-to-end metrics, the
  * per-layer metrics of a traced run, the failure list, the host
  * fingerprint and workload details; a traced run also writes its spans
  * next to the record. Exits 1 when any operation failed.
  */
object Main {
  val Workloads: Seq[String] = Seq("lanes", "provider_cql", "provider_file", "stream_audit")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val traced = a("trace") == "1"
    val ctx = Ctx(workload, a("seed").toLong, a("seconds").toInt, a("cpus").toInt,
      a("scratch"), new Tracer(traced), new JvmMeter)
    val out = Paths.get(a("out"))
    val t0 = System.nanoTime()
    val outcome =
      try run(ctx)
      catch { case e: Throwable =>
        e.printStackTrace()
        Outcome(1, Seq(s"$workload: ${e.getClass.getName}: ${e.getMessage}"), Map.empty, Map.empty, Map.empty)
      }
    val spansFile = out.resolveSibling(out.getFileName.toString.stripSuffix(".json") + ".spans.jsonl")
    if (traced) writeSpans(ctx.tracer, spansFile)
    val record = Map(
      "workload" -> workload,
      "seed" -> ctx.seed,
      "seconds" -> ctx.seconds,
      "trace" -> traced,
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failures.size,
      "failures" -> outcome.failures.take(100),
      "e2e" -> outcome.e2e,
      "per_layer" -> outcome.layers,
      "spans_file" -> (if (traced) Some(spansFile.getFileName.toString) else None),
      "span_count" -> ctx.tracer.all.size,
      "host" -> Host.fingerprint(ctx),
      "detail" -> outcome.detail,
      "jvm_wall_s" -> (System.nanoTime() - t0) / 1e9)
    Files.createDirectories(out.getParent)
    Files.write(out, Json.render(record).getBytes("UTF-8"))
    outcome.failures.take(20).foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    System.exit(if (outcome.failures.isEmpty) 0 else 1)
  }

  def run(ctx: Ctx): Outcome = ctx.workload match {
    case "lanes" => Lanes.run(ctx, Lanes.Panel.map(n => n -> graft.SparkEntry.queries(n)))
    case "provider_cql" => Provider.run(ctx, new Provider.Cql)
    case "provider_file" => Provider.run(ctx, new Provider.File(ctx))
    case "stream_audit" => StreamAudit.run(ctx)
  }

  private def writeSpans(t: Tracer, file: Path): Unit = {
    Files.createDirectories(file.getParent)
    val w = Files.newBufferedWriter(file)
    try t.all.sortBy(_.startNs).foreach { s =>
      w.write(Json.render(Map("id" -> s.id, "parent" -> s.parent, "request" -> s.request,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      w.newLine()
    } finally w.close()
  }
}
