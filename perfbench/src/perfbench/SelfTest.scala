package perfbench

import org.apache.spark.sql.SparkSession
import graft.provider._

/** Shows that both correctness checks can fail: a lane that throws is
  * listed by name and adds no timing, and a log that drops appends lets
  * a block run twice, which the provider check reports.
  *
  * `SelfTest <scratch dir> <cpus>`; exits 0 when both checks caught
  * their fault and the healthy lane and provider passed.
  */
object SelfTest {
  /** Keeps only the newest append per key: every earlier attempt row is
    * dropped, so each caller reads back only its own SUCCESS. */
  final class DroppingLog extends DedupLog {
    private val last = new java.util.concurrent.ConcurrentHashMap[String, AttemptRecord]()
    override def append(ks: String, table: String, rec: AttemptRecord): Unit = last.put(rec.key, rec)
    override def updateState(ks: String, table: String, key: String, time: Long,
                             uuid: String, state: Short): Unit =
      last.computeIfPresent(key, (_, r) => if (r.recordUuid == uuid) r.copy(state = state) else r)
    override def read(ks: String, table: String, key: String, now: Long): Seq[AttemptRecord] =
      Option(last.get(key)).toSeq
  }

  def main(args: Array[String]): Unit = {
    val Array(scratch, cpus) = args
    val checks = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
    val off = new Tracer(false)
    val calls = EventTrace.calls(7L, 200)
    def provider(log: DedupLog) =
      new DedupProvider(log, new FixedDelayRetryStrategy(3, 1L), new NoDuplicateBurstAbsorber)

    val healthy = Provider.round(provider(new InMemoryDedupLog), calls, 1, off, 0L)
    checks += "healthy log passes the exactly-once check" -> healthy.failures.isEmpty
    val dropped = Provider.round(provider(new DroppingLog), calls, 1, off, 0L)
    checks += "dropping log: a block that ran twice is reported" ->
      dropped.failures.exists(_.contains("block ran 2 times"))

    val boom: Lanes.Lane = (_: SparkSession, _: String) =>
      throw new IllegalStateException("injected lane failure")
    val ctx = Ctx("lanes", 7L, 1, cpus.toInt, scratch, new Tracer(false), new JvmMeter)
    val out = Lanes.run(ctx, Seq(
      "dedup_first_wins" -> graft.SparkEntry.queries("dedup_first_wins"),
      "injected_throwing_lane" -> boom))
    checks += "throwing lane is listed by name" ->
      out.failures.exists(_.startsWith("injected_throwing_lane:"))
    checks += "healthy lane is not listed" -> !out.failures.exists(_.startsWith("dedup_first_wins"))
    checks += "throwing lane adds no timing" ->
      !out.detail("lane_cold_ms").asInstanceOf[Map[String, Double]].contains("injected_throwing_lane")

    checks.foreach { case (name, ok) => System.err.println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $name") }
    System.exit(if (checks.forall(_._2)) 0 else 1)
  }
}
