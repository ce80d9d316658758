package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.duration._
import graft.provider._
import graft.sources.{DedupLogStore, FileDedupLog}

/** The per-call path: `DedupProvider.process(key = user_id:event_type)`
  * over a replay of the event trace, from closed-loop client threads. A
  * round replays a fixed-length trace prefix against a fresh log, so
  * per-call costs that grow with the log are the same on every commit.
  * The first round is the cold one; after the set-ups, rounds repeat
  * until the measured time is spent.
  */
object Provider {
  val Keyspace = "bench"
  val Table = "dedup"
  val Ttl: FiniteDuration = 1.hour // longer than any run: every key runs once
  val RetryTimes = 8
  val RetryDelayMs = 2L
  val AbsorberSize = 100000
  val AbsorberMillis = 100L

  /** One binding under test: builds a fresh log per round. */
  sealed trait Binding {
    def name: String
    def roundCalls: Int
    def clients(cpus: Int): Int
    def setupReps: Int
    def absorber: Boolean
    def freshLog(t: Tracer, round: Int): DedupLog
    def close(): Unit = ()
  }

  final class Cql extends Binding {
    val name = "cql"
    val roundCalls = 7200
    def clients(cpus: Int): Int = cpus
    val setupReps = 9
    val absorber = true
    def freshLog(t: Tracer, round: Int): DedupLog = {
      val session: CqlSessionLike = new InMemoryCqlSession()
      new CqlDedupLog(if (t.enabled) new TracedCqlSession(session, t) else session)
    }
  }

  final class File(ctx: Ctx) extends Binding {
    val name = "file"
    val roundCalls = 16 // 12 events, three of them redelivered
    // every call runs several Spark jobs on local[cpus]: with cpus
    // clients each call mostly waits for the others' jobs, which doubled
    // the latency and left throughput where half as many clients put it
    def clients(cpus: Int): Int = math.max(2, cpus / 2)
    val setupReps = 3
    val absorber = false
    val spark = Sessions.create(ctx.cpus, ctx.scratch)
    val probe: Option[SparkProbe] =
      if (ctx.tracer.enabled) {
        val p = new SparkProbe(ctx.tracer); spark.sparkContext.addSparkListener(p); Some(p)
      } else None
    val roots = scala.collection.mutable.ArrayBuffer.empty[String]
    def freshLog(t: Tracer, round: Int): DedupLog = {
      val root = s"${ctx.scratch}/filelog/round-$round"
      roots += root
      new FileDedupLog(spark, new DedupLogStore(spark, root))
    }
    override def close(): Unit = spark.stop()
  }

  final case class Round(latNs: Array[Long], wallNs: Long, success: Int, duplicate: Int,
                         failures: Seq[String])

  /** Replays `calls` from `threads` closed-loop clients and checks that
    * every distinct key's block ran exactly once and every call ended
    * SUCCESS or DUPLICATE.
    */
  def round(provider: DedupProvider, calls: Array[EventTrace.Event], threads: Int,
            t: Tracer, reqBase: Long): Round = {
    val ran = new ConcurrentHashMap[String, AtomicInteger]()
    val lat = Array.fill(calls.length)(-1L) // a failed call adds no timing
    val next = new AtomicInteger(0)
    val success = new AtomicInteger(0)
    val duplicate = new AtomicInteger(0)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val t0 = System.nanoTime()
    val workers = (0 until threads).map { _ =>
      val th = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < calls.length) {
          val key = calls(i).key
          val s = System.nanoTime()
          try {
            t.request(reqBase + i, "provider.call") {
              provider.process(key, Table, Keyspace, Ttl,
                () => ran.computeIfAbsent(key, _ => new AtomicInteger()).incrementAndGet())
            }
            lat(i) = System.nanoTime() - s
            success.incrementAndGet()
          } catch {
            case _: DuplicateException =>
              lat(i) = System.nanoTime() - s
              duplicate.incrementAndGet()
            case e: Throwable => failures.add(s"call $i key $key: ${e.getClass.getSimpleName}")
          }
          i = next.getAndIncrement()
        }
      })
      th.start(); th
    }
    workers.foreach(_.join())
    val wall = System.nanoTime() - t0
    import scala.jdk.CollectionConverters._
    val badKeys = calls.map(_.key).distinct.flatMap { k =>
      val n = Option(ran.get(k)).map(_.get).getOrElse(0)
      if (n == 1) None else Some(k -> s"key $k: block ran $n times")
    }.toMap
    // the calls on a key that failed the check add no timing either
    val timed = lat.indices.filter(i => lat(i) >= 0 && !badKeys.contains(calls(i).key)).map(lat(_))
    Round(timed.toArray, wall, success.get, duplicate.get, failures.asScala.toSeq ++ badKeys.values)
  }

  def provider(b: Binding, t: Tracer, round: Int): DedupProvider = {
    val log = b.freshLog(t, round)
    val absorber: DuplicateBurstAbsorber =
      if (b.absorber) new CachedDuplicateBurstAbsorber(AbsorberSize, AbsorberMillis)
      else new NoDuplicateBurstAbsorber
    val retry: RetryStrategy = new FixedDelayRetryStrategy(RetryTimes, RetryDelayMs)
    if (!t.enabled) new DedupProvider(log, retry, absorber)
    else new DedupProvider(new TracedDedupLog(log, t), new TracedRetry(retry, t),
      if (b.absorber) new TracedAbsorber(absorber, t) else absorber)
  }

  def run(ctx: Ctx, b: Binding): Outcome = {
    val t = ctx.tracer
    val calls = EventTrace.calls(ctx.seed, b.roundCalls)
    val off = new Tracer(false)
    var roundNo = 0
    def nextRound(): Int = { roundNo += 1; roundNo }
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0L

    // cold: the first round in this JVM, on a fresh provider and log,
    // before anything else has called the provider
    val clients = b.clients(ctx.cpus)
    val cold = round(provider(b, off, nextRound()), calls, clients, off, 0L)
    failures ++= cold.failures.map(f => s"cold round: $f")
    attempted += calls.length

    // set-up: a fresh log and provider plus the first call on it; the
    // median over the repetitions is reported
    val setups = (1 to b.setupReps).map { _ =>
      val s0 = System.nanoTime()
      val r = round(provider(b, off, nextRound()), calls.take(1), 1, off, 0L)
      val took = (System.nanoTime() - s0) / 1e9
      failures ++= r.failures.map(f => s"set-up: $f")
      attempted += 1
      took
    }

    ctx.jvm.reset()
    val measureStart = System.nanoTime()
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Round]
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    while (rounds.isEmpty || System.nanoTime() < deadline) {
      val r = round(provider(b, t, nextRound()), calls, clients, t, rounds.size * 1000000L)
      rounds += r
      attempted += calls.length
      failures ++= r.failures.map(f => s"round ${rounds.size}: $f")
    }
    val jvm = ctx.jvm.snapshot()

    // quantiles over every measured call of the run, pooled across rounds
    val latMs = rounds.flatMap(_.latNs).map(_ / 1e6).toSeq
    val nCalls = latMs.size.toDouble
    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "cold_s" -> cold.wallNs / 1e9,
      "op_p50_ms" -> Stats.quantile(latMs, 0.5),
      "op_p90_ms" -> Stats.quantile(latMs, 0.9),
      "throughput_per_s" -> nCalls / (rounds.map(_.wallNs).sum / 1e9))

    val layers = if (!t.enabled) Map.empty[String, Double] else {
      def sumS(name: String) = t.totalS(name)
      val attempts = t.count("provider.attempts")
      val retryBackoff = sumS("provider.retry") - sumS("provider.attempt")
      val absorbN = t.count("absorber.absorb_n")
      val base = Map(
        "provider.call_p99_ms" -> Stats.quantile(latMs, 0.99),
        "provider.attempts_per_call" -> attempts / nCalls,
        "provider.retry_backoff_s" -> retryBackoff,
        "provider.success_n" -> rounds.map(_.success).sum.toDouble,
        "provider.duplicate_n" -> rounds.map(_.duplicate).sum.toDouble,
        "provider.retry_n" -> (attempts - nCalls),
        "provider.failed_n" -> rounds.map(_.failures.size).sum.toDouble,
        "absorber.hit_ratio" ->
          (if (absorbN == 0) 0.0 else (absorbN - t.count("absorber.loader_n")) / absorbN),
        "absorber.wait_s" -> (sumS("absorber.absorb") - sumS("absorber.loader")),
        "log.append_n" -> t.count("log.append_n"),
        "log.append_s" -> sumS("log.append"),
        "log.update_n" -> t.count("log.update_n"),
        "log.update_s" -> sumS("log.update"),
        "log.read_n" -> t.count("log.read_n"),
        "log.read_s" -> sumS("log.read"),
        "log.read_rows" -> t.count("log.read_rows"))
      val cql = TracedCqlSession.kinds.flatMap { k =>
        Seq(s"cql.${k}_per_call" -> t.count(s"cql.${k}_n") / nCalls,
          s"cql.${k}_s" -> sumS(s"cql.$k"))
      }.toMap
      val file = b match {
        case f: File =>
          f.probe.foreach(_.drain())
          // nothing but provider calls submits Spark jobs once set-up ends
          val jobs = f.probe.toSeq.flatMap(_.jobs.toArray(Array.empty[JobRec]))
            .filter(_.startNs >= measureStart)
          val (files, bytes) = Host.tree(f.roots.toSeq)
          Map("filelog.jobs_per_call" -> jobs.size / nCalls,
            "filelog.job_s" -> jobs.map(j => j.endNs - j.startNs).sum / 1e9,
            "filelog.files" -> files.toDouble,
            "filelog.bytes" -> bytes.toDouble)
        case _ => Map.empty[String, Double]
      }
      base ++ cql ++ file ++ jvm
    }
    b.close()
    Outcome(attempted, failures.toSeq, e2e, layers, Map(
      "binding" -> b.name,
      "client_threads" -> clients,
      "round_calls" -> calls.length,
      "round_keys" -> calls.map(_.key).distinct.length,
      "rounds" -> rounds.size,
      "round_wall_s" -> rounds.map(_.wallNs / 1e9).toSeq,
      "calls" -> latMs.size,
      "absorber" -> (if (b.absorber) s"CachedDuplicateBurstAbsorber($AbsorberSize, $AbsorberMillis ms)" else "none"),
      "retry" -> s"FixedDelayRetryStrategy($RetryTimes, $RetryDelayMs ms)",
      "ttl_s" -> Ttl.toSeconds,
      "setup_runs_s" -> setups))
  }
}
