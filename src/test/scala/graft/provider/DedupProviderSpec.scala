package graft.provider

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.duration._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.RecordState

/** Per-call protocol outcomes — mirrors the reference's integration tests
  * by querying the log back and asserting row count + state values
  * (reference: provider/DeduplicationProviderTest.kt:78-284) — plus the
  * strategy/absorber unit tests (strategy/sync/impl tests,
  * absorber/impl/CachedDuplicateBurstAbsorberTest.kt:13-24).
  */
class DedupProviderSpec extends AnyFunSuite {

  private def newProvider(log: InMemoryDedupLog = new InMemoryDedupLog,
                          strategy: RetryStrategy = new NoRetryStrategy,
                          absorber: DuplicateBurstAbsorber = new NoDuplicateBurstAbsorber) =
    new DedupProvider(log, strategy, absorber)

  private def records(log: InMemoryDedupLog, key: String) =
    log.read("ks", "t", key, Long.MaxValue)

  // outcome 1: clean run → block once, one SUCCESS row (ref :78-102)
  test("single process: one SUCCESS row, block runs once") {
    val log = new InMemoryDedupLog
    val p = newProvider(log)
    val calls = new AtomicInteger
    val out = p.process("k1", "t", "ks", Duration.Zero, () => { calls.incrementAndGet(); "ok" })
    assert(out === "ok" && calls.get === 1)
    val recs = records(log, "k1")
    assert(recs.map(_.state) === Seq(RecordState.Success))
  }

  // outcome 2: sequential duplicate → SUCCESS + DUPLICATE rows (ref :104-143)
  test("sequential duplicate: DuplicateException, SUCCESS+DUPLICATE rows") {
    val log = new InMemoryDedupLog
    val p = newProvider(log)
    p.process("k2", "t", "ks", Duration.Zero, () => "first")
    intercept[DuplicateException] {
      p.process("k2", "t", "ks", Duration.Zero, () => "second")
    }
    val states = records(log, "k2").map(_.state).sorted
    assert(states === Seq(RecordState.Success, RecordState.Duplicate).sorted)
  }

  // outcome 3 (ref :145-210, made deterministic): a concurrent SUCCESS row
  // is injected so the read-back sees a tie; the reference's parallel test
  // pins exactly these two outcomes (winner→RETRY, loser→DUPLICATE).
  test("tie, self earliest: self demoted RETRY, RetryException → RetriesExceeded") {
    val log = new InMemoryDedupLog
    val p = new DedupProvider(log, new NoRetryStrategy, new NoDuplicateBurstAbsorber,
      clockMicros = () => 1000L)
    // concurrent writer landed AFTER self (time 2000 > 1000)
    log.append("ks", "t", AttemptRecord("k3", 2000L, "other", RecordState.Success, None))
    intercept[RetriesExceededException] {
      p.process("k3", "t", "ks", Duration.Zero, () => "ran")
    }
    val byUuid = records(log, "k3").map(r => r.recordUuid -> r.state).toMap
    assert(byUuid("other") === RecordState.Success)
    assert((byUuid - "other").values.toSeq === Seq(RecordState.Retry))
  }

  test("tie, self later: self demoted DUPLICATE, DuplicateException") {
    val log = new InMemoryDedupLog
    val p = new DedupProvider(log, new NoRetryStrategy, new NoDuplicateBurstAbsorber,
      clockMicros = () => 1000L)
    // concurrent writer landed BEFORE self (time 500 < 1000)
    log.append("ks", "t", AttemptRecord("k3b", 500L, "other", RecordState.Success, None))
    intercept[DuplicateException] {
      p.process("k3b", "t", "ks", Duration.Zero, () => "ran")
    }
    val byUuid = records(log, "k3b").map(r => r.recordUuid -> r.state).toMap
    assert(byUuid("other") === RecordState.Success)
    assert((byUuid - "other").values.toSeq === Seq(RecordState.Duplicate))
  }

  // The reference's parallel test with real threads (ref :145-210): all
  // contenders race the full protocol; retries give the racing winner
  // fresh attempts. Invariant: the block runs EXACTLY once, exactly one
  // caller gets its value, and the log converges to one live SUCCESS.
  test("concurrent process on one key: block runs exactly once, log converges") {
    val log = new InMemoryDedupLog
    val blocks = new AtomicInteger
    val pool = Executors.newFixedThreadPool(4)
    val gate = new CountDownLatch(1)
    try {
      val futures = (1 to 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          override def call(): String = {
            gate.await(5, TimeUnit.SECONDS)
            val p = new DedupProvider(log, new FixedDelayRetryStrategy(10, 5L),
              new NoDuplicateBurstAbsorber)
            try p.process("krace", "t", "ks", Duration.Zero,
              () => { blocks.incrementAndGet(); "ok" })
            catch {
              case _: DuplicateException => "dup"
              case _: RetriesExceededException => "exceeded"
            }
          }
        })
      }
      gate.countDown()
      val results = futures.map(_.get(30, TimeUnit.SECONDS))
      assert(blocks.get === 1, s"block ran ${blocks.get} times; outcomes=$results")
      assert(results.count(_ == "ok") === 1)
      val successes = records(log, "krace").filter(_.state == RecordState.Success)
      assert(successes.size === 1)
    } finally pool.shutdown()
  }

  // The zero-run race: when the earliest attempt retried at once, its
  // fresh attempt could read the later racer's SUCCESS row before that
  // racer's DUPLICATE demotion landed, lose to it, and leave the key with
  // no winner. Slow demotions widen that window on every try.
  test("two racing first calls with slow demotions: the block runs exactly once") {
    val log = new InMemoryDedupLog {
      override def updateState(ks: String, t: String, key: String,
          timeMicros: Long, uuid: String, state: Short): Unit = {
        if (state == RecordState.Duplicate) Thread.sleep(30)
        super.updateState(ks, t, key, timeMicros, uuid, state)
      }
    }
    val providers = Seq.fill(2)(
      new DedupProvider(log, new FixedDelayRetryStrategy(5, 1L), new NoDuplicateBurstAbsorber))
    val pool = Executors.newFixedThreadPool(2)
    try {
      val runs = (1 to 50).map { i =>
        val blocks = new AtomicInteger
        val start = new CountDownLatch(1)
        val futures = providers.map { p =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = {
              start.await(5, TimeUnit.SECONDS)
              try p.process(s"race-$i", "t", "ks", Duration.Zero,
                () => blocks.incrementAndGet())
              catch { case _: DuplicateException => () }
            }
          })
        }
        start.countDown()
        futures.foreach(_.get(30, TimeUnit.SECONDS))
        blocks.get
      }
      val bad = runs.zipWithIndex.filter(_._1 != 1)
      assert(bad.isEmpty, s"${bad.size} of 50 tries ran the block other than once: $bad")
    } finally pool.shutdown()
  }

  // outcome 4: block error → FAILED row, business error rethrown (ref :212-241)
  test("block failure: FAILED row, original exception rethrown") {
    val log = new InMemoryDedupLog
    val p = newProvider(log)
    val boom = new RuntimeException("business error")
    val got = intercept[RuntimeException] {
      p.process("k4", "t", "ks", Duration.Zero, () => throw boom)
    }
    assert(got eq boom)
    assert(records(log, "k4").map(_.state) === Seq(RecordState.Failed))
  }

  // outcome 5: FAILED-update write itself fails → update error thrown with
  // business error suppressed (ref :243-284, suppression :109-112)
  test("double fault: update error thrown, business error suppressed") {
    val failingLog = new InMemoryDedupLog {
      override def updateState(ks: String, t: String, key: String,
          timeMicros: Long, uuid: String, state: Short): Unit =
        throw new RuntimeException("storage down")
    }
    val p = newProvider(failingLog)
    val business = new RuntimeException("business error")
    val got = intercept[FailedException] {
      p.process("k5", "t", "ks", Duration.Zero, () => throw business)
    }
    assert(got.getSuppressed.contains(business))
  }

  test("TTL: expired SUCCESS row does not block a fresh attempt") {
    val log = new InMemoryDedupLog
    var now = 1_000_000L
    val p = new DedupProvider(log, new NoRetryStrategy, new NoDuplicateBurstAbsorber,
      clockMicros = () => now)
    p.process("k6", "t", "ks", 1.second, () => "first")
    now += 2_000_000L // past the 1s TTL
    val out = p.process("k6", "t", "ks", 1.second, () => "second")
    assert(out === "second")
  }

  // ── retry strategies (ref strategy/sync/impl/*Test.kt) ──
  test("NoRetryStrategy: 1 call on success; RetryException → RetriesExceeded immediately") {
    val s = new NoRetryStrategy
    val n = new AtomicInteger
    assert(s.retry(() => { n.incrementAndGet(); 42 }) === 42 && n.get === 1)
    val m = new AtomicInteger
    intercept[RetriesExceededException] {
      s.retry[Int](() => { m.incrementAndGet(); throw new RetryException("k", "t", "ks") })
    }
    assert(m.get === 1)
  }

  test("FixedDelayRetryStrategy: times+1 attempts then RetriesExceeded") {
    val s = new FixedDelayRetryStrategy(3, 1L)
    val n = new AtomicInteger
    intercept[RetriesExceededException] {
      s.retry[Int](() => { n.incrementAndGet(); throw new RetryException("k", "t", "ks") })
    }
    assert(n.get === 4)
  }

  test("FixedDelayRetryStrategy: non-retry errors pass through after 1 attempt") {
    val s = new FixedDelayRetryStrategy(3, 1L)
    val n = new AtomicInteger
    intercept[IllegalStateException] {
      s.retry[Int](() => { n.incrementAndGet(); throw new IllegalStateException("no") })
    }
    assert(n.get === 1)
  }

  test("ExponentialDelayRetryStrategy: delay grows by e^n (natural exp, ref formula)") {
    val s = new ExponentialDelayRetryStrategy(3, 100L)
    assert(s.delayFor(0) === 100L)
    assert(s.delayFor(1) === (100L * math.exp(1.0)).toLong) // 271, not 200
    assert(s.delayFor(2) === (100L * math.exp(2.0)).toLong) // 738
  }

  test("async strategies: attempt counts mirror sync; errors complete exceptionally") {
    val pool = Executors.newFixedThreadPool(2)
    try {
      val n = new AtomicInteger
      val f = new FixedDelayRetryStrategyAsync(2, 1L, pool)
        .retryAsync[Int](() => { n.incrementAndGet(); throw new RetryException("k", "t", "ks") })
      val err = intercept[java.util.concurrent.ExecutionException] {
        f.get(10, TimeUnit.SECONDS)
      }
      assert(err.getCause.isInstanceOf[RetriesExceededException])
      assert(n.get === 3)

      val ok = new NoRetryStrategyAsync().retryAsync(() => 7)
      assert(ok.get(1, TimeUnit.SECONDS) === 7)
    } finally pool.shutdown()
  }

  // ── absorber (ref CachedDuplicateBurstAbsorberTest.kt:13-24) ──
  test("absorber memoizes: loader called once per key within window; evict reloads") {
    val a = new CachedDuplicateBurstAbsorber(100, 60_000L)
    val n = new AtomicInteger
    assert(a.absorb("k", () => { n.incrementAndGet(); "u1" }) === "u1")
    assert(a.absorb("k", () => { n.incrementAndGet(); "u2" }) === "u1")
    assert(n.get === 1)
    a.evict("k")
    assert(a.absorb("k", () => { n.incrementAndGet(); "u3" }) === "u3")
    assert(n.get === 2)
  }

  test("absorber: concurrent callers share the first caller's value") {
    val a = new CachedDuplicateBurstAbsorber(100, 60_000L)
    val n = new AtomicInteger
    val started = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    val futs = (1 to 8).map { i =>
      pool.submit(new java.util.concurrent.Callable[String] {
        override def call(): String = {
          started.await(5, TimeUnit.SECONDS)
          a.absorb("k", () => { n.incrementAndGet(); Thread.sleep(50); s"u$i" })
        }
      })
    }
    started.countDown()
    val vals = futs.map(_.get(10, TimeUnit.SECONDS)).toSet
    pool.shutdown()
    assert(vals.size === 1)
    assert(n.get === 1)
  }

  test("absorber: entries expire after the absorb window") {
    var now = 0L
    val a = new CachedDuplicateBurstAbsorber(100, 1000L, clock = () => now)
    val n = new AtomicInteger
    a.absorb("k", () => { n.incrementAndGet(); "u1" })
    now = 500L
    a.absorb("k", () => { n.incrementAndGet(); "u2" })
    assert(n.get === 1)
    now = 1500L
    assert(a.absorb("k", () => { n.incrementAndGet(); "u3" }) === "u3")
    assert(n.get === 2)
  }

  test("absorber size bound evicts least-recently-accessed first") {
    val a = new CachedDuplicateBurstAbsorber(3, 60_000L)
    val n = new AtomicInteger
    def load(k: String) = a.absorb(k, () => { n.incrementAndGet(); s"v$k" })
    load("k1"); load("k2"); load("k3")
    load("k1") // refresh k1's recency — k2 becomes the eldest
    assert(n.get === 3)
    load("k4") // overflow: k2 (LRU) leaves, not k1 (oldest-written)
    assert(a.size === 3)
    load("k1")
    assert(n.get === 4, "k1 must still be memoized after the overflow")
    load("k2")
    assert(n.get === 5, "k2 must have been the evicted entry")
  }

  test("absorber overflow never evicts an in-flight entry while a completed one exists") {
    val a = new CachedDuplicateBurstAbsorber(2, 60_000L)
    val n = new AtomicInteger
    val enteredA = new CountDownLatch(1)
    val releaseA = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      // kA's loader parks: the entry sits in the cache incomplete
      val inFlight = pool.submit(new java.util.concurrent.Callable[String] {
        override def call(): String = a.absorb("kA", () => {
          enteredA.countDown()
          releaseA.await(10, TimeUnit.SECONDS)
          n.incrementAndGet(); "vA"
        })
      })
      assert(enteredA.await(5, TimeUnit.SECONDS))
      a.absorb("kB", () => "vB") // completed entry, more recent than kA
      a.absorb("kC", () => "vC") // overflow: kB (done) leaves, NOT in-flight kA
      // a duplicate burst on kA must join the parked loader, not run a
      // second one — the absorption guarantee the eviction could break
      val burst = pool.submit(new java.util.concurrent.Callable[String] {
        override def call(): String =
          a.absorb("kA", () => { n.incrementAndGet(); "vA2" })
      })
      releaseA.countDown()
      assert(inFlight.get(10, TimeUnit.SECONDS) === "vA")
      assert(burst.get(10, TimeUnit.SECONDS) === "vA")
      assert(n.get === 1, "in-flight entry was evicted: a second loader ran")
      assert(a.size <= 2)
    } finally pool.shutdown()
  }

  test("absorber overflow under contention: bound holds, every caller completes") {
    val a = new CachedDuplicateBurstAbsorber(10, 60_000L)
    val pool = Executors.newFixedThreadPool(16)
    val started = new CountDownLatch(1)
    try {
      val futs = (1 to 16).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[Boolean]] {
          override def call(): Seq[Boolean] = {
            started.await(5, TimeUnit.SECONDS)
            // overlapping key ranges: same-key races and overflow churn
            // happen simultaneously
            (0 until 50).map { i =>
              val k = (t * 7 + i) % 40
              a.absorb(s"k$k", () => s"v$k") == s"v$k"
            }
          }
        })
      }
      started.countDown()
      val results = futs.flatMap(_.get(30, TimeUnit.SECONDS))
      // every caller got the value its key's loader produces — memoized
      // or freshly loaded, never a torn/foreign entry
      assert(results.length === 16 * 50 && results.forall(identity))
      assert(a.size <= 10, s"size bound violated: ${a.size}")
    } finally pool.shutdown()
  }

  test("provider with absorber: in-process racers get DuplicateException without storage read") {
    val log = new InMemoryDedupLog
    val p = newProvider(log, absorber = new CachedDuplicateBurstAbsorber(100, 60_000L))
    p.process("k7", "t", "ks", Duration.Zero, () => "ok")
    intercept[DuplicateException] {
      p.process("k7", "t", "ks", Duration.Zero, () => "again")
    }
    // absorbed loser writes its DUPLICATE attempt row (ref :55-65)
    val states = records(log, "k7").map(_.state).sorted
    assert(states === Seq(RecordState.Success, RecordState.Duplicate).sorted)
  }

  test("async façade: processAsync works, direct process rejected (ref :25-27)") {
    val pool = Executors.newFixedThreadPool(2)
    try {
      val p = new DedupProviderAsync(new InMemoryDedupLog,
        new NoRetryStrategyAsync, new NoDuplicateBurstAbsorber)
      assert(p.processAsync("k8", "t", "ks", Duration.Zero, () => 5).get(5, TimeUnit.SECONDS) === 5)
      intercept[UnsupportedOperationException] {
        p.process("k8", "t", "ks", Duration.Zero, () => 5)
      }
      val dup = p.processAsync("k8", "t", "ks", Duration.Zero, () => 6)
      val err = intercept[java.util.concurrent.ExecutionException] { dup.get(5, TimeUnit.SECONDS) }
      assert(err.getCause.isInstanceOf[DuplicateException])
    } finally pool.shutdown()
  }

  test("builder defaults mirror the reference (3 retries, 2× timeout, no-op absorber)") {
    val p = DedupProviderBuilder.newProviderBuilder().build()
    assert(p.strategy.isInstanceOf[ExponentialDelayRetryStrategy])
    assert(p.absorber.isInstanceOf[NoDuplicateBurstAbsorber])
    val a = DedupProviderBuilder.newAsyncProviderBuilder().build()
    assert(a.asyncStrategy.isInstanceOf[ExponentialDelayRetryStrategyAsync])
  }

  // config-profile timeout lookup (ref Utils.kt:7-11 reads
  // basic.request.timeout from the driver profile; here the profile is the
  // session/JVM config chain) — default delay must obey the 2× law
  test("builder derives the default initial delay as 2× the configured request timeout") {
    val key = DedupProviderBuilder.RequestTimeoutConfKey
    // no config set → built-in default
    sys.props -= key
    assert(DedupProviderBuilder.requestTimeoutMillis ===
      DedupProviderBuilder.DefaultRequestTimeoutMillis)
    val d = DedupProviderBuilder.newProviderBuilder().build()
      .strategy.asInstanceOf[ExponentialDelayRetryStrategy]
    assert(d.initialDelayMillis === 2 * DedupProviderBuilder.DefaultRequestTimeoutMillis)
    try {
      sys.props(key) = "750"
      assert(DedupProviderBuilder.requestTimeoutMillis === 750L)
      val p = DedupProviderBuilder.newProviderBuilder().build()
        .strategy.asInstanceOf[ExponentialDelayRetryStrategy]
      assert(p.initialDelayMillis === 1500L) // 2× law, resolved at build()
      val a = DedupProviderBuilder.newAsyncProviderBuilder().build()
        .asyncStrategy.asInstanceOf[ExponentialDelayRetryStrategyAsync]
      assert(a.initialDelayMillis === 1500L)
    } finally sys.props -= key
  }

  test("processOnce with vanished SUCCESS row retries instead of declaring duplicate") {
    // the log loses the row between insert and read-back (TTL analog):
    // the protocol must surface a retryable condition, not Duplicate —
    // nobody ran the block
    val amnesiacLog = new InMemoryDedupLog {
      override def read(ks: String, t: String, key: String, nowMicros: Long): Seq[AttemptRecord] =
        Seq.empty
    }
    val n = new AtomicInteger
    val p = new DedupProvider(amnesiacLog,
      new RetryStrategy { // counts RetryExceptions, never succeeds
        override def retry[T](a: () => T): T =
          try a() catch { case _: RetryException => n.incrementAndGet(); throw new RetriesExceededException("k", "t", "ks") }
      },
      new NoDuplicateBurstAbsorber)
    intercept[RetriesExceededException] {
      p.process("k9", "t", "ks", Duration.Zero, () => "never")
    }
    assert(n.get === 1)
  }
}
