package graft.provider

import java.util.concurrent.CountDownLatch
import scala.concurrent.duration._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.RecordState

/** The [[DedupLog]] contract as a reusable TCK: every storage binding —
  * in-memory, durable file store, CQL — must pass the same invariants,
  * so swapping the backend under `DedupProvider` cannot change protocol
  * outcomes. The invariants are the ones the provider's state machine
  * actually relies on (SURVEY.md §2 O1/O2/O8/O10):
  *
  *  1. append → read round-trip in (time, recordUuid) order,
  *  2. TTL expiry (expired attempts vanish; no expiry = immortal),
  *  3. updateState upserts exactly the addressed primary key,
  *     PRESERVES the original attempt's expiry and never revives an
  *     expired one,
  *  4. (keyspace, table) namespaces are isolated,
  *  5. concurrent appends lose nothing,
  *  6. the full provider protocol (success / duplicate / failure audit)
  *     converges over the binding.
  *
  * Time is driven through a [[LogHarness]] so TTL tests STEP the clock
  * instead of sleeping — for the CQL binding the same clock drives the
  * embedded server's expiry, mirroring how Cassandra's server-side TTL
  * and the protocol's client clock advance together in production.
  */
abstract class DedupLogContractSpec extends AnyFunSuite {

  trait LogHarness {
    def log: DedupLog
    def now(): Long
    def advance(micros: Long): Unit
  }

  /** A fresh, empty binding per test. */
  def harness(): LogHarness

  protected val ks = "ksa"
  protected val tbl = "t1"

  test("append → read round-trip, ordered by (time, recordUuid)") {
    val h = harness()
    val t0 = h.now()
    h.log.append(ks, tbl, AttemptRecord("k", t0 + 50, "u-b", RecordState.Success, None))
    h.log.append(ks, tbl, AttemptRecord("k", t0 + 10, "u-z", RecordState.Retry, None))
    // same time as u-b: recordUuid breaks the tie (the clustering-key analog)
    h.log.append(ks, tbl, AttemptRecord("k", t0 + 50, "u-a", RecordState.Duplicate, None))
    val recs = h.log.read(ks, tbl, "k", h.now())
    assert(recs.map(r => (r.eventTimeMicros - t0, r.recordUuid, r.state)) ===
      Seq((10L, "u-z", RecordState.Retry),
          (50L, "u-a", RecordState.Duplicate),
          (50L, "u-b", RecordState.Success)))
    assert(h.log.read(ks, tbl, "absent", h.now()) === Seq.empty)
  }

  test("TTL: expired attempts vanish; attempts without expiry are immortal") {
    val h = harness()
    val t0 = h.now()
    h.log.append(ks, tbl, AttemptRecord("k", t0, "u1", RecordState.Success,
      Some(t0 + 2000000L)))
    h.log.append(ks, tbl, AttemptRecord("k", t0 + 1, "u2", RecordState.Duplicate, None))
    assert(h.log.read(ks, tbl, "k", h.now()).map(_.recordUuid) === Seq("u1", "u2"))
    h.advance(3000000L) // past u1's 2s TTL
    assert(h.log.read(ks, tbl, "k", h.now()).map(_.recordUuid) === Seq("u2"))
    h.advance(365L * 86400 * 1000000L) // a year: immortal means immortal
    assert(h.log.read(ks, tbl, "k", h.now()).map(_.recordUuid) === Seq("u2"))
  }

  test("updateState upserts exactly the addressed primary key") {
    val h = harness()
    val t0 = h.now()
    h.log.append(ks, tbl, AttemptRecord("k", t0, "u1", RecordState.Success, None))
    h.log.append(ks, tbl, AttemptRecord("k", t0 + 5, "u2", RecordState.Success, None))
    h.log.updateState(ks, tbl, "k", t0 + 5, "u2", RecordState.Duplicate)
    val recs = h.log.read(ks, tbl, "k", h.now())
    assert(recs.map(r => (r.recordUuid, r.state)) ===
      Seq(("u1", RecordState.Success), ("u2", RecordState.Duplicate)))
  }

  test("updateState preserves the original attempt's expiry") {
    val h = harness()
    val t0 = h.now()
    h.log.append(ks, tbl, AttemptRecord("k", t0, "u1", RecordState.Success,
      Some(t0 + 5000000L)))
    h.advance(2000000L)
    h.log.updateState(ks, tbl, "k", t0, "u1", RecordState.Failed)
    assert(h.log.read(ks, tbl, "k", h.now()).map(_.state) === Seq(RecordState.Failed))
    h.advance(4000000L) // now t0+6s: past the ORIGINAL 5s expiry
    assert(h.log.read(ks, tbl, "k", h.now()) === Seq.empty,
      "the state transition must not extend the attempt's life")
  }

  test("updateState on an expired attempt does not bring it back") {
    val h = harness()
    val t0 = h.now()
    h.log.append(ks, tbl, AttemptRecord("k", t0, "u1", RecordState.Success,
      Some(t0 + 2000000L)))
    h.advance(3000000L) // past the 2s TTL: the block outlived its call
    h.log.updateState(ks, tbl, "k", t0, "u1", RecordState.Failed)
    assert(h.log.read(ks, tbl, "k", h.now()) === Seq.empty)
    h.advance(365L * 86400 * 1000000L)
    assert(h.log.read(ks, tbl, "k", h.now()) === Seq.empty,
      "the transition made the expired attempt immortal")
  }

  test("(keyspace, table) namespaces are isolated") {
    val h = harness()
    val t0 = h.now()
    h.log.append(ks, tbl, AttemptRecord("k", t0, "u1", RecordState.Success, None))
    h.log.append("ksb", tbl, AttemptRecord("k", t0, "u2", RecordState.Success, None))
    h.log.append(ks, "t2", AttemptRecord("k", t0, "u3", RecordState.Success, None))
    assert(h.log.read(ks, tbl, "k", h.now()).map(_.recordUuid) === Seq("u1"))
    assert(h.log.read("ksb", tbl, "k", h.now()).map(_.recordUuid) === Seq("u2"))
    assert(h.log.read(ks, "t2", "k", h.now()).map(_.recordUuid) === Seq("u3"))
  }

  test("concurrent appends: no lost writes") {
    val h = harness()
    val t0 = h.now()
    val threads = 8
    val perThread = 4
    val start = new CountDownLatch(1)
    val ts = (0 until threads).map { i =>
      new Thread(() => {
        start.await()
        (0 until perThread).foreach { j =>
          h.log.append(ks, tbl, AttemptRecord("k",
            t0 + i * perThread + j, f"u$i%02d-$j", RecordState.Success, None))
        }
      })
    }
    ts.foreach(_.start()); start.countDown(); ts.foreach(_.join())
    val recs = h.log.read(ks, tbl, "k", h.now())
    assert(recs.size === threads * perThread)
    assert(recs.map(r => (r.eventTimeMicros, r.recordUuid)) ===
      recs.map(r => (r.eventTimeMicros, r.recordUuid)).sorted)
  }

  test("provider protocol over this binding: success, duplicate, failure audit") {
    val h = harness()
    // per-call clock = the harness clock stepped 1µs per reading, so the
    // provider's attempt times are monotonic AND agree with server time
    val p = new DedupProvider(h.log, new NoRetryStrategy,
      new NoDuplicateBurstAbsorber, clockMicros = () => { h.advance(1L); h.now() })
    assert(p.process("k", tbl, ks, Duration.Zero, () => "ran") === "ran")
    intercept[DuplicateException] {
      p.process("k", tbl, ks, Duration.Zero, () => "again")
    }
    assert(h.log.read(ks, tbl, "k", h.now()).map(_.state) ===
      Seq(RecordState.Success, RecordState.Duplicate))
    val boom = new RuntimeException("bzzt")
    val thrown = intercept[RuntimeException] {
      p.process("k2", tbl, ks, Duration.Zero, () => throw boom)
    }
    assert(thrown eq boom)
    assert(h.log.read(ks, tbl, "k2", h.now()).map(_.state) === Seq(RecordState.Failed))
  }
}

/** A stepped clock starting at a realistic epoch (the TCK's shared
  * time source; TIMEUUIDs need non-negative micros).
  */
final class SteppedClock(var micros: Long = 1700000000000000L) {
  def now(): Long = micros
  def advance(us: Long): Unit = micros += us
}

class InMemoryDedupLogContractSpec extends DedupLogContractSpec {
  override def harness(): LogHarness = new LogHarness {
    private val clock = new SteppedClock
    override val log = new InMemoryDedupLog
    override def now(): Long = clock.now()
    override def advance(us: Long): Unit = clock.advance(us)
  }
}

class CqlDedupLogContractSpec extends DedupLogContractSpec {
  override def harness(): LogHarness = new LogHarness {
    private val clock = new SteppedClock
    override val log = new CqlDedupLog(new InMemoryCqlSession(() => clock.now()))
    override def now(): Long = clock.now()
    override def advance(us: Long): Unit = clock.advance(us)
  }
}

class FileDedupLogContractSpec extends DedupLogContractSpec with graft.SparkSpec {
  override def harness(): LogHarness = new LogHarness {
    private val clock = new SteppedClock
    private val root = java.nio.file.Files.createTempDirectory("dltck").toString
    override val log = new graft.sources.FileDedupLog(spark,
      new graft.sources.DedupLogStore(spark, root, nBuckets = 4))
    override def now(): Long = clock.now()
    override def advance(us: Long): Unit = clock.advance(us)
  }
}
