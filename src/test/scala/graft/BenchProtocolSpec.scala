package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench noise-defense thresholds (VERDICT r7 next-round #2):
  * the record must self-identify contamination instead of reading as a
  * performance regression.
  */
class BenchProtocolSpec extends AnyFunSuite {

  test("noisy: load_start is the fallback only when the meter is unavailable") {
    // no usable samples -> load_start rule
    assert(BenchProtocol.noisy(2.01, Nil, 32))
    assert(BenchProtocol.noisy(2.01, Seq(-1.0, -1.0), 32))
    assert(!BenchProtocol.noisy(2.0, Nil, 32))
    // usable samples supersede load_start (an sbt launch compile reads
    // load ~3 on an idle box; the meter exonerates the run)
    assert(!BenchProtocol.noisy(3.1, Seq(0.1, 0.2), 32))
    assert(!BenchProtocol.noisy(0.3, Seq(1.0, 3.9), 32))
  }

  test("noisy: any mid-run external-cores sample above cpus/8 trips the flag") {
    assert(BenchProtocol.noisy(0.1, Seq(0.0, 4.01, 2.0), 32))
    assert(!BenchProtocol.noisy(0.1, Seq(4.0, 3.9), 32))
    // threshold scales with the cpu count the bench actually used
    assert(BenchProtocol.noisy(0.1, Seq(1.01), 8))
    assert(!BenchProtocol.noisy(0.1, Seq(0.9), 8))
  }

  test("noisy: unavailable samples (-1) never trip the flag") {
    assert(!BenchProtocol.noisy(-1.0, Seq(-1.0, -1.0), 32))
  }

  test("external-cores meter: self user-load and kernel IO invisible, foreign user load counts") {
    import BenchProtocol.{CpuSnap, externalCores}
    // 32 cpus, 1000 total ticks elapsed; process consumed all user time
    assert(externalCores(CpuSnap(0, 0, 0), CpuSnap(800, 1000, 800), 32) === 0.0)
    // half the user time was foreign: (800-400)/1000*32 = 12.8 cores
    assert(math.abs(externalCores(CpuSnap(0, 0, 0), CpuSnap(800, 1000, 400), 32) - 12.8) < 1e-9)
    // degenerate accounting (no elapsed ticks / counter wrap) -> -1
    assert(externalCores(CpuSnap(0, 0, 0), CpuSnap(0, 0, 0), 32) === -1.0)
    assert(externalCores(CpuSnap(100, 100, 100), CpuSnap(50, 200, 100), 32) === -1.0)
  }

  test("/proc parsers: user-only cpu line and self-stat utime with spaced comm") {
    val (user, total) = BenchProtocol.parseProcStatCpu(
      "cpu  100 10 50 800 40 5 5 0 0 0")
    // user+nice only: kernel writeback (system ticks) is self-inflicted
    // IO on store-writing queries, not contamination
    assert(total === 1010 && user === 110)
    // guest/guest_nice (fields 9-10) are already folded into user/nice
    // by the kernel — totalTicks must not double-count them on VM hosts
    val (userG, totalG) = BenchProtocol.parseProcStatCpu(
      "cpu  100 10 50 800 40 5 5 0 30 7")
    assert(totalG === 1010 && userG === 110)
    val ticks = BenchProtocol.parseSelfStat(
      "1234 (java -cp foo) S 1 1 1 0 -1 4194560 5000 0 0 0 777 223 0 0 20 0 33 0 100 1000000 500")
    assert(ticks === 777) // utime only
  }

  test("live cpuSnap reads this machine's accounting") {
    BenchProtocol.cpuSnap() match {
      case Some(s) =>
        assert(s.totalTicks > 0 && s.userTicks >= 0 && s.userTicks <= s.totalTicks)
        assert(s.procUserTicks >= 0)
      case None => cancel("/proc unavailable on this platform")
    }
  }

  test("retime fires only past 3x a committed expectation") {
    assert(BenchProtocol.needsRetime(3.1, Some(1.0)))
    assert(!BenchProtocol.needsRetime(3.0, Some(1.0)))
    assert(!BenchProtocol.needsRetime(100.0, None))
  }

  test("bench trend: rows well-formed, append-only by round, newest within 1.5x of best") {
    val t = BenchProtocol.trend()
    assert(t.nonEmpty, "bench_trend.tsv missing or empty")
    assert(t.map(_.round) === t.map(_.round).sorted, "rows must be round-ordered")
    assert(t.map(_.round).distinct.size === t.size, "one row per round")
    t.foreach { r =>
      assert(r.nQueries > 0 && r.totalS > 0)
      assert(math.abs(r.sPerQuery - r.totalS / r.nQueries) < 0.005,
        s"round ${r.round}: s_per_query must equal total/n")
    }
    // the regression tripwire: the newest recorded rate may not sit
    // beyond 1.5x the best round ever recorded
    val best = t.map(_.sPerQuery).min
    assert(t.last.sPerQuery <= 1.5 * best,
      f"round ${t.last.round} rate ${t.last.sPerQuery}%.3f s/q exceeds 1.5x best $best%.3f")
  }

  test("named ingest lanes carry a stage builder") {
    val b = SparkEntry.stageBuilders.keySet
    // the five round-8 ingest-conflation rows all carry a builder
    Seq("dedup_lsh_grown", "ann_ivf_append", "dedup_incremental_bucketed",
        "dedup_log_compaction", "source_rollup_incremental",
        "dedup_cluster_survivors")
      .foreach(q => assert(b.contains(q), s"missing builder for $q"))
    // round-9 seams: the ANN in-memory index family and the BPE
    // tokenizer-apply lanes stage their ingest artifacts too
    Seq("ann_ivf_topk", "ann_pq_topk", "ann_ivfadc_topk", "dedup_semdedup",
        "text_bpe_encode", "text_pack_bpe")
      .foreach(q => assert(b.contains(q), s"missing builder for $q"))
  }

  test("expected table: protocol dir loads every registered query; other dirs disable") {
    val exp = BenchProtocol.expectedFor("/root/testdata/sf0.1")
    if (exp.nonEmpty) {
      // every committed expectation refers to a live query, and the
      // table covers the full suite (a renamed query must re-commit)
      val names = SparkEntry.queries.keySet
      assert(exp.keySet.subsetOf(names), s"stale rows: ${exp.keySet.diff(names)}")
      assert(names.subsetOf(exp.keySet), s"missing rows: ${names.diff(exp.keySet)}")
      assert(exp.values.forall(v => v > 0 && v < 600))
    }
    assert(BenchProtocol.expectedFor("/no/such/dir").isEmpty)
    // trailing slash resolves to the same resource
    assert(BenchProtocol.expectedFor("/root/testdata/sf0.1/") === exp)
  }
}
