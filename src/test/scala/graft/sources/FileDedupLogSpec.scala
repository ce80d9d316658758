package graft.sources

import java.sql.Timestamp
import scala.concurrent.duration._
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.RecordState
import graft.provider._

/** The per-call protocol running against the durable file-backed log —
  * the full "switchable" deployment (provider + bucketed storage), and
  * the append-only max(state) upsert resolution.
  */
class FileDedupLogSpec extends SparkSpec {

  private def newStore(nBuckets: Int = 4) = {
    val root = java.nio.file.Files.createTempDirectory("fdl").toString
    (root, new DedupLogStore(spark, root, nBuckets = nBuckets))
  }

  private def newLog() = new FileDedupLog(spark, newStore()._2)

  private def micros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def ts(s: String) = Timestamp.valueOf(s)

  test("protocol outcomes over the durable log: success, then duplicate") {
    val log = newLog()
    val p = new DedupProvider(log, new NoRetryStrategy, new NoDuplicateBurstAbsorber)
    assert(p.process("k1", "t", "ks", Duration.Zero, () => "ran") === "ran")
    intercept[DuplicateException] {
      p.process("k1", "t", "ks", Duration.Zero, () => "again")
    }
    val states = log.read("ks", "t", "k1", Long.MaxValue).map(_.state).sorted
    assert(states === Seq(RecordState.Success, RecordState.Duplicate).sorted)
  }

  test("append-only upsert: a state transition resolves by max(state), not duplication") {
    val log = newLog()
    log.append("ks", "t", AttemptRecord("k", 1000L, "u1", RecordState.Success, None))
    log.updateState("ks", "t", "k", 1000L, "u1", RecordState.Failed)
    val recs = log.read("ks", "t", "k", Long.MaxValue)
    assert(recs.size === 1) // one primary key, not two rows
    assert(recs.head.state === RecordState.Failed)
  }

  test("TTL carries onto transition rows: expired keys are re-claimable") {
    val log = newLog()
    var now = 10_000_000L
    val p = new DedupProvider(log, new NoRetryStrategy, new NoDuplicateBurstAbsorber,
      clockMicros = () => now)
    val boom = new RuntimeException("bzzt")
    intercept[RuntimeException] {
      p.process("k2", "t", "ks", 1.second, () => throw boom)
    }
    // FAILED row present (transition row carries the original TTL)
    assert(log.read("ks", "t", "k2", now).map(_.state) === Seq(RecordState.Failed))
    now += 2_000_000L // past the 1s TTL: FAILED row expired with its attempt
    assert(log.read("ks", "t", "k2", now).isEmpty)
    assert(p.process("k2", "t", "ks", 1.second, () => "fresh") === "fresh")
  }

  test("layout: per-call rows land in the bucket Spark's hash gives their key") {
    val (root, store) = newStore(nBuckets = 8)
    val log = new FileDedupLog(spark, store)
    val keys = (0 until 48).map(i => s"user-$i:view")
    keys.zipWithIndex.foreach { case (k, i) =>
      log.append("ks", "t", AttemptRecord(k, 1000L + i, s"u$i", RecordState.Success, None))
    }
    val now = new Timestamp(0)
    keys.foreach(k => assert(store.read("ks", "t", now, Some(k)).count() === 1, k))
    val view = store.stateView("ks", "t", now)
    assert(view.count() === keys.size)
    assert(view.filter(col("state") === RecordState.Success).count() === keys.size)
    // every file sits in the directory Spark's own pmod(hash(key)) names
    val misplaced = spark.read.parquet(s"$root/ks/t")
      .filter(col("key_bucket") =!= pmod(hash(col("key")), lit(8)))
    assert(misplaced.count() === 0)
  }

  test("format: Spark-written INT96 rows read back with exact micros, mixed with per-call rows") {
    import spark.implicits._
    val (root, store) = newStore()
    val rows = Seq(
      ("k1", ts("2024-01-01 00:00:00.123456"), "u1", RecordState.Success,
        Some(ts("2031-01-01 00:00:00.000001"))),
      ("k1", ts("2024-01-01 00:00:01.000007"), "u2", RecordState.Success, None),
      ("k2", ts("1999-12-31 23:59:59.999999"), "u3", RecordState.Duplicate, None))
    store.append("ks", "t", rows.toDF("key", "event_time", "record_uuid", "state", "expires_at"))
    val written = new Path(store.bucketDir("ks", "t", "k1"))
    val file = written.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(written).map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file,
        spark.sparkContext.hadoopConfiguration))
    try assert(footer.getFileMetaData.getSchema.asGroupType.getType("event_time").asPrimitiveType
      .getPrimitiveTypeName.name === "INT96")
    finally footer.close()

    val log = new FileDedupLog(spark, store)
    val expected = rows.map { case (k, t, u, s, e) =>
      AttemptRecord(k, micros(t), u, s, e.map(micros)) }
    assert(log.read("ks", "t", "k1", micros(ts("2030-01-01 00:00:00"))) ===
      expected.filter(_.key == "k1"))
    assert(log.read("ks", "t", "k2", Long.MaxValue) === expected.filter(_.key == "k2"))
    // a per-call transition next to the bulk rows: both readers resolve it
    log.updateState("ks", "t", "k1", micros(ts("2024-01-01 00:00:01.000007")), "u2",
      RecordState.Duplicate)
    assert(log.read("ks", "t", "k1", 0L).map(r => (r.recordUuid, r.state)) ===
      Seq("u1" -> RecordState.Success, "u2" -> RecordState.Duplicate))
    val sparkStates = store.read("ks", "t", new Timestamp(0), Some("k1"))
      .groupBy("record_uuid").agg(max("state")).as[(String, Short)].collect().toMap
    assert(sparkStates === Map("u1" -> RecordState.Success, "u2" -> RecordState.Duplicate))
  }

  test("a staged file left by a crash between write and rename is invisible to both readers") {
    val (_, store) = newStore()
    val log = new FileDedupLog(spark, store)
    log.append("ks", "t", AttemptRecord("k", 1000L, "u1", RecordState.Success, None))
    // a complete row file under its hidden staging name: what a writer
    // killed before its rename leaves behind
    log.append("ks", "crashed", AttemptRecord("k", 2000L, "u2", RecordState.Success, None))
    val conf = spark.sparkContext.hadoopConfiguration
    val from = new Path(store.bucketDir("ks", "crashed", "k"))
    val fs = from.getFileSystem(conf)
    val file = fs.listStatus(from).map(_.getPath).find(!_.getName.startsWith(".")).get
    assert(fs.rename(file, new Path(store.bucketDir("ks", "t", "k"), s".${file.getName}")))

    assert(log.read("ks", "t", "k", 0L).map(_.recordUuid) === Seq("u1"))
    assert(store.read("ks", "t", new Timestamp(0), Some("k")).count() === 1)
    assert(store.stateView("ks", "t", new Timestamp(0)).count() === 1)
  }

  test("append, read and updateState submit no Spark job") {
    val log = newLog()
    val jobGroups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobGroups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("filelog-calls", "per-call log operations")
      try {
        log.append("ks", "t", AttemptRecord("k", 1000L, "u1", RecordState.Success, None))
        log.updateState("ks", "t", "k", 1000L, "u1", RecordState.Duplicate)
        assert(log.read("ks", "t", "k", 0L).map(_.state) === Seq(RecordState.Duplicate))
      } finally sc.clearJobGroup()
      // listener events arrive in order: once this job shows, every
      // earlier job has shown too
      sc.setJobGroup("filelog-sentinel", "listener barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobGroups.contains("filelog-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(jobGroups.contains("filelog-sentinel"))
      assert(!jobGroups.contains("filelog-calls"))
    } finally sc.removeSparkListener(listener)
  }

  test("a non-parquet store is rejected at construction") {
    val root = java.nio.file.Files.createTempDirectory("fdl-json").toString
    intercept[IllegalArgumentException] {
      new FileDedupLog(spark, new DedupLogStore(spark, root, "json"))
    }
  }
}
