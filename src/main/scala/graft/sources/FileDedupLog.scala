package graft.sources

import java.nio.ByteOrder
import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.{MessageTypeParser, PrimitiveType}
import org.apache.spark.sql.SparkSession
import graft.provider.{AttemptRecord, DedupLog}

/** Durable [[DedupLog]] over the bucketed file store: the per-call
  * protocol (`DedupProvider.process`) running against the same storage
  * the batch engine reads — the "switchable" configuration a user of the
  * reference would deploy (protocol + durable log), minus the Cassandra
  * cluster (mapping documented on the trait).
  *
  * Upsert-by-primary-key on an append-only store: the reference relies
  * on Cassandra upserts for state transitions (re-INSERT of the same
  * primary key, DeduplicationProvider.kt:157-179). A file log is
  * append-only, but the protocol's transitions only ever RAISE the state
  * value — SUCCESS(1) → DUPLICATE(2) / RETRY(3) / FAILED(4) — so the
  * log-structured resolution "max(state) per (key, time, uuid)" is
  * exactly Cassandra's last-write-wins for this workload.
  *
  * Transition rows re-carry the original row's TTL (`expires_at`), so
  * expiry semantics survive the append-only encoding: once the original
  * attempt expires, all its rows expire with it.
  *
  * Cost model: one parquet file and no Spark job per row. A row is
  * written with parquet-hadoop's own writer under a hidden `.`-prefixed
  * name in its `key_bucket=<b>` directory ([[DedupLogStore.bucketDir]]),
  * then renamed into view — one atomic rename on posix/HDFS, so
  * concurrent writers (threads or JVMs) never see or destroy each
  * other's half-written files, and a crash between write and rename
  * leaves only a hidden file every reader skips. A read lists that one
  * directory and decodes its files on the calling thread. The layout is
  * [[DedupLogStore.append]]'s, so `DedupLogStore.read`/`stateView` and
  * the batch engine read these rows unchanged; for the same reason only
  * parquet stores are accepted.
  */
class FileDedupLog(spark: SparkSession, store: DedupLogStore) extends DedupLog {
  require(store.format == "parquet",
    s"FileDedupLog writes parquet files; the store's format is ${store.format}")

  private val conf = spark.sparkContext.hadoopConfiguration

  private def appendRow(ks: String, table: String, key: String, timeMicros: Long,
                        uuid: String, state: Short, expiresMicros: Option[Long]): Unit = {
    val dir = new Path(store.bucketDir(ks, table, key))
    val name = s"attempt-${UUID.randomUUID()}.parquet"
    val staged = new Path(dir, s".$name")
    val row = FileDedupLog.rowFactory.newGroup()
      .append("key", key).append("event_time", timeMicros)
      .append("record_uuid", uuid).append("state", state.toInt)
    expiresMicros.foreach(row.append("expires_at", _))
    val fs = dir.getFileSystem(conf)
    try {
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(staged, conf))
        .withConf(conf).withType(FileDedupLog.FileSchema)
        .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
        .build()
      try w.write(row) finally w.close()
      if (!fs.rename(staged, new Path(dir, name)))
        throw new java.io.IOException(s"append rename failed: $staged")
    } catch { case e: Throwable => fs.delete(staged, false); throw e }
  }

  override def append(ks: String, table: String, rec: AttemptRecord): Unit =
    appendRow(ks, table, rec.key, rec.eventTimeMicros, rec.recordUuid,
      rec.state, rec.expiresAtMicros)

  override def updateState(ks: String, table: String, key: String,
                           timeMicros: Long, uuid: String, state: Short): Unit = {
    // carry the original attempt's TTL onto the transition row so the
    // whole primary key expires together (reference preserves TTL on
    // upsert, DeduplicationProvider.kt:171)
    val expiry = read(ks, table, key, Long.MinValue)
      .find(r => r.eventTimeMicros == timeMicros && r.recordUuid == uuid)
      .flatMap(_.expiresAtMicros)
    appendRow(ks, table, key, timeMicros, uuid, state, expiry)
  }

  override def read(ks: String, table: String, key: String,
                    nowMicros: Long): Seq[AttemptRecord] = {
    // nowMicros = Long.MinValue reads through expiry (internal use)
    val dir = new Path(store.bucketDir(ks, table, key))
    val fs = dir.getFileSystem(conf)
    val files =
      try fs.listStatus(dir).toSeq.map(_.getPath)
        .filterNot(p => p.getName.startsWith(".") || p.getName.startsWith("_"))
      catch { case _: java.io.FileNotFoundException => return Seq.empty }
    files.flatMap(FileDedupLog.readFile(_, conf))
      .filter(r => r.key == key && r.expiresAtMicros.forall(_ > nowMicros))
      .groupBy(r => (r.eventTimeMicros, r.recordUuid))
      .values.map(_.maxBy(_.state))
      .toSeq
      .sortBy(r => (r.eventTimeMicros, r.recordUuid))
  }
}

object FileDedupLog {

  /** [[DedupLogStore.LogSchema]] as parquet: timestamps as `INT64`
    * micros, `state` as a 16-bit int — the types Spark reads back as
    * `TimestampType` and `ShortType`.
    */
  private val FileSchema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required binary key (STRING);
      |  required int64 event_time (TIMESTAMP(MICROS,true));
      |  required binary record_uuid (STRING);
      |  required int32 state (INTEGER(16,true));
      |  optional int64 expires_at (TIMESTAMP(MICROS,true));
      |}""".stripMargin)

  private val rowFactory = new SimpleGroupFactory(FileSchema)

  private def readFile(file: Path, conf: Configuration): Seq[AttemptRecord] = {
    // the InputFile builder reuses `conf`; the Path builder would load a
    // fresh Hadoop Configuration from the classpath on every file
    val reader = new ParquetReader.Builder[Group](HadoopInputFile.fromPath(file, conf),
        new HadoopParquetConfiguration(conf)) {
      override def getReadSupport = new GroupReadSupport
    }.build()
    try Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
      def time(field: String): Option[Long] =
        if (g.getFieldRepetitionCount(field) == 0) None else Some(micros(g, field))
      AttemptRecord(g.getString("key", 0), micros(g, "event_time"),
        g.getString("record_uuid", 0), g.getInteger("state", 0).toShort, time("expires_at"))
    }.toList
    finally reader.close()
  }

  private val JulianDayOfEpoch = 2440588L
  private val MicrosPerDay = 86400L * 1000000L

  /** A timestamp field in micros: `INT64` micros as [[FileSchema]]
    * writes them, or the `INT96` (nanos of day, then Julian day;
    * little-endian) Spark's writer produces by default.
    */
  private def micros(g: Group, field: String): Long =
    if (g.getType.getType(field).asPrimitiveType.getPrimitiveTypeName !=
        PrimitiveType.PrimitiveTypeName.INT96) g.getLong(field, 0)
    else {
      val buf = g.getInt96(field, 0).toByteBuffer.order(ByteOrder.LITTLE_ENDIAN)
      val nanosOfDay = buf.getLong
      (buf.getInt - JulianDayOfEpoch) * MicrosPerDay + nanosOfDay / 1000L
    }
}
