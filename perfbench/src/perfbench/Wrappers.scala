package perfbench

import org.apache.spark.sql.DataFrame
import graft.provider._

/** Delegating wrappers around the provider's public seams. Each one
  * times the call it forwards and counts what passed through; none
  * changes an argument or a result.
  */
final class TracedDedupLog(inner: DedupLog, t: Tracer) extends DedupLog {
  override def append(ks: String, table: String, rec: AttemptRecord): Unit =
    t.span("log.append") { t.add("log.append_n", 1); inner.append(ks, table, rec) }

  override def updateState(ks: String, table: String, key: String,
                           eventTimeMicros: Long, recordUuid: String, state: Short): Unit =
    t.span("log.update") {
      t.add("log.update_n", 1)
      inner.updateState(ks, table, key, eventTimeMicros, recordUuid, state)
    }

  override def read(ks: String, table: String, key: String, nowMicros: Long): Seq[AttemptRecord] =
    t.span("log.read") {
      val rows = inner.read(ks, table, key, nowMicros)
      t.add("log.read_n", 1)
      t.add("log.read_rows", rows.size)
      rows
    }
}

/** `absorber.wait_s` is absorb time minus the loader time inside it:
  * what racing callers spend parked on the winner's future.
  */
final class TracedAbsorber(inner: DuplicateBurstAbsorber, t: Tracer)
    extends DuplicateBurstAbsorber {
  override def absorb(key: String, loader: () => String): String =
    t.span("absorber.absorb") {
      t.add("absorber.absorb_n", 1)
      inner.absorb(key, () => t.span("absorber.loader") {
        t.add("absorber.loader_n", 1); loader()
      })
    }

  override def evict(key: String): Unit = inner.evict(key)
}

/** Counts protocol attempts per call; the retry span's time outside its
  * attempt spans is backoff.
  */
final class TracedRetry(inner: RetryStrategy, t: Tracer) extends RetryStrategy {
  override def retry[T](action: () => T): T =
    t.span("provider.retry") {
      inner.retry(() => t.span("provider.attempt") {
        t.add("provider.attempts", 1); action()
      })
    }
}

final class TracedCqlSession(inner: CqlSessionLike, t: Tracer) extends CqlSessionLike {
  override def execute(stmt: CqlStatement, params: Map[String, Any]): CqlResult = {
    val kind = TracedCqlSession.kind(stmt.cql)
    t.span(s"cql.$kind") { t.add(s"cql.${kind}_n", 1); inner.execute(stmt, params) }
  }
}

object TracedCqlSession {
  val kinds: Seq[String] = Seq("insert", "select", "ttl", "ddl")

  def kind(cql: String): String =
    if (cql.startsWith("CREATE")) "ddl"
    else if (cql.startsWith("INSERT")) "insert"
    else if (cql.startsWith("SELECT ttl(")) "ttl"
    else "select"
}

object TracedSink {
  /** Wraps `ExactlyOnceSink.writer`: each micro-batch write is the root
    * span of request `batchId`.
    */
  def wrap(writer: (DataFrame, Long) => Unit, t: Tracer): (DataFrame, Long) => Unit =
    (df, batchId) => t.request(batchId, "sink.write")(writer(df, batchId))
}
