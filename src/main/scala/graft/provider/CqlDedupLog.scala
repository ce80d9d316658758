package graft.provider

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

/** ── The Cassandra binding for [[DedupLog]] ──
  *
  * The reference runs its protocol against Cassandra through four
  * prepared statements (reference: provider/DeduplicationProvider.kt:
  * 181-236). This binding renders the SAME statements 1:1 and speaks
  * them through [[CqlSessionLike]] — a four-method seam a production
  * deployment closes over the Java driver's `CqlSession` in ~15 lines
  * (`execute(SimpleStatement.newInstance(stmt.cql).setNamedValues(...)
  * .setConsistencyLevel(...).setExecutionProfileName(stmt.profileName))`),
  * while this sandbox (no cluster, zero egress) closes it over
  * [[InMemoryCqlSession]], which executes the statement texts with
  * Cassandra's upsert/TTL/clustering semantics. Both bindings pass the
  * same contract suite (DedupLogContractSpec) as the file and in-memory
  * logs, so swapping the backend cannot change protocol outcomes.
  *
  * Statement mapping (exact counterparts, with the one deliberate
  * deviation called out):
  *
  *  - DDL (reference :226-236): `CREATE TABLE IF NOT EXISTS ks.t
  *    (key text, time_uuid timeuuid, record_uuid text, state smallint,
  *    PRIMARY KEY (key, time_uuid, record_uuid)) WITH CLUSTERING ORDER
  *    BY (time_uuid ASC)` — issued lazily before the first prepared
  *    statement per (keyspace, table), from the same `"s:" / "i:" /
  *    "u:"`-keyed statement cache (reference :33,181-224).
  *  - `append` (reference insert :194-208): `INSERT ... USING TTL :ttl`
  *    at LOCAL_QUORUM. Deviation: the reference binds `now()` so the
  *    server assigns the timeuuid; this engine's protocol carries a
  *    CLIENT monotonic clock (SURVEY.md §1.3 — `updateState` addresses
  *    the row by the time the caller generated), so the binding renders
  *    the timeuuid deterministically from (eventTimeMicros, recordUuid)
  *    via [[TimeUuid.fromMicros]] and binds it like the reference's
  *    upsert does. Time order and uniqueness are preserved: the time
  *    component IS the protocol clock, the node/clock-seq bits are an
  *    md5 of the attempt uuid.
  *  - `updateState` (reference upsert :210-224): the identical
  *    full-primary-key `INSERT ... USING TTL :ttl` at LOCAL_QUORUM —
  *    Cassandra upserts. Deviation: the reference re-binds the CALL's
  *    ttl (expiry resets on every transition); this engine's contract —
  *    pinned by the file log and the contract suite — PRESERVES the
  *    original attempt's expiry, so the binding first reads the row's
  *    remaining ttl (`SELECT ttl(state) ...`, one point read) and
  *    re-binds that; when the point read finds no row (the attempt
  *    already expired) it writes nothing.
  *  - `read` (reference select :181-192): `SELECT time_uuid,
  *    record_uuid, state FROM ks.t WHERE key=:key` at EACH_QUORUM.
  *    Expired rows never come back (server-side TTL), so the trait's
  *    `nowMicros` filter is a no-op here and `expiresAtMicros` is not
  *    materialized (None): expiry is the server's job in this binding,
  *    observable only as rows vanishing — exactly the reference's
  *    behavior. Rows are re-asserted into the trait's (time, recordUuid)
  *    order client-side; that differs from clustering order only when
  *    two PROCESSES write the same microsecond (same-process ties are
  *    impossible under the monotonic clock), where Cassandra breaks the
  *    tie by timeuuid bytes instead.
  *
  * TTL rounding: Cassandra TTLs are integer seconds
  * (`ttl.seconds.toInt`, reference :147); the binding rounds the
  * trait's microsecond expiry UP so a row never expires early.
  */
class CqlDedupLog(session: CqlSessionLike, profileName: String = CqlDedupLog.DefaultProfile)
    extends DedupLog {
  import CqlDedupLog._

  // prepared-statement analog: one rendered CqlStatement per
  // (kind, keyspace, table), DDL issued on first miss (reference :33,181-224)
  private val statementCache = new ConcurrentHashMap[String, CqlStatement]()

  private def cached(kind: String, ks: String, t: String)(render: => String,
                                                          consistency: String): CqlStatement =
    statementCache.computeIfAbsent(s"$kind:$ks:$t", _ => {
      session.execute(CqlStatement(ddl(ks, t), ConsistencyDdl, profileName), Map.empty)
      CqlStatement(render, consistency, profileName)
    })

  private def selectStmt(ks: String, t: String) =
    cached("s", ks, t)(
      s"SELECT time_uuid,record_uuid,state FROM $ks.$t WHERE key=:key",
      ConsistencyRead)

  private def insertStmt(ks: String, t: String) =
    cached("i", ks, t)(
      s"INSERT INTO $ks.$t (key,time_uuid,record_uuid,state) " +
        "VALUES (:key,:time_uuid,:record_uuid,:state) USING TTL :ttl",
      ConsistencyWrite)

  // the upsert renders to the same text as the insert (both bind the
  // full primary key under the client-clock design); cached separately
  // to mirror the reference's three-entry cache ("i:" vs "u:")
  private def upsertStmt(ks: String, t: String) =
    cached("u", ks, t)(
      s"INSERT INTO $ks.$t (key,time_uuid,record_uuid,state) " +
        "VALUES (:key,:time_uuid,:record_uuid,:state) USING TTL :ttl",
      ConsistencyWrite)

  private def ttlStmt(ks: String, t: String) =
    cached("t", ks, t)(
      s"SELECT ttl(state) AS ttl_remaining FROM $ks.$t " +
        "WHERE key=:key AND time_uuid=:time_uuid AND record_uuid=:record_uuid",
      ConsistencyRead)

  override def append(ks: String, t: String, rec: AttemptRecord): Unit = {
    val ttlSeconds = rec.expiresAtMicros match {
      case None => 0 // immortal (README.md:44 — ttl=0 keeps forever)
      case Some(exp) => // round UP: never expire before the contract time
        math.max(1L, (exp - rec.eventTimeMicros + 999999L) / 1000000L).toInt
    }
    val applied = session.execute(insertStmt(ks, t), Map(
      "key" -> rec.key,
      "time_uuid" -> TimeUuid.fromMicros(rec.eventTimeMicros, rec.recordUuid),
      "record_uuid" -> rec.recordUuid,
      "state" -> rec.state,
      "ttl" -> ttlSeconds))
    if (!applied.wasApplied) // defensive, like reference :151-153
      throw new IllegalStateException(s"insert of ${rec.key} wasn't applied")
  }

  override def updateState(ks: String, t: String, key: String,
                           timeMicros: Long, uuid: String, state: Short): Unit = {
    val timeUuid = TimeUuid.fromMicros(timeMicros, uuid)
    val pk = Map[String, Any]("key" -> key, "time_uuid" -> timeUuid, "record_uuid" -> uuid)
    // preserve the original expiry (contract): the remaining server ttl,
    // or 0 (immortal) when the row has none. A row that already expired
    // is not written at all — binding TTL 0 would resurrect it forever
    session.execute(ttlStmt(ks, t), pk).rows.headOption.foreach { r =>
      val remaining = Option(r("ttl_remaining")).map(_.asInstanceOf[Int]).getOrElse(0)
      val applied = session.execute(upsertStmt(ks, t),
        pk + ("state" -> state) + ("ttl" -> remaining))
      if (!applied.wasApplied)
        throw new IllegalStateException(s"update of $key to '$state' wasn't applied")
    }
  }

  override def read(ks: String, t: String, key: String, nowMicros: Long): Seq[AttemptRecord] =
    session.execute(selectStmt(ks, t), Map("key" -> key)).rows
      .map { r =>
        val tu = r("time_uuid").asInstanceOf[UUID]
        AttemptRecord(key, TimeUuid.toMicros(tu),
          r("record_uuid").asInstanceOf[String],
          r("state").asInstanceOf[Short],
          expiresAtMicros = None) // server-side expiry; see scaladoc
      }
      .sortBy(r => (r.eventTimeMicros, r.recordUuid))
}

object CqlDedupLog {
  /** The Java driver's DriverExecutionProfile.DEFAULT_NAME. */
  val DefaultProfile = "default"
  // consistency levels per statement kind (reference :190,206,222)
  val ConsistencyRead = "EACH_QUORUM"
  val ConsistencyWrite = "LOCAL_QUORUM"
  val ConsistencyDdl = "LOCAL_QUORUM"

  /** The reference's table shape, rendered (reference :226-236):
    * partition key `key`, clustering `(time_uuid ASC, record_uuid)`.
    */
  def ddl(ks: String, t: String): String =
    s"CREATE TABLE IF NOT EXISTS $ks.$t " +
      "(key text,time_uuid timeuuid,record_uuid text,state smallint," +
      "PRIMARY KEY (key,time_uuid,record_uuid)) " +
      "WITH CLUSTERING ORDER BY (time_uuid ASC)"
}

/** One CQL statement as the binding hands it to the session: the
  * rendered text, the consistency level, and the execution profile the
  * statement must run under (the reference sets both on every prepared
  * statement, DeduplicationProvider.kt:188-191,205-207,221-223).
  */
final case class CqlStatement(cql: String, consistency: String, profileName: String)

/** A CQL result: rows as column-name → value maps (columns as the
  * statement selected them), plus the driver's `wasApplied` bit.
  */
final case class CqlResult(rows: Seq[Map[String, Any]], wasApplied: Boolean = true)

/** The minimal session seam the binding needs — the shape of
  * `CqlSession.execute(Statement)` with named bind values. Production:
  * close over a real driver session. Tests/local: [[InMemoryCqlSession]].
  */
trait CqlSessionLike {
  def execute(stmt: CqlStatement, params: Map[String, Any]): CqlResult
}

/** Deterministic version-1 (time-based) UUID from the protocol's
  * microsecond clock: the 60-bit timestamp is `micros × 10` 100-ns
  * ticks since the Gregorian epoch (1582-10-15, the TIMEUUID epoch),
  * the clock-seq/node bits are an md5 of the attempt uuid (IETF
  * variant preserved). Round-trips exactly: `toMicros(fromMicros(m, _))
  * == m` — ×10 then ÷10 loses nothing.
  */
object TimeUuid {
  /** 100-ns ticks from 1582-10-15 to 1970-01-01 (RFC 4122 §4.1.4). */
  val GregorianOffsetTicks = 122192928000000000L

  def fromMicros(micros: Long, uniquifier: String): UUID = {
    val ts = micros * 10 + GregorianOffsetTicks
    val msb = ((ts & 0xFFFFFFFFL) << 32) |
      (((ts >>> 32) & 0xFFFFL) << 16) |
      0x1000L | ((ts >>> 48) & 0x0FFFL)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(uniquifier.getBytes("UTF-8"))
    var lsb = 0L
    var i = 0
    while (i < 8) { lsb = (lsb << 8) | (md(i) & 0xFFL); i += 1 }
    new UUID(msb, (lsb & ~0xC000000000000000L) | 0x8000000000000000L)
  }

  def toMicros(u: UUID): Long = (u.timestamp() - GregorianOffsetTicks) / 10
}

/** Embedded Cassandra-semantics executor for [[CqlSessionLike]]: runs
  * the exact statement texts [[CqlDedupLog]] renders — upsert by full
  * primary key, per-write integer-second TTL measured from receipt
  * time, clustering order (time_uuid, record_uuid), `ttl(col)` point
  * lookup, unconfigured-table errors. For tests and cluster-less local
  * runs; the injectable clock lets contract suites step time instead
  * of sleeping. Thread-safe (one monitor — the protocol's storage ops
  * are point reads/writes, contention is test-scale).
  *
  * It intentionally parses only the four statement shapes the binding
  * issues: a statement drifting from the reference's rendering fails
  * loudly here, which makes the fake a statement-fidelity tripwire,
  * not just a store.
  */
class InMemoryCqlSession(clockMicros: () => Long = () => System.currentTimeMillis() * 1000L)
    extends CqlSessionLike {

  // (ks.t) -> (key, time_uuid, record_uuid) -> (state, expiresAtMicros)
  private val tables =
    collection.mutable.Map.empty[String, collection.mutable.Map[(String, UUID, String), (Short, Option[Long])]]

  private val CreateRe =
    ("""CREATE TABLE IF NOT EXISTS (\S+) \(key text,time_uuid timeuuid,record_uuid text,""" +
      """state smallint,PRIMARY KEY \(key,time_uuid,record_uuid\)\) """ +
      """WITH CLUSTERING ORDER BY \(time_uuid ASC\)""").r
  private val InsertRe =
    ("""INSERT INTO (\S+) \(key,time_uuid,record_uuid,state\) """ +
      """VALUES \(:key,:time_uuid,:record_uuid,:state\) USING TTL :ttl""").r
  private val SelectRe =
    """SELECT time_uuid,record_uuid,state FROM (\S+) WHERE key=:key""".r
  private val TtlRe =
    ("""SELECT ttl\(state\) AS ttl_remaining FROM (\S+) """ +
      """WHERE key=:key AND time_uuid=:time_uuid AND record_uuid=:record_uuid""").r

  private def table(name: String) =
    tables.getOrElse(name,
      throw new IllegalArgumentException(s"unconfigured table $name"))

  override def execute(stmt: CqlStatement, params: Map[String, Any]): CqlResult =
    synchronized {
      stmt.cql match {
        case CreateRe(name) =>
          tables.getOrElseUpdate(name, collection.mutable.Map.empty)
          CqlResult(Seq.empty)
        case InsertRe(name) =>
          val ttl = params("ttl").asInstanceOf[Int]
          val expires = if (ttl <= 0) None else Some(clockMicros() + ttl * 1000000L)
          table(name).update(
            (params("key").asInstanceOf[String],
              params("time_uuid").asInstanceOf[UUID],
              params("record_uuid").asInstanceOf[String]),
            (params("state").asInstanceOf[Short], expires))
          CqlResult(Seq.empty)
        case SelectRe(name) =>
          val now = clockMicros()
          val rows = table(name).toSeq
            .collect { case ((k, tu, ru), (st, exp))
              if k == params("key") && exp.forall(_ > now) =>
              // clustering order: timeuuid time component, then bytes,
              // then record_uuid
              ((TimeUuid.toMicros(tu), tu.toString, ru),
                Map[String, Any]("time_uuid" -> tu, "record_uuid" -> ru, "state" -> st))
            }
            .sortBy(_._1)
            .map(_._2)
          CqlResult(rows)
        case TtlRe(name) =>
          val now = clockMicros()
          val row = table(name).get(
            (params("key").asInstanceOf[String],
              params("time_uuid").asInstanceOf[UUID],
              params("record_uuid").asInstanceOf[String]))
            .filter { case (_, exp) => exp.forall(_ > now) }
          CqlResult(row.toSeq.map { case (_, exp) =>
            val remaining = exp.map(e => ((e - now + 999999L) / 1000000L).toInt.asInstanceOf[AnyRef]).orNull
            Map[String, Any]("ttl_remaining" -> remaining)
          })
        case other =>
          throw new IllegalArgumentException(s"unrecognized statement: $other")
      }
    }
}
