package graft.provider

import java.util.UUID
import java.util.concurrent.{CompletableFuture, ExecutorService, Executors}
import scala.concurrent.duration.Duration
import graft.operators.RecordState

/** Per-call, keyed, exactly-once dedup provider — API parity with the
  * reference's `DeduplicationProvider.process` (reference:
  * provider/DeduplicationProvider.kt:35-123; normative protocol
  * SURVEY.md §2.1). The storage backend is pluggable (`DedupLog`); the
  * set-oriented Spark engine (graft.operators.Dedup) computes the same
  * converged outcome over a bag of attempts.
  *
  * Protocol per call:
  *  1. generate a fresh attempt UUID;
  *  2. absorber gate: first in-process caller takes its attempt time and
  *     inserts SUCCESS (both under a JVM-wide lock striped by key), racers
  *     get the winner's UUID and are declared DUPLICATE without a storage
  *     read (reference :44-65);
  *  3. read back all live SUCCESS attempts for the key;
  *  4. >1 SUCCESS ⇒ conflict: losers demote to DUPLICATE and throw
  *     DuplicateException; the time-order winner re-reads with doubling
  *     pauses, for at most the request timeout, until the later rows are
  *     demoted — then it runs the block; if the conflict outlasts the
  *     timeout it demotes itself to RETRY and throws RetryException
  *     (strategy re-runs with a fresh UUID) (reference :67-95);
  *  5. exactly one SUCCESS (self) ⇒ run the block; a block failure marks
  *     the attempt FAILED and rethrows; if that update itself fails, the
  *     update error is thrown with the business error suppressed
  *     (reference :96-114);
  *  6. a FailedException evicts the absorber entry (reference :117-122).
  */
class DedupProvider(
    val log: DedupLog,
    val strategy: RetryStrategy,
    val absorber: DuplicateBurstAbsorber,
    clockMicros: () => Long = DedupProvider.monotonicMicros) {

  def process[T](key: String, table: String, keyspace: String,
                 ttl: Duration, block: () => T): T =
    strategy.retry(() => processOnce(key, table, keyspace, ttl, block))

  protected def processOnce[T](key: String, table: String, keyspace: String,
                               ttl: Duration, block: () => T): T = {
    try {
      val selfUuid = UUID.randomUUID().toString
      val cacheKey = s"$keyspace:$table:$key"
      var selfTimeMicros = 0L

      val absorbedUuid = absorber.absorb(cacheKey, () => {
        // time and insert under the key's stripe: an in-process attempt
        // timed later than ours then always reads our SUCCESS row
        DedupProvider.stripe(cacheKey).synchronized {
          selfTimeMicros = clockMicros()
          insert(keyspace, table, key, selfTimeMicros, selfUuid, RecordState.Success, ttl)
        }
        selfUuid
      })

      if (absorbedUuid != selfUuid) {
        // lost the in-process race: record the duplicate attempt, skip storage read
        insert(keyspace, table, key, clockMicros(), selfUuid, RecordState.Duplicate, ttl)
        throw new DuplicateException(key, table, keyspace)
      }

      def readSuccesses() = log.read(keyspace, table, key, clockMicros())
        .filter(_.state == RecordState.Success)
      var successes = readSuccesses()
      def selfLeadsConflict = successes.size > 1 && successes.head.recordUuid == selfUuid
      // The earliest attempt waits for the later ones to demote
      // themselves before judging: retrying at once could let its fresh,
      // later attempt lose to a racer's SUCCESS row whose DUPLICATE
      // demotion has not landed yet, leaving the key with no winner.
      // The wait is bounded by the request timeout (the reference's
      // default backoff is 2× that timeout).
      lazy val deadline = System.nanoTime() + DedupProviderBuilder.requestTimeoutMillis * 1000000L
      var pauseMs = 1L
      while (selfLeadsConflict && System.nanoTime() < deadline) {
        Thread.sleep(math.max(1L, math.min(pauseMs, (deadline - System.nanoTime()) / 1000000L)))
        pauseMs *= 2
        successes = readSuccesses()
      }

      if (successes.size > 1) {
        val winner = successes.head // read is (time, uuid)-ordered
        if (winner.recordUuid == selfUuid) {
          update(keyspace, table, key, selfTimeMicros, selfUuid, RecordState.Retry)
          throw new RetryException(key, table, keyspace)
        } else {
          update(keyspace, table, key, selfTimeMicros, selfUuid, RecordState.Duplicate)
          throw new DuplicateException(key, table, keyspace)
        }
      } else if (successes.isEmpty) {
        // own SUCCESS row vanished (e.g. TTL-expired mid-flight): nobody
        // ran the block, so this is a retryable condition — the strategy
        // re-runs the protocol with a fresh UUID. Throwing Duplicate here
        // would tell the caller the key was processed when no one did.
        throw new RetryException(key, table, keyspace)
      } else if (successes.head.recordUuid != selfUuid) {
        // a single non-self SUCCESS: an earlier attempt holds the key
        throw new DuplicateException(key, table, keyspace)
      }

      try block()
      catch {
        case business: Throwable =>
          try update(keyspace, table, key, selfTimeMicros, selfUuid, RecordState.Failed)
          catch {
            case updateErr: Throwable =>
              updateErr.addSuppressed(business) // reference :109-112
              throw updateErr
          }
          throw business
      }
    } catch {
      case e: FailedException =>
        absorber.evict(s"$keyspace:$table:$key") // reference :117-122
        throw e
    }
  }

  private def insert(ks: String, t: String, key: String, timeMicros: Long,
                     uuid: String, state: Short, ttl: Duration): Unit = {
    val expires =
      if (!ttl.isFinite || ttl.toSeconds == 0) None // ttl=0 ⇒ immortal (README.md:44)
      else Some(timeMicros + ttl.toMicros)
    try log.append(ks, t, AttemptRecord(key, timeMicros, uuid, state, expires))
    catch { case _: Throwable => throw new FailedException(key, t, ks) }
  }

  private def update(ks: String, t: String, key: String, timeMicros: Long,
                     uuid: String, state: Short): Unit =
    try log.updateState(ks, t, key, timeMicros, uuid, state)
    catch { case _: Throwable => throw new FailedException(key, t, ks) }
}

object DedupProvider {
  private val lastMicros = new java.util.concurrent.atomic.AtomicLong(0L)

  /** JVM-wide lock stripes, picked by `keyspace:table:key`. */
  private val stripes = Array.fill(256)(new Object)
  private def stripe(cacheKey: String): Object =
    stripes(Math.floorMod(cacheKey.hashCode, stripes.length))

  /** Strictly-increasing per-process microsecond clock — the analog of
    * the reference's TIMEUUID time component, which is monotonic within
    * a process (two sequential attempts can never tie on time; ties
    * across processes fall back to the record_uuid tie-break, same as
    * the clustering key `(time_uuid, record_uuid)`).
    */
  val monotonicMicros: () => Long = () =>
    lastMicros.updateAndGet(prev =>
      math.max(prev + 1, System.currentTimeMillis() * 1000))
}

/** Async façade: `processAsync` = async-retry around the sync protocol;
  * direct `process` calls are rejected, and the inherited sync retry is
  * neutralized to identity so retry policy lives only in the async
  * strategy (reference: provider/DeduplicationProviderAsync.kt:10-32).
  */
class DedupProviderAsync(
    log: DedupLog,
    val asyncStrategy: RetryStrategyAsync,
    absorber: DuplicateBurstAbsorber,
    clockMicros: () => Long = DedupProvider.monotonicMicros)
    extends DedupProvider(log,
      new RetryStrategy { override def retry[T](a: () => T): T = a() }, // identity adapter (:29-31)
      absorber, clockMicros) {

  override def process[T](key: String, table: String, keyspace: String,
                          ttl: Duration, block: () => T): T =
    throw new UnsupportedOperationException(
      "use processAsync on DedupProviderAsync") // reference :25-27

  def processAsync[T](key: String, table: String, keyspace: String,
                      ttl: Duration, block: () => T): CompletableFuture[T] =
    asyncStrategy.retryAsync(() => processOnce(key, table, keyspace, ttl, block))
}

/** Builder with the reference's defaults: sync strategy
  * ExponentialDelayRetryStrategy(3, 2×requestTimeout); async
  * ExponentialDelayRetryStrategyAsync(3, 2×requestTimeout,
  * workStealingPool); absorber no-op
  * (reference: builder/DeduplicationProviderBuilder.kt:21-103,
  * Utils.kt:7-11).
  */
object DedupProviderBuilder {
  val DefaultRetries = 3
  val DefaultRequestTimeoutMillis = 2000L

  /** Config key for the request timeout, the analog of the reference's
    * driver-profile lookup of `basic.request.timeout`
    * (reference: Utils.kt:7-11, builder/DeduplicationProviderBuilder.kt:28-33).
    * Resolved lazily at build() — like the reference's lazy defaults —
    * from the active SparkSession's runtime conf, then JVM system
    * properties, then the built-in default.
    */
  val RequestTimeoutConfKey = "spark.graft.dedup.requestTimeoutMs"

  /** Per-profile timeout key — the literal twin of the reference's
    * named driver execution profiles (`withSessionProfile`, reference
    * builder ..Builder.kt:34,48-50 → Utils.kt:9-10 reads
    * `basic.request.timeout` from the NAMED profile section). A profile
    * is a config namespace: `spark.graft.dedup.profile.<name>
    * .requestTimeoutMs`, falling back to the unprofiled key, then the
    * built-in default — the same resolution the driver's profile
    * inheritance gives (a profile only overrides what it sets).
    */
  def profileTimeoutConfKey(profileName: String): String =
    s"spark.graft.dedup.profile.$profileName.requestTimeoutMs"

  def requestTimeoutMillis: Long = requestTimeoutMillis(CqlDedupLog.DefaultProfile)

  def requestTimeoutMillis(profileName: String): Long = {
    def lookup(key: String): Option[Long] =
      org.apache.spark.sql.SparkSession.getActiveSession
        .flatMap(s => scala.util.Try(s.conf.get(key)).toOption)
        .orElse(sys.props.get(key))
        .map(_.toLong)
    lookup(profileTimeoutConfKey(profileName))
      .orElse(lookup(RequestTimeoutConfKey))
      .getOrElse(DefaultRequestTimeoutMillis)
  }

  class SyncBuilder private[DedupProviderBuilder] () {
    private var log: Option[DedupLog] = None
    private var session: Option[CqlSessionLike] = None
    private var profileName: String = CqlDedupLog.DefaultProfile
    private var strategy: Option[RetryStrategy] = None
    private var absorber: DuplicateBurstAbsorber = new NoDuplicateBurstAbsorber

    def withLog(l: DedupLog): SyncBuilder = { log = Some(l); this }
    /** CQL-session wiring, mirroring the reference's `withSession`
      * (builder ..Builder.kt:37-40): build() wraps the session in
      * [[CqlDedupLog]] under the builder's profile. `withLog` wins if
      * both are set (the log is the more specific binding).
      */
    def withSession(s: CqlSessionLike): SyncBuilder = { session = Some(s); this }
    /** Literal twin of the reference's `withSessionProfile`
      * (builder ..Builder.kt:47-50): names the profile whose
      * requestTimeout sizes the default retry delay and which every
      * statement of a session-built log runs under.
      */
    def withSessionProfile(name: String): SyncBuilder = { profileName = name; this }
    def withRetryStrategy(s: RetryStrategy): SyncBuilder = { strategy = Some(s); this }
    def withDuplicateAbsorber(size: Int, absorbMillis: Long): SyncBuilder = {
      absorber = new CachedDuplicateBurstAbsorber(size, absorbMillis); this
    }
    def build(): DedupProvider = new DedupProvider(
      log.orElse(session.map(new CqlDedupLog(_, profileName)))
        .getOrElse(new InMemoryDedupLog),
      strategy.getOrElse(new ExponentialDelayRetryStrategy(
        DefaultRetries, 2 * requestTimeoutMillis(profileName))),
      absorber)
  }

  class AsyncBuilder private[DedupProviderBuilder] () {
    private var log: Option[DedupLog] = None
    private var session: Option[CqlSessionLike] = None
    private var profileName: String = CqlDedupLog.DefaultProfile
    private var executor: ExecutorService = Executors.newWorkStealingPool()
    private var strategy: Option[RetryStrategyAsync] = None
    private var absorber: DuplicateBurstAbsorber = new NoDuplicateBurstAbsorber

    def withLog(l: DedupLog): AsyncBuilder = { log = Some(l); this }
    /** See [[SyncBuilder.withSession]]. */
    def withSession(s: CqlSessionLike): AsyncBuilder = { session = Some(s); this }
    /** See [[SyncBuilder.withSessionProfile]]. */
    def withSessionProfile(name: String): AsyncBuilder = { profileName = name; this }
    def withExecutor(e: ExecutorService): AsyncBuilder = { executor = e; this }
    def withRetryStrategy(s: RetryStrategyAsync): AsyncBuilder = { strategy = Some(s); this }
    def withDuplicateAbsorber(size: Int, absorbMillis: Long): AsyncBuilder = {
      absorber = new CachedDuplicateBurstAbsorber(size, absorbMillis); this
    }
    def build(): DedupProviderAsync = new DedupProviderAsync(
      log.orElse(session.map(new CqlDedupLog(_, profileName)))
        .getOrElse(new InMemoryDedupLog),
      strategy.getOrElse(new ExponentialDelayRetryStrategyAsync(
        DefaultRetries, 2 * requestTimeoutMillis(profileName), executor)),
      absorber)
  }

  def newProviderBuilder(): SyncBuilder = new SyncBuilder
  def newAsyncProviderBuilder(): AsyncBuilder = new AsyncBuilder
}
