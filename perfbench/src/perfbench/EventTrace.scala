package perfbench

import java.util.SplittableRandom

/** Seeded event trace shaped like the corpus `events` table at sf0.1
  * (`graft.tools.GenData.events`): user ids uniform over 1500 users,
  * five event types, timestamps uniform over 30 days from 2024-01-01,
  * replayed in (ts, event_id) order. Any prefix of the replay is itself
  * a uniform sample, so a short run sees the same key mix as a long one.
  */
object EventTrace {
  final case class Event(eventId: Long, tsMicros: Long, userId: Int, eventType: String) {
    def key: String = s"$userId:$eventType"
  }

  val Users = 1500
  val Types: Seq[String] = Seq("click", "error", "purchase", "signup", "view")
  val StartMicros = 1704067200000000L // 2024-01-01T00:00:00Z
  val SpanMicros = 30L * 86400L * 1000000L

  /** `n` events with strictly increasing timestamps. */
  def events(seed: Long, n: Int): Array[Event] = {
    val r = new SplittableRandom(seed)
    val ts = Array.fill(n)(StartMicros + r.nextLong(SpanMicros)).sorted
    var i = 1
    while (i < n) { if (ts(i) <= ts(i - 1)) ts(i) = ts(i - 1) + 1; i += 1 }
    Array.tabulate(n)(k => Event(k.toLong, ts(k), r.nextInt(Users), Types(r.nextInt(Types.size))))
  }

  /** Deliveries per event, heavy-tailed: 80% of events once, 15% twice,
    * 5% three times back to back, and 0.2% start a storm of 16-64. The
    * share of each kind is fixed and only the order and the storm sizes
    * come from the seed, so a short replay carries the same redelivery
    * load on every seed. */
  def deliveries(seed: Long, n: Int): Array[Int] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val storms = math.round(n * 0.002).toInt
    val threes = math.round(n * 0.05).toInt
    val twos = math.round(n * 0.15).toInt
    val d = Array.fill(storms)(16 + r.nextInt(49)) ++ Array.fill(threes)(3) ++
      Array.fill(twos)(2) ++ Array.fill(n - storms - threes - twos)(1)
    var i = d.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val x = d(i); d(i) = d(j); d(j) = x; i -= 1 }
    d
  }

  /** The first `n` calls of a replay: each event's deliveries back to
    * back, over the fewest events whose deliveries cover `n` calls, so
    * that a short replay carries its events' redeliveries too. A fixed
    * call count keeps a round's work the same across seeds. */
  def calls(seed: Long, n: Int): Array[Event] = {
    var (lo, hi) = (1, n) // deliveries(seed, m).sum grows with m
    while (lo < hi) {
      val m = (lo + hi) / 2
      if (deliveries(seed, m).sum >= n) hi = m else lo = m + 1
    }
    val ev = events(seed, lo)
    val d = deliveries(seed, lo)
    ev.indices.iterator.flatMap(i => Iterator.fill(d(i))(ev(i))).take(n).toArray
  }
}
