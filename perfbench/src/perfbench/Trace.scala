package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `request` groups the spans of
  * one operation (a provider call, a lane call, a micro-batch); `parent`
  * is the span that was open on the same thread when this one began
  * (0 at the root).
  */
final case class Span(id: Long, parent: Long, request: Long, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans and counters recorded from outside the program, around calls
  * into each layer. Everything stays in memory until the run ends. A
  * disabled tracer runs the wrapped code and records nothing, so the
  * untraced path pays one branch per boundary.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(1)
  // (open span id, request id), innermost first
  private val open = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()

  /** Runs `f` as the root of request `id` on this thread. */
  def request[A](id: Long, name: String)(f: => A): A =
    if (!enabled) f
    else {
      val saved = open.get
      open.set(Nil)
      try timed(name, id, 0L)(f) finally open.set(saved)
    }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val (parent, req) = open.get.headOption.getOrElse((0L, 0L))
      timed(name, req, parent)(f)
    }

  private def timed[A](name: String, req: Long, parent: Long)(f: => A): A = {
    val id = nextId.getAndIncrement()
    val saved = open.get
    open.set((id, req) :: saved)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      open.set(saved)
      spans.add(Span(id, parent, req, name, t0, t1))
    }
  }

  /** Id of the innermost open span on this thread (0 if none). */
  def currentSpan: Long = open.get.headOption.map(_._1).getOrElse(0L)

  /** Adds an interval measured elsewhere (Spark listener events). */
  def record(s: Span): Unit = if (enabled) spans.add(s)
  def newId(): Long = nextId.getAndIncrement()

  def add(name: String, delta: Double): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new DoubleAdder).add(delta)

  def count(name: String): Double = Option(counters.get(name)).map(_.sum).getOrElse(0.0)

  def all: Seq[Span] = spans.asScala.toSeq
  def named(name: String): Seq[Span] = all.filter(_.name == name)
  def totalS(name: String): Double = named(name).map(_.durNs).sum / 1e9
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile over the sorted sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Minimal JSON rendering for records: Map, Seq, String, numbers,
  * booleans and None/null.
  */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
