package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One recorded span; times are nanoseconds on the System.nanoTime clock. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    start: Long, end: Long, attrs: Map[String, String])

/** In-memory span recorder. Disabled, every call is a no-op, so the
  * untraced run executes the same code path minus the bookkeeping.
  * `costNs` accumulates the time spent inside the recorder itself.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val cost = new AtomicLong(0L)

  def costNs: Long = cost.get

  /** Record a finished span; returns its id (0 when disabled). */
  def record(parent: Long, layer: String, name: String, start: Long, end: Long,
      attrs: Map[String, String] = Map.empty): Long =
    if (!enabled) 0L
    else {
      val t0 = System.nanoTime()
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, layer, name, start, end, attrs))
      cost.addAndGet(System.nanoTime() - t0)
      id
    }

  /** Time `body` as a span; children may be recorded under the returned id
    * through `id => ...`.
    */
  def span[A](parent: Long, layer: String, name: String,
      attrs: Map[String, String] = Map.empty)(body: Long => A): A =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val start = System.nanoTime()
      try body(id)
      finally {
        val end = System.nanoTime()
        val t0 = System.nanoTime()
        spans.add(Span(id, parent, layer, name, start, end, attrs))
        cost.addAndGet(System.nanoTime() - t0)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer in ms: each span's duration minus its direct
    * children's durations.
    */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all
    val childNs = ss.groupMapReduce(_.parent)(s => s.end - s.start)(_ + _)
    ss.groupMapReduce(_.layer)(s =>
      math.max(0L, (s.end - s.start) - childNs.getOrElse(s.id, 0L)) / 1e6)(_ + _)
  }

  def toJson: String = all.sortBy(_.start).map { s =>
    Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
      "start_ns" -> s.start, "dur_ns" -> (s.end - s.start), "attrs" -> s.attrs))
  }.mkString("[\n", ",\n", "\n]")
}

/** Minimal JSON rendering for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
