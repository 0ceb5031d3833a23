package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary. Times are epoch
  * microseconds, so driver-side spans and the scheduler's job and
  * stage times (epoch milliseconds) share one clock.
  */
final case class Span(id: Long, parent: Long, name: String,
                      startUs: Long, endUs: Long,
                      attrs: Map[String, Any] = Map.empty) {
  def durUs: Long = endUs - startUs
}

object Spans {

  /** Length of the union of `ivs` clipped to [lo, hi]. Overlapping
    * children (parallel stages) are counted once.
    */
  def coveredUs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children's intervals cover. For `exec.run` over its stages this is
    * the driver gap: no stage running while the driver plans, waits on
    * the scheduler or collects results.
    */
  def selfUs(span: Span, children: Seq[(Long, Long)]): Long =
    span.durUs - coveredUs(children, span.startUs, span.endUs)

  def interval(s: Span): (Long, Long) = (s.startUs, s.endUs)

  def toJson(s: Span): String = Json.write(ListMap("id" -> s.id, "parent" -> s.parent,
    "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs,
    "attrs" -> ListMap(s.attrs.toSeq.sortBy(_._1): _*)))
}

/** In-memory span store; written out once, when the run ends. */
final class Tracer {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]

  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
  def newId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = spans.synchronized { spans += s }
  def all: Vector[Span] = spans.synchronized(spans.toVector)

  /** Time `body` as a span named `name` under `parent`; the new span's
    * id is handed to the body so Spark jobs it launches can be tagged.
    */
  def span[T](name: String, parent: Long, attrs: Map[String, Any] = Map.empty)
             (body: Long => T): (T, Span) = {
    val id = newId()
    val t0 = nowUs
    val out = body(id)
    val s = Span(id, parent, name, t0, nowUs, attrs)
    add(s)
    (out, s)
  }

  def write(path: java.io.File): Unit = {
    Option(path.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach(s => w.println(Spans.toJson(s))) finally w.close()
  }
}

/** JSON for the result line and the span file (Jackson, from the
  * Spark jars). Maps keep their order; a non-finite number is written
  * as null rather than as a bare NaN.
  */
object Json {
  import com.fasterxml.jackson.databind.ObjectMapper
  import com.fasterxml.jackson.module.scala.DefaultScalaModule

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(finite(v))

  private def finite(v: Any): Any = v match {
    case d: Double if d.isNaN || d.isInfinite => null
    case m: Map[_, _] => m.map { case (k, x) => k -> finite(x) }
    case other => other
  }
}
