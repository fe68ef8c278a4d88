package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `trace` is the op it belongs
  * to; `parent` is the enclosing span (0 for the op's root span). `exec`
  * marks spans inside which Spark jobs run, for the driver-gap figure.
  */
final case class Span(trace: Long, id: Long, parent: Long, name: String,
                      startNs: Long, endNs: Long, exec: Boolean)

/** In-memory span recorder. Disabled, `span` only runs its body, so the
  * untraced runs that give the end-to-end metrics pay one branch per
  * layer call.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  // (trace id, span id) of the spans open on this thread, innermost first
  private val open = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** Root span of op `trace`. */
  def root[T](trace: Long, name: String)(body: => T): T =
    if (!enabled) body else within(trace, 0L, name, exec = false)(body)

  /** Child span of the innermost open span on this thread. */
  def span[T](name: String, exec: Boolean = false)(body: => T): T =
    if (!enabled) body
    else open.get() match {
      case (trace, parent) :: _ => within(trace, parent, name, exec)(body)
      case Nil => body // outside any op: set-up and checks are not traced
    }

  private def within[T](trace: Long, parent: Long, name: String,
                        exec: Boolean)(body: => T): T = {
    val id = ids.incrementAndGet()
    val outer = open.get()
    open.set((trace, id) :: outer)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.set(outer)
      spans.add(Span(trace, id, parent, name, t0, t1, exec))
    }
  }

  def recorded: Seq[Span] = spans.asScala.toSeq

  /** Cost of recording one span, measured on this JVM with a throwaway
    * tracer: the figure behind the reported tracing overhead.
    */
  def perSpanCostNs(n: Int = 200000): Double = {
    val t = new Tracer(true)
    var sink = 0L
    t.root(1L, "calibrate") {
      (0 until 2000).foreach(i => t.span("warm")(sink += i))
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { t.span("c")(sink += i); i += 1 }
      val dt = System.nanoTime() - t0
      if (sink == 42) println("") // keeps the loop observable
      dt.toDouble / n
    }
  }
}

/** Per-layer self time and coverage computed from recorded spans. */
object SpanMath {

  /** Self time of every span, in ms, keyed by span id. */
  def selfTimesMs(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val children = kids.getOrElse(s.id, Nil).filter(_.trace == s.trace)
        .map(c => (c.startNs.toDouble, c.endNs.toDouble))
      s.id -> Stats.selfTime(s.startNs.toDouble, s.endNs.toDouble, children) / 1e6
    }.toMap
  }

  /** Share of each root span's wall time that its child spans leave
    * uncovered, averaged over roots: how much of an op the layer spans
    * fail to account for.
    */
  def uncoveredShare(spans: Seq[Span]): Double = {
    val roots = spans.filter(_.parent == 0L)
    if (roots.isEmpty) 0.0
    else {
      val kids = spans.groupBy(_.parent)
      val shares = roots.map { r =>
        val cs = kids.getOrElse(r.id, Nil).map(c => (c.startNs.toDouble, c.endNs.toDouble))
        val wall = (r.endNs - r.startNs).toDouble
        if (wall <= 0) 0.0
        else 1.0 - Stats.coveredWithin(r.startNs.toDouble, r.endNs.toDouble, cs) / wall
      }
      shares.sum / shares.size
    }
  }
}
