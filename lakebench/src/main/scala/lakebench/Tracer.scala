package lakebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** Spans around the benchmark's calls into the program's layers.
  *
  * Disabled (the gated runs) a span is a plain call. Enabled, each span
  * records name, start, end, parent and run id in memory; they are written
  * out once, when the run ends.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  import Tracer.Span

  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def apply[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        done.add(Span(id, parents.headOption.getOrElse(0L), name, t0, System.nanoTime(), runId))
        stack.set(parents)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)
}

object Tracer {
  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
      runId: String) {
    def durNs: Long = endNs - startNs
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per span name (s): each span's duration minus the part of
    * it that its child spans cover.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
        s.durNs - covered(kids, s.startNs, s.endNs)
      }.sum / 1e9
    }
  }

  def toJsonLines(spans: Seq[Span]): Iterator[String] = spans.iterator.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},""" +
      s""""end_ns":${s.endNs},"run":"${s.runId}"}"""
  }
}
