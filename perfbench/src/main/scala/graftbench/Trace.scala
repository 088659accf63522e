package graftbench

import scala.collection.mutable.ArrayBuffer

/** One call the benchmark made into a layer. `parent` is -1 for a
  * top-level span; `op` is the op the span belongs to (-1 outside ops).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the closed-loop client thread. When
  * disabled, `span` only runs its body.
  */
final class Tracer(var enabled: Boolean) {
  private val recorded = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var currentOp: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        recorded += Span(id, parent, currentOp, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Spans recorded since the last drain, in end order. */
  def drain(): Seq[Span] = {
    val out = recorded.toList
    recorded.clear()
    out
  }
}

object Trace {

  /** Length of the union of `[start, end)` intervals. */
  def unionNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of it that
    * its direct children cover.
    */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionNs(children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))).filter(i => i._2 > i._1))
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Self time summed per layer (the span name's first component). */
  def selfByLayerNs(spans: Seq[Span]): Map[String, Long] = {
    val self = selfNs(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }

  /** Total duration per span name. */
  def totalByNameNs(spans: Seq[Span]): Map[String, Long] =
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.durNs).sum }
}
