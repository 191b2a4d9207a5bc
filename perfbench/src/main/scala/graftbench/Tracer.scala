package graftbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run.
  *
  * A span is opened around one call from the benchmark into a graft layer
  * (`streaming`, `functions`, `sources`, `operators`, `plans`, `util`) or
  * around a benchmark step (`bench`). Spans nest through a per-thread
  * stack; a span opened on another thread (a streaming query's
  * `foreachBatch` runs on the query's execution thread) names its parent
  * explicitly. Spans are kept in memory and written out once, at the end.
  *
  * When tracing is off every method is a pass-through, so the untraced run
  * executes the same calls without the bookkeeping.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  /** Id of the innermost open span on this thread, or -1. */
  def current: Int = stack.get.headOption.getOrElse(-1)

  def span[A](layer: String, name: String, parent: Int = Int.MinValue)(f: => A): A =
    if (!enabled) f
    else {
      val p = if (parent == Int.MinValue) current else parent
      val id = spans.synchronized { spans += Span(spans.length, p, layer, name, System.nanoTime(), -1L); spans.length - 1 }
      stack.set(id :: stack.get)
      try f
      finally {
        stack.set(stack.get.tail)
        val end = System.nanoTime()
        spans.synchronized { spans(id) = spans(id).copy(endNs = end) }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Whether span `s` is nested, at any depth, in a span named `name`. */
  def within(s: Span, name: String): Boolean = {
    val ss = spans.synchronized(spans.toVector)
    Iterator.iterate(s.parent)(p => if (p >= 0) ss(p).parent else p).takeWhile(_ >= 0).exists(ss(_).name == name)
  }

  /** Self time of each span: its duration minus the part of its interval
    * that its children cover (children may overlap one another, so the
    * covered part is the union of their intervals, clipped to the span). */
  def selfNs: Map[Int, Long] = {
    val ss = all
    val kids = ss.filter(_.parent >= 0).groupBy(_.parent)
    ss.map { s =>
      val covered = Tracer.unionNs(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.endNs - s.startNs - covered)
    }.toMap
  }

  /** Share of `[fromNs, toNs)` that top-level spans cover. */
  def coverage(fromNs: Long, toNs: Long): Double = {
    val top = all.filter(_.parent < 0)
      .map(s => (math.max(s.startNs, fromNs), math.min(s.endNs, toNs)))
    Tracer.unionNs(top).toDouble / math.max(1L, toNs - fromNs)
  }

  /** Spans as JSON, times in ms relative to the first span. */
  def toJson: String = {
    val ss = all
    val t0 = if (ss.isEmpty) 0L else ss.map(_.startNs).min
    val self = selfNs
    ss.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"layer":"${Json.esc(s.layer)}","name":"${Json.esc(s.name)}",""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"dur_ms":${(s.endNs - s.startNs) / 1e6}%.3f,"self_ms":${self(s.id) / 1e6}%.3f}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, layer: String, name: String, startNs: Long, endNs: Long)

  /** Total length of the union of half-open intervals (empty ones ignored). */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
