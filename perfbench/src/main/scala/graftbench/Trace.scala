package graftbench

import scala.collection.mutable.ArrayBuffer

/** One timed call. `parent` is -1 for a top-level span of a pass. Names
  * start with the layer, e.g. `sinks.jdbc_load`. */
final case class Span(id: Int, pass: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans of one pass share the pass id and are
  * kept until the run ends. Disabled, it records nothing and costs one
  * branch per call. Each thread keeps its own stack of open spans; work
  * handed to another thread names its parent explicitly. */
final class Tracer(@volatile var enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  @volatile private var pass = 0

  def beginPass(p: Int): Unit = { pass = p }

  /** Innermost open span on this thread, or -1. */
  def current: Int = stack.get.headOption.getOrElse(-1)

  /** Run `f` inside a span named `name`. `onEnter` sees the new span id
    * before `f` runs (used to tag Spark jobs with it). */
  def span[A](name: String, parent: Int = Int.MinValue, onEnter: Int => Unit = _ => ())(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId.getAndIncrement()
      val par = if (parent == Int.MinValue) current else parent
      val saved = stack.get
      stack.set(id :: saved)
      onEnter(id)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(saved)
        done.synchronized { done += Span(id, pass, name, par, t0, t1) }
      }
    }

  def spans: Seq[Span] = done.synchronized(done.toList)
  def spansOf(p: Int): Seq[Span] = spans.filter(_.pass == p)
}

object Tracer {

  /** Self time of every span: its duration minus the part of it covered
    * by its children. Overlapping children (concurrent work) are merged
    * first, so self time lies in [0, span time]. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = mergedLength(
        children.getOrElse(s.id, Nil).map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a })
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }

  /** Total length of the union of intervals. */
  def mergedLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Sum of span seconds per span name. */
  def secondsByName(spans: Seq[Span]): Map[String, Double] =
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.seconds).sum }
}
