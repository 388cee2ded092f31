package graft.qbench

import scala.collection.mutable

/** One timed call across a layer boundary. `parent` is the id of the span
  * that was open on the same thread when this one started (-1 for a root).
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
    endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans are kept until the run ends and then
  * written out in one go, so recording costs one allocation and no I/O.
  * A disabled tracer runs the body and records nothing.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(-1L)
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        spans.synchronized(spans += Span(id, parent, name, t0, t1))
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Spans as JSON lines, each tagged with the run id. */
  def writeTo(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {

  /** Self time of every span: its duration minus the part of its interval
    * covered by its direct children (overlapping children count once).
    */
  def selfTimesNs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Total length of the union of half-open intervals. */
  def union(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Total self time per span name, in milliseconds. */
  def selfMsByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimesNs(spans)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => self(s.id)).sum / 1e6
    }
  }
}
