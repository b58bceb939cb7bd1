package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `parent` is the span that
  * caused it (0 for a root); spans of one operation share `op`. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans are kept until the run ends and then
  * written out in one file; nothing is flushed while timing. A recorder
  * that is off records nothing and costs one branch per boundary. */
final class Trace(val on: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  /** Record a finished span (no-op when tracing is off). */
  def add(s: Span): Unit = if (on) spans.add(s)

  /** Time `body` as a span of `layer`/`name` under `parent`; a root
    * (`op` 0) starts an operation of its own. */
  def span[T](parent: Long, op: Long, layer: String, name: String)(body: Long => T): T =
    if (!on) body(0L)
    else {
      val id = nextId()
      val t0 = System.nanoTime()
      try body(id)
      finally spans.add(Span(id, parent, if (op == 0L) id else op, layer, name, t0, System.nanoTime()))
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Write every span as one JSON line to `path`. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
        s""""name":"${Json.esc(s.name)}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}

object Trace {

  /** Total length of the union of `intervals`, clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .toSeq.sortBy(_._1)
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

  /** Self time of every span: its duration minus the part of its
    * interval that its direct children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - covered(ch, s.startNs, s.endNs))
    }.toMap
  }
}
