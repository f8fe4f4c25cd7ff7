package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed call into a layer. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
    runId: String) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the traced run. Spans are kept until the
  * run ends and then written out whole. Off by default: with tracing off,
  * `span` is a plain call.
  *
  * Spans opened on one thread nest through a thread-local stack. Calls on
  * Spark task threads (the transport) cannot see the driver's stack, so they
  * parent to `ambient`, the span the single closed-loop caller has open. */
object Trace {
  @volatile var enabled = false
  @volatile var runId = ""
  @volatile var ambient = 0L

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(ambient)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, t0, System.nanoTime(), runId))
        stack.set(stack.get.tail)
      }
    }

  /** A span whose caller opens a scope for task-thread children. */
  def scope[T](name: String)(body: => T): T =
    if (!enabled) body
    else span(name) {
      val prev = ambient
      ambient = stack.get.head
      try body finally ambient = prev
    }

  /** Record an already-measured interval (e.g. a planning phase). */
  def record(name: String, parent: Long, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), parent, name, startNs, endNs, runId))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Seconds per span name of time not covered by the span's children. */
  def selfSeconds(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a })
        (s.durNs - covered) / 1e9
      }.sum
    }
  }

  /** Total length of a set of possibly overlapping intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  def toJson(all: Seq[Span]): Json = Json.Arr(all.sortBy(_.id).map { s =>
    Json.obj("id" -> Json.Int64(s.id), "parent" -> Json.Int64(s.parent),
      "name" -> Json.Str(s.name), "start_ns" -> Json.Int64(s.startNs),
      "end_ns" -> Json.Int64(s.endNs), "run" -> Json.Str(s.runId))
  })
}
