package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** In-memory span recorder for the traced run. A span is opened around one
  * call into a graft module; spans opened inside it on the same thread
  * become its children. Spans are kept in memory and handed to the result
  * file when the run ends; self time is computed from them afterwards.
  * When disabled, `span` runs its body and records nothing.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[T](name: String, reqId: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, outer.headOption.getOrElse(0L), name, reqId, t0,
          System.nanoTime()))
        stack.set(outer)
      }
    }

  /** Spans as JSON-ready maps, times in seconds from `originNs`. */
  def export(originNs: Long): Seq[Map[String, Any]] =
    spans.asScala.toSeq.sortBy(_.id).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "req" -> s.reqId, "start" -> (s.startNs - originNs) / 1e9,
        "end" -> (s.endNs - originNs) / 1e9)
    }
}

object Tracer {
  final case class Span(id: Long, parent: Long, name: String, reqId: String,
      startNs: Long, endNs: Long)
}
