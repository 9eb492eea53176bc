package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One recorded span: `trace` is shared by every span of one query, job,
  * session or request; `parent` is the span that caused it (0 = root).
  * Times are epoch nanoseconds, so spans recorded in other processes of
  * the same run line up. */
final case class Span(id: Long, parent: Long, trace: Long, name: String, startNs: Long, endNs: Long) {
  def durationNs: Long = endNs - startNs
}

/** In-memory span recorder. With `enabled = false` every call runs its
  * body and records nothing, so untraced runs pay one branch per call. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, Long)] // (span id, trace id)

  /** Epoch nanoseconds from a monotonic source. */
  def now(): Long = Tracer.nowNs()

  def newId(): Long = ids.incrementAndGet()

  /** Run `body` inside a span that is a child of the thread's current span,
    * or of (`parent`, `trace`) when given. */
  def span[A](name: String, parent: Long = -1L, trace: Long = -1L)(body: => A): A =
    if (!enabled) body
    else {
      val outer = current.get()
      val p = if (parent >= 0) parent else if (outer == null) 0L else outer._1
      val id = newId()
      val t = if (trace >= 0) trace else if (outer == null) id else outer._2
      current.set((id, t))
      val t0 = now()
      try body
      finally {
        spans.add(Span(id, p, t, name, t0, now()))
        current.set(outer)
      }
    }

  /** Record a span whose interval was measured elsewhere. */
  def record(s: Span): Unit = if (enabled) spans.add(s)

  /** The id of the thread's current span (0 outside any span). */
  def currentId: Long = Option(current.get()).map(_._1).getOrElse(0L)

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startNs, s.id))
}

object Tracer {
  private val originNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs(): Long = originNs + System.nanoTime()

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** Self time: the span's duration minus the time its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.id -> (s.durationNs - covered(c, s.startNs, s.endNs))
    }.toMap
  }

  /** The blocking path under `root`: walking back from the root's end, the
    * child that ends last, then the child that ends last before that one
    * starts, and so on; each chosen child is expanded the same way. The
    * self times of these spans add up to the root's duration when the
    * children on the path leave no gap uncovered by a span. */
  def blockingPath(spans: Seq[Span], root: Span): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = {
      val children = kids.getOrElse(s.id, Nil)
      var chain = List.empty[Span]
      var before = s.endNs
      var next = children.filter(_.endNs <= before).sortBy(-_.endNs).headOption
      while (next.isDefined) {
        chain = next.get :: chain
        before = next.get.startNs
        next = children.filter(_.endNs <= before).sortBy(-_.endNs).headOption
      }
      s +: chain.flatMap(walk)
    }
    walk(root)
  }

  def toJson(spans: Seq[Span], self: Map[Long, Long]): String =
    spans.map { s =>
      Json.obj(
        "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ns" -> self.getOrElse(s.id, s.durationNs))
    }.mkString("[\n", ",\n", "\n]")
}
