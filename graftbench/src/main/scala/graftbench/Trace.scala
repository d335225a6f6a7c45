package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed call into a layer. `parent` is the enclosing span on the same
  * thread (0 = none); spans of one operation share `request`.
  */
final case class Span(
    id: Long, parent: Long, request: Long, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Off by default: `span` then only runs its body,
  * so an untraced run pays one volatile read per call. Spans are written
  * out once, at the end of the run.
  */
object Trace {
  @volatile var on: Boolean = false

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val requests = new AtomicLong(0L)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val currentRequest = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  /** Run `f` as one operation: spans opened inside share a fresh id. */
  def request[A](f: => A): A =
    if (!on) f
    else {
      val prev = currentRequest.get()
      currentRequest.set(requests.incrementAndGet())
      try f finally currentRequest.set(prev)
    }

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(0L),
          currentRequest.get().longValue, name, t0, t1))
      }
    }

  /** Durations in ms of every span with this name. */
  def durationsMs(name: String): Seq[Double] =
    spans.asScala.iterator.filter(_.name == name).map(_.durNs / 1e6).toSeq

  /** Per span name: summed self time in ms (duration minus the part of
    * its interval that direct children cover).
    */
  def selfTimesMs: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val childNs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum / 1e6
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val all = spans.asScala.toSeq.sortBy(_.startNs)
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write("[\n")
      all.zipWithIndex.foreach { case (s, i) =>
        w.write(s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},""" +
          s""""name":${Json.str(s.name)},"start_us":${(s.startNs - t0) / 1000},""" +
          s""""end_us":${(s.endNs - t0) / 1000}}""")
        w.write(if (i + 1 < all.length) ",\n" else "\n")
      }
      w.write("]\n")
    } finally w.close()
  }
}
