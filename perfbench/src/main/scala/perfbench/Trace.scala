package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. Spans of one request share
  * `req`; `parent` is the span that was open on the same thread when
  * this one started (0 for a request's root). */
final case class Span(id: Long, parent: Long, req: Long, layer: String,
                      name: String, startNs: Long, endNs: Long)

/** Spans recorded around the benchmark's calls into each layer's
  * public functions, kept in memory and written out at exit. With
  * `on = false` every method runs its body and records nothing, so
  * the untraced run pays one branch per call. */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val open = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }

  /** Runs `body` as a new request's root span. */
  def request[A](layer: String, name: String)(body: => A): A =
    if (!on) body else timed(layer, name, root = true)(body)

  /** Runs `body` as a child of the innermost open span on this thread. */
  def span[A](layer: String, name: String)(body: => A): A =
    if (!on) body else timed(layer, name, root = false)(body)

  private def timed[A](layer: String, name: String, root: Boolean)(body: => A): A = {
    val stack = open.get()
    val id = ids.incrementAndGet()
    val parent = if (root) 0L else stack.headOption.map(_.id).getOrElse(0L)
    val req = if (root || stack.isEmpty) id else stack.head.req
    val t0 = System.nanoTime()
    open.set(Span(id, parent, req, layer, name, t0, t0) :: stack)
    try body finally {
      open.set(stack)
      spans.add(Span(id, parent, req, layer, name, t0, System.nanoTime()))
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Per-layer self time in seconds: each span's duration minus the
    * union of its children's intervals. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        math.max(0L, (s.endNs - s.startNs) - covered) / 1e9
      }.sum
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Writes the span file: one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = if (on) {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},""" +
        s""""layer":${Stats.jsonStr(s.layer)},"name":${Stats.jsonStr(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}
