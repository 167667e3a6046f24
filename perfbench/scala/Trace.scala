package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** In-memory spans recorded around the benchmark's own calls into each
  * layer. A span carries name, start, end, parent and request id; the
  * layer is the name's prefix before the first dot (`influxql.parse` →
  * `influxql`). Nothing is recorded while tracing is off, so the
  * untraced run pays one boolean test per call site.
  */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

object Trace {
  @volatile var enabled: Boolean = false
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, Long)] { // (span id, request id)
    override def initialValue(): (Long, Long) = (0L, 0L)
  }

  /** Run `body` inside a span; `req` = 0 inherits the enclosing request. */
  def span[T](name: String, req: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val (parent, parentReq) = current.get()
      val id = ids.incrementAndGet()
      val r = if (req != 0L) req else parentReq
      current.set((id, r))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, r, name, t0, System.nanoTime()))
        current.set((parent, parentReq))
      }
    }

  def all: Vector[Span] = spans.asScala.toVector

  /** Self time per layer in ms: each span's duration minus the part of
    * its interval covered by its children. Children of one span run on
    * the span's own thread here, so they never overlap each other.
    */
  def selfMsByLayer(ss: Seq[Span]): Map[String, Double] = {
    val childNs = ss.filter(_.parent != 0L).groupMapReduce(_.parent)(_.durNs)(_ + _)
    ss.groupMapReduce(_.layer)(s => (s.durNs - childNs.getOrElse(s.id, 0L)) / 1e6)(_ + _)
  }

  /** Median duration in ms of the spans named `name` (0 when none ran). */
  def medianMs(ss: Seq[Span], name: String): Double =
    Stats.median(ss.filter(_.name == name).map(_.durNs / 1e6))

  def write(path: java.nio.file.Path, ss: Seq[Span]): Unit = {
    val lines = ss.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Stats {
  /** Nearest-rank percentile (p in [0, 1]) of `xs`; 0 for an empty sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
