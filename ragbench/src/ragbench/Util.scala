package ragbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** One time base for every probe: milliseconds since the harness started,
  * as a double. Spark listener times arrive as epoch milliseconds and are
  * mapped onto the same base. */
object Clock {
  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis().toDouble
  def nowMs: Double = (System.nanoTime() - originNs) / 1e6
  def ofEpochMs(ms: Double): Double = ms - originEpochMs
  def toEpochMs(t: Double): Long = math.round(t + originEpochMs)
}

/** Progress lines on stderr (the JVM log), for reading where a run spent
  * its time. */
object Log {
  def phase(what: String): Unit = System.err.println(f"[ragbench] ${Clock.nowMs / 1000}%8.2f s  $what")
}

object Stats {
  /** Linear-interpolated percentile (numpy's default), q in [0, 100]. */
  def pct(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = (s.length - 1) * q / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def unionLength(iv: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val s = iv.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toArray.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    for ((a, b) <- s) {
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Minimal JSON writer for the result objects (numbers, strings, booleans,
  * nested maps and sequences). */
object Json {
  def quote(s: String): String = {
    val b = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}

/** A traced interval. `depth` orders the layers for self-time attribution:
  * a deeper layer active at an instant owns that instant. */
final case class Span(name: String, layer: String, depth: Int, start: Double,
                      end: Double, trace: Long = -1L)

object Depth {
  val Batch = 1   // micro-batch (ingest) or one retrieval request (query)
  val Job = 2
  val Stage = 3
  val Bulk = 4
  val Embed = 5
}

/** In-memory span store; written out when the run ends. Recording is a
  * no-op unless the run is traced. */
final class Spans(val enabled: Boolean) {
  private val q = new ConcurrentLinkedQueue[Span]()
  def add(s: => Span): Unit = if (enabled) q.add(s)
  def all: Seq[Span] = q.asScala.toSeq
}

object Spans {
  /** Self time per layer inside the window [lo, hi]: the time during which
    * the layer is the deepest one active. Also returns the uncovered time as
    * layer "harness" (the window's own self time). */
  def selfTimes(spans: Seq[Span], lo: Double, hi: Double): Map[String, Double] = {
    val byDepth = spans.filter(s => s.end > lo && s.start < hi).groupBy(_.depth).toSeq.sortBy(-_._1)
    var deeper = Vector.empty[(Double, Double)]
    var deeperLen = 0.0
    val out = scala.collection.mutable.Map.empty[String, Double]
    for ((_, ss) <- byDepth) {
      deeper = deeper ++ ss.map(s => (s.start, s.end))
      val len = Stats.unionLength(deeper, lo, hi)
      val layer = ss.head.layer
      out(layer) = out.getOrElse(layer, 0.0) + (len - deeperLen)
      deeperLen = len
    }
    out("harness") = (hi - lo) - deeperLen
    out.toMap
  }

  /** Parent of each span: the innermost span of a shallower depth whose
    * interval contains its start. Index -1 is the run window. Embed calls
    * and bulks (the two leaf layers) hang under Spark spans, not each other. */
  def parents(spans: IndexedSeq[Span]): IndexedSeq[Int] = {
    val byDepth = spans.indices.groupBy(i => spans(i).depth)
    spans.indices.map { i =>
      val s = spans(i)
      val candidates = byDepth.keys.filter(d => d < s.depth && d <= Depth.Stage)
        .toSeq.sorted.reverse
      candidates.iterator.flatMap { d =>
        byDepth(d).find { j =>
          spans(j).start <= s.start && spans(j).end >= s.start
        }
      }.nextOption().getOrElse(-1)
    }
  }
}
