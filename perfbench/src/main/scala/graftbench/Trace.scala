package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. Times are epoch microseconds, the
  * clock Spark's listener events also use (at millisecond resolution).
  * `parent` is 0 for a root span; spans of one unit of work share `trace`. */
final case class Span(id: Long, trace: Long, parent: Long, name: String,
    layer: String, startUs: Long, endUs: Long) {
  def durS: Double = (endUs - startUs) / 1e6
  def json: String =
    s"""{"id":$id,"trace":$trace,"parent":$parent,"name":${Json.str(name)},""" +
      s""""layer":${Json.str(layer)},"start_us":$startUs,"end_us":$endUs}"""
}

object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** In-memory span store; the spans are written out once, when the run ends. */
final class Spans {
  private val ids = new AtomicLong(0L)
  private val buf = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = buf.add(s)
  def all: Seq[Span] = buf.asScala.toSeq

  /** Times `body` as a span; the span is recorded even when `body` throws. */
  def span[T](name: String, layer: String, parent: Long, trace: Long,
      id: Long = nextId())(body: => T): T = {
    val t0 = Clock.nowUs()
    try body finally add(Span(id, trace, parent, name, layer, t0, Clock.nowUs()))
  }
}

/** Span arithmetic for the per-layer report. */
object SpanMath {

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A layer's self time: for each of its spans, the duration minus the part
    * of that interval its child spans cover; summed per layer, in seconds. */
  def layerSelf(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.startUs, k.endUs))
        (s.endUs - s.startUs) - covered(kids, s.startUs, s.endUs)
      }.sum / 1e6
    }
  }

  /** Per DAG job, the wait from the moment it became ready (its last
    * dependency ended, or the DAG started) until it started, in seconds. */
  def readyWait(jobs: Map[String, Span], deps: Map[String, Seq[String]],
      dagStartUs: Long): Map[String, Double] =
    jobs.map { case (name, s) =>
      val ready = (dagStartUs +: deps.getOrElse(name, Nil).flatMap(jobs.get).map(_.endUs)).max
      name -> math.max(0L, s.startUs - ready) / 1e6
    }

  /** Longest dependency chain, weighting each job by its measured duration:
    * the build's wall time if waiting and the DAG's wave barriers cost
    * nothing. Jobs without a span (skipped) weigh 0. */
  def criticalPath(jobs: Map[String, Span], deps: Map[String, Seq[String]]): Double = {
    val memo = scala.collection.mutable.Map.empty[String, Double]
    def cp(n: String): Double = memo.getOrElseUpdate(n,
      jobs.get(n).map(_.durS).getOrElse(0.0) +
        deps.getOrElse(n, Nil).map(cp).maxOption.getOrElse(0.0))
    (jobs.keySet ++ deps.keySet).toSeq.map(cp).maxOption.getOrElse(0.0)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
