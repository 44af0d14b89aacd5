package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

/** In-memory span recorder for the traced run.
  *
  * A span is one call across a layer boundary: its layer, name, the
  * span that caused it (`parent`, -1 for a root) and one trace id per
  * micro-batch or per query. Times are milliseconds since the run's
  * clock origin, so spans rebuilt from Spark's progress timestamps and
  * spans timed here share one axis. With tracing off nothing is kept
  * and [[span]] only runs its body.
  */
final class Trace(val on: Boolean, originEpochMs: Long, originNano: Long) {
  final case class Span(id: Int, parent: Int, layer: String, name: String,
      trace: String, startMs: Double, endMs: Double)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)

  def nowMs: Double = (System.nanoTime() - originNano) / 1e6
  def epochToMs(epochMs: Long): Double = (epochMs - originEpochMs).toDouble

  /** Record a span with known bounds; returns its id (-1 when off). */
  def add(layer: String, name: String, trace: String, parent: Int,
      startMs: Double, endMs: Double): Int =
    if (!on) -1
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, layer, name, trace, startMs, endMs))
      id
    }

  /** Time `body` as a span; the body receives the span's id so its own
    * calls can name it as their parent. */
  def span[T](layer: String, name: String, trace: String, parent: Int = -1)(
      body: Int => T): T =
    if (!on) body(-1)
    else {
      val id = ids.incrementAndGet()
      val t0 = nowMs
      try body(id)
      finally spans.add(Span(id, parent, layer, name, trace, t0, nowMs))
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)

  /** Per layer: span count, total time, and self time — a span's
    * duration minus the part of it its children cover. */
  def selfTime: Seq[(String, Int, Double, Double)] = {
    val ss = all
    val kids = ss.filter(_.parent >= 0).groupBy(_.parent)
    def covered(s: Span): Double = {
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0.0
      var (curA, curB) = (Double.NaN, Double.NaN)
      iv.foreach { case (a, b) =>
        if (curA.isNaN) { curA = a; curB = b }
        else if (a <= curB) curB = math.max(curB, b)
        else { total += curB - curA; curA = a; curB = b }
      }
      if (!curA.isNaN) total += curB - curA
      total
    }
    ss.groupBy(_.layer).toSeq.map { case (layer, xs) =>
      (layer, xs.size, xs.map(s => s.endMs - s.startMs).sum,
        xs.map(s => s.endMs - s.startMs - covered(s)).sum)
    }.sortBy(-_._4)
  }

  /** Write `spans.jsonl` (one span per line) and `self_time.tsv`. */
  def write(dir: Path): Unit = {
    Files.createDirectories(dir)
    val lines = all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},""" +
        s""""name":${Json.str(s.name)},"trace":${Json.str(s.trace)},""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
    }
    Files.write(dir.resolve("spans.jsonl"), lines.asJava, StandardCharsets.UTF_8)
    val table = "layer\tspans\ttotal_ms\tself_ms" +: selfTime.map {
      case (l, n, tot, self) => f"$l\t$n\t$tot%.1f\t$self%.1f"
    }
    Files.write(dir.resolve("self_time.tsv"), table.asJava, StandardCharsets.UTF_8)
  }
}

object Trace {
  /** A recorder that keeps nothing, for work outside the measurement. */
  val off = new Trace(false, 0L, 0L)
}

object Stats {
  /** Percentile by linear interpolation between the closest ranks, `q`
    * in [0, 1]; NaN for no samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val at = q * (s.size - 1)
      val lo = at.toInt
      if (lo + 1 >= s.size) s(lo) else s(lo) + (at - lo) * (s(lo + 1) - s(lo))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
