package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener

/** One finished micro-batch, as its `StreamingQueryProgress` reports it. */
final case class BatchProgress(id: Long, startEpochMs: Long, rows: Long,
    durations: Map[String, Long]) {
  def phase(k: String): Double = durations.getOrElse(k, 0L).toDouble
  def trigger: Double = phase("triggerExecution")
}

/** Collects every data-carrying batch's progress through a listener —
  * `recentProgress` keeps only the last 100 batches. */
final class ProgressLog extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[BatchProgress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      q.add(BatchProgress(p.batchId, Instant.parse(p.timestamp).toEpochMilli,
        p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }

  def batches: Seq[BatchProgress] = q.asScala.toSeq.sortBy(_.id)
  def clear(): Unit = q.clear()
}

object Streams {
  /** The progress phases in the order the micro-batch engine runs them;
    * the traced run lays its phase spans out in this order. */
  val Phases: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /** 51 room ids shaped like the reference data's (`413`, `656A`). */
  def rooms(seed: Long): IndexedSeq[String] = {
    val rnd = new scala.util.Random(seed)
    val nums = rnd.shuffle((100 until 800).toVector).take(51)
    nums.zipWithIndex.map { case (n, i) => if (i % 10 == 3) s"${n}A" else n.toString }
  }

  /** Per-layer metrics every streaming workload reports from its progress. */
  def batchMetrics(bs: Seq[BatchProgress], esCallMs: Map[Long, Double]): Seq[(String, Double)] = {
    val idle = bs.sliding(2).collect { case Seq(a, b) if b.id == a.id + 1 =>
      math.max(0.0, b.startEpochMs - a.startEpochMs - a.trigger)
    }.sum
    def p50(k: String) = Stats.median(bs.map(_.phase(k)))
    Seq(
      "streaming.batches" -> bs.size.toDouble,
      "streaming.rows_per_batch_p50" -> Stats.median(bs.map(_.rows.toDouble)),
      "streaming.trigger_ms_p50" -> Stats.median(bs.map(_.trigger)),
      "streaming.trigger_ms_p95" -> Stats.pct(bs.map(_.trigger), 0.95),
      "streaming.query_planning_ms_p50" -> p50("queryPlanning"),
      "streaming.wal_commit_ms_p50" -> p50("walCommit"),
      "streaming.commit_offsets_ms_p50" -> p50("commitOffsets"),
      "streaming.add_batch_ms_p50" -> p50("addBatch"),
      "streaming.decode_ms_p50" -> Stats.median(bs.map(b =>
        b.phase("addBatch") - esCallMs.getOrElse(b.id, 0.0))),
      "streaming.idle_ms_total" -> idle,
      "kafka.latest_offset_ms_p50" -> p50("latestOffset"),
      "kafka.get_batch_ms_p50" -> p50("getBatch"),
      "esbulk.call_ms_p50" -> Stats.median(esCallMs.values.toSeq),
      "esbulk.call_ms_p95" -> Stats.pct(esCallMs.values.toSeq, 0.95),
      "esbulk.share_of_trigger" -> esCallMs.values.sum / math.max(1.0, bs.map(_.trigger).sum))
  }

  /** Rebuild each batch's trigger and phase spans from its progress, and
    * hang the measured sink call under its `addBatch` phase. */
  def traceBatches(tr: Trace, bs: Seq[BatchProgress],
      esSpan: Map[Long, (Double, Double)]): Unit = if (tr.on) bs.foreach { b =>
    val id = s"batch-${b.id}"
    val t0 = tr.epochToMs(b.startEpochMs)
    val root = tr.add("streaming", "trigger", id, -1, t0, t0 + b.trigger)
    var at = t0
    Phases.foreach { ph =>
      val d = b.phase(ph)
      val layer = if (ph == "latestOffset" || ph == "getBatch") "kafka" else "streaming"
      val sid = tr.add(layer, ph, id, root, at, at + d)
      if (ph == "addBatch") esSpan.get(b.id).foreach { case (s, e) =>
        tr.add("esbulk", "bulk", id, sid, s, e)
      }
      at += d
    }
  }
}
