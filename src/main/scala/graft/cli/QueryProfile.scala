package graft.cli

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Where a catalog query's bench wall clock goes (VERDICT r17 item 2),
  * and which stage dominates it. Each pass builds the query and writes
  * it through the noop sink, as Bench does, then prints one JSON line:
  *
  *   - `build_ms`    — catalog builder + analysis, including any jobs
  *                     the builder runs (schema inference, materialized
  *                     intermediates)
  *   - `job_ms`      — time inside Spark jobs (union of job spans)
  *   - `gap_ms`      — driver-side time BETWEEN jobs (AQE replanning,
  *                     codegen, result handling)
  *   - `pre_post_ms` — wall time outside the first-to-last job span
  *                     (driver-side building and physical planning
  *                     before the first job, result commit after the
  *                     last), so `wall_ms` = pre_post + gap + job
  *   - `task_ms`     — summed executor task time across stages
  *   - `codegen_ms`  — delta of the JVM-wide generated-class compile
  *                     timer (CodegenMetrics), attributed to this query
  *
  * plus job/stage/task counts, then one line per stage for the 12
  * stages with the most task time: wall, shuffle read/write, records in
  * and out. The floor fix differs by bucket: task_ms → shuffle work;
  * gap/pre → fewer jobs and leaner plans; codegen → expression reuse;
  * a superlinear scale ratio is only actionable once the growing stage
  * is named. Several queries share one JVM and one warm-up (Bench's),
  * and every pass ends with [[graft.Session.sweep]].
  *
  * Usage: QueryProfile <sfDir> <q1>[,<q2>...] [passes=2]
  */
object QueryProfile {
  private final case class Stage(id: Int, name: String, wallMs: Long,
      taskMs: Long, tasks: Int, shufReadMB: Double, shufWriteMB: Double,
      inRecords: Long, outRecords: Long)

  /** Job spans (end -1 while running) and completed stages, as the
    * listener bus delivers them. */
  private final class Recorder extends SparkListener {
    private val jobs = mutable.Map.empty[Int, (Long, Long)]
    private val stages = mutable.ArrayBuffer.empty[Stage]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized { jobs(e.jobId) = (e.time, -1L) }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized { jobs.get(e.jobId).foreach(j => jobs(e.jobId) = (j._1, e.time)) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val stage = Stage(si.stageId, si.name.linesIterator.next(),
        (for { c <- si.completionTime; s <- si.submissionTime } yield c - s)
          .getOrElse(-1L),
        m.executorRunTime, si.numTasks,
        m.shuffleReadMetrics.totalBytesRead / 1e6,
        m.shuffleWriteMetrics.bytesWritten / 1e6,
        m.inputMetrics.recordsRead, m.shuffleWriteMetrics.recordsWritten)
      synchronized { stages += stage }
    }

    def clear(): Unit = synchronized { jobs.clear(); stages.clear() }
    def snapshot: (Vector[(Long, Long)], Vector[Stage]) =
      synchronized { (jobs.values.toVector.sortBy(_._1), stages.toVector) }

    /** Listener events are async (listenerBus is private[spark]): wait
      * for a fixed point of the event counts with no job open. */
    def settle(): Unit = {
      def state = synchronized((jobs.size, stages.size, jobs.values.exists(_._2 < 0)))
      var seen = (-1, -1, true)
      var now = state
      while (seen != now || now._3) {
        seen = now; Thread.sleep(200); now = state
      }
    }
  }

  private def codegenMs(): Long =
    org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getSnapshot.getValues.sum

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QueryProfile <sfDir> <q1>[,<q2>...] [passes]")
    val Array(sfDir, names) = args.take(2)
    val passes = args.lift(2).map(_.toInt).getOrElse(2)
    graft.Session.run("graft-query-profile") { spark =>
      val rec = new Recorder
      spark.sparkContext.addSparkListener(rec)
      try {
        graft.Bench.warmUp(spark, sfDir)
        rec.settle()
        for (qname <- names.split(",").map(_.trim).filter(_.nonEmpty); p <- 1 to passes) {
          val fn = graft.SparkEntry.queries(qname)
          rec.clear()
          val cg0 = codegenMs()
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val tBuilt = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val t1 = System.nanoTime()
          rec.settle()
          val (js, stages) = rec.snapshot
          val buildMs = (tBuilt - t0) / 1e6
          val wallMs = (t1 - t0) / 1e6
          // job union (jobs can overlap): sweep in start order
          var jobMs = 0L
          var cursor = Long.MinValue
          js.foreach { case (start, end) =>
            val s = math.max(start, cursor)
            if (end > s) { jobMs += end - s; cursor = end }
            else cursor = math.max(cursor, end)
          }
          val span = if (js.isEmpty) 0L else js.map(_._2).max - js.head._1
          println(f"""{"pass":$p,"query":"$qname","sf":"$sfDir","wall_ms":$wallMs%.0f,"build_ms":$buildMs%.0f,"pre_post_ms":${wallMs - span}%.0f,"job_ms":$jobMs,"gap_ms":${span - jobMs},"n_jobs":${js.size},"n_stages":${stages.size},"n_tasks":${stages.map(_.tasks).sum},"task_ms":${stages.map(_.taskMs).sum},"codegen_ms":${codegenMs() - cg0}}""")
          stages.sortBy(-_.taskMs).take(12).foreach { s =>
            println(f"""  stage ${s.id}%4d task ${s.taskMs / 1000.0}%8.1fs wall ${s.wallMs / 1000.0}%7.1fs shufR ${s.shufReadMB}%8.1fMB shufW ${s.shufWriteMB}%8.1fMB inRec ${s.inRecords}%12d outRec ${s.outRecords}%12d  ${s.name}%s""")
          }
          graft.Session.sweep(spark)
        }
      } finally spark.sparkContext.removeSparkListener(rec)
    }
  }
}
