package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** Counters fed by a `SparkListener` and a `QueryExecutionListener`;
  * reset before each unit of work. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, gcMs, shuffleWrite, spill = 0L
  var actions = 0L
  val jobSpans = ArrayBuffer.empty[(Long, Long)] // (start, end) epoch ms
  private val open = scala.collection.mutable.Map.empty[Int, Long]

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; taskRunMs = 0; taskCpuNs = 0; gcMs = 0
    shuffleWrite = 0; spill = 0; actions = 0
    jobSpans.clear(); open.clear()
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; open(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { actions += 1 }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { actions += 1 }

  /** Wall time in [t0, t1] covered by no job. */
  def gapMs(t0: Long, t1: Long): Double = synchronized {
    var covered = 0L
    var (a, b) = (-1L, -1L)
    jobSpans.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (a < 0) { a = s; b = e }
        else if (s <= b) b = math.max(b, e)
        else { covered += b - a; a = s; b = e }
      }
    if (a >= 0) covered += b - a
    (t1 - t0 - covered).toDouble
  }
}


/** `catalog_mix`: one client running a fixed list of catalog queries in
  * sequence (a closed loop), each through its `QueryDef` build plus a
  * noop-sink write — the per-query measurement `graft.Bench` makes.
  *
  * The list is the reference's four batch queries, the containment
  * head that sets the pass time and spills through `core.Spill`, and
  * three floor-bound queries (`q_global_rownum` leaves a persisted RDD
  * behind). It exercises `catalog`, `ops`, `functions`, `core.Spill`
  * and Catalyst, which the streaming workloads barely touch.
  *
  * Its set-up is the median of three openings of the ten input
  * tables, after the session start.
  *
  * The first pass writes each result once for the oracle check and is
  * not timed; it is also the warm-up. A fixed number of timed passes
  * follows, one per [[PassSeconds]] of the run's length: a count that
  * depended on speed would mix runs of unequal warmth.
  */
object CatalogMix {
  /** One timed pass per this many seconds of the run's length (3 at
    * 24 s); a warm pass takes about 7.5–8.5 s with Spark on 2 cores. */
  val PassSeconds = 8.0

  val Queries: Seq[String] = Seq(
    "q_multiway_join", "q_group_avg_minute", "q_hourly_stats", "q_dashboard_tiles",
    "q_containment", "q_json_path", "q_global_rownum", "q_stats_exact")

  /** The catalog's ten input tables, read as the queries read them. */
  private val TableReaders: Seq[(SparkSession, String) => DataFrame] = {
    import graft.core.Tables._
    Seq(region, nation, customer, supplier, part, orders, lineitem, events, documents, embeddings)
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def run(env: Env): Outcome = {
    val spark = env.spark
    val tr = env.trace
    val dir = env.dataDir
    val defs = SparkEntry.catalog.map(q => q.name -> q).toMap
    val spillDir = env.work.resolve("spill")
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    val codegen = CodegenMetrics.METRIC_COMPILATION_TIME

    // set-up: the program opens every input table (file listing, parquet
    // footers, schema), three times; Main adds the session start
    val setups = (1 to 3).map { _ =>
      val t = System.nanoTime()
      TableReaders.foreach(read => read(spark, dir).schema)
      (System.nanoTime() - t) / 1e9
    }

    // untimed oracle pass: each result written once, then checked
    // against its oracle SQL in DuckDB by the caller
    val verifyDir = env.work.resolve("verify_out")
    val dumpFailed = ArrayBuffer.empty[String]
    Main.log("oracle pass start")
    Queries.foreach { name =>
      try defs(name).build(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(verifyDir.resolve(name).toString)
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
        dumpFailed += name
      }
      sweep(spark)
    }
    val oracle = Queries.flatMap(n => defs(n).oracle.map(n -> _))
    Files.write(verifyDir.resolve("oracle_sql.json"),
      Json.obj(oracle.map { case (k, v) => k -> Json.str(v) }).getBytes(UTF_8))
    graft.core.Spill.cleanup()
    Main.log("oracle pass done")

    final case class Sample(pass: Int, name: String, wallS: Double, buildS: Double, execS: Double,
        jobs: Long, stages: Long, tasks: Long, gapS: Double, codegenMs: Double,
        jobS: Double, taskRunS: Double, taskCpuS: Double, gcS: Double,
        shuffleMb: Double, spillMb: Double, spillDirMb: Double, leaked: Long, actions: Long,
        ok: Boolean)
    val samples = ArrayBuffer.empty[Sample]
    val passWall = ArrayBuffer.empty[Double]
    val passes = math.max(1, math.round(env.seconds / PassSeconds).toInt)
    for (pass <- 0 until passes) {
      val p0 = System.nanoTime()
      Queries.foreach { name =>
        c.reset()
        val cg0 = codegen.getCount
        val spill0 = dirBytes(spillDir)
        val w0 = System.currentTimeMillis()
        val q0 = System.nanoTime()
        val traceId = s"pass$pass/$name"
        var buildS, execS = 0.0
        var (buildId, execId) = (-1, -1)
        val ok = try {
          tr.span("catalog", name, traceId) { root =>
            val df = tr.span("catalog", "build", traceId, root) { id =>
              buildId = id
              defs(name).build(spark, dir)
            }
            buildS = (System.nanoTime() - q0) / 1e9
            val e0 = System.nanoTime()
            tr.span("catalog", "exec", traceId, root) { id =>
              execId = id
              df.write.format("noop").mode("overwrite").save()
            }
            execS = (System.nanoTime() - e0) / 1e9
          }
          true
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
          false
        }
        val wallS = (System.nanoTime() - q0) / 1e9
        val w1 = System.currentTimeMillis()
        val leaked = spark.sparkContext.getPersistentRDDs.size.toLong + cachedEntries(spark)
        val spillDirMb = (dirBytes(spillDir) - spill0) / 1048576.0
        sweep(spark)
        graft.core.Spill.cleanup()
        val cgMs = (codegen.getCount - cg0) * codegen.getSnapshot.getMean
        c.synchronized {
          // each Spark job as a child of the phase (build or exec) it ran in
          val buildEnd = w0 + (buildS * 1e3).toLong
          c.jobSpans.foreach { case (js, je) =>
            tr.add("spark", "job", traceId, if (js < buildEnd) buildId else execId,
              tr.epochToMs(js), tr.epochToMs(je))
          }
          val jobS = c.jobSpans.map { case (s, e) => e - s }.sum / 1e3
          samples += Sample(pass, name, wallS, buildS, execS, c.jobs, c.stages, c.tasks,
            c.gapMs(w0, w1) / 1e3, cgMs, jobS, c.taskRunMs / 1e3, c.taskCpuNs / 1e9,
            c.gcMs / 1e3, c.shuffleWrite / 1048576.0, c.spill / 1048576.0, spillDirMb, leaked,
            c.actions, ok)
        }
      }
      passWall += (System.nanoTime() - p0) / 1e9
    }
    spark.sparkContext.removeSparkListener(c)
    spark.listenerManager.unregister(c)

    val failedRuns = samples.count(!_.ok)
    // each query's best pass: host contention only ever adds time, so the
    // minimum over passes is the steady estimate (graft.Bench's protocol)
    val best = Queries.map(n => samples.filter(s => s.name == n && s.ok).map(_.wallS).minOption
      .getOrElse(Double.NaN))
    // per pass, summed over its queries, then the median over passes
    def perPass(f: Sample => Double): Double =
      Stats.median(samples.groupBy(_.pass).values.map(_.map(f).sum).toSeq)
    val checks = Seq(
      ("oracle_pass_ran", dumpFailed.isEmpty, s"failed to build: ${dumpFailed.mkString(",")}"),
      ("timed_queries_ran", failedRuns == 0, s"$failedRuns timed executions threw"))
    Outcome(
      attempted = Queries.size + samples.size, failed = dumpFailed.size + failedRuns,
      setupS = Stats.median(setups),
      e2e = Seq(
        "latency_p50_ms" -> 1e3 * Stats.median(best),
        "latency_p75_ms" -> 1e3 * Stats.pct(best, 0.75),
        "throughput_per_s" -> Queries.size / best.sum),
      layer = Seq(
        "catalog.pass_s" -> Stats.median(passWall.toSeq),
        "catalog.build_s" -> perPass(_.buildS),
        "catalog.exec_s" -> perPass(_.execS),
        "catalog.actions" -> perPass(_.actions.toDouble),
        "catalog.jobs" -> perPass(_.jobs.toDouble),
        "catalog.stages" -> perPass(_.stages.toDouble),
        "catalog.tasks" -> perPass(_.tasks.toDouble),
        "catalog.gap_s" -> perPass(_.gapS),
        "catalog.codegen_ms" -> perPass(_.codegenMs),
        "catalog.job_s" -> perPass(_.jobS),
        "catalog.task_run_s" -> perPass(_.taskRunS),
        "catalog.task_cpu_s" -> perPass(_.taskCpuS),
        "catalog.gc_s" -> perPass(_.gcS),
        "catalog.shuffle_write_mb" -> perPass(_.shuffleMb),
        "catalog.spill_mb" -> perPass(_.spillMb),
        "catalog.leaked_persists" -> perPass(_.leaked.toDouble),
        "core.spill_dir_mb" -> perPass(_.spillDirMb)),
      checks = checks,
      samples = passWall.zipWithIndex.map { case (w, i) => s"pass_s.$i" -> w }.toSeq ++
        setups.zipWithIndex.map { case (t, i) => s"setup_open_s.$i" -> t } ++
        Seq("passes" -> passes.toDouble, "query_runs" -> samples.size.toDouble) ++
        Queries.zip(best).map { case (n, b) => s"query_s.$n" -> b } ++
        samples.filter(_.leaked > 0).groupBy(_.name).toSeq.map { case (n, xs) =>
          s"leaked_persists.$n" -> xs.map(_.leaked.toDouble).max })
  }

  /** Cached Datasets in the session's cache manager (the count is
    * `private[sql]` in source but public in bytecode). */
  private def cachedEntries(spark: SparkSession): Long = {
    val cm = spark.sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int].toLong
  }

  /** The between-query sweep `graft.Bench` makes: drop cached Datasets
    * and persisted RDDs a query left behind, then collect garbage. */
  private def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }
}
