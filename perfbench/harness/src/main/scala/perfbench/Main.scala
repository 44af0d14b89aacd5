package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload needs from the run. */
final case class Env(spark: SparkSession, seed: Long, seconds: Int,
    trace: Trace, work: Path, dataDir: String)

/** What a workload hands back.
  *
  * `setupS` is the median of the workload's repeated set-up; `e2e` and
  * `layer` hold the end-to-end and per-layer metrics it measured;
  * `checks` are (name, passed, detail). */
final case class Outcome(attempted: Long, failed: Long, setupS: Double,
    e2e: Seq[(String, Double)], layer: Seq[(String, Double)],
    checks: Seq[(String, Boolean, String)], samples: Seq[(String, Double)])

/** Runs one workload in this JVM and writes its report as JSON.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir>
  *          <report.json> [tables dir]
  */
object Main {
  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = {
    val up = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"[perfbench $up%7.2f s] $msg")
  }

  /** Exits the JVM either way: a failed workload must not leave broker,
    * stub or Spark threads holding the process open. */
  def main(args: Array[String]): Unit = {
    val code =
      try { runOne(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def runOne(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, reportS) = args.take(6)
    val dataDir = args.lift(6).getOrElse("")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = Paths.get(workS).toAbsolutePath
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.graft.spill.dir", work.resolve("spill").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    log("session ready")

    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    val gc0 = gcMs

    val trace = new Trace(traceS == "1", System.currentTimeMillis(), System.nanoTime())
    val env = Env(spark, seedS.toLong, secondsS.toInt, trace, work, dataDir)
    val out = workload match {
      case "room_route_backlog" => RoomRoute.run(env)
      case "catalog_mix" => CatalogMix.run(env)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    log("workload done")
    val gcS = (gcMs - gc0) / 1e3
    val peakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    // live heap once the workload has released its broker, stub and query
    System.gc(); System.gc()
    val mem = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    val liveMb = mem.getUsed / 1048576.0
    // box contention, recorded with every run and never gated on
    val probe = graft.Bench.probeSec()

    log("probe done")
    if (trace.on) trace.write(work.resolve("trace"))
    val e2e = ("setup_s" -> (sessionS + out.setupS)) +: ("heap_live_mb" -> liveMb) +: out.e2e
    val layer = out.layer ++ Seq("jvm.gc_s" -> gcS, "jvm.heap_peak_mb" -> peakMb)
    def nums(xs: Seq[(String, Double)]) = Json.obj(xs.map { case (k, v) => k -> Json.num(v) })
    val report = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seedS,
      "trace" -> traceS,
      "cpus" -> cpus.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "probe_sec" -> Json.num(probe),
      "session_s" -> Json.num(sessionS),
      "e2e" -> nums(e2e),
      "per_layer" -> nums(layer),
      "samples" -> nums(out.samples),
      "self_time" -> trace.selfTime.map { case (l, n, tot, self) =>
        Json.obj(Seq("layer" -> Json.str(l), "spans" -> n.toString,
          "total_ms" -> Json.num(tot), "self_ms" -> Json.num(self)))
      }.mkString("[", ",", "]"),
      "checks" -> out.checks.map { case (n, ok, d) =>
        Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d)))
      }.mkString("[", ",", "]")))
    Files.write(Paths.get(reportS), report.getBytes(StandardCharsets.UTF_8))
    graft.core.Spill.cleanup()
    spark.stop()
  }
}
