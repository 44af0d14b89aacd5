package graft.cli

import java.nio.file.{Files, Paths, Path}

import org.apache.spark.sql.SparkSession

/** Kill-resume soak: SIGKILL a streaming-dedup JVM at ≥5M RocksDB
  * state rows mid-run and prove the restart resumes from the
  * checkpoint with ROW-EXACT output against the feeder's ledger.
  *
  * The r13/r14 capacity soaks proved throughput holds as dedup state
  * grows to 6M+ keys; this profile proves the state is RECOVERABLE —
  * the property a 1000-executor pipeline actually banks on when an
  * executor or driver dies at full state. Architecture: this
  * orchestrator process runs the FEEDER (so ingest never pauses while
  * the query JVM is dead — the kill window loses no source data) and
  * spawns the streaming query as a CHILD JVM ([[SoakKillChild]]):
  * parquet source → `dropDuplicates(key)` on the RocksDB state store →
  * exactly-once parquet FILE SINK (manifest-committed, so a batch torn
  * by the SIGKILL either commits atomically or replays). The feeder's
  * fresh keys are the consecutive longs 0..N−1 and re-emissions are
  * sampled only from the already-minted range, so the ledger is exact
  * by construction: the deduped output must be EXACTLY one row per
  * minted key — `count == countDistinct == N`. The orchestrator
  * `destroyForcibly()`s (SIGKILL — no shutdown hooks, no stop()) the
  * child once the output passes 5M distinct keys, keeps feeding
  * through the outage, restarts the child off the same checkpoint,
  * stops the feeder, waits for drain, and reconciles.
  *
  * Run by hand: tools/run.sh graft.cli.SoakKill
  * Appends a `highcard_dedup_kill_resume` profile line to
  * target/soak_report.json.
  */
object SoakKill {

  private def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
      finally s.close()
    }

  // driver-side session: feeder writes + output polling only
  def main(args: Array[String]): Unit =
    graft.Session.run("soak-kill-driver", cpus = 8)(soak)

  private def soak(spark: SparkSession): Unit = {
    val base = Files.createTempDirectory(Paths.get("target"), "soakkill_")
    val src = base.resolve("src"); Files.createDirectories(src)
    val chk = base.resolve("chk")
    val out = base.resolve("out")
    import spark.implicits._

    // feeder: ~40k fresh keys + ~4.5k re-emissions per tick; the
    // ledger is `minted` — fresh keys are 0..minted-1 exactly
    @volatile var feeding = true
    @volatile var minted = 0L
    val feeder = new Thread(() => {
      val rnd = new scala.util.Random(20260816L)
      while (feeding) {
        val base0 = minted
        val fresh = (0L until 40500L).map(base0 + _)
        val dups = (0 until 4500).map { _ =>
          if (base0 == 0L) 0L else math.abs(rnd.nextLong()) % (base0 + 40500L) }
        (fresh ++ dups).toDF("key").coalesce(1)
          .write.mode("append").parquet(src.toString)
        minted = base0 + 40500L
        Thread.sleep(450)
      }
    }, "soakkill-feeder")
    feeder.setDaemon(true)

    // child JVM: same classpath + --add-opens as this one
    def spawnChild(): Process = {
      val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java")
        .toString
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray.map(_.toString)
        .filter(a => a.startsWith("--add-opens") || a.startsWith("--add-exports"))
      val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq(
        "-Xmx8g", "-cp", System.getProperty("java.class.path"),
        "graft.cli.SoakKillChild",
        src.toString, chk.toString, out.toString)).toArray
      new ProcessBuilder(cmd: _*).inheritIO().start()
    }

    def outDistinct(): (Long, Long) = {
      // committed-manifest read: only batches the FILE SINK committed
      val files = out.resolve("_spark_metadata")
      if (!Files.exists(files)) (0L, 0L)
      else try {
        val df = spark.read.parquet(out.toString)
        (df.count(), df.select("key").distinct().count())
      } catch { case _: Exception => (0L, 0L) }
    }

    val t0 = System.nanoTime()
    feeder.start()
    var child = spawnChild()
    println("[soakkill] child started; feeding toward 5M distinct keys")
    var killedAtRows = 0L
    var killedAtStateBytes = 0L
    // poll until the committed output passes the 5M bar, then SIGKILL
    var rows = 0L
    while (rows < 5000000L) {
      Thread.sleep(10000)
      rows = outDistinct()._1
      println(f"[soakkill] committed output rows: $rows%,d " +
        f"(minted ${minted}%,d, state ${du(chk.resolve("state")) / 1e6}%.0f MB)")
      if (!child.isAlive) sys.error("child died before the kill point")
    }
    killedAtRows = rows
    killedAtStateBytes = du(chk.resolve("state"))
    val mintedAtKill = minted
    child.destroyForcibly() // SIGKILL: no stop(), no shutdown hooks
    child.waitFor()
    println(f"[soakkill] SIGKILLed child at $killedAtRows%,d committed rows, " +
      f"state ${killedAtStateBytes / 1e6}%.0f MB on disk")
    // outage window: the feeder keeps minting while no query runs
    Thread.sleep(5000)
    val mintedDuringOutage = minted
    child = spawnChild()
    println("[soakkill] child restarted from the RocksDB checkpoint")
    Thread.sleep(15000) // let the resume settle under continued feed
    feeding = false
    feeder.join(5000)
    // the ledger is only final once the feeder's last minted update has
    // landed; a timed-out join would freeze `ledger` short of the true
    // key count and make the drain equality unreachable
    if (feeder.isAlive) sys.error("feeder still alive after join timeout")
    val ledger = minted
    // drain: output must converge to EXACTLY the ledger
    val deadline = System.nanoTime() + 600L * 1000000000L
    var (cnt, dst) = (0L, 0L)
    while ((cnt != ledger || dst != ledger) && System.nanoTime() < deadline) {
      Thread.sleep(5000)
      val cd = outDistinct(); cnt = cd._1; dst = cd._2
      println(f"[soakkill] drain: rows $cnt%,d / distinct $dst%,d / ledger $ledger%,d")
      if (!child.isAlive) sys.error("child died during drain")
    }
    child.destroyForcibly(); child.waitFor()
    val elapsed = (System.nanoTime() - t0) / 1e9
    val exact = cnt == ledger && dst == ledger
    val report =
      f"""{"profile":"highcard_dedup_kill_resume","soak_sec":$elapsed%.0f,""" +
        f""""ledger_keys":$ledger,"out_rows":$cnt,"out_distinct":$dst,""" +
        f""""killed_at_rows":$killedAtRows,""" +
        f""""killed_at_state_bytes":$killedAtStateBytes,""" +
        f""""minted_during_outage":${mintedDuringOutage - mintedAtKill},""" +
        f""""row_exact":$exact}"""
    Files.write(Paths.get("target", "soak_report.json"),
      ("\n" + report + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    println(s"[soakkill] $report")
    if (!exact) sys.error(
      s"NOT row-exact after kill-resume: rows=$cnt distinct=$dst ledger=$ledger")
  }
}

/** The streaming-dedup JVM [[SoakKill]] SIGKILLs: parquet source →
  * dropDuplicates on RocksDB → exactly-once parquet file sink. Runs
  * until killed.
  */
object SoakKillChild {
  def main(args: Array[String]): Unit = {
    val Array(src, chk, out) = args
    graft.Session.run("soak-kill-child", cpus = 16) { spark =>
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val q = spark.readStream
        .schema("key BIGINT")
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", "8")
        .parquet(src)
        .dropDuplicates("key")
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("500 milliseconds"))
        .start()
      q.awaitTermination()
    }
  }
}
