package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

/** Multi-batch contract sweep: EVERY stateful memory-sink streaming
  * query in the catalog must produce the same final result whether the
  * events table arrives as one micro-batch (the catalog/oracle shape)
  * or paced as three time-ordered micro-batches — the cadence a real
  * deployment actually sees. Round-6 review caught two queries
  * (mapstate counts, tws summary) silently assuming single-batch
  * input; this spec pins the whole family so the assumption cannot
  * creep back in.
  *
  * In-order pacing is the contract here (files split on sorted event
  * time, so no cross-batch late data): out-of-order arrival WITHIN the
  * watermark is pinned separately with hand-built feeds in
  * SessionTimersSpec / StreamAsOfSpec, and late-data EVICTION in
  * q_stream_late_drop's two-wave oracle.
  *
  * The same queries scope their conf overrides to sessions they own:
  * state-sized shuffle partitions and the RocksDB state store must
  * never show on the session that built them, not even mid-run —
  * another thread planning on that session would pick them up.
  */
class StreamingPacedSweepSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  /** sf0.001 with events split into three time-ordered files (and the
    * customer dim copied for the stream-static join).
    */
  private lazy val pacedDir: String = {
    val dir = Files.createTempDirectory(Paths.get("target"), "paced_sf_").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .orderBy("ts", "event_id")
      .withColumn("rn", monotonically_increasing_id())
    val n = ev.count()
    (0 until 3).foreach { k =>
      val part = ev.filter(col("rn") >= k * n / 3 && col("rn") < (k + 1) * n / 3)
        .drop("rn")
      val scratch = s"$dir/scratch_$k"
      part.coalesce(1).write.parquet(scratch)
      val f = new java.io.File(scratch).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, Paths.get(dir, s"events_$k.parquet"))
    }
    Files.copy(Paths.get(s"$sf/customer.parquet"),
      Paths.get(dir, "customer.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  // every memory-sink streaming query over the events stream; excluded
  // by design: q_stream_late_drop and q_stream_incremental (their OWN
  // two-wave/two-run protocols already exercise multiple batches) and
  // the sink queries (keyed-store semantics, pinned multi-batch in
  // StreamingBatchesSpec).
  private val sweep = Seq(
    "q_stream_window_hourly", "q_stream_stream_join", "q_stream_dedup",
    "q_stream_session_window", "q_stream_session_timers",
    "q_stream_tws_summary", "q_stream_left_outer", "q_stream_full_outer",
    "q_stream_chained_agg",
    "q_stream_asof_join", "q_stream_mapstate_counts", "q_stream_semi_join",
    "q_stream_static_join")

  /** Counts the micro-batches that read input, across the streaming
    * queries started while it is registered on the caller's session.
    */
  private final class BatchCounter extends StreamingQueryListener {
    val started, terminated, nonEmpty = new AtomicInteger
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      started.incrementAndGet()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) nonEmpty.incrementAndGet()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.incrementAndGet()

    /** Wait for the asynchronous progress events of every started query. */
    def settle(): Unit = {
      val deadline = System.nanoTime() + 30L * 1000000000L
      while ((started.get() == 0 || terminated.get() < started.get()) &&
          System.nanoTime() < deadline)
        Thread.sleep(20)
    }
  }

  sweep.foreach { name =>
    test(s"$name: paced 3-batch run equals single-batch run") {
      val qd = SparkEntry.catalog.find(_.name == name)
        .getOrElse(fail(s"$name not in catalog"))
      val single = qd.run(spark, sf)(_.collect()).map(_.toSeq).toSeq
      val batches = new BatchCounter
      spark.streams.addListener(batches)
      spark.conf.set("spark.graft.stream.maxFilesPerTrigger", "1")
      val paced =
        try qd.run(spark, pacedDir)(_.collect()).map(_.toSeq).toSeq
        finally {
          spark.conf.unset("spark.graft.stream.maxFilesPerTrigger")
          batches.settle()
          spark.streams.removeListener(batches)
        }
      assert(paced.nonEmpty, s"$name produced no rows")
      assert(batches.nonEmpty.get >= 2,
        s"$name read its input in ${batches.nonEmpty.get} micro-batch(es): not paced")
      assert(paced == single, s"$name diverges under paced micro-batches")
    }
  }

  test("q_stream_tws_summary never writes its caller's session conf") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass")
    def snapshot(): Seq[Option[String]] = keys.map(spark.conf.getOption)
    val before = snapshot()
    var seen = Set.empty[Seq[Option[String]]]
    var polls = 0
    val done = new AtomicBoolean(false)
    val poller = new Thread(() => while (!done.get()) {
      seen += snapshot()
      polls += 1
      Thread.sleep(1)
    })
    poller.start()
    try {
      val qd = SparkEntry.catalog.find(_.name == "q_stream_tws_summary").get
      qd.run(spark, sf)(_.write.format("noop").mode("overwrite").save())
    } finally {
      done.set(true)
      poller.join()
    }
    assert(polls > 100, s"poller ran only $polls times")
    assert(seen == Set(before),
      s"caller conf changed mid-run: ${(seen - before).mkString(", ")}")
  }
}
