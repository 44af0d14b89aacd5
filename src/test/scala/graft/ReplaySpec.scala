package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftSqlTestBridge, SparkSession}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.kafka.{KafkaStubBroker, KafkaWireExchange}
import graft.replay.Replay
import graft.replay.Replay.{FileExchange, ReplayConfig}
import graft.streaming.Service

/** Replay-producer semantics (`dataframe_to_kafka.py` CLI surface):
  * dropna, column exclusion, keyed wire encoding, repeat, shuffle.
  */
class ReplaySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val input = {
    val f = Files.createTempFile(Paths.get("target"), "replay_", ".csv")
    Files.writeString(f,
      """room,co2,pir
        |413,400.5,0
        |644,,1
        |656A,410.25,2""".stripMargin)
    f.toString
  }

  test("dropna + exclusion + keyed DSV encode + repeat") {
    val cfg = ReplayConfig(input = input, kafkaSep = "|", repeat = 2,
      keyCol = Some("room"), excluded = Seq("pir"))
    val exchange = new FileExchange(
      Files.createTempDirectory(Paths.get("target"), "exch_").toString)
    Replay.run(spark, cfg, exchange)
    val out = exchange.read(spark, cfg.topic).collect()
    // 3 rows - 1 null row = 2, × repeat 2 = 4
    assert(out.length == 4)
    val values = out.map(_.getAs[String]("value")).toSet
    assert(values == Set("413|400.5", "656A|410.25"))
    val keys = out.map(_.getAs[String]("key")).toSet
    assert(keys == Set("413", "656A"))
  }

  test("index key mode (reference -k 1000 sentinel) yields unique keys") {
    val cfg = ReplayConfig(input = input, keyCol = None, excluded = Seq("pir"))
    val wire = Replay.encode(Replay.transform(Replay.readSource(spark, cfg), cfg), cfg)
    val keys = wire.collect().map(_.getAs[String]("key"))
    assert(keys.distinct.length == keys.length)
  }

  test("deterministic shuffle is a permutation and reproducible") {
    val cfg = ReplayConfig(input = input, shuffle = true, excluded = Seq("pir"))
    val a = Replay.transform(Replay.readSource(spark, cfg), cfg).collect().toSeq
    val b = Replay.transform(Replay.readSource(spark, cfg), cfg).collect().toSeq
    assert(a == b)
    assert(a.map(_.getAs[String]("room")).toSet == Set("413", "656A"))
  }

  test("a CSV replay leaves the parquet nanos conf as a concurrent query set it") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    val files = new FileExchange(
      Files.createTempDirectory(Paths.get("target"), "exch_conf_").toString)
    // sets the key mid-publish, as Tables.eventsRaw does on a
    // session the replay shares
    val exchange = new Replay.Exchange {
      def publish(wire: DataFrame, cfg: ReplayConfig, afterWrite: Int => Unit): Unit = {
        spark.conf.set(key, "true")
        files.publish(wire, cfg, afterWrite)
      }
      def read(s: SparkSession, topic: String): DataFrame = files.read(s, topic)
    }
    try {
      spark.conf.unset(key)
      Replay.run(spark, ReplayConfig(input = input, excluded = Seq("pir")), exchange)
      assert(spark.conf.getOption(key).contains("true"))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("kill-and-resume publish is exactly-once: no duplicate or torn batch") {
    val cfg = ReplayConfig(input = input, repeat = 3, excluded = Seq("pir"),
      keyCol = Some("room"))
    val exchange = new FileExchange(
      Files.createTempDirectory(Paths.get("target"), "exch_eo_").toString)
    val wire = Replay.encode(Replay.transform(Replay.readSource(spark, cfg), cfg), cfg)
    // first attempt dies in the torn-batch window: batch 2's data is on
    // disk but its commit marker is not
    val boom = intercept[RuntimeException] {
      exchange.publish(wire, cfg,
        afterWrite = r => if (r == 2) throw new RuntimeException("kill"))
    }
    assert(boom.getMessage == "kill")
    // resume: batch 1 skipped (committed), torn batch 2 overwritten,
    // batch 3 published — the topic holds each batch exactly once
    exchange.publish(wire, cfg)
    val out = exchange.read(spark, cfg.topic)
    assert(out.count() == 2L * 3)  // 2 wire rows per batch x 3 batches
    assert(out.select("batch").distinct().count() == 3)
    val perBatch = out.groupBy("batch").count().collect()
      .map(_.getAs[Long]("count")).toSet
    assert(perBatch == Set(2L), s"torn/duplicated batch: $perBatch")
  }

  /** A 34,890-row, 51-room sensor CSV (the reference backlog's shape). */
  private lazy val backlog = {
    val rnd = new scala.util.Random(7)
    val sb = new StringBuilder("ts_min_bignt,room,co2,temp,pir\n")
    (0 until 34890).foreach { i =>
      sb ++= s"${1377299040L + 60L * i},${400 + rnd.nextInt(51)},${300 + rnd.nextInt(900)}.0," +
        s"${20 + rnd.nextInt(500) / 100.0},${rnd.nextInt(31)}.0\n"
    }
    val f = Files.createTempFile(Paths.get("target"), "backlog_", ".csv")
    Files.writeString(f, sb.toString)
    f.toString
  }

  /** Records read by stages that scan a file, while `body` runs. */
  private def fileScanRows(body: => Unit): Long = {
    val sc = spark.sparkContext
    val rows = new AtomicLong
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name.startsWith("FileScanRDD")))
          rows.addAndGet(e.stageInfo.taskMetrics.inputMetrics.recordsRead)
    }
    GraftTestBridge.awaitListeners(sc)
    sc.addSparkListener(listener)
    try body
    finally {
      GraftTestBridge.awaitListeners(sc)
      sc.removeSparkListener(listener)
    }
    rows.get
  }

  /** (partition, offset, key, value) of the whole topic, in log order. */
  private def log(kx: KafkaWireExchange, topic: String): Seq[(Int, Long, String, String)] =
    kx.read(spark, topic).collect().toSeq
      .map(r => (r.getAs[Int]("partition"), r.getAs[Long]("offset"),
        r.getAs[String]("key"), r.getAs[String]("value")))
      .sortBy(r => (r._1, r._2))

  test("a repeated publish parses its CSV twice, not once per pass, and publishes the same log") {
    val cfg = ReplayConfig(input = backlog, topic = "rooms", repeat = 2,
      keyCol = Some("room"), wireFormat = "json")
    Service.using(new KafkaStubBroker(3), new KafkaStubBroker(3)) { (a, b) =>
      val pinned = new KafkaWireExchange("127.0.0.1", a.port)
      val plain = new KafkaWireExchange("127.0.0.1", b.port)
      val read = fileScanRows(Replay.run(spark, cfg, pinned))
      // schema inference reads the header line as a record too
      assert(math.round(read / 34890.0) == 2, s"$read file-scan records")
      plain.publish(Replay.encode(Replay.transform(Replay.readSource(spark, cfg), cfg), cfg), cfg)
      val got = log(pinned, cfg.topic)
      assert(got.size == 2 * 34890)
      assert(got == log(plain, cfg.topic))
    }
  }

  test("a repeated publish leaves no persisted RDD or cached frame, also when it fails") {
    val sc = spark.sparkContext
    val cfg = ReplayConfig(input = backlog, repeat = 3, keyCol = Some("room"))
    val files = new FileExchange(Files.createTempDirectory(Paths.get("target"), "exch_pin_").toString)
    def check(run: => Unit): Unit = {
      val (rdds, cached, blocks) =
        (sc.getPersistentRDDs.keySet, GraftSqlTestBridge.cachedEntries(spark),
          GraftTestBridge.rddIdsWithBlocks(sc))
      run
      assert(sc.getPersistentRDDs.keySet == rdds)
      assert(GraftSqlTestBridge.cachedEntries(spark) == cached)
      eventually(timeout(30.seconds), interval(100.millis)) {
        assert((GraftTestBridge.rddIdsWithBlocks(sc) -- blocks).isEmpty)
      }
    }
    check(Replay.run(spark, cfg, files))
    assert(files.read(spark, cfg.topic).count() == 3L * 34890)
    val failing = new Replay.Exchange {
      def publish(wire: DataFrame, c: ReplayConfig, afterWrite: Int => Unit): Unit =
        files.publish(wire, c.copy(topic = "failing"),
          r => if (r == 2) throw new IllegalStateException("kill"))
      def read(s: SparkSession, topic: String): DataFrame = files.read(s, topic)
    }
    check {
      val e = intercept[IllegalStateException](Replay.run(spark, cfg, failing))
      assert(e.getMessage == "kill")
    }
  }
}
