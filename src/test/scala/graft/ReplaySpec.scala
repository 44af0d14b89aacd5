package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.replay.Replay
import graft.replay.Replay.{FileExchange, ReplayConfig}

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
}
