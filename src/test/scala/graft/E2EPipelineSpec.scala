package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.batch.Collector
import graft.core.Schemas
import graft.replay.Replay
import graft.replay.Replay.{FileExchange, ReplayConfig}
import graft.streaming.Ingest

/** SURVEY §5.2.5 end-to-end micro-pipeline: KETI-style raw files →
  * batch ETL → parquet → replay producer → (file) exchange → streaming
  * DSV decode → per-room aggregate, asserting the streamed result
  * equals the batch-computed answer.
  */
class E2EPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(p: String) =
    Files.createTempDirectory(Paths.get("target"), p).toString

  test("raw files → ETL → replay → stream decode → query parity") {
    // 1. fixture tree (two rooms, multi-minute, aligned timestamps)
    val root = tmp("e2e_keti_")
    def write(room: String, file: String, rows: Seq[(Long, Double)]): Unit = {
      val d = Paths.get(root, room)
      Files.createDirectories(d)
      Files.writeString(d.resolve(file),
        rows.map { case (t, v) => s"$t,$v" }.mkString("\n"))
    }
    val ts = Seq(1377299041L, 1377299059L, 1377299101L, 1377299161L)
    for (room <- Seq("413", "644")) {
      val base = if (room == "413") 0.0 else 100.0
      write(room, "co2.csv", ts.map(t => t -> (400.0 + base + t % 7)))
      write(room, "light.csv", ts.map(t => t -> (100.0 + base)))
      write(room, "temperature.csv", ts.map(t => t -> (20.0 + base / 100)))
      write(room, "humidity.csv", ts.map(t => t -> (50.0 + base / 10)))
      write(room, "pir.csv", ts.map(t => t -> (t % 2).toDouble))
    }

    // 2. batch ETL → merged parquet (the producer's input)
    val merged = Collector.run(spark, root)
    val mergedDir = tmp("e2e_merged_")
    merged.write.mode("overwrite").parquet(mergedDir)

    // 3. replay producer → file exchange, keyed by room, '|' wire
    val cfg = ReplayConfig(input = mergedDir, extension = "parquet",
      kafkaSep = "|", topic = "office-input", keyCol = Some("room"))
    val exchange = new FileExchange(tmp("e2e_exch_"))
    Replay.run(spark, cfg, exchange)

    // 4. streaming ingest over the exchange: DSV decode against the
    //    merged schema, through real micro-batch execution
    val wireStream = spark.readStream
      .schema("key STRING, value STRING")
      .option("recursiveFileLookup", "true")
      .parquet(exchange.topicDir(cfg.topic))
    val decoded = wireStream
      .select(from_csv(col("value"), Schemas.mergedSchema, Map("sep" -> "|")).as("d"))
      .select(col("d.*"))
    val streamed = Ingest.runToMemory(decoded)

    // 5. the streamed table must equal the batch table row-for-row
    val key = Seq("room", "ts_min_bignt")
    val a = streamed.orderBy(key.map(col): _*).collect().toSeq
    val b = merged.orderBy(key.map(col): _*).collect().toSeq
    assert(a.map(_.toSeq) == b.map(_.toSeq))

    // 6. an analytical query over the streamed data matches the batch one
    def roomAvg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("room").agg(avg("co2").as("avg_co2"), count(lit(1)).as("n"))
        .orderBy("room").collect().toSeq
    assert(roomAvg(streamed).map(_.toSeq) == roomAvg(merged).map(_.toSeq))
  }

  test("capstone q_e2e_kafka_es: real-wire topology equals the batch aggregate") {
    val dir = "/root/testdata/sf0.001"
    val viaWire = graft.catalog.Streaming.e2eKafkaEs
      .run(spark, dir)(_.collect()).toSeq
    val batch = graft.core.Tables.events(spark, dir)
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
      .orderBy("hour_epoch", "event_type")
      .collect().toSeq
    assert(viaWire.nonEmpty)
    assert(viaWire.map(_.toSeq) == batch.map(_.toSeq))
  }
}
