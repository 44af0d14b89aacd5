package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, concat, from_json, lit}
import org.apache.spark.sql.streaming.Trigger

import graft.core.Schemas
import graft.kafka.{KafkaStubBroker, KafkaWireClient, KafkaWireExchange}
import graft.replay.Replay
import graft.streaming.{EsHttpStore, EsStub}

/** `room_route_backlog`: the reference's `dataframe_to_kafka.py` →
  * `kafka_to_es.py` path over a backlog, in rounds.
  *
  * Each round `Replay.run` publishes a seeded 34,890-row, 51-room
  * `merged_sensor_data_grouped`-shaped CSV through `KafkaWireExchange`,
  * keyed by room, JSON wire, [[Repeat]] times. Then an AvailableNow
  * `kafka-wire` stream capped at [[MaxPerTrigger]] rows per batch drains
  * the topic into `EsHttpStore.appendRouted`, one `room-*` index per
  * room. Per-row cost (fetch, decode, JSON encode, bulk NDJSON, stub
  * ingest) dominates, and the publish writes through the same `kafka`
  * layer the drain reads. Each round runs on a fresh broker and stub;
  * their number follows from the run's length.
  */
object RoomRoute {
  val SourceRows = 34890
  val Repeat = 2
  val MaxPerTrigger = 17500L
  val Partitions = 3
  /** A run makes one round per this many seconds of its length (5 at
    * 24 s); a warm round takes about 3.5–5 s with Spark on 2 cores. */
  val RoundSeconds = 4.8

  /** Write the seeded source CSV; returns rows per room. */
  def writeCsv(path: Path, seed: Long, rooms: IndexedSeq[String]): Map[String, Long] = {
    val rnd = new scala.util.Random(seed)
    val minute = Array.fill(rooms.size)(1377299040L + 60L * rnd.nextInt(1000))
    val counts = Array.fill(rooms.size)(0L)
    val sb = new StringBuilder("event_ts_min,ts_min_bignt,room,timestamp,co2,light,temp,humidity,pir\n")
    for (_ <- 0 until SourceRows) {
      val r = rnd.nextInt(rooms.size)
      minute(r) += 60
      counts(r) += 1
      val m = minute(r)
      val iso = java.time.Instant.ofEpochSecond(m).toString.replace("T", " ").stripSuffix("Z")
      sb ++= f"$iso,$m,${rooms(r)},${m + rnd.nextInt(60)}.0,${300 + rnd.nextInt(900)}.0," +
        f"${rnd.nextInt(2400)}.0,${20 + rnd.nextDouble() * 5}%.2f,${42 + rnd.nextDouble() * 29}%.2f," +
        f"${rnd.nextInt(31)}.0\n"
    }
    Files.write(path, sb.toString.getBytes(UTF_8))
    rooms.indices.map(i => rooms(i) -> counts(i)).toMap
  }

  final case class Round(publishS: Double, drainS: Double, rows: Long, jobs: Long,
      bulk: Long, docs: Long, missing: Long, duplicate: Long,
      batches: Seq[BatchProgress], esMs: Map[Long, Double])

  def run(env: Env): Outcome = {
    val spark = env.spark
    val tr = env.trace
    val rooms = Streams.rooms(env.seed)
    val csv = env.work.resolve("merged_sensor_data_grouped.csv")
    val setups = ArrayBuffer.empty[Double]
    var perRoom = Map.empty[String, Long]
    for (k <- 1 to 3) {
      val t = System.nanoTime()
      perRoom = writeCsv(csv, env.seed, rooms)
      val broker = new KafkaStubBroker(Partitions)
      broker.start()
      val stub = new EsStub()
      stub.start()
      val c = new KafkaWireClient("127.0.0.1", broker.port)
      c.metadata(Seq("rooms"))
      setups += (System.nanoTime() - t) / 1e9
      c.close(); broker.stop(); stub.stop()
    }
    Main.log("set-up done")
    val progress = new ProgressLog
    val jobs = new SparkCounters
    spark.streams.addListener(progress)
    spark.sparkContext.addSparkListener(jobs)
    // one untraced full-size round first, so JIT and codegen warm-up is
    // not measured; after a half-size one, the first measured round's
    // batches were still the slowest of the run and set its p75
    round(env.copy(trace = Trace.off), -1, Repeat, csv, rooms, perRoom, progress, jobs)
    Main.log("warm-up round done")
    val rounds = (0 until math.max(1, math.round(env.seconds / RoundSeconds).toInt))
      .map(n => round(env, n, Repeat, csv, rooms, perRoom, progress, jobs))
    Main.log(s"${rounds.size} rounds done")
    spark.streams.removeListener(progress)
    spark.sparkContext.removeSparkListener(jobs)

    val expected = SourceRows.toLong * Repeat
    val checks = rounds.zipWithIndex.flatMap { case (r, i) => Seq(
      (s"round$i.published", r.rows == expected, s"${r.rows} rows on the topic, $expected expected"),
      (s"round$i.docs_per_room", r.missing == 0 && r.duplicate == 0,
        s"${r.docs} docs, ${r.missing} missing, ${r.duplicate} duplicate")) }
    val failed = rounds.map(r => r.missing + r.duplicate + math.abs(expected - r.rows)).sum
    val bs = rounds.flatMap(_.batches)
    val esMs = rounds.flatMap(_.esMs).toMap
    val trig = bs.map(_.trigger)
    def med(f: Round => Double) = Stats.median(rounds.map(f))
    Outcome(
      attempted = rounds.map(_.rows).sum, failed = failed, setupS = Stats.median(setups.toSeq),
      e2e = Seq(
        "latency_p50_ms" -> Stats.median(trig),
        "latency_p75_ms" -> Stats.pct(trig, 0.75),
        "throughput_per_s" -> med(r => r.rows / (r.publishS + r.drainS))),
      layer = Streams.batchMetrics(bs, esMs) ++ Seq(
        "kafka.publish_s" -> med(_.publishS),
        "replay.rows_published" -> med(_.rows.toDouble),
        "replay.jobs" -> med(_.jobs.toDouble),
        "replay.publish_rows_per_s" -> med(r => r.rows / r.publishS),
        "streaming.drain_rows_per_s" -> med(r => r.rows / r.drainS),
        "esbulk.bulk_requests" -> med(_.bulk.toDouble),
        "esbulk.docs_indexed" -> med(_.docs.toDouble),
        "esbulk.docs_per_request" -> med(r => r.docs.toDouble / math.max(1L, r.bulk)),
        "esbulk.missing_docs" -> rounds.map(_.missing).sum.toDouble,
        "esbulk.duplicate_docs" -> rounds.map(_.duplicate).sum.toDouble),
      checks = checks,
      samples = Seq("rounds" -> rounds.size.toDouble, "drain_batches" -> bs.size.toDouble,
        "rows_per_round" -> expected.toDouble))
  }

  private def round(env: Env, n: Int, repeat: Int, csv: Path, rooms: IndexedSeq[String],
      perRoom: Map[String, Long], progress: ProgressLog, jobs: SparkCounters): Round = {
    val spark = env.spark
    val tr = env.trace
    val broker = new KafkaStubBroker(Partitions)
    broker.start()
    val stub = new EsStub()
    stub.start()
    try {
      val topic = "rooms"
      val id = s"round-$n"
      val cfg = Replay.ReplayConfig(input = csv.toString, topic = topic, repeat = repeat,
        keyCol = Some("room"), wireFormat = "json")
      val kx = new KafkaWireExchange("127.0.0.1", broker.port)
      val jobs0 = jobs.synchronized(jobs.jobs)
      val p0 = System.nanoTime()
      tr.span("replay", "run", id) { parent =>
        val exchange = new Replay.Exchange {
          def publish(wire: DataFrame, c: Replay.ReplayConfig, after: Int => Unit): Unit =
            tr.span("kafka", "publish", id, parent)(_ => kx.publish(wire, c, after))
          def read(s: SparkSession, t: String): DataFrame = kx.read(s, t)
        }
        Replay.run(spark, cfg, exchange)
      }
      val publishS = (System.nanoTime() - p0) / 1e9
      val publishJobs = jobs.synchronized(jobs.jobs) - jobs0
      val rows = (0 until Partitions).map(broker.highWatermark(topic, _)).sum

      val store = new EsHttpStore(stub.baseUrl, "", "room", Seq("timestamp"), "timestamp",
        Schemas.mergedSchema)
      require(store.healthCheck(), "sink preflight failed")
      val acks = new ConcurrentHashMap[Long, (Double, Double)]()
      progress.clear()
      val d0 = System.nanoTime()
      val q = spark.readStream.format("kafka-wire")
        .option("host", "127.0.0.1").option("port", broker.port.toString)
        .option("topic", topic).option("maxOffsetsPerTrigger", MaxPerTrigger.toString).load()
        .select(from_json(col("value").cast("string"), Schemas.mergedSchema).as("d"))
        .select("d.*")
        .withColumn("es_index", concat(lit("room-"), col("room")))
        .writeStream
        .foreachBatch { (b: Dataset[Row], bid: Long) =>
          val s = tr.nowMs
          store.appendRouted(b.toDF(), "es_index")
          acks.put(bid, (s, tr.nowMs))
          ()
        }
        .option("checkpointLocation", Files.createTempDirectory(env.work, "chk-rooms-").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val drainS = (System.nanoTime() - d0) / 1e9
      // the last progress event can trail termination by a moment
      val deadline = System.nanoTime() + 5000000000L
      while (progress.batches.map(_.rows).sum < rows && System.nanoTime() < deadline)
        Thread.sleep(10)
      // batch ids restart each round; keep them unique across the run
      val key = (b: Long) => n * 100000L + b
      val bs = progress.batches.map(b => b.copy(id = key(b.id)))
      val ack = acks.asScala.toMap.map { case (b, v) => key(b) -> v }
      Streams.traceBatches(tr, bs, ack)

      val byIndex = stub.snapshot("").groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
      val want = perRoom.map { case (r, c) => s"room-$r" -> c * repeat }
      val missing = want.map { case (k, c) => math.max(0L, c - byIndex.getOrElse(k, 0L)) }.sum
      val duplicate = byIndex.map { case (k, c) => math.max(0L, c - want.getOrElse(k, 0L)) }.sum
      Round(publishS, drainS, rows, publishJobs, stub.bulkRequests.get(), byIndex.values.sum,
        missing, duplicate, bs, bs.flatMap(b => ack.get(b.id).map { case (s, e) => b.id -> (e - s) }).toMap)
    } finally {
      broker.stop(); stub.stop()
    }
  }
}
