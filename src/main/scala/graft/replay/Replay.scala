package graft.replay

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Codecs, Pins}

/** The replay producer (`dataframe_to_kafka.py`; SURVEY.md §3.2) as a
  * Spark job. Mirrors the reference CLI surface
  * (`dataframe_to_kafka.py:129-154`) in [[ReplayConfig]]:
  *
  *   -i input · -s sep · -e extension · -ks kafkaSep · -rst sleep ·
  *   -t topic · -b bootstrap · -r repeat · -shf shuffle · -k key ·
  *   -exc excluded
  *
  * Differences by design (SURVEY §2.7 T6/T7): pacing is per-BATCH, not
  * per-row-with-sync-flush (the reference's 0.5 s/row × 34,890 rows ≈
  * 4.85 h replay is a producer anti-pattern, not a semantic); the
  * shuffle is a deterministic md5-keyed permutation instead of an
  * unseeded `.sample(frac=1)` so replays are reproducible.
  *
  * The transport is pluggable: [[toKafka]] needs the Kafka connector on
  * the classpath (string-form `format("kafka")`, no compile-time dep);
  * [[FileExchange]] is the zero-egress stand-in used by tests — same
  * (key, value) contract, files instead of a broker.
  */
object Replay {

  final case class ReplayConfig(
      input: String,
      sep: String = ",",
      extension: String = "csv",
      kafkaSep: String = ",",
      batchSleepMs: Long = 0L,
      topic: String = "test1",
      bootstrap: String = "localhost:9092",
      repeat: Int = 1,
      shuffle: Boolean = false,
      keyCol: Option[String] = None,
      excluded: Seq[String] = Nil,
      // "dsv" = the reference producer's turn_df_to_str path; "json" =
      // its README json.dumps demo. A JSON consumer reading a DSV wire
      // (or vice versa) PERMISSIVE-decodes to all-null rows — producer
      // and consumer must agree, exactly as with the reference.
      wireFormat: String = "dsv")

  /** S3/S4: read the source file per `-e`. */
  def readSource(spark: SparkSession, cfg: ReplayConfig): DataFrame =
    cfg.extension match {
      case "csv" =>
        spark.read.option("header", "true").option("sep", cfg.sep)
          .option("inferSchema", "true").csv(cfg.input)
      case "parquet" =>
        // Spark 4 refuses TIMESTAMP(NANOS) parquet outright; read nanos
        // as raw longs (same convention as core.Tables.events) — the
        // wire encoding serializes them verbatim either way. SESSION
        // SIDE EFFECT: the conf stays set until the plan executes (the
        // scan consults it at execution, not here); [[run]] restores it
        // after publishing.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.read.parquet(cfg.input)
      case other => throw new IllegalArgumentException(s"unsupported extension: $other")
    }

  /** P2 (dropna) → P1 (column exclusion) → P6 (deterministic shuffle). */
  def transform(df: DataFrame, cfg: ReplayConfig): DataFrame = {
    val cleaned = df.na.drop().drop(cfg.excluded: _*)
    if (cfg.shuffle)
      cleaned.orderBy(md5(concat_ws("",
        cleaned.columns.map(c => col(c).cast("string")).toSeq: _*)))
    else cleaned
  }

  /** F4/F7/F8: encode to the (key, value) wire pair per `wireFormat`. */
  def encode(df: DataFrame, cfg: ReplayConfig): DataFrame =
    df.select(
      Codecs.kafkaKey(cfg.keyCol).as("key"),
      (cfg.wireFormat match {
        case "dsv"  => Codecs.dsvEncode(df, cfg.kafkaSep)
        case "json" => Codecs.jsonEncode(df)
        case other  => throw new IllegalArgumentException(s"unsupported wire format: $other")
      }).as("value"))

  /** K2: Kafka sink (requires the spark-sql-kafka connector jar). */
  def toKafka(wire: DataFrame, cfg: ReplayConfig): Unit =
    wire.write.format("kafka")
      .option("kafka.bootstrap.servers", cfg.bootstrap)
      .option("topic", cfg.topic)
      .save()

  /** Pluggable wire transport: the producer publishes the (key, value)
    * frame, a consumer reads it back. Two implementations — the
    * file-backed stand-in ([[FileExchange]]) and the real-bytes Kafka
    * protocol path ([[graft.kafka.KafkaWireExchange]]).
    */
  trait Exchange {
    /** @param afterWrite test seam after each repeat's write — crash
      *                   injection models the torn/duplicate window
      */
    def publish(wire: DataFrame, cfg: ReplayConfig,
        afterWrite: Int => Unit = _ => ()): Unit
    def read(spark: SparkSession, topic: String): DataFrame
  }

  /** Local transport: repeat `r` lands as partition dir
    * `root/topic=<topic>/batch=<r>`. Batch-level pacing + progress/ETA
    * reporting (the reference's `-rst` and progress lines,
    * `dataframe_to_kafka.py:101-109`).
    *
    * Publishing is IDEMPOTENT under kill-and-resume — the exactly-once
    * counterpart of the reference's at-least-once Kafka producer: each
    * batch is overwritten into its own dir, then a hidden commit marker
    * (`_committed_<r>`; underscore-prefixed files are invisible to
    * Spark's file listing) is created. A resumed publish skips
    * committed batches and re-overwrites a torn one, so readers never
    * see a duplicate or partial batch.
    */
  final class FileExchange(root: String) extends Exchange {
    def topicDir(topic: String) = s"$root/topic=$topic"

    private def marker(topic: String, r: Int) =
      java.nio.file.Paths.get(topicDir(topic), s"_committed_$r")

    /** @param afterWrite test seam between a batch's data write and its
      *                   commit marker — a crash injected there models
      *                   the torn-batch window
      */
    override def publish(wire: DataFrame, cfg: ReplayConfig,
        afterWrite: Int => Unit = _ => ()): Unit = {
      val t0 = System.nanoTime()
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(topicDir(cfg.topic)))
      // batches actually written THIS invocation — a resumed publish
      // skips committed batches silently (no progress line, no pacing
      // sleep) and bases its rate/ETA only on real writes, so the ETA
      // for the remaining work isn't skewed by an instant skipped prefix
      var written = 0
      (1 to cfg.repeat).foreach { r =>
        if (!java.nio.file.Files.exists(marker(cfg.topic, r))) {
          wire.write.mode(SaveMode.Overwrite)
            .parquet(s"${topicDir(cfg.topic)}/batch=$r")
          afterWrite(r)
          java.nio.file.Files.createFile(marker(cfg.topic, r))
          written += 1
          val elapsed = (System.nanoTime() - t0) / 1e9
          val eta = elapsed / written * (cfg.repeat - r)
          // progress, not an error: stdout so sbt tags it [info], not [error]
          println(
            f"[replay] batch $r/${cfg.repeat} (${100.0 * r / cfg.repeat}%.0f%%) eta ${eta}%.1fs")
          if (cfg.batchSleepMs > 0 && r < cfg.repeat) Thread.sleep(cfg.batchSleepMs)
        }
      }
    }

    override def read(spark: SparkSession, topic: String): DataFrame =
      spark.read.parquet(topicDir(topic))
  }

  /** Full replay: read → transform → encode → publish to the exchange.
    *
    * A frame published more than once (`repeat > 1`) is encoded once:
    * the wire frame is held in a [[Pins]] checkpoint, so every
    * pass writes the same rows, in the same order, without parsing the
    * source again (a CSV is read twice in all: schema inference, then
    * the one data pass). The pin is released when the publish returns,
    * also when it throws.
    *
    * On the parquet path, the nanos-as-long conf [[readSource]] sets is
    * restored once the publish has materialized every batch, so a
    * borrowed session's later parquet reads keep their normal timestamp
    * decoding. Other inputs never touch that conf, so a concurrent
    * query that sets it keeps its value.
    */
  def run(spark: SparkSession, cfg: ReplayConfig, exchange: Exchange): Unit = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    val pins = new Pins
    try {
      val wire = encode(transform(readSource(spark, cfg), cfg), cfg)
      exchange.publish(if (cfg.repeat > 1) pins.checkpoint(wire) else wire, cfg)
    } finally {
      pins.release()
      if (cfg.extension == "parquet") prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }
}
