package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery,
  StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

/** The reference streaming job (`spark_streaming_kafka.py`,
  * `kafka_to_es.py`; SURVEY.md §3.3) re-expressed as Structured
  * Streaming building blocks:
  *
  *   source → CAST(value AS STRING) → decode (JSON or DSV) → flatten →
  *   sink
  *
  * The source is abstracted: in production `format("kafka")` with
  * `subscribe`/`startingOffsets=earliest` (no code change — the decode
  * chain below operates on a `value` column regardless of source); in
  * this zero-egress environment tests and catalog queries drive the
  * same chain from a file stream or MemoryStream.
  */
object Ingest {

  /** The `events` table's file-stream schema (ts declared as the
    * parquet file's TIMESTAMP(MICROS, isAdjustedToUTC=false) →
    * TIMESTAMP_NTZ; cast to a session-tz TimestampType immediately
    * after — same convention as `graft.core.Tables.events`).
    */
  val eventsFileSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming source over the events parquet (stands in for the Kafka
    * topic). `maxFilesPerTrigger` is left default — at scale this is
    * the knob replacing `maxOffsetsPerTrigger`. Reads only the MICROS
    * generations: a TIMESTAMP(NANOS) `ts` fails the declared
    * TIMESTAMP_NTZ with or without `spark.sql.legacy.parquet.nanosAsLong`,
    * so this source leaves that conf alone.
    */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    // the file stream source wants a directory: stream the sf dir,
    // glob-filtered to the events table's file(s)
    // glob matches events.parquet AND events_<k>.parquet so a test
    // harness can pace the same table as several time-ordered files;
    // with spark.graft.stream.maxFilesPerTrigger set, those files
    // become REAL multi-batch runs (StreamingPacedSweepSpec drives
    // every stateful catalog query through both shapes)
    val reader = spark.readStream
      .schema(eventsFileSchema)
      .option("pathGlobFilter", "events*.parquet")
    spark.conf.getOption("spark.graft.stream.maxFilesPerTrigger")
      .foreach(reader.option("maxFilesPerTrigger", _))
    reader.parquet(sfDir)
      .withColumn("ts", col("ts").cast("timestamp"))
  }

  /** Streaming source over the documents parquet — "today's crawl"
    * arriving continuously for the streaming curation queries.
    */
  def docsStream(spark: SparkSession, sfDir: String): DataFrame =
    spark.readStream
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)

  /** Producer-side wire encoding (F7/F8): key + JSON value. Timestamps
    * travel as epoch-micros longs so the round-trip is exact.
    */
  def toJsonWire(df: DataFrame, keyCol: String): DataFrame = {
    val payload = df.withColumn("ts_us", unix_micros(col("ts"))).drop("ts")
    payload.select(
      graft.core.Codecs.kafkaKey(Some(keyCol)).as("key"),
      graft.core.Codecs.jsonEncode(payload).as("value"))
  }

  /** Wire schema of [[toJsonWire]] output. */
  val jsonWireSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType),
    StructField("ts_us", LongType)))

  /** Consumer-side decode (F5/F6/P4): CAST value to string, `from_json`
    * against the declared schema (PERMISSIVE → nulls on corrupt rows),
    * flatten, rebuild the event-time column.
    */
  def decodeJsonWire(wire: DataFrame): DataFrame =
    wire.selectExpr("CAST(value AS STRING) AS json")
      .select(from_json(col("json"), jsonWireSchema).as("data"))
      .select(col("data.*"))
      .withColumn("ts", timestamp_micros(col("ts_us")))

  /** JSON decode with a dead-letter column (T8 option, SURVEY §2.7):
    * well-formed rows parse as usual; MALFORMED payloads keep their raw
    * text in `_corrupt` so a DLQ sink can route them instead of
    * silently nulling. Uses PERMISSIVE from_json's own
    * `columnNameOfCorruptRecord`, so a valid-but-all-null record (e.g.
    * `{}`) is NOT misrouted as corrupt.
    */
  def decodeJsonWireWithDlq(wire: DataFrame): DataFrame = {
    val schemaWithDlq = jsonWireSchema.add("_corrupt", StringType)
    wire.selectExpr("CAST(value AS STRING) AS json")
      .select(from_json(col("json"), schemaWithDlq,
        Map("columnNameOfCorruptRecord" -> "_corrupt")).as("data"))
      .select(col("data.*"))
      .withColumn("ts", timestamp_micros(col("ts_us")))
  }

  /** DSV variant of the same wire (`dataframe_to_kafka.py:44-53`).
    * Encodes EXACTLY the [[dsvWireSchema]] fields (props is excluded —
    * it embeds quote characters the CSV parser would mangle — the
    * producer's `-exc` behavior) so encode/decode are self-consistent
    * regardless of extra input columns.
    */
  def toDsvWire(df: DataFrame, keyCol: String, sep: String): DataFrame =
    df.withColumn("ts_us", unix_micros(col("ts"))).select(
      graft.core.Codecs.kafkaKey(Some(keyCol)).as("key"),
      graft.core.Codecs.dsvEncode(dsvWireSchema.fieldNames.toSeq, sep).as("value"))

  /** Wire schema of [[toDsvWire]] output: the JSON wire minus `props`
    * (the producer excludes it — it embeds quote characters the CSV
    * parser would mangle).
    */
  val dsvWireSchema: StructType =
    StructType(jsonWireSchema.filterNot(_.name == "props"))

  def decodeDsvWire(wire: DataFrame, sep: String): DataFrame =
    wire.selectExpr("CAST(value AS STRING) AS line")
      .select(from_csv(col("line"), dsvWireSchema, Map("sep" -> sep)).as("data"))
      .select(col("data.*"))
      .withColumn("ts", timestamp_micros(col("ts_us")))

  /** Run a (bounded) streaming DataFrame to completion into a memory
    * sink and return the collected result as a batch DataFrame on
    * `df`'s own session, so work on the result plans at the batch
    * partition count. The drain itself runs at the state-sized count
    * (see [[drain]]); `rocksDb` selects the RocksDB state store, which
    * transformWithState requires.
    */
  def runToMemory(df: DataFrame, mode: String = "append",
      rocksDb: Boolean = false): DataFrame = {
    val name = "mem_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = drain(df, mode, statePartitions = true, rocksDb = rocksDb)(
      _.format("memory").queryName(name))
    GraftBridge.ofRows(df.sparkSession,
      GraftBridge.logicalPlan(q.sparkSession.table(name)))
  }

  /** Run the streaming `df` to completion with `Trigger.AvailableNow`
    * (everything present, then stop — the deterministic harness mode
    * for catalog/oracle runs) into the sink `sink` configures, and
    * return the terminated query.
    *
    * The query runs on a private child session (`newSession()`) that
    * carries the caller's runtime conf and streaming listeners plus
    * this query's own overrides, so no override is ever visible to, or
    * raced by, other work on the caller's session:
    *  - `statePartitions`: every stateful operator keeps one state
    *    store per shuffle partition PER STORE KIND (a stream-stream
    *    join holds four), and each micro-batch pays a commit +
    *    maintenance round per store. The batch default (one partition
    *    per core) is the wrong shape for that fixed cost at this state
    *    volume, so stateful queries plan with
    *    `spark.graft.stream.statePartitions` (default 8) instead. The
    *    count is pinned into the checkpoint at creation (state is not
    *    repartitionable), so a resumed run keeps it. `foreachBatch`
    *    bodies plan their batch work at the same count.
    *  - `rocksDb`: the RocksDB state store provider.
    *
    * The child's memory-sink views die with it. Once the query's end
    * has reached the caller's listeners, the child's streaming listener
    * bus is unregistered from the SparkContext, which would otherwise
    * keep one per drain for its whole life. `checkpoint` defaults to a
    * fresh directory.
    */
  def drain(df: DataFrame, mode: String = "append",
      checkpoint: String = newCheckpointDir(),
      statePartitions: Boolean = false, rocksDb: Boolean = false)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery = {
    val spark = df.sparkSession
    val child = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (!child.conf.getOption(k).contains(v)) child.conf.set(k, v)
    }
    if (statePartitions)
      child.conf.set("spark.sql.shuffle.partitions",
        spark.conf.getOption("spark.graft.stream.statePartitions").getOrElse("8"))
    if (rocksDb)
      child.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.streams.listListeners().foreach(child.streams.addListener)
    // added last, so the caller's listeners have seen the end when it fires
    val ended = new java.util.concurrent.CountDownLatch(1)
    child.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        ended.countDown()
    })
    var q: StreamingQuery = null
    try {
      q = sink(GraftBridge.ofRows(child, GraftBridge.logicalPlan(df)).writeStream)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q
    } finally {
      if (q != null) ended.await(10, java.util.concurrent.TimeUnit.SECONDS)
      GraftBridge.dropStreamingListenerBus(child)
    }
  }

  /** [[drain]] through `foreachBatch`: `f` gets each micro-batch and
    * its batch id.
    */
  def drainBatches(df: DataFrame, mode: String = "append",
      checkpoint: String = newCheckpointDir(),
      statePartitions: Boolean = false)(f: (DataFrame, Long) => Unit): Unit =
    drain(df, mode, checkpoint, statePartitions)(
      _.foreachBatch((b: Dataset[Row], id: Long) => f(b, id)))

  private def newCheckpointDir(): String = {
    val root = java.nio.file.Paths.get("target", "checkpoints")
    java.nio.file.Files.createDirectories(root)  // the cwd may lack target/
    java.nio.file.Files.createTempDirectory(root, "chk_").toString
  }
}
