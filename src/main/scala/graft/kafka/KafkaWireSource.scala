package graft.kafka

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 Kafka source over [[KafkaWireClient]] — the
  * `readStream.format("kafka")` role (reference
  * `spark_streaming_kafka.py:13-18`) with the connector jar replaced by
  * the in-repo protocol client: `spark.readStream.format("kafka-wire")
  * .option("host", h).option("port", p).option("topic", t).load()`.
  *
  * Surface parity: the output schema is the standard Kafka connector
  * relation (key/value BINARY, topic, partition, offset, timestamp,
  * timestampType), so the decode chain (`CAST(value AS STRING)` →
  * `from_json` → flatten) is byte-for-byte the one a real connector
  * feeds.
  *
  * Streaming semantics:
  *  - offsets are per-(topic, partition) next-fetch positions,
  *    serialized into the checkpoint as the stock connector's sorted
  *    nested JSON (`{"t":{"0":12,"1":7}}`; legacy flat single-topic
  *    checkpoints still parse) — a resumed query replans
  *    `[committed, latest)` and never re-emits, which
  *    `KafkaWireStreamSpec` pins with a two-wave shared-checkpoint run;
  *  - `initialOffset` = earliest (ListOffsets -2), `latestOffset` =
  *    live high watermark (ListOffsets -1);
  *  - Trigger.AvailableNow is honored via
  *    [[SupportsTriggerAvailableNow]]: the target watermark is captured
  *    once at prepare time, so producers racing the drain don't extend
  *    the run unboundedly.
  *
  * Scale shape: the driver touches only METADATA (partition list +
  * offsets — O(partitions) longs per batch); record bytes flow directly
  * from the broker to executor tasks, one Spark partition per Kafka
  * partition ([[KafkaWirePartitionReader]] opens its own socket), which
  * is exactly the parallelism the real connector plans. Batch reads
  * (`spark.read.format("kafka-wire")`) plan the same partitions over
  * the full `[earliest, latest)` range.
  */
final class KafkaWireSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "kafka-wire"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KafkaWireSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val maxPerTrigger = Option(opts.get("maxOffsetsPerTrigger")).map { v =>
      val n = java.lang.Long.parseLong(v)
      require(n > 0, s"maxOffsetsPerTrigger must be positive, got $n")
      n
    }
    val minPerTrigger = Option(opts.get("minOffsetsPerTrigger")).map { v =>
      val n = java.lang.Long.parseLong(v)
      require(n > 0, s"minOffsetsPerTrigger must be positive, got $n")
      n
    }
    require(minPerTrigger.forall(mn => maxPerTrigger.forall(_ >= mn)),
      "kafka-wire: minOffsetsPerTrigger cannot exceed maxOffsetsPerTrigger")
    val maxTriggerDelayMs = Option(opts.get("maxTriggerDelay"))
      .map(KafkaWireSource.parseDurationMs)
      .getOrElse(15L * 60 * 1000) // stock default: 15m
    val compression = Option(opts.get("kafka.compression.type"))
      .orElse(Option(opts.get("compression.type"))).getOrElse("none")
    require(compression == "none" || compression == "gzip",
      s"kafka-wire: unsupported compression.type '$compression' (none|gzip)")
    val idempotence = Option(opts.get("kafka.enable.idempotence"))
      .orElse(Option(opts.get("enable.idempotence")))
      .exists(_.toBoolean)
    val startingTimestamp =
      Option(opts.get("startingTimestamp")).map(java.lang.Long.parseLong)
    require(startingTimestamp.isEmpty ||
        Option(opts.get("startingOffsets")).isEmpty,
      "kafka-wire: startingTimestamp and startingOffsets are mutually exclusive")
    val endingTimestamp =
      Option(opts.get("endingTimestamp")).map(java.lang.Long.parseLong)
    require(endingTimestamp.isEmpty ||
        Option(opts.get("endingOffsets")).isEmpty,
      "kafka-wire: endingTimestamp and endingOffsets are mutually exclusive")
    val isolation = Option(opts.get("kafka.isolation.level"))
      .orElse(Option(opts.get("isolation.level")))
      .getOrElse("read_uncommitted")
    require(isolation == "read_uncommitted" || isolation == "read_committed",
      s"kafka-wire: unsupported isolation.level '$isolation'")
    val transactionalId = Option(opts.get("kafka.transactional.id"))
      .orElse(Option(opts.get("transactional.id")))
    val groupId = Option(opts.get("kafka.group.id"))
      .orElse(Option(opts.get("group.id")))
    require(Option(opts.get("startingOffsets")).forall(_.trim != "group") ||
        groupId.isDefined,
      "kafka-wire: startingOffsets=group requires kafka.group.id")
    val subscribePattern = Option(opts.get("subscribePattern"))
    require(subscribePattern.isEmpty ||
        (Option(opts.get("topic")).isEmpty && Option(opts.get("subscribe")).isEmpty),
      "kafka-wire: subscribePattern and topic/subscribe are mutually exclusive")
    val assign = Option(opts.get("assign"))
    require(assign.isEmpty || (subscribePattern.isEmpty &&
        Option(opts.get("topic")).isEmpty && Option(opts.get("subscribe")).isEmpty),
      "kafka-wire: assign and topic/subscribe/subscribePattern are mutually exclusive")
    assign.foreach(KafkaWireSource.parseAssign) // fail malformed specs at plan time
    // SASL/PLAIN, the stock connector's config surface: mechanism +
    // jaas config (username/password extracted from the standard
    // PlainLoginModule string). Only PLAIN is speakable on this
    // plaintext-TCP stack.
    val saslMechanism = Option(opts.get("kafka.sasl.mechanism"))
      .orElse(Option(opts.get("sasl.mechanism")))
    require(saslMechanism.forall(Seq("PLAIN", "SCRAM-SHA-256").contains),
      s"kafka-wire: unsupported sasl.mechanism '${saslMechanism.orNull}' " +
        "(PLAIN or SCRAM-SHA-256)")
    val saslJaas = Option(opts.get("kafka.sasl.jaas.config"))
      .orElse(Option(opts.get("sasl.jaas.config")))
    require(saslJaas.isEmpty || saslMechanism.isDefined,
      "kafka-wire: sasl.jaas.config requires sasl.mechanism")
    require(saslMechanism.isEmpty || saslJaas.isDefined,
      s"kafka-wire: sasl.mechanism=${saslMechanism.orNull} requires sasl.jaas.config")
    val sasl = saslJaas.map(j => KafkaWireClient.SaslPlain.fromJaas(j)
      .copy(mechanism = saslMechanism.get))
    // security.protocol (stock names): PLAINTEXT | SASL_PLAINTEXT |
    // SSL | SASL_SSL. The SASL_* forms must carry the SASL options and
    // the *_SSL forms the truststore pair; endpoint identification
    // follows the stock `ssl.endpoint.identification.algorithm`
    // contract — 'https' (the default) verifies the dial address
    // against the certificate SAN, empty disables.
    val secProtocol = Option(opts.get("kafka.security.protocol"))
      .orElse(Option(opts.get("security.protocol")))
      .getOrElse(if (sasl.isDefined) "SASL_PLAINTEXT" else "PLAINTEXT")
    require(Seq("PLAINTEXT", "SASL_PLAINTEXT", "SSL", "SASL_SSL")
        .contains(secProtocol),
      s"kafka-wire: unsupported security.protocol '$secProtocol'")
    require(!secProtocol.startsWith("SASL") || sasl.isDefined,
      s"kafka-wire: security.protocol=$secProtocol requires " +
        "sasl.mechanism + sasl.jaas.config")
    require(secProtocol.startsWith("SASL") || sasl.isEmpty,
      s"kafka-wire: SASL options set but security.protocol=$secProtocol")
    val tls: Option[Tls.ClientTls] =
      if (!secProtocol.endsWith("SSL")) {
        require(Option(opts.get("kafka.ssl.truststore.location")).isEmpty,
          s"kafka-wire: ssl.truststore.location set but " +
            s"security.protocol=$secProtocol")
        None
      } else {
        val loc = Option(opts.get("kafka.ssl.truststore.location"))
          .orElse(Option(opts.get("ssl.truststore.location")))
          .getOrElse(throw new IllegalArgumentException(
            s"kafka-wire: security.protocol=$secProtocol requires " +
              "kafka.ssl.truststore.location"))
        val pw = Option(opts.get("kafka.ssl.truststore.password"))
          .orElse(Option(opts.get("ssl.truststore.password")))
          .getOrElse(throw new IllegalArgumentException(
            s"kafka-wire: security.protocol=$secProtocol requires " +
              "kafka.ssl.truststore.password"))
        val endpointAlg =
          Option(opts.get("kafka.ssl.endpoint.identification.algorithm"))
            .orElse(Option(opts.get("ssl.endpoint.identification.algorithm")))
            .getOrElse("https")
        require(endpointAlg == "https" || endpointAlg.isEmpty,
          s"kafka-wire: unsupported ssl.endpoint.identification.algorithm " +
            s"'$endpointAlg' (https or empty)")
        Some(Tls.ClientTls(loc, pw, verifyHostname = endpointAlg == "https"))
      }
    // the stock `kafka.bootstrap.servers` comma list, or the pair of
    // `host`/`port` options (back-compat). With a list, the first entry
    // is the primary dial and the rest seed the failover dial order —
    // a fresh client survives its first bootstrap broker being down.
    val servers = Option(opts.get("kafka.bootstrap.servers"))
      .orElse(Option(opts.get("bootstrap.servers")))
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { hp =>
        val i = hp.lastIndexOf(':')
        require(i > 0, s"kafka-wire: malformed bootstrap server '$hp'")
        (hp.substring(0, i), Integer.parseInt(hp.substring(i + 1)))
      })
      .getOrElse {
        require(opts.get("host") != null && opts.get("port") != null,
          "kafka-wire: set kafka.bootstrap.servers or host+port")
        Seq((opts.get("host"), Integer.parseInt(opts.get("port"))))
      }
    new KafkaWireTable(KafkaWireConf(
      servers.head._1,
      servers.head._2,
      Option(opts.get("topic")).getOrElse(opts.get("subscribe")),
      maxPerTrigger,
      Option(opts.get("startingOffsets")).getOrElse("earliest"),
      Option(opts.get("endingOffsets")).getOrElse("latest"),
      compression == "gzip",
      idempotence,
      startingTimestamp,
      endingTimestamp,
      isolation == "read_committed",
      transactionalId,
      groupId,
      subscribePattern,
      sasl,
      servers.tail,
      minPerTrigger,
      maxTriggerDelayMs,
      assign,
      tls,
      Option(opts.get("minPartitions")).map(Integer.parseInt)))
  }
}

/** Connector options (the stock Kafka connector's names):
  *  - `minPartitions`: floor on planned input slices — topic-partitions
  *    whose offset range exceeds ceil(total/minPartitions) are split
  *    into several `[start, end)` slices, decoupling read parallelism
  *    from the topic's partition count (batch and micro-batch planning
  *    both split; see [[KafkaWireSource.splitForMinPartitions]]);
  *  - `maxOffsetsPerTrigger`: cap on records admitted per micro-batch,
  *    allotted across partitions proportionally to backlog — the
  *    backpressure knob that keeps one trigger's state/shuffle bounded
  *    when a 100 TB-scale topic has hours of lag;
  *  - `subscribe` (or `topic`): a comma-separated topic LIST — the
  *    stock connector's multi-topic subscription; one stream plans
  *    every partition of every listed topic and the checkpoint holds
  *    the nested per-topic offset map. Writes take exactly one topic —
  *    or NONE, in which case each row's `topic` STRING column routes it
  *    (the stock contract; the option, when present, overrides the
  *    column);
  *  - `assign`: the subscription's third mode (stock contract,
  *    `{"topic":[0,2]}`): plan EXACTLY the listed partitions — the
  *    shard-a-topic-across-independent-jobs pattern; a nonexistent
  *    partition fails the plan loudly. Mutually exclusive with
  *    topic/subscribe/subscribePattern; reads only;
  *  - `minOffsetsPerTrigger` + `maxTriggerDelay` (default 15m): the
  *    inverse backpressure knob — hold a micro-batch until at least
  *    this many records accumulate, unless maxTriggerDelay since the
  *    last batch expires first. Tiny micro-batches are pure overhead
  *    at scale (per-batch planning, state commits, small output
  *    files); this is the stock connector's suppressor for them.
  *    Ignored under Trigger.AvailableNow (drain must finish);
  *  - `subscribePattern`: a regex subscription — resolved against the
  *    broker's topic list at plan/query-start time (topics created
  *    later join on the next start, like the stock connector's
  *    `subscribePattern` between restarts); zero matches fail loudly.
  *    Mutually exclusive with `topic`/`subscribe`;
  *  - `startingOffsets` / `endingOffsets`: `earliest` | `latest` | a
  *    JSON map (-2 = earliest, -1 = latest per entry) in the stock
  *    nested form `{"topic":{"0":12,"1":7}}`, or the flat shorthand
  *    `{"0":12,"1":7}` when exactly one topic is subscribed.
  *    Divergence from the stock connector, documented: the streaming
  *    default is `earliest` (the drain-a-preloaded-topic pattern every
  *    catalog pipeline uses; the stock default is `latest`, and
  *    pipelines wanting it pass it explicitly);
  *  - `compression.type` (or the stock `kafka.compression.type`):
  *    `none` | `gzip` — producer-side batch compression; the read
  *    side inflates any codec transparently from the attribute bits,
  *    so it needs no option;
  *  - `startingTimestamp`: epoch-millis start position — every
  *    partition begins at its first record with CreateTime ≥ the
  *    timestamp (ListOffsets by time, the stock connector's
  *    `startingTimestamp`); partitions with no such record start at
  *    the log end. Mutually exclusive with `startingOffsets`.
  *    `endingTimestamp` (batch reads) is the EXCLUSIVE twin: records
  *    with CreateTime ≥ it are excluded, mutually exclusive with
  *    `endingOffsets`;
  *  - `enable.idempotence` (or `kafka.enable.idempotence`): each write
  *    task runs the KIP-98 handshake and stamps per-partition
  *    sequences, so NETWORK-level produce retries cannot duplicate.
  *    Spark-level task/epoch replays still re-append under a fresh
  *    pid — the stock connector's non-transactional contract is
  *    unchanged; this hardens the wire hop, not the job retry;
  *  - `isolation.level` (or `kafka.isolation.level`), reads:
  *    `read_uncommitted` (default, stock parity) | `read_committed` —
  *    committed-only visibility: batch/stream ends resolve to the last
  *    stable offset, fetches skip aborted-transaction ranges, and
  *    control markers are consumed for offset accounting but never
  *    surfaced as rows;
  *  - `kafka.group.id` (or `group.id`), reads: a consumer-group
  *    identity. Streaming: each micro-batch the engine signals durable
  *    commits its end offsets to the group (OffsetCommit, simple-
  *    consumer mode) so external lag monitors track the query. The
  *    engine signals batch N durable when constructing batch N+1, so
  *    the group trails the checkpoint by at most one batch and a
  *    drain-and-stop leaves the final batch uncommitted — the real
  *    group-commit contract (at-least-once); the CHECKPOINT remains
  *    the restart source of truth, same as the stock connector's
  *    `kafka.group.id`. With `startingOffsets=group`, the first offset
  *    instead resolves from the group's committed positions
  *    (OffsetFetch; uncommitted partitions fall back to earliest) —
  *    the checkpoint-free handover path from any group-committing
  *    consumer, exactly-once after the standard idempotent-consumer
  *    key dedup;
  *  - `transactional.id` (or `kafka.transactional.id`), writes: each
  *    task wraps its output in a KIP-98 TRANSACTION under the stable
  *    id `<transactional.id>-p<sparkPartition>` — init (which fences
  *    and aborts any earlier attempt of the SAME task), produce with
  *    sequences, and COMMIT at task-commit / ABORT at task-abort. A
  *    task retried by Spark therefore leaves at most one committed
  *    copy visible to read_committed consumers: the failed attempt's
  *    records sit in aborted ranges. (Epoch-level replays past a
  *    checkpoint commit remain at-least-once — the per-task-txn
  *    contract Kafka Streams EOS also settles for.)
  *  - `kafka.sasl.mechanism` + `kafka.sasl.jaas.config` (or the
  *    un-prefixed names): SASL/PLAIN authentication, the stock
  *    connector's config surface — the jaas string's
  *    username/password authenticate EVERY socket the connector opens
  *    (driver metadata polls and executor record readers/writers
  *    alike) before any other request. PLAIN only.
  *  - `kafka.security.protocol` + `kafka.ssl.truststore.location` /
  *    `.password` / `kafka.ssl.endpoint.identification.algorithm`:
  *    TLS on every socket (SSL), with the SASL exchange riding inside
  *    the encrypted session (SASL_SSL) — the combination production
  *    secured clusters actually require, since SASL/PLAIN sends the
  *    password in clear. See [[Tls]].
  */
final case class KafkaWireConf(host: String, port: Int, topic: String,
    maxOffsetsPerTrigger: Option[Long], startingOffsets: String,
    endingOffsets: String, gzip: Boolean = false,
    idempotence: Boolean = false,
    startingTimestamp: Option[Long] = None,
    endingTimestamp: Option[Long] = None,
    readCommitted: Boolean = false,
    transactionalId: Option[String] = None,
    groupId: Option[String] = None,
    subscribePattern: Option[String] = None,
    sasl: Option[KafkaWireClient.SaslPlain] = None,
    extraBootstrap: Seq[(String, Int)] = Nil,
    minOffsetsPerTrigger: Option[Long] = None,
    maxTriggerDelayMs: Long = 15L * 60 * 1000,
    assign: Option[String] = None,
    tls: Option[Tls.ClientTls] = None,
    minPartitions: Option[Int] = None) {
  /** `subscribe` takes a comma-separated topic LIST (stock-connector
    * contract); reads plan every partition of every listed topic.
    * Writes take exactly one — or none, routing on the `topic` column.
    */
  def topics: Seq[String] =
    Option(topic).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** The concrete subscription: the listed topics, or — under
    * `subscribePattern` — every broker topic matching the regex at
    * PLAN time (like the stock connector, pattern matching happens
    * against the broker's current topic list; topics created later
    * join on the next query start). Zero matches fail loudly rather
    * than planning an empty silent stream.
    */
  def resolveTopics(client: KafkaOffsetClient): Seq[String] =
    subscribePattern match {
      case None => topics
      case Some(pat) =>
        val re = pat.r
        val matched = client.allTopics().filter(re.matches(_)).sorted
        require(matched.nonEmpty,
          s"kafka-wire: subscribePattern '$pat' matches no topic")
        matched
    }

  /** The planned (topic → partitions) map — the subscription's THIRD
    * mode, `assign` (stock contract: `{"topic":[0,2]}`), pins exactly
    * the listed partitions (validated against broker metadata, a
    * nonexistent partition fails the plan loudly); the other modes
    * plan every partition of the resolved topic set.
    */
  def resolvePartitions(client: KafkaOffsetClient): Map[String, Seq[Int]] =
    assign match {
      case Some(spec) =>
        val wanted = KafkaWireSource.parseAssign(spec)
        val meta = client.metadata(wanted.keys.toSeq.sorted)
          .map(tm => tm.topic -> tm.partitions.map(_.partition).toSet).toMap
        wanted.map { case (t, ps) =>
          val known = meta.getOrElse(t, Set.empty)
          ps.foreach(p => require(known.contains(p),
            s"kafka-wire: assigned partition $t/$p does not exist"))
          t -> ps.sorted
        }
      case None =>
        client.metadata(resolveTopics(client))
          .map(tm => tm.topic -> tm.partitions.map(_.partition)).toMap
    }
}

object KafkaWireSource {
  private val AssignBlock = """"((?:[^"\\]|\\.)+)"\s*:\s*\[([0-9,\s]*)\]""".r

  /** The stock connector's `minPartitions`: when the planned slice
    * count is under the floor, split large offset ranges into several
    * `[start, end)` slices of one topic-partition so READ parallelism
    * is decoupled from the topic's partition count. This is the scale
    * lever for the common mismatch "3-partition topic, 32-core stage":
    * without it every downstream projection (JSON decode, decryption,
    * decompression) is pinned to partition-count tasks while the rest
    * of the cluster idles. Slices are even splits of each range larger
    * than ceil(total/minPartitions); ordering within a partition is
    * preserved per slice, and the slice boundaries are deterministic
    * (pure arithmetic on the planned offsets), so a batch re-plan or
    * checkpoint replay produces identical slices.
    */
  private[kafka] def splitForMinPartitions(
      ranges: Seq[(String, Int, Long, Long)], minPartitions: Option[Int])
    : Seq[(String, Int, Long, Long)] = {
    val mp = minPartitions.getOrElse(0)
    val total = ranges.map { case (_, _, s, e) => math.max(0L, e - s) }.sum
    if (mp <= ranges.size || total == 0) ranges
    else {
      val target = math.max(1L, (total + mp - 1) / mp)
      ranges.flatMap { case (t, p, s0, e0) =>
        val sz = math.max(0L, e0 - s0)
        val n = math.max(1L, math.min(sz, (sz + target - 1) / target)).toInt
        (0 until n).map(i => (t, p, s0 + sz * i / n, s0 + sz * (i + 1) / n))
      }
    }
  }

  /** Parse the stock `assign` JSON: `{"topicA":[0,2],"topicB":[1]}`.
    * A block the regex cannot consume fails LOUDLY (the residue check)
    * — a partially malformed spec must never plan a partial
    * subscription and silently drop a topic's data. Escaped quotes in
    * topic names are unescaped like every other JSON string here.
    */
  def parseAssign(json: String): Map[String, Seq[Int]] = {
    val entries = AssignBlock.findAllMatchIn(json).map { mm =>
      mm.group(1).replaceAll("""\\(.)""", "$1") -> mm.group(2).split(",").toSeq
        .map(_.trim).filter(_.nonEmpty).map(_.toInt)
    }.toList
    val m = entries.toMap
    val residue = AssignBlock.replaceAllIn(json.trim, "")
      .replaceAll("""[\s{},]""", "")
    // duplicate topic keys would silently keep only the LAST block in
    // toMap — a partial subscription; reject like any other malformation
    require(m.nonEmpty && m.size == entries.size &&
        m.values.forall(_.nonEmpty) && residue.isEmpty,
      s"""kafka-wire: malformed assign spec '$json' (expected {"topic":[0,1]})""")
    m
  }

  /** Parse the stock connector's duration-string form for
    * `maxTriggerDelay`: bare millis, or `ms`/`s`/`m`/`h` suffixed.
    */
  def parseDurationMs(v: String): Long = {
    val t = v.trim.toLowerCase
    val (num, mult) =
      if (t.endsWith("ms")) (t.dropRight(2), 1L)
      else if (t.endsWith("s")) (t.dropRight(1), 1000L)
      else if (t.endsWith("m")) (t.dropRight(1), 60L * 1000)
      else if (t.endsWith("h")) (t.dropRight(1), 3600L * 1000)
      else (t, 1L)
    val n = java.lang.Long.parseLong(num.trim)
    require(n > 0, s"maxTriggerDelay must be positive, got '$v'")
    n * mult
  }

  /** The standard Kafka connector relation schema. */
  val Schema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** Per-(topic, partition) offsets. */
  type TopicOffsets = Map[(String, Int), Long]

  /** Offsets ↔ the checkpoint's JSON line, in the STOCK connector's
    * nested format: `{"t1":{"0":12,"1":7},"t2":{"0":3}}`. Topics and
    * partitions sorted so the serialization is canonical (offset
    * equality is string equality inside Structured Streaming).
    */
  def toJson(offsets: TopicOffsets): String =
    offsets.groupBy(_._1._1).toSeq.sortBy(_._1).map { case (t, m) =>
      s""""$t":""" + m.toSeq.sortBy(_._1._2)
        .map { case ((_, p), o) => s""""$p":$o""" }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")

  /** Parse the nested stock format, or — back-compat with this
    * connector's pre-multi-topic checkpoints and the flat
    * user-spec shorthand — a flat `{"0":12,"1":7}` map attributed to
    * `defaultTopic`.
    */
  private val NestedBlock = """"((?:[^"\\]|\\.)+)"\s*:\s*\{([^{}]*)\}""".r

  /** Is `json` the nested per-topic form? Detected with the same regex
    * the parser consumes (whitespace-tolerant), NOT a substring probe —
    * `{"t": {"0": 5}}` with standard JSON spacing is nested too.
    */
  def isNestedOffsets(json: String): Boolean =
    NestedBlock.findFirstIn(json).isDefined

  def fromJson(json: String, defaultTopic: String): TopicOffsets = {
    val t = json.trim
    if (isNestedOffsets(t)) {
      NestedBlock.findAllMatchIn(t).flatMap { m =>
        val topic = m.group(1)
        flatFromJson("{" + m.group(2) + "}")
          .map { case (p, o) => (topic, p) -> o }
      }.toMap
    } else flatFromJson(t).map { case (p, o) => (defaultTopic, p) -> o }
  }

  def flatFromJson(json: String): Map[Int, Long] = {
    val body = json.trim.stripPrefix("{").stripSuffix("}").trim
    if (body.isEmpty) Map.empty
    else body.split(",").map { kv =>
      val Array(k, v) = kv.split(":")
      k.trim.stripPrefix("\"").stripSuffix("\"").toInt -> v.trim.toLong
    }.toMap
  }

  /** Resolve a `startingOffsets`/`endingOffsets` spec to concrete
    * per-(topic, partition) offsets: `earliest` | `latest` | a JSON
    * map — nested stock format for any subscription, flat shorthand
    * when exactly one topic is subscribed — where an entry of -2/-1
    * (or a missing partition, via `defaultTs`) means that partition's
    * earliest/latest. Explicit offsets are validated against the log
    * range — a position outside `[earliest, latest]` fails the plan
    * loudly rather than silently reading from somewhere else (the
    * stock connector's `failOnDataLoss` posture).
    */
  /** Start positions: `startingTimestamp` (ListOffsets by time) wins
    * over the `startingOffsets` spec when configured.
    */
  def resolveStart(client: KafkaOffsetClient,
      partsByTopic: Map[String, Seq[Int]], conf: KafkaWireConf): TopicOffsets =
    conf.startingTimestamp match {
      case Some(ts) =>
        partsByTopic.flatMap { case (t, ps) =>
          ps.map(p => (t, p) -> client.listOffset(t, p, ts))
        }
      case None if conf.startingOffsets.trim == "group" =>
        // resume from the consumer group's committed positions
        // (OffsetFetch) — the checkpoint-free handover path from any
        // group-committing consumer, Spark or not. Partitions the group
        // never committed fall back to earliest (auto.offset.reset).
        val group = conf.groupId.getOrElse(throw new IllegalArgumentException(
          "kafka-wire: startingOffsets=group requires kafka.group.id"))
        partsByTopic.flatMap { case (t, ps) =>
          val committed = client.committedOffsets(group, t, ps)
          ps.map { p =>
            (t, p) -> committed.getOrElse(p, client.listOffset(t, p, -2L))
          }
        }
      case None =>
        resolveSpec(client, partsByTopic, conf.startingOffsets, defaultTs = -2L)
    }

  /** Batch end positions: `endingTimestamp` excludes records at or past
    * it (ListOffsets by time is the first such offset — an exclusive
    * end bound); otherwise the `endingOffsets` spec.
    */
  def resolveEnd(client: KafkaOffsetClient,
      partsByTopic: Map[String, Seq[Int]], conf: KafkaWireConf): TopicOffsets =
    conf.endingTimestamp match {
      case Some(ts) =>
        partsByTopic.flatMap { case (t, ps) =>
          ps.map(p => (t, p) -> client.listOffset(t, p, ts))
        }
      case None =>
        resolveSpec(client, partsByTopic, conf.endingOffsets, defaultTs = -1L)
    }

  def resolveSpec(client: KafkaOffsetClient, partsByTopic: Map[String, Seq[Int]],
      spec: String, defaultTs: Long): TopicOffsets = spec.trim match {
    case "earliest" => partsByTopic.flatMap { case (t, ps) =>
      ps.map(p => (t, p) -> client.listOffset(t, p, -2L))
    }
    case "latest" => partsByTopic.flatMap { case (t, ps) =>
      ps.map(p => (t, p) -> client.listOffset(t, p, -1L))
    }
    case json =>
      require(isNestedOffsets(json) || partsByTopic.size == 1,
        "kafka-wire: a flat offsets JSON map needs a single subscribed " +
          "topic; use the nested {\"topic\":{\"0\":...}} form for a list")
      val explicit = fromJson(json, partsByTopic.keys.head)
      partsByTopic.flatMap { case (t, ps) =>
        ps.map { p =>
          val v = explicit.getOrElse((t, p), defaultTs)
          val resolved =
            if (v < 0) client.listOffset(t, p, v)
            else {
              val lo = client.listOffset(t, p, -2L)
              val hi = client.listOffset(t, p, -1L)
              require(v >= lo && v <= hi,
                s"offset $v out of range [$lo,$hi] for $t/$p")
              v
            }
          (t, p) -> resolved
        }
      }
  }
}

final case class KafkaWireOffset(offsets: KafkaWireSource.TopicOffsets)
    extends Offset {
  override def json(): String = KafkaWireSource.toJson(offsets)
}

final class KafkaWireTable(conf: KafkaWireConf)
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String =
    s"kafka-wire:${Option(conf.topic).orElse(conf.subscribePattern)
      .orElse(conf.assign).getOrElse("<topic column>")}" +
      s"@${conf.host}:${conf.port}"
  override def schema(): StructType = KafkaWireSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.BATCH_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = {
        require(conf.topics.nonEmpty || conf.subscribePattern.isDefined ||
            conf.assign.isDefined,
          "kafka-wire read: 'topic'/'subscribe', 'subscribePattern', " +
            "or 'assign' is required")
        new KafkaWireScan(conf)
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        require(conf.topics.size <= 1 && conf.subscribePattern.isEmpty &&
            conf.assign.isEmpty,
          s"kafka-wire write: exactly one topic option, or none with a " +
            s"'topic' column (got '${conf.topic}')")
        new KafkaWireWrite(conf.host, conf.port, conf.topics.headOption.orNull,
          info.schema(), conf.gzip, conf.idempotence, conf.transactionalId,
          conf.sasl, conf.extraBootstrap, conf.tls)
      }
    }
}

/** Producer side of the connector (`df.write` / `df.writeStream`
  * `.format("kafka-wire")`): rows need a `value` column and optionally a
  * `key` (binary or string, like the real Kafka sink); with no `topic`
  * OPTION, each row's `topic` STRING column routes it (stock contract).
  * Placement is the default partitioner's — murmur2(key) when keyed,
  * sticky per Spark task otherwise. Delivery is at-least-once per
  * produce request (acks=-1, no transactions — the real connector's
  * non-transactional contract); a replayed epoch appends again, and the
  * consumer-side dedup twin (`q_kafka_wire_redelivery`) is the
  * documented recovery.
  */
final class KafkaWireWrite(host: String, port: Int, topic: String,
    schema: StructType, gzip: Boolean = false,
    idempotence: Boolean = false,
    transactionalId: Option[String] = None,
    sasl: Option[KafkaWireClient.SaslPlain] = None,
    extraBootstrap: Seq[(String, Int)] = Nil,
    tls: Option[Tls.ClientTls] = None) extends Write {

  private def factoryParams: KafkaWireWriterParams = {
    val keyIdx = schema.fieldNames.indexOf("key")
    val valueIdx = schema.fieldNames.indexOf("value")
    require(valueIdx >= 0, "kafka-wire write: a 'value' column is required")
    val keyIsString = keyIdx >= 0 && schema(keyIdx).dataType == StringType
    val valueIsString = schema(valueIdx).dataType == StringType
    // stock-connector parity: an optional 'timestamp' input column
    // (TimestampType) becomes each record's CreateTime on the wire
    val tsIdx = schema.fieldNames.indexOf("timestamp")
    require(tsIdx < 0 ||
        schema(tsIdx).dataType == org.apache.spark.sql.types.TimestampType,
      "kafka-wire write: 'timestamp' column must be TIMESTAMP")
    // stock-connector topic resolution: the `topic` option names every
    // row's destination; without it, each row's `topic` STRING column
    // routes it (and the option, when present, overrides the column)
    val topicIdx = schema.fieldNames.indexOf("topic")
    require(topic != null || topicIdx >= 0,
      "kafka-wire write: set the 'topic' option or provide a 'topic' column")
    require(topic != null || schema(topicIdx).dataType == StringType,
      "kafka-wire write: 'topic' column must be STRING")
    // fixed-topic partition count resolved once at the driver (metadata
    // auto-creates); column-routed topics resolve lazily per task
    val nPartsFixed =
      if (topic == null) -1
      else {
        // cluster client, not a raw socket: the probe must honor the
        // bootstrap LIST like every other driver-side call (a dead
        // first endpoint would otherwise fail the whole write job)
        val c = new KafkaClusterClient(host, port, sasl = sasl,
          extraBootstrap = extraBootstrap, tls = tls)
        try c.metadata(Seq(topic)).head.partitions.size finally c.close()
      }
    KafkaWireWriterParams(host, port, Option(topic),
      if (topic == null) topicIdx else -1, nPartsFixed,
      keyIdx, keyIsString, valueIdx, valueIsString, gzip, idempotence, tsIdx,
      transactionalId, sasl, extraBootstrap, tls)
  }

  override def toBatch: BatchWrite = {
    val params = factoryParams
    new BatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
        KafkaWireWriterFactory(params)
      override def commit(messages: Array[WriterCommitMessage]): Unit = ()
      override def abort(messages: Array[WriterCommitMessage]): Unit = ()
    }
  }

  override def toStreaming: StreamingWrite = {
    val params = factoryParams
    new StreamingWrite {
      override def createStreamingWriterFactory(
          info: PhysicalWriteInfo): StreamingDataWriterFactory =
        KafkaWireWriterFactory(params)
      override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
      override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
    }
  }
}

final case class KafkaWireWriterParams(host: String, port: Int,
    topic: Option[String], topicIdx: Int,
    nParts: Int, keyIdx: Int, keyIsString: Boolean,
    valueIdx: Int, valueIsString: Boolean, gzip: Boolean = false,
    idempotence: Boolean = false, tsIdx: Int = -1,
    transactionalId: Option[String] = None,
    sasl: Option[KafkaWireClient.SaslPlain] = None,
    extraBootstrap: Seq[(String, Int)] = Nil,
    tls: Option[Tls.ClientTls] = None)

final case class KafkaWireWriterFactory(params: KafkaWireWriterParams)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KafkaWireDataWriter(params, partitionId)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new KafkaWireDataWriter(params, partitionId)
}

/** One producer socket per task; rows buffered per (topic, Kafka
  * partition) and flushed as 500-record batches, remainder flushed at
  * commit — so a failed task produces at most its flushed prefix
  * (at-least-once after Spark's retry), never a half-written record.
  * This is also the replay's producer: [[KafkaWireExchange.publish]]
  * runs each at-least-once pass as a batch write through it.
  * Column-routed topics (no `topic` option) resolve their partition
  * count lazily on first sight, one metadata round trip per distinct
  * topic per task.
  */
final class KafkaWireDataWriter(params: KafkaWireWriterParams, sparkPartition: Int)
    extends DataWriter[InternalRow] {
  import params._

  // cluster-aware: each (topic, partition) flush lands on its LEADER,
  // transaction APIs on the id's coordinator; one socket per broker
  // actually touched (single-broker mode degenerates to one socket)
  private val client = new KafkaClusterClient(host, port, sasl = params.sasl,
    extraBootstrap = params.extraBootstrap, tls = params.tls)
  // transactional.id: this task's transaction identity is STABLE across
  // task retries (it derives from the Spark partition id, not the
  // attempt), so a retry's InitProducerId fences the failed attempt and
  // the broker aborts whatever it left open — the Kafka Streams
  // task-transaction pattern
  private val txnId: Option[String] =
    transactionalId.map(base => s"$base-p$sparkPartition")
  // enable.idempotence / transactions: one producer session per task —
  // the handshake runs once and every flushed batch carries
  // (pid, epoch, seq), so a network-level produce retry re-acks
  // instead of re-appending
  private val producer: Option[(Long, Short)] =
    if (txnId.isDefined || idempotence)
      Some(client.initProducerId(txnId.orNull))
    else None
  // (topic, partition)s already registered in the current transaction
  private val txnAdded = scala.collection.mutable.Set.empty[(String, Int)]
  private val nPartsByTopic = scala.collection.mutable.Map.empty[String, Int]
  params.topic.foreach(t => nPartsByTopic(t) = nParts)
  private def nPartsOf(t: String): Int =
    nPartsByTopic.getOrElseUpdate(t, client.metadata(Seq(t)).head.partitions.size)
  private val nextSeq = scala.collection.mutable.Map.empty[(String, Int), Int]
  private val buffers = scala.collection.mutable.Map
    .empty[(String, Int), scala.collection.mutable.Builder[
      (Long, Array[Byte], Array[Byte]), Vector[(Long, Array[Byte], Array[Byte])]]]
  private val buffered = scala.collection.mutable.Map.empty[(String, Int), Int]

  private def bytesAt(row: InternalRow, idx: Int, isString: Boolean): Array[Byte] =
    if (idx < 0 || row.isNullAt(idx)) null
    else if (isString) row.getUTF8String(idx).getBytes
    else row.getBinary(idx)

  override def write(row: InternalRow): Unit = {
    val t = params.topic.getOrElse {
      require(!row.isNullAt(topicIdx),
        "kafka-wire write: null in the 'topic' routing column")
      row.getUTF8String(topicIdx).toString
    }
    val k = bytesAt(row, keyIdx, keyIsString)
    val v = bytesAt(row, valueIdx, valueIsString)
    // CreateTime from the optional timestamp column (micros → millis,
    // the wire's grain); 0L otherwise — event time then travels in the
    // payload, the catalog pipelines' default
    val ts = if (tsIdx >= 0 && !row.isNullAt(tsIdx)) row.getLong(tsIdx) / 1000L
      else 0L
    val n = nPartsOf(t)
    // sticky per task when unkeyed, murmur2 placement otherwise —
    // evaluated against the ROW's topic's partition count
    val part =
      if (k == null) sparkPartition % math.max(n, 1)
      else KafkaCodec.partitionFor(k, n)
    val tp = (t, part)
    buffers.getOrElseUpdate(tp, Vector.newBuilder) += ((ts, k, v))
    buffered(tp) = buffered.getOrElse(tp, 0) + 1
    if (buffered(tp) >= 500) flush(tp)
  }

  private def flush(tp: (String, Int)): Unit = {
    val (t, part) = tp
    val records = buffers.get(tp).map(_.result()).getOrElse(Vector.empty)
    if (records.nonEmpty) producer match {
      case Some((pid, epoch)) =>
        txnId.foreach { tx =>
          if (!txnAdded(tp)) {
            client.addPartitionsToTxn(tx, pid, epoch, t, Seq(part))
            txnAdded += tp
          }
        }
        client.produce(t, part, records, gzip, pid, epoch,
          nextSeq.getOrElse(tp, 0), transactionalId = txnId.orNull)
        nextSeq(tp) = nextSeq.getOrElse(tp, 0) + records.size
      case None => client.produce(t, part, records, gzip)
    }
    buffers(tp) = Vector.newBuilder
    buffered(tp) = 0
  }

  override def commit(): WriterCommitMessage = {
    buffers.keys.toSeq.sorted.foreach(flush)
    // transactional task-commit: the COMMIT marker is what makes this
    // task's records visible to read_committed consumers
    for (t <- txnId; (pid, epoch) <- producer if txnAdded.nonEmpty)
      client.endTxn(t, pid, epoch, commit = true)
    new WriterCommitMessage {}
  }

  override def abort(): Unit =
    // transactional task-abort: mark the attempt's records aborted now
    // (a retry's InitProducerId would also fence+abort, but an explicit
    // marker releases the LSO immediately)
    for (t <- txnId; (pid, epoch) <- producer if txnAdded.nonEmpty)
      try client.endTxn(t, pid, epoch, commit = false)
      catch { case _: Exception => () } // fenced by a newer attempt: fine

  override def close(): Unit = client.close()
}

final class KafkaWireScan(conf: KafkaWireConf) extends Scan {
  import conf.{host, port, topic}

  override def readSchema(): StructType = KafkaWireSource.Schema
  override def description(): String = s"kafka-wire $topic"

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new KafkaWireMicroBatchStream(conf)

  /** Batch scan: the `[startingOffsets, endingOffsets)` range resolved
    * once at plan time (defaults: the full earliest→latest log of
    * every subscribed topic).
    */
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val c = new KafkaClusterClient(host, port, sasl = conf.sasl,
        extraBootstrap = conf.extraBootstrap, tls = conf.tls)
      try {
        val partsByTopic = conf.resolvePartitions(c)
        val starts = KafkaWireSource.resolveStart(c, partsByTopic, conf)
        val ends0 = KafkaWireSource.resolveEnd(c, partsByTopic, conf)
        // read_committed: the visibility horizon is the last stable
        // offset, not the high watermark — a batch planned past an open
        // transaction would block on records it may never see
        val ends = if (conf.readCommitted)
          ends0.map { case ((t, p), e) =>
            (t, p) -> math.min(e, c.lastStableOffset(t, p))
          }
        else ends0
        val ranges = starts.keys.toSeq.sorted
          .map { case (t, p) => (t, p, starts((t, p)), ends((t, p))) }
        KafkaWireSource.splitForMinPartitions(ranges, conf.minPartitions)
          .map { case (t, p, s0, e0) =>
            // each slice is planned AT its partition's leader — the
            // executor's socket goes straight to the broker holding the
            // data (preferred-location thinking, minus the locality hint)
            val (lh, lp) = c.leaderFor(t, p)
            KafkaWireInputPartition(lh, lp, t, p, s0, e0,
              conf.readCommitted, conf.sasl,
              (conf.host, conf.port) +: conf.extraBootstrap,
              conf.tls): InputPartition
          }.toArray
      } finally c.close()
    }
    override def createReaderFactory(): PartitionReaderFactory =
      KafkaWireReaderFactory
  }
}

final class KafkaWireMicroBatchStream(conf: KafkaWireConf)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  import conf.{host, port}

  // End bounds are batch-read options: a streaming read is unbounded by
  // contract (drain-and-stop is Trigger.AvailableNow's job), so a
  // configured end must fail the plan loudly rather than be silently
  // ignored — the stock connector rejects ending offsets in streaming
  // queries the same way.
  require(conf.endingTimestamp.isEmpty,
    "kafka-wire: endingTimestamp cannot bound a streaming read " +
      "(batch-read option; use Trigger.AvailableNow to drain-and-stop)")
  require(conf.endingOffsets == "latest",
    "kafka-wire: endingOffsets cannot bound a streaming read " +
      "(batch-read option; use Trigger.AvailableNow to drain-and-stop)")

  // Driver-side metadata client, opened lazily and reused across the
  // per-batch offset polls (metadata only — record bytes never touch
  // it). Cluster-aware: ListOffsets route to partition leaders, group
  // commits to the coordinator.
  @transient private lazy val client =
    new KafkaClusterClient(host, port, sasl = conf.sasl,
      extraBootstrap = conf.extraBootstrap, tls = conf.tls)
  @transient private lazy val partsByTopic: Map[String, Seq[Int]] = {
    // metadata auto-creates the topics on the stub, fixing partition
    // counts before the first offset poll; a subscribePattern resolves
    // against the broker's topic list here (query start); `assign`
    // pins exact partitions instead
    conf.resolvePartitions(client)
  }
  // AvailableNow target: captured once at prepare time so a producer
  // racing the drain can't extend the run past the trigger's snapshot.
  @transient private var availableNowTarget: Option[KafkaWireOffset] = None

  private def offsetsAt(timestamp: Long): KafkaWireOffset =
    KafkaWireOffset(partsByTopic.flatMap { case (t, ps) =>
      ps.map { p =>
        val o = client.listOffset(t, p, timestamp)
        // read_committed: never plan past the last stable offset
        (t, p) -> (if (conf.readCommitted && timestamp == -1L)
          math.min(o, client.lastStableOffset(t, p)) else o)
      }
    })

  override def initialOffset(): Offset =
    KafkaWireOffset(KafkaWireSource.resolveStart(client, partsByTopic, conf))

  /** Proportional admission control: cap this batch at `max` records
    * total, allotted across partitions proportionally to their backlog
    * (exact integer math — BigInt so a 100 TB-scale backlog times the
    * cap can't overflow), deterministic remainder to the lowest
    * partition ids. A capped batch ends strictly between `start` and
    * the live watermark, so a deep backlog drains as a sequence of
    * bounded batches instead of one unbounded state/shuffle spike.
    */
  private def capped(start: KafkaWireSource.TopicOffsets,
      end: KafkaWireSource.TopicOffsets, max: Long): KafkaWireOffset = {
    val backlog = end.map { case (tp, e) =>
      tp -> math.max(0L, e - start.getOrElse(tp, 0L))
    }
    val total = backlog.values.sum
    if (total <= max) KafkaWireOffset(end)
    else {
      var allot = backlog.map { case (tp, d) =>
        tp -> (BigInt(d) * max / total).toLong
      }
      var rem = max - allot.values.sum
      for (tp <- allot.keys.toSeq.sorted if rem > 0) {
        val add = math.min(backlog(tp) - allot(tp), rem)
        allot += tp -> (allot(tp) + add)
        rem -= add
      }
      KafkaWireOffset(end.map { case (tp, _) =>
        tp -> (start.getOrElse(tp, 0L) + allot(tp))
      })
    }
  }

  // Admission-control form: the engine calls this one when the source
  // implements SupportsAdmissionControl. The uncapped end is the
  // prepared AvailableNow target (if set) or the live high watermark;
  // a maxRows limit (maxOffsetsPerTrigger) then bounds the batch, and
  // under Trigger.AvailableNow the engine keeps issuing batches until
  // the monotone capped ends reach the prepared target.
  // wall clock of the last ADMITTED batch (or the start of the current
  // waiting period): the reference point for minOffsetsPerTrigger's
  // maxTriggerDelay escape hatch
  @transient private var lastTriggerMs: Long = -1L

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadMaxRows, ReadMinRows}
    val startOffsets = start.asInstanceOf[KafkaWireOffset].offsets
    val target = availableNowTarget.getOrElse(offsetsAt(-1L))
    val limits = limit match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq
      case l => Seq(l)
    }
    val backlog = target.offsets.map { case (tp, e) =>
      math.max(0L, e - startOffsets.getOrElse(tp, 0L))
    }.sum
    val now = System.currentTimeMillis()
    if (lastTriggerMs < 0) lastTriggerMs = now
    // IDLE re-arms the window: with nothing to admit, the delay clock
    // restarts, so a long-idle stream's first trickle record begins a
    // fresh accumulation window instead of firing an immediate tiny
    // batch off a stale, long-expired timer
    if (backlog == 0) lastTriggerMs = now
    // minOffsetsPerTrigger gate: hold the batch until enough backlog
    // accumulates OR maxTriggerDelay since the last admitted batch
    // expires — the stock connector's small-batch suppressor (tiny
    // micro-batches are pure overhead at scale: per-batch planning,
    // state-store commits, tiny output files). Ignored under
    // Trigger.AvailableNow, which must drain-and-stop regardless.
    val blocked = limits.collectFirst { case m: ReadMinRows => m }.exists { m =>
      availableNowTarget.isEmpty && backlog < m.minRows() &&
        now - lastTriggerMs < m.maxTriggerDelayMs()
    }
    if (blocked) KafkaWireOffset(startOffsets)
    else {
      if (backlog > 0) lastTriggerMs = now
      limits.collectFirst { case m: ReadMaxRows => m } match {
        case Some(mx) => capped(startOffsets, target.offsets, mx.maxRows())
        case None => target
      }
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "kafka-wire implements SupportsAdmissionControl: use latestOffset(start, limit)")

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(offsetsAt(-1L))

  override def getDefaultReadLimit: ReadLimit =
    (conf.minOffsetsPerTrigger, conf.maxOffsetsPerTrigger) match {
      case (Some(mn), Some(mx)) => ReadLimit.compositeLimit(Array(
        ReadLimit.minRows(mn, conf.maxTriggerDelayMs), ReadLimit.maxRows(mx)))
      case (Some(mn), None) => ReadLimit.minRows(mn, conf.maxTriggerDelayMs)
      case (None, Some(mx)) => ReadLimit.maxRows(mx)
      case _ => ReadLimit.allAvailable()
    }

  override def reportLatestOffset(): Offset = offsetsAt(-1L)

  override def deserializeOffset(json: String): Offset =
    // flat legacy checkpoints (pre-multi-topic) attribute to the sole
    // subscribed topic; current serialization is always nested
    KafkaWireOffset(KafkaWireSource.fromJson(json,
      conf.topics.headOption.getOrElse("")))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[KafkaWireOffset].offsets
    val e = end.asInstanceOf[KafkaWireOffset].offsets
    val ranges = e.toSeq.sortBy(_._1).flatMap { case ((t, p), endOff) =>
      val startOff = s.getOrElse((t, p), 0L)
      if (endOff > startOff) Some((t, p, startOff, endOff)) else None
    }
    KafkaWireSource.splitForMinPartitions(ranges, conf.minPartitions)
      .map { case (t, p, s0, e0) =>
        // plan the slice at its partition's leader (executor sockets go
        // straight to the broker holding the data)
        val (lh, lp) = client.leaderFor(t, p)
        KafkaWireInputPartition(lh, lp, t, p, s0, e0,
          conf.readCommitted, conf.sasl,
          (conf.host, conf.port) +: conf.extraBootstrap,
          conf.tls): InputPartition
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = KafkaWireReaderFactory

  // The CHECKPOINT is the source of truth for restart (exactly the
  // stock connector's contract) — but with kafka.group.id set, each
  // completed batch's end offsets are ALSO committed to the group, so
  // external lag monitors (and a later startingOffsets=group read) see
  // the query's progress. Commit failures only log: group offsets are
  // observability/handover state, never allowed to fail the query.
  override def commit(end: Offset): Unit = conf.groupId.foreach { g =>
    try end.asInstanceOf[KafkaWireOffset].offsets
      .groupBy(_._1._1).foreach { case (t, m) =>
        client.commitOffsets(g, t,
          m.map { case ((_, p), o) => p -> o }, metadata = "graft-stream")
      }
    catch {
      case e: Exception =>
        System.err.println(s"[kafka-wire] group offset commit failed: ${e.getMessage}")
    }
  }

  override def stop(): Unit =
    try client.close() catch { case _: Exception => () }
}

/** One Kafka partition's [start, end) slice — the unit of executor work.
  * `host`/`port` pin the partition's LEADER at planning time (the fast
  * path); `fallback` carries the bootstrap list so a task can re-route
  * if the leader dies between planning and execution.
  * `preferredLocations` surfaces the leader's host so a cluster
  * scheduler can co-locate the reading task with the broker holding
  * the data (the stock connector's locality hint; a no-op on
  * local[N], load-bearing on a 1000-executor cluster where
  * rack/host-local fetches skip the spine).
  */
final case class KafkaWireInputPartition(host: String, port: Int, topic: String,
    partition: Int, startOffset: Long, endOffset: Long,
    readCommitted: Boolean = false,
    sasl: Option[KafkaWireClient.SaslPlain] = None,
    fallback: Seq[(String, Int)] = Nil,
    tls: Option[Tls.ClientTls] = None) extends InputPartition {
  override def preferredLocations(): Array[String] = Array(host)
}

object KafkaWireReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new KafkaWirePartitionReader(partition.asInstanceOf[KafkaWireInputPartition])
}

/** Executor-side reader: its own socket, repeated fetches across the
  * assigned range (a fetch response is bounded by maxBytes, so one call
  * may cover only a prefix), rows surfaced in offset order. Records at
  * or past `endOffset` — appended after the batch was planned — are cut,
  * which is what makes a planned batch deterministic under concurrent
  * producers and replays exact on checkpoint resume.
  */
final class KafkaWirePartitionReader(p: KafkaWireInputPartition)
    extends PartitionReader[InternalRow] {

  // routing client, seeded with the planner's leader hint: the common
  // path is one direct socket to the pinned leader (zero extra round
  // trips); if that broker died after planning, the fetch re-routes
  // through the fallback bootstrap list to the promoted replica
  // instead of failing every task retry against a corpse
  private val client =
    new KafkaClusterClient(p.host, p.port, sasl = p.sasl,
      extraBootstrap = p.fallback, tls = p.tls)
  client.assumeLeader(p.topic, p.partition, p.host, p.port)
  private var nextOff = p.startOffset
  private var buffer: Iterator[KafkaCodec.WireRecord] = Iterator.empty
  private var current: KafkaCodec.WireRecord = _
  private val topicUtf8 = UTF8String.fromString(p.topic)
  // Adaptive per-fetch byte budget. The planned slice [start, end) is
  // usually a small fraction of the partition log (micro-batch caps,
  // minPartitions splits), but a FIXED 4 MB max_bytes makes the broker
  // copy + re-encode and the socket carry ~max_bytes of records per
  // fetch regardless — this reader then throws away everything at or
  // past endOffset. Measured on q_e2e_kafka_es at sf0.1: every split's
  // fetch returned ~the whole remaining partition, ~24× the bytes the
  // slice needed, and the fetch wait dominated the stage (thread dumps
  // show all tasks parked in KafkaWireClient.send readInt). Budget ≈
  // remaining rows × observed bytes/record instead; protocol-safe
  // because a fetch always returns at least one batch and the loop
  // drains the slice across as many fetches as needed.
  private var avgRecBytes = 0L
  private def fetchBudget(): Int = {
    val remaining = p.endOffset - nextOff
    if (avgRecBytes <= 0L || remaining <= 0L) 256 * 1024
    else {
      val want = avgRecBytes * remaining * 2L + 4096L
      math.max(64L * 1024L, math.min(want, 4L * 1024L * 1024L)).toInt
    }
  }

  override def next(): Boolean = {
    while (!buffer.hasNext && nextOff < p.endOffset) {
      val r = client.fetch(p.topic, p.partition, nextOff,
        maxBytes = fetchBudget(), readCommitted = p.readCommitted)
      require(r.errorCode == KafkaCodec.Err.None,
        s"fetch error ${r.errorCode} on ${p.topic}/${p.partition}@$nextOff")
      if (r.records.nonEmpty) {
        var bytes = 0L
        r.records.foreach { rec =>
          bytes += 12L + (if (rec.key == null) 0 else rec.key.length) +
            (if (rec.value == null) 0 else rec.value.length)
        }
        avgRecBytes = math.max(1L, bytes / r.records.length)
      }
      // control markers advance the offset cursor but are never rows;
      // aborted-range records were already dropped client-side
      val got = r.records.filter(rec =>
        !rec.control && rec.offset >= nextOff && rec.offset < p.endOffset)
      require(r.nextOffset > nextOff,
        s"stalled fetch at $nextOff < planned end ${p.endOffset} (${p.topic}/${p.partition})")
      nextOff = r.nextOffset
      buffer = got.iterator
    }
    if (buffer.hasNext) { current = buffer.next(); true } else false
  }

  override def get(): InternalRow = new GenericInternalRow(Array[Any](
    current.key, current.value, topicUtf8, p.partition, current.offset,
    current.timestampMs * 1000L, 0))

  override def close(): Unit = client.close()
}
