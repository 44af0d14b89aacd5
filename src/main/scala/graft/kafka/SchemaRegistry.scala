package graft.kafka

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import com.sun.net.httpserver.HttpExchange

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** In-process Confluent-style schema registry — the metadata service a
  * production Avro-on-Kafka feed resolves its value schemas from,
  * completing the wire story [[graft.core.AvroCodec]] started (there
  * the schema travels out-of-band by convention; here it travels by ID
  * in each record's 5-byte prefix, the actual registry contract).
  * Same playbook as [[graft.streaming.EsStub]]: real HTTP, real JSON
  * response shapes, so swapping the base URL to a real registry
  * exercises the identical client path.
  *
  * Speaks the registry API subset every serializer uses:
  *   - `POST /subjects/{subject}/versions` — register a schema under a
  *     subject; the SAME canonical schema re-registers to the SAME id
  *     (global dedup by text, like the real registry), and an
  *     incompatible evolution is REJECTED with 409: the new schema
  *     must be able to READ data written by the subject's latest
  *     schema (BACKWARD compatibility, the registry default), checked
  *     with Avro's own resolution rules (`SchemaCompatibility`) — not
  *     a stub approximation.
  *   - `GET /schemas/ids/{id}` — resolve a writer schema by id (what
  *     consumers call on an unseen id, then cache forever: ids are
  *     immutable).
  *   - `GET /subjects/{subject}/versions/latest` — the producer's
  *     "what do I write today" lookup.
  */
final class SchemaRegistryStub extends graft.streaming.Service {

  private val mapper = new ObjectMapper()
  // global id space: canonical schema text -> id (ids immutable, dense)
  private val idsByText = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  private val textsById = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  // per subject: registered version list (ids, in registration order)
  private val subjects =
    new java.util.concurrent.ConcurrentHashMap[String, List[Int]]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)

  private val http = new graft.streaming.HttpService("schema-registry-stub", 4)(handle)

  def port: Int = http.port
  def baseUrl: String = http.baseUrl

  def start(): Unit = http.start()
  def stop(): Unit = http.stop()

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type",
      "application/vnd.schemaregistry.v1+json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  import SchemaRegistryStub.{ByIdRe, LatestRe, VersionsRe}

  private def handle(ex: HttpExchange): Unit = try {
    val path = ex.getRequestURI.getPath
    (ex.getRequestMethod, path) match {
      case ("POST", VersionsRe(subject)) =>
        val body = new String(ex.getRequestBody.readAllBytes(),
          StandardCharsets.UTF_8)
        val schemaText = mapper.readTree(body).get("schema").asText()
        register(subject, schemaText) match {
          case Right(id) =>
            respond(ex, 200, s"""{"id":$id}""")
          case Left(msg) =>
            respond(ex, 409,
              s"""{"error_code":409,"message":${mapper.writeValueAsString(msg)}}""")
        }
      case ("GET", LatestRe(subject)) =>
        subjects.getOrDefault(subject, Nil) match {
          case Nil => respond(ex, 404,
            """{"error_code":40401,"message":"Subject not found."}""")
          case ids =>
            val id = ids.last
            respond(ex, 200, s"""{"subject":${mapper.writeValueAsString(subject)},""" +
              s""""version":${ids.size},"id":$id,""" +
              s""""schema":${mapper.writeValueAsString(textsById.get(id))}}""")
        }
      case ("GET", ByIdRe(id)) =>
        Option(textsById.get(id.toInt)) match {
          case None => respond(ex, 404,
            """{"error_code":40403,"message":"Schema not found."}""")
          case Some(text) =>
            respond(ex, 200, s"""{"schema":${mapper.writeValueAsString(text)}}""")
        }
      case _ =>
        respond(ex, 404, """{"error_code":404,"message":"unknown path"}""")
    }
  } catch {
    case e: Exception =>
      // the failed respond may already have sent headers (e.g. the
      // client dropped mid-body-write): a second respond would throw
      // from the handler and leak the exchange off one of the pool's
      // threads — always fall back to a bare close
      try respond(ex, 422,
        s"""{"error_code":422,"message":${mapper.writeValueAsString(
          String.valueOf(e.getMessage))}}""")
      catch { case _: Exception => try ex.close() catch { case _: Exception => () } }
  }

  /** Register under BACKWARD compatibility: the NEW schema (as reader)
    * must be able to decode data written with the subject's LATEST
    * schema — Avro's own reader/writer resolution verdict, the rule
    * that keeps every consumer on the new schema able to read the
    * whole topic history.
    */
  private def register(subject: String, schemaText: String): Either[String, Int] = {
    val parsed = new org.apache.avro.Schema.Parser().parse(schemaText)
    val canonical = parsed.toString // canonical form: dedup key
    subjects.synchronized {
      val prior = subjects.getOrDefault(subject, Nil)
      prior.lastOption.foreach { lastId =>
        val last = new org.apache.avro.Schema.Parser()
          .parse(textsById.get(lastId))
        val verdict = org.apache.avro.SchemaCompatibility
          .checkReaderWriterCompatibility(parsed, last)
        if (verdict.getType !=
            org.apache.avro.SchemaCompatibility.SchemaCompatibilityType.COMPATIBLE)
          return Left("Schema being registered is incompatible with an " +
            s"earlier schema (BACKWARD): ${verdict.getDescription}")
      }
      val id = idsByText.computeIfAbsent(canonical, _ => {
        val n = nextId.incrementAndGet()
        textsById.put(n, canonical)
        n
      })
      if (!prior.contains(id)) subjects.put(subject, prior :+ id)
      Right(id)
    }
  }
}

object SchemaRegistryStub {
  private val VersionsRe = "/subjects/([^/]+)/versions".r
  private val LatestRe = "/subjects/([^/]+)/versions/latest".r
  private val ByIdRe = "/schemas/ids/([0-9]+)".r
}

/** Minimal blocking registry client — driver-side metadata calls, and
  * (under [[RegistryAvro.decodeEventsResolving]]) one short-lived
  * instance per executor partition.
  */
final class SchemaRegistryClient(baseUrl: String) {
  private val mapper = new ObjectMapper()

  private def http(method: String, path: String,
      body: Option[String]): (Int, String) = {
    val conn = new java.net.URL(baseUrl + path).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try {
      conn.setRequestMethod(method)
      body.foreach { b =>
        conn.setDoOutput(true)
        conn.setRequestProperty("Content-Type",
          "application/vnd.schemaregistry.v1+json")
        conn.getOutputStream.write(b.getBytes(StandardCharsets.UTF_8))
      }
      val status = conn.getResponseCode
      // getErrorStream is NULL for bodiless error responses — guard so
      // the informative (status, body) failure surfaces, not an NPE
      val stream = Option(
        if (status < 400) conn.getInputStream else conn.getErrorStream)
      // read AND close the stream: abandoned keep-alive connections
      // accumulate file descriptors on long-lived executors
      val text = stream.map { s =>
        try new String(s.readAllBytes(), StandardCharsets.UTF_8)
        finally s.close()
      }.getOrElse("")
      (status, text)
    } finally conn.disconnect()
  }

  /** Register (or re-resolve) `schemaJson` under `subject` → schema id.
    * An incompatible evolution surfaces the registry's 409 loudly.
    */
  def register(subject: String, schemaJson: String): Int = {
    val (status, body) = http("POST", s"/subjects/$subject/versions",
      Some(s"""{"schema":${mapper.writeValueAsString(schemaJson)}}"""))
    require(status == 200,
      s"schema registration failed ($status): $body")
    mapper.readTree(body).get("id").asInt()
  }

  /** Resolve a writer schema by id (immutable; cache at will). */
  def schemaById(id: Int): String = {
    val (status, body) = http("GET", s"/schemas/ids/$id", None)
    require(status == 200, s"schema id $id not found ($status): $body")
    mapper.readTree(body).get("schema").asText()
  }

  /** The subject's latest registered (version, id, schema). */
  def latest(subject: String): (Int, Int, String) = {
    val (status, body) = http("GET", s"/subjects/$subject/versions/latest", None)
    require(status == 200, s"subject $subject not found ($status): $body")
    val n = mapper.readTree(body)
    (n.get("version").asInt(), n.get("id").asInt(), n.get("schema").asText())
  }
}

/** The Confluent WIRE FORMAT over the Avro value codec: every record
  * value is `magic 0x00 | schemaId int32-BE | avro binary` — the
  * 5-byte prefix that lets one topic carry records written under many
  * schema versions, with consumers resolving each writer schema by id
  * and reading through Avro's schema-resolution rules (new fields
  * null-default for old records, dropped fields skipped). The encode
  * and decode are `mapPartitions` batch transforms like
  * [[graft.core.AvroCodec]]; schema RESOLUTION happens driver-side
  * (distinct ids collected from the 5-byte prefixes — a tiny agg —
  * then the id→schema map broadcasts with the closure), so executors
  * never talk to the registry: the real serializer's cache, made
  * explicit.
  */
object RegistryAvro {

  /** The v1 events schema: no `prop_k` yet — the "before the field
    * existed" era a registry feed's history always contains.
    */
  val EventSchemaV1Json: String =
    """{"type": "record", "name": "Event", "namespace": "graft.wire",
      | "fields": [
      |   {"name": "event_id", "type": "long"},
      |   {"name": "ts_us", "type": "long"},
      |   {"name": "user_id", "type": "long"},
      |   {"name": "event_type", "type": "string"},
      |   {"name": "value", "type": "double"}
      | ]}""".stripMargin

  /** v2 = [[graft.core.AvroCodec.EventSchemaJson]]: adds the optional
    * `prop_k` (null default) — the BACKWARD-compatible evolution shape.
    */
  val EventSchemaV2Json: String = graft.core.AvroCodec.EventSchemaJson

  /** events → (key, value) wire frame with the 5-byte registry prefix;
    * fields absent from the writer schema (e.g. prop_k under v1) are
    * simply not written. Delegates to [[graft.core.AvroCodec]]'s one
    * encode loop — one source of truth for the event↔record mapping
    * across both wire paths.
    */
  def encodeEvents(events: DataFrame, schemaJson: String,
      schemaId: Int): DataFrame =
    graft.core.AvroCodec.encodeEventsFramed(events, schemaJson,
      Array[Byte](0,
        ((schemaId >>> 24) & 0xff).toByte, ((schemaId >>> 16) & 0xff).toByte,
        ((schemaId >>> 8) & 0xff).toByte, (schemaId & 0xff).toByte))

  /** Parse the 5-byte registry prefix (magic 0x00 + int32-BE id). */
  private def readSchemaId(bytes: Array[Byte]): Int = {
    require(bytes.length >= 5 && bytes(0) == 0,
      "not a registry-framed value (magic byte 0 + int32 id)")
    ((bytes(1) & 0xff) << 24) | ((bytes(2) & 0xff) << 16) |
      ((bytes(3) & 0xff) << 8) | (bytes(4) & 0xff)
  }

  /** The distinct schema ids present in a wire frame — the driver-side
    * resolution census (5-byte prefix only; the values' Avro payloads
    * are never decoded here).
    */
  def schemaIds(wire: DataFrame): Seq[Int] = {
    val spark = wire.sparkSession
    import spark.implicits._
    wire.select(col("value").cast("binary")).as[Array[Byte]]
      .map(readSchemaId).distinct().collect().toSeq.sorted
  }

  /** Like [[decodeEvents]], but executors resolve unseen writer-schema
    * ids DIRECTLY from the registry (lazy per-partition client,
    * schemas cached for the partition's lifetime) — the real
    * consumer's shape, and the right one at scale: no extra
    * id-census pass over the data, and registry traffic is
    * O(distinct ids × partitions) tiny HTTP calls, not O(records).
    * The broadcast-map twin stays for deployments that forbid
    * executor→registry egress.
    */
  def decodeEventsResolving(wire: DataFrame, readerSchemaJson: String,
      registryUrl: String): DataFrame =
    decodeImpl(wire, readerSchemaJson, Left(registryUrl))

  /** Wire frame → typed event columns under `readerSchemaJson`, with
    * each record's WRITER schema resolved from its id prefix via the
    * broadcast `writerById` map — Avro schema resolution fills new
    * fields' defaults for records written before the field existed.
    */
  def decodeEvents(wire: DataFrame, readerSchemaJson: String,
      writerById: Map[Int, String]): DataFrame =
    decodeImpl(wire, readerSchemaJson, Right(writerById))

  private def decodeImpl(wire: DataFrame, readerSchemaJson: String,
      resolver: Either[String, Map[Int, String]]): DataFrame = {
    val spark = wire.sparkSession
    import spark.implicits._
    val values: Dataset[Array[Byte]] =
      wire.select(col("value").cast("binary")).as[Array[Byte]]
    values.mapPartitions { it =>
      val readerSchema =
        new org.apache.avro.Schema.Parser().parse(readerSchemaJson)
      val hasPropK = readerSchema.getField("prop_k") != null
      // one resolving reader per writer schema id, built lazily and
      // reused across the partition (the serializer's cache); under
      // Left(url) an unseen id costs one HTTP round trip here, then
      // never again for this partition
      lazy val registry = resolver.left.toOption.map(new SchemaRegistryClient(_))
      val readers = scala.collection.mutable.Map.empty[Int,
        org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]]
      var dec: org.apache.avro.io.BinaryDecoder = null
      it.map { bytes =>
        val id = readSchemaId(bytes)
        val reader = readers.getOrElseUpdate(id, {
          val text = resolver match {
            case Left(_) => registry.get.schemaById(id)
            case Right(m) => m.getOrElse(id,
              throw new IllegalArgumentException(s"unresolved schema id $id"))
          }
          val writerSchema = new org.apache.avro.Schema.Parser().parse(text)
          new org.apache.avro.generic.GenericDatumReader(writerSchema, readerSchema)
        })
        dec = org.apache.avro.io.DecoderFactory.get()
          .binaryDecoder(bytes, 5, bytes.length - 5, dec)
        graft.core.AvroCodec.eventOf(reader.read(null, dec), hasPropK)
      }
    }.toDF("event_id", "ts_us", "user_id", "event_type", "value", "prop_k")
  }
}
