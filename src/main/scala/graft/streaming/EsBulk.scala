package graft.streaming

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.{CompletableFuture, ExecutionException}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** One document headed for the `_bulk` endpoint.
  *
  *  - `id = Some(...)` with `version = Some(...)`: an `index` action
  *    with EXTERNAL versioning — the store keeps the doc with the
  *    highest version per id, so replays and concurrent writers
  *    converge to the same state regardless of arrival order. This is
  *    the mechanism that makes upsert-by-id deterministic on a real
  *    cluster, where partitions POST bulks concurrently.
  *  - `id = Some(...)`, `version = None`: plain last-write-wins by
  *    arrival (the reference's `es.mapping.id` behavior,
  *    `spark_streaming_kafka.py:41`).
  *  - `id = None`: auto-id append (the reference's per-row
  *    `es.index(index=...)` loop, `kafka_to_es.py:55-71`) —
  *    at-least-once: a retried request can duplicate docs.
  *  - `delete = true` (requires an id): a `delete` action — with
  *    `version = Some(...)` it is an external-versioned delete (wins
  *    iff strictly newer than the stored doc; the engine keeps the
  *    tombstone's version so later stale writes still 409 — the wire
  *    twin of [[DeltaUpsertStore.delete]]'s event-time contract).
  *    `source` is ignored (delete actions carry no source line).
  */
final case class EsDoc(index: String, id: Option[String],
    version: Option[Long], source: String, delete: Boolean = false)

/** What one `bulk()` call did: docs indexed (or deleted), 409 version
  * conflicts, accepted bulk requests, and re-sends of a request after a
  * retryable failure (429/502/503/504 or a connect error).
  */
final case class EsBulkStats(indexed: Long, conflicts: Long, requests: Long,
    retries: Long = 0L) {
  def +(o: EsBulkStats): EsBulkStats =
    EsBulkStats(indexed + o.indexed, conflicts + o.conflicts,
      requests + o.requests, retries + o.retries)
}

/** Elasticsearch `_bulk` wire-protocol client — JDK `java.net.http`
  * only, no connector dependency (zero-egress build). Speaks the real
  * NDJSON bulk format (`{"index":{"_index":…,"_id":…,"version":…,
  * "version_type":"external"}}\n{doc}\n`), chunks requests by doc
  * count, retries 429/5xx/connect failures with exponential backoff,
  * and fails loudly on any per-item error EXCEPT 409 version conflicts
  * — under external versioning a conflict means "a newer write already
  * landed" (or an at-least-once replay of our own write), which is the
  * expected outcome, not an error. Designed to run INSIDE
  * `foreachPartition` on executors: each partition streams its own
  * chunked bulks, so the sink fan-out scales with the cluster instead
  * of funnelling through the driver (reference: `kafka_to_es.py`
  * indexes row-at-a-time from one process — the documented
  * anti-pattern this replaces).
  *
  * One request in flight: while chunk N is on the wire, `bulk` pulls
  * and encodes chunk N+1 from its iterator — inside `foreachPartition`
  * that pull is the upstream work (Kafka fetch, JSON decode and
  * encode) — and sends chunk N+1 only once chunk N's response is
  * accepted, retries included. At most one request is outstanding per
  * call, so chunks reach the server in iterator order and
  * last-write-wins, 409 and 404 outcomes are those of a lockstep
  * client. If the iterator throws, the chunk in flight is still
  * completed before the exception propagates.
  */
final class EsBulkClient(baseUrl: String, maxDocsPerRequest: Int = 1000,
    maxRetries: Int = 4) extends Serializable {

  @transient private lazy val http: HttpClient = EsBulkClient.shared
  @transient private lazy val mapper = new ObjectMapper()

  /** GET /_cluster/health — the K5 preflight over the wire. */
  def health(): Boolean =
    try {
      val resp = send(HttpRequest.newBuilder(URI.create(s"$baseUrl/_cluster/health"))
        .timeout(Duration.ofSeconds(10)).GET().build())
      resp.statusCode() == 200 && {
        val st = mapper.readTree(resp.body()).path("status").asText("")
        st == "green" || st == "yellow"
      }
    } catch { case _: Exception => false }

  /** Stream `docs` to the bulk endpoint in chunks, one request in flight. */
  def bulk(docs: Iterator[EsDoc]): EsBulkStats = {
    val chunks = docs.grouped(maxDocsPerRequest)
    var stats = EsBulkStats(0, 0, 0)
    var inFlight: Option[InFlight] = None
    def await(): Unit = inFlight.foreach { f => inFlight = None; stats += complete(f) }
    try {
      while (chunks.hasNext) {
        val next = request(chunks.next())
        await()
        inFlight = Some(InFlight(next, sendAsync(next)))
      }
      await()
      stats
    } catch {
      case NonFatal(e) =>
        // the iterator failed with a request on the wire: finish it, so
        // none is outstanding once bulk() returns
        inFlight.foreach { f =>
          try complete(f) catch { case NonFatal(s) => e.addSuppressed(s) }
        }
        throw e
    }
  }

  private final case class InFlight(req: HttpRequest,
      response: CompletableFuture[HttpResponse[String]])

  private def request(chunk: Seq[EsDoc]): HttpRequest = {
    val body = new StringBuilder
    chunk.foreach { d =>
      val meta = mapper.createObjectNode()
      val op = if (d.delete) "delete" else "index"
      val idx = meta.putObject(op)
      idx.put("_index", d.index)
      d.id.foreach(idx.put("_id", _))
      d.version.foreach { v =>
        idx.put("version", v)
        idx.put("version_type", "external")
      }
      if (d.delete) require(d.id.nonEmpty, "bulk delete action requires an _id")
      body.append(mapper.writeValueAsString(meta)).append('\n')
      if (!d.delete) body.append(d.source).append('\n')
    }
    HttpRequest.newBuilder(URI.create(s"$baseUrl/_bulk"))
      .timeout(Duration.ofSeconds(60))
      .header("Content-Type", "application/x-ndjson")
      .POST(HttpRequest.BodyPublishers.ofString(body.toString))
      .build()
  }

  /** Await `f`'s response, re-sending its request on retryable failures. */
  private def complete(f: InFlight): EsBulkStats = {
    var attempt = 0
    var sent = f.response
    while (true) {
      val resp =
        try Some(sent.get())
        catch {
          case e: ExecutionException => e.getCause match {
            case _: java.io.IOException => None
            case cause => throw cause
          }
        }
      resp match {
        case Some(r) if r.statusCode() == 200 =>
          var indexed = 0L
          var conflicts = 0L
          val items = mapper.readTree(r.body()).path("items")
          items.elements().asScala.foreach { item =>
            val isDelete = item.has("delete")
            val op = item.elements().asScala.next()
            val status = op.path("status").asInt(0)
            if (status == 200 || status == 201) indexed += 1
            else if (status == 409) conflicts += 1 // stale under external versioning: fine
            else if (status == 404 && isDelete) indexed += 1 // deleting an absent doc: fine
            else throw new IllegalStateException(
              s"bulk item failed (status $status): ${op.toString.take(500)}")
          }
          return EsBulkStats(indexed, conflicts, 1, attempt.toLong)
        case other =>
          // connect failure or retryable HTTP status → backoff and retry the
          // whole request. Replays are safe: versioned docs collapse to 409s,
          // auto-id docs are at-least-once by contract.
          val code = other.map(_.statusCode()).getOrElse(-1)
          val retryable = other.isEmpty ||
            code == 429 || code == 502 || code == 503 || code == 504
          attempt += 1
          if (!retryable || attempt > maxRetries)
            throw new IllegalStateException(
              s"bulk request failed after $attempt attempts (last status $code)")
          Thread.sleep(50L << math.min(attempt, 5))
          sent = sendAsync(f.req)
      }
    }
    sys.error("unreachable")
  }

  /** Full export of `{index}` ("" = all) via the SCROLL API — the
    * real engine's bulk-read path: `?scroll=` on the initial search,
    * then `POST /_search/scroll` pages of `max_result_window` (10k)
    * docs until an empty page. A plain one-page `_search` caps at the
    * result window, so "read everything in one GET" stops existing
    * past 10k docs — the round-14 sf10 run proved it the hard way
    * (a 10M-doc corpus serialized as one 1.07 GB response and the
    * transfer collapsed). Pages bound both sides' per-response
    * memory; the es-hadoop source does exactly this per shard.
    */
  def searchHits(index: String): Seq[(String, String)] = {
    val path = if (index.isEmpty) "_search" else s"$index/_search"
    def parse(body: String): (String, Seq[(String, String)]) = {
      val root = mapper.readTree(body)
      (root.path("_scroll_id").asText(""),
        root.path("hits").path("hits").elements().asScala
          .map(h => (h.path("_index").asText(), h.path("_source").toString))
          .toSeq)
    }
    val first = send(HttpRequest.newBuilder(
        URI.create(s"$baseUrl/$path?scroll=1m&size=10000"))
      .timeout(Duration.ofSeconds(60)).GET().build())
    require(first.statusCode() == 200, s"search failed: ${first.statusCode()}")
    var (sid, page) = parse(first.body())
    val out = Seq.newBuilder[(String, String)]
    try {
      while (page.nonEmpty) {
        out ++= page
        require(sid.nonEmpty, "paged search response without a scroll id")
        val req = mapper.createObjectNode()
        req.put("scroll", "1m")
        req.put("scroll_id", sid)
        val resp = send(HttpRequest.newBuilder(URI.create(s"$baseUrl/_search/scroll"))
          .timeout(Duration.ofSeconds(60))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(req)))
          .build())
        require(resp.statusCode() == 200, s"scroll failed: ${resp.statusCode()}")
        val (nsid, npage) = parse(resp.body())
        if (nsid.nonEmpty) sid = nsid
        page = npage
      }
    } finally {
      // release the scroll context promptly: against a real cluster an
      // open scroll pins its point-in-time segments until the 1m TTL
      if (sid.nonEmpty) {
        val req = mapper.createObjectNode()
        req.put("scroll_id", sid)
        try send(HttpRequest.newBuilder(URI.create(s"$baseUrl/_search/scroll"))
          .timeout(Duration.ofSeconds(10))
          .header("Content-Type", "application/json")
          .method("DELETE",
            HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(req)))
          .build())
        catch { case _: Exception => () } // best-effort: TTL reclaims anyway
      }
    }
    out.result()
  }

  private def send(req: HttpRequest): HttpResponse[String] =
    http.send(req, HttpResponse.BodyHandlers.ofString())

  private def sendAsync(req: HttpRequest): CompletableFuture[HttpResponse[String]] =
    http.sendAsync(req, HttpResponse.BodyHandlers.ofString())
}

object EsBulkClient {
  /** One connection pool per JVM — executors reuse sockets across
    * partitions and batches instead of reconnecting per task.
    */
  lazy val shared: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10)).build()
}

/** K3/K4/K5 spoken over the REAL Elasticsearch wire protocol (against
  * [[EsStub]] in this zero-egress build — point `baseUrl` at a cluster
  * and the same bytes go out). Write path: reduce each micro-batch to
  * latest-per-key map-side (O(keys) rows cross the wire, the reduction
  * that carries to 100 TB), serialize docs with codegen'd `to_json`,
  * then `foreachPartition` streams chunked bulks from the executors
  * with external versions, so concurrent partitions and replays
  * converge deterministically. Read path (verification only): one-page
  * `_search` parsed back through the declared doc schema.
  */
final class EsHttpStore(baseUrl: String, index: String, idCol: String,
    orderCols: Seq[String], versionCol: String, docSchema: StructType)
    extends IndexStore {

  private val client = new EsBulkClient(baseUrl)

  override def healthCheck(): Boolean = client.health()

  /** Upsert-by-id with external versioning (K3). */
  def upsert(batch: DataFrame, batchId: Long): Unit = {
    val docCols = docSchema.fieldNames.map(col).toSeq
    val reduced = IndexStore.latestPerKey(batch, idCol, orderCols)
      .select(col(idCol).cast("string").as("_id"),
        col(versionCol).cast("long").as("_v"),
        to_json(struct(docCols: _*)).as("_src"))
    val (url, idx) = (baseUrl, index)
    reduced.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val c = new EsBulkClient(url)
        c.bulk(rows.map(r =>
          EsDoc(idx, Some(r.getString(0)), Some(r.getLong(1)), r.getString(2))))
        ()
      }
    }
  }

  /** Delete-by-id over the wire (the GDPR path's `_bulk` twin):
    * external-versioned `delete` actions — a delete wins only against
    * docs whose version is strictly older, the engine holds the
    * tombstone's version so stale late writes still 409, and a NEWER
    * upsert resurrects the id — the same event-time contract as
    * [[DeltaUpsertStore.delete]]. O(keys) actions cross the wire from
    * the executors; stale deletes surface as 409 conflicts, absent ids
    * as 404s, both expected outcomes.
    */
  def delete(keys: DataFrame, batchId: Long): Unit = {
    val reduced = IndexStore.latestPerKey(keys, idCol, orderCols)
      .select(col(idCol).cast("string").as("_id"),
        col(versionCol).cast("long").as("_v"))
    val (url, idx) = (baseUrl, index)
    reduced.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val c = new EsBulkClient(url)
        c.bulk(rows.map(r =>
          EsDoc(idx, Some(r.getString(0)), Some(r.getLong(1)), null, delete = true)))
        ()
      }
    }
  }

  /** Auto-id append with per-row dynamic index routing (K4) —
    * at-least-once, same contract as the reference's per-row
    * `es.index(index=f"room-{room}")` loop.
    *
    * The JSON encode and the bulk POST run in the batch's own scan
    * stage, one client per partition, and the batch is planned once.
    * There is no widening repartition: probing the partition count
    * (`df.rdd`) planned every micro-batch a second time. A kafka-wire
    * batch has one partition per topic partition (3 against
    * `room_route_backlog`'s 2 cores). q_sink_route_es feeds a
    * one-split file stream; widening it there at 4 cores measured
    * slower at sf0.01 and no faster at sf0.1.
    */
  def appendRouted(batch: DataFrame, indexCol: String): Unit = {
    val docCols = docSchema.fieldNames.map(col).toSeq
    val url = baseUrl
    batch
      .select(col(indexCol).cast("string").as("_idx"),
        to_json(struct(docCols: _*)).as("_src"))
      .foreachPartition { (rows: Iterator[Row]) =>
        if (rows.hasNext) {
          val c = new EsBulkClient(url)
          c.bulk(rows.map(r => EsDoc(r.getString(0), None, None, r.getString(1))))
          ()
        }
      }
  }

  override def read(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val sources = client.searchHits(index).map(_._2)
    spark.read.schema(docSchema).json(sources.toDS())
  }

  /** All indices: (index name, parsed doc) — the K4 read-back. */
  def readRouted(spark: SparkSession): DataFrame = {
    import spark.implicits._
    client.searchHits("").toDF("es_index", "_src")
      .select(col("es_index"), from_json(col("_src"), docSchema).as("doc"))
      .select(col("es_index"), col("doc.*"))
  }
}
