package graft.streaming

import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import com.sun.net.httpserver.HttpExchange

/** In-process Elasticsearch stand-in for the zero-egress sandbox —
  * implements the slice of the REST surface the engine's sink layer
  * speaks ([[EsBulkClient]]/[[EsHttpStore]]): `_cluster/health`,
  * `_bulk` (index actions: external-versioned upsert, plain
  * last-write-wins, auto-id append, per-item 409 conflicts), and a
  * one-page `_search` per index or across all indices. The client
  * never knows it isn't talking to Elasticsearch: same NDJSON bulk
  * bytes, same response shapes, same status codes — so swapping
  * `baseUrl` to a real cluster exercises the identical code path
  * (README documents this as the sanctioned stand-in, like
  * `FileExchange` for the Kafka transport). Reads page like the real
  * engine: a plain `_search` returns at most `max_result_window`
  * (10,000) hits — never the whole corpus in one response — and bulk
  * export goes through the SCROLL API (`?scroll=` on the initial
  * search, then `POST /_search/scroll`), which is how the round-14
  * sf10 run forced it: the one-page stub built a single 1.07 GB JSON
  * response for a 10M-doc corpus and the transfer collapsed — the
  * exact failure mode `max_result_window` exists to prevent.
  *
  * Semantics per (index, _id):
  *  - `version_type=external`: keep the doc with the HIGHEST version;
  *    lower-or-equal incoming version → item status 409
  *    (`version_conflict_engine_exception`), exactly the real engine's
  *    optimistic concurrency rule — what makes concurrent partition
  *    writers and at-least-once replays deterministic.
  *  - no version: unconditional overwrite (arrival order wins).
  *  - no `_id`: server-assigned sequential id (append).
  *
  * Responses go out with TCP_NODELAY ([[HttpService]]), as real
  * Elasticsearch sends them (`http.tcp.no_delay`, on by default).
  * Without it every small response waits out the client's delayed ACK,
  * about 40 ms per request on a Linux loopback.
  *
  * Test hooks: [[failNextBulks]] makes the next N bulk requests return
  * 429 (client retry path); [[holdBulks]], while set, holds each bulk
  * request until the latch opens (at most 30 s) before applying it
  * (overlap assertions); [[bulkRequests]] counts accepted bulk POSTs
  * (chunking assertions).
  */
final class EsStub extends Service {

  // deleted = tombstone: invisible to search/snapshot, but the version
  // still gates later external-versioned writes (real ES keeps deleted
  // doc versions for index.gc_deletes for exactly this)
  private final case class Entry(version: Long, source: String,
      deleted: Boolean = false)

  private val mapper = new ObjectMapper()
  private val docs = new ConcurrentHashMap[(String, String), Entry]()
  private val autoId = new AtomicLong(0L)
  val bulkRequests = new AtomicLong(0L)
  @volatile var failNextBulks: Int = 0
  @volatile var holdBulks: CountDownLatch = null

  /** index.max_result_window — the real engine's one-page cap. */
  val MaxResultWindow = 10000
  // live scrolls: immutable point-in-time snapshot + an offset cursor,
  // advanced atomically under the map entry (a shared Iterator would be
  // unsafe if two continuations for the same id raced). Entries expire
  // after the advertised 1m scroll TTL so abandoned scrolls (e.g. an
  // empty first page the client never polls again) don't leak.
  private final case class Scroll(
      hits: IndexedSeq[(String, String, String)], size: Int,
      offset: Int, openedAtMs: Long)
  private val scrolls = new ConcurrentHashMap[String, Scroll]()
  private val scrollSeq = new AtomicLong(0L)
  private val ScrollTtlMs = 60000L

  private def sweepExpiredScrolls(): Unit = {
    val now = System.currentTimeMillis()
    scrolls.asScala.foreach { case (sid, sc) =>
      if (now - sc.openedAtMs > ScrollTtlMs) scrolls.remove(sid, sc)
    }
  }

  /** Atomically claim one injected failure — check and decrement under
    * one lock so N configured failures yield exactly N 429s even when
    * concurrent partitions POST simultaneously.
    */
  private def claimInjectedFailure(): Boolean = synchronized {
    if (failNextBulks > 0) { failNextBulks -= 1; true } else false
  }

  private val http = new HttpService("es-stub", 8)(ex =>
    try handle(ex)
    catch {
      case e: Exception =>
        System.err.println(s"[EsStub] ${e.getClass.getName}: ${e.getMessage}")
        respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
    } finally ex.close())

  def port: Int = http.port
  def baseUrl: String = http.baseUrl

  def start(): Unit = http.start()
  def stop(): Unit = http.stop()

  /** Docs currently held for `index` ("" = all): (index, id, source). */
  def snapshot(index: String): Seq[(String, String, String)] =
    docs.asScala.toSeq
      .filter { case ((i, _), e) => !e.deleted && (index.isEmpty || i == index) }
      .map { case ((i, id), e) => (i, id, e.source) }

  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath.stripPrefix("/").stripSuffix("/")
    (ex.getRequestMethod, path) match {
      case ("GET", "_cluster/health") =>
        respond(ex, 200, """{"status":"yellow"}""")
      case ("POST", "_bulk") =>
        if (claimInjectedFailure()) {
          respond(ex, 429, """{"error":"rejected_execution_exception"}""")
        } else {
          val hold = holdBulks
          if (hold != null) hold.await(30, TimeUnit.SECONDS): Unit
          bulkRequests.incrementAndGet()
          val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          respond(ex, 200, applyBulk(body))
        }
      case ("GET", "_search") => respond(ex, 200, searchBody("", ex))
      case ("GET", p) if p.endsWith("/_search") =>
        respond(ex, 200, searchBody(p.stripSuffix("/_search"), ex))
      case ("POST", "_search/scroll") =>
        val body = mapper.readTree(
          new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
        val sid = body.path("scroll_id").asText("")
        sweepExpiredScrolls()
        // advance the cursor atomically under the map entry: two racing
        // continuations for one id each get a distinct, contiguous page
        var page: Seq[(String, String, String)] = null
        val after = scrolls.computeIfPresent(sid, (_, sc) => {
          page = sc.hits.slice(sc.offset, sc.offset + sc.size)
          if (page.isEmpty) null // exhausted: evict
          // each continuation renews the keep-alive (real ES re-arms the
          // context for the `scroll=` duration on every request), so an
          // actively-paging scroll never expires mid-pagination
          else sc.copy(offset = sc.offset + sc.size,
            openedAtMs = System.currentTimeMillis())
        })
        if (page == null)
          respond(ex, 404, """{"error":"search_context_missing_exception"}""")
        else {
          val _ = after
          respond(ex, 200, pageBody(sid, page, -1))
        }
      case ("DELETE", "_search/scroll") =>
        val body = mapper.readTree(
          new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
        scrolls.remove(body.path("scroll_id").asText(""))
        respond(ex, 200, """{"succeeded":true}""")
      case (m, p) =>
        respond(ex, 400, s"""{"error":"unsupported $m /$p"}""")
    }
  }

  /** Apply an NDJSON bulk body; `index` and `delete` actions are
    * implemented (the two ops the sink layer emits).
    */
  private def applyBulk(body: String): String = {
    val lines = body.split('\n').iterator.filter(_.nonEmpty)
    val items = mapper.createArrayNode()
    var anyError = false
    while (lines.hasNext) {
      val action = mapper.readTree(lines.next())
      val isDelete = action.has("delete")
      require(isDelete || action.has("index"),
        s"unsupported bulk op: ${action.toString.take(100)}")
      val meta = action.get(if (isDelete) "delete" else "index")
      val index = meta.path("_index").asText()
      require(index.nonEmpty, "bulk action without _index")
      val source = if (isDelete) null else lines.next() // only index ops carry a source line
      val external = meta.path("version_type").asText("") == "external"
      val id = Option(meta.get("_id")).map(_.asText())
        .getOrElse {
          require(!isDelete, "bulk delete action without _id")
          s"_auto_${autoId.incrementAndGet()}"
        }
      val status =
        if (external) {
          val v = meta.path("version").asLong()
          // atomic highest-version-wins per key; ties conflict (real
          // external-versioning rule: new must be STRICTLY greater, so
          // an exact replay of an already-applied write also 409s).
          // Deletes leave a TOMBSTONE entry whose version keeps gating
          // later writes (real ES: index.gc_deletes retention); a
          // delete of an absent id records the tombstone and reports
          // 404 not_found, the real engine's response.
          val won = new java.util.concurrent.atomic.AtomicBoolean(false)
          val existed = new java.util.concurrent.atomic.AtomicBoolean(false)
          docs.compute((index, id), (_, cur) => {
            existed.set(cur != null && !cur.deleted)
            if (cur == null || v > cur.version) {
              won.set(true); Entry(v, source, isDelete)
            } else { won.set(false); cur }
          })
          if (!won.get) 409
          else if (isDelete) { if (existed.get) 200 else 404 }
          else 201
        } else if (isDelete) {
          val existed = docs.remove((index, id)) != null
          if (existed) 200 else 404
        } else {
          docs.compute((index, id), (_, cur) =>
            Entry(if (cur == null) 1L else cur.version + 1L, source))
          201
        }
      if (status == 409) anyError = true
      val item = items.addObject().putObject(if (isDelete) "delete" else "index")
      item.put("_index", index)
      item.put("_id", id)
      item.put("status", status)
      if (status == 404) item.put("result", "not_found")
      if (status == 409) item.putObject("error")
        .put("type", "version_conflict_engine_exception")
    }
    val resp = mapper.createObjectNode()
    resp.put("took", 1)
    resp.put("errors", anyError)
    resp.set[JsonNode]("items", items)
    mapper.writeValueAsString(resp)
  }

  /** `_search`, paged like the real engine: `?scroll=` opens a scroll
    * over a point-in-time snapshot and returns the first page; a plain
    * search returns at most min(size, max_result_window) hits. Never
    * the whole corpus in one response.
    */
  private def searchBody(index: String, ex: HttpExchange): String = {
    val params = Option(ex.getRequestURI.getQuery).getOrElse("")
      .split('&').filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v
      }.toMap
    val size = math.min(
      params.get("size").map(_.toInt).getOrElse(10), MaxResultWindow)
    val all = snapshot(index)
    if (params.contains("scroll")) {
      sweepExpiredScrolls()
      val sid = s"graft-scroll-${scrollSeq.incrementAndGet()}"
      val hits = all.toIndexedSeq
      val page = hits.take(size)
      // registered even when exhausted: the client learns the end from
      // the empty page on its next poll (the real API's contract); the
      // TTL sweep reclaims it if that poll never comes
      scrolls.put(sid, Scroll(hits, size, size, System.currentTimeMillis()))
      pageBody(sid, page, all.size)
    } else pageBody("", all.take(size), all.size)
  }

  private def pageBody(scrollId: String,
      hits: Seq[(String, String, String)], total: Int): String = {
    val resp = mapper.createObjectNode()
    if (scrollId.nonEmpty) resp.put("_scroll_id", scrollId)
    val hitsObj = resp.putObject("hits")
    if (total >= 0)
      hitsObj.putObject("total").put("value", total).put("relation", "eq")
    val arr = hitsObj.putArray("hits")
    hits.foreach { case (i, id, src) =>
      val h = arr.addObject()
      h.put("_index", i)
      h.put("_id", id)
      h.set[JsonNode]("_source", mapper.readTree(src))
    }
    mapper.writeValueAsString(resp)
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
  }
}
