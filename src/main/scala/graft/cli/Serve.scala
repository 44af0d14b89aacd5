package graft.cli

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession

import com.sun.net.httpserver.HttpExchange

/** The serving layer the reference delegates to Kibana (its
  * `README.md:187-195` points users at Kibana dashboards over the ES
  * indices): a minimal HTTP query endpoint over the catalog, so the
  * dashboard tiles the reference renders in Kibana are answerable with
  * one GET against this engine.
  *
  *  - `GET /queries`               → JSON list of every catalog query name
  *  - `GET /query/<name>?limit=N`  → run `SparkEntry.queries(name)` on the
  *                                   configured sf dir, return up to N rows
  *                                   as a JSON array of objects (default
  *                                   100, capped at 10 000)
  *  - `GET /query/<name>?sort=c1,c2&after=v1,v2` → search_after cursor
  *                                   pagination (Kibana's composite
  *                                   `after`): rows strictly after the
  *                                   cursor tuple in lexicographic sort
  *                                   order; pass the last row's sort
  *                                   values as the next page's `after`
  *  - `GET /histogram?interval=minute|hour|day[&after=...]` → the
  *                                   date-histogram panel at the selected
  *                                   interval (hour ≡ q_hourly_stats)
  *  - `GET /health`                → `{"status":"ok"}` (the K5 preflight
  *                                   this engine asks of ITS sinks,
  *                                   answered for its own consumers)
  *
  * Scale note: a serving endpoint returns dashboard tiles, not exports —
  * the `limit` cap bounds the driver-side collect to tile-sized results
  * (`toJSON.take(n)` limits BEFORE collecting). Heavy queries still run
  * distributed; only the final ≤10k rows funnel to the endpoint.
  *
  * Concurrency: requests run on a 4-thread pool over ONE shared
  * SparkSession. Catalog queries do not write that session's conf — a
  * streaming query's overrides (state-sized shuffle partitions, the
  * RocksDB state store) live on a child session the query owns
  * (`Ingest.drain`) — so concurrent requests plan as they would alone.
  * The one session write left is the events readers' idempotent
  * `spark.sql.legacy.parquet.nanosAsLong=true`. Still a dashboard
  * stand-in, not a hardened gateway: no admission control or
  * per-request timeout.
  */
final class QueryServer(spark: SparkSession, sfDir: String, bindPort: Int = 0) {

  private val http = new graft.streaming.HttpService("graft-serve", 4, bindPort)(ex =>
    try handle(ex)
    catch {
      case e: Exception =>
        respond(ex, 500,
          s"""{"error":${jsonString(s"${e.getClass.getSimpleName}: ${e.getMessage}")}}""")
    } finally ex.close())

  def port: Int = http.port
  def baseUrl: String = http.baseUrl

  def start(): Unit = http.start()
  def stop(): Unit = http.stop()

  private val MaxLimit = 10000

  /** Decoded query-string parameters (last occurrence wins). */
  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).toSeq
      .flatMap(_.split('&'))
      .flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) =>
            Some(k -> java.net.URLDecoder.decode(v, StandardCharsets.UTF_8))
          case _ => None
        }
      }.toMap

  private def limitOf(p: Map[String, String]): Int =
    p.get("limit").map(_.toInt).getOrElse(100).max(1).min(MaxLimit)

  /** search_after cursoring (the composite-`after` pagination a Kibana
    * dashboard issues): rows strictly after the cursor tuple in
    * lexicographic `sort`-column order. The predicate pushes into the
    * distributed plan — each page is a filtered top-`limit`, never a
    * driver-side skip of earlier pages.
    */
  private def searchAfter(df: org.apache.spark.sql.DataFrame,
      sortCols: Seq[String], after: Option[Seq[String]]) = {
    import org.apache.spark.sql.functions.{col, lit}
    def castTo(c: String, v: String) = lit(v).cast(df.schema(c).dataType)
    val filtered = after.fold(df) { vs =>
      require(vs.length == sortCols.length,
        s"after needs ${sortCols.length} values, got ${vs.length}")
      // (c1, c2, ...) > (v1, v2, ...) lexicographically
      def gt(i: Int): org.apache.spark.sql.Column = {
        val strict = col(sortCols(i)) > castTo(sortCols(i), vs(i))
        if (i == sortCols.length - 1) strict
        else strict || (col(sortCols(i)) === castTo(sortCols(i), vs(i)) && gt(i + 1))
      }
      df.filter(gt(0))
    }
    filtered.orderBy(sortCols.map(col): _*)
  }

  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath.stripPrefix("/").stripSuffix("/")
    (ex.getRequestMethod, path) match {
      case ("GET", "health") => respond(ex, 200, """{"status":"ok"}""")
      case ("GET", "queries") =>
        val names = graft.SparkEntry.queries.keys.toSeq.sorted
        respond(ex, 200, names.map(jsonString).mkString("[", ",", "]"))
      // the Kibana date-histogram panel: ?interval=minute|hour|day —
      // backed by the oracle-gated aggregation family (interval=hour is
      // exactly q_hourly_stats modulo the bucket column name)
      case ("GET", "histogram") =>
        val p = params(ex)
        val interval = p.getOrElse("interval", "hour")
        val df = graft.catalog.Relational.dateHistogram(spark, sfDir, interval)
        val paged = searchAfter(df, Seq("bucket_epoch", "event_type"),
          p.get("after").map(_.split(',').toSeq))
        respond(ex, 200, paged.toJSON.take(limitOf(p)).mkString("[", ",", "]"))
      case ("GET", p0) if p0.startsWith("query/") =>
        val name = p0.stripPrefix("query/")
        graft.SparkEntry.queries.get(name) match {
          case None =>
            respond(ex, 404, s"""{"error":"unknown query","name":${jsonString(name)}}""")
          case Some(build) =>
            val p = params(ex)
            val limit = limitOf(p)
            val df = build(spark, sfDir)
            // ?sort=c1,c2&after=v1,v2 — cursor pagination; without sort
            // the query's own (deterministic) order is served as-is
            val page = p.get("sort") match {
              case Some(cols) => searchAfter(df, cols.split(',').toSeq,
                p.get("after").map(_.split(',').toSeq))
              case None => df
            }
            // toJSON.take(n): the limit applies before rows reach the
            // driver; each row arrives as a JSON object string
            val rows = page.toJSON.take(limit)
            respond(ex, 200, rows.mkString("[", ",", "]"))
        }
      case (m, p) => respond(ex, 404, s"""{"error":"no route $m /$p"}""")
    }
  }

  private def jsonString(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\x00-\\x1f]", " ") + "\""

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
  }
}

/** `ServeMain <sfDir> [port]` — start the query endpoint and block.
  * (The catalog is served from the driver; a production deployment puts
  * a real gateway in front, this is the Kibana-tile stand-in.)
  */
object ServeMain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ServeMain <sfDir> [port]")
    graft.Session.run("graft-serve") { spark =>
      val srv = new QueryServer(spark, args(0),
        if (args.length > 1) args(1).toInt else 0)
      srv.start()
      println(s"graft query endpoint: ${srv.baseUrl} (queries: /queries)")
      Thread.currentThread().join() // serve until killed
    }
  }
}
