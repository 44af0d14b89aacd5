package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.cli.QueryServer

/** The HTTP serving layer (the reference's Kibana-dashboard role): the
  * catalog answers dashboard GETs with tile-sized JSON.
  */
class ServeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val http = HttpClient.newHttpClient()

  private def get(url: String): (Int, String) = {
    val r = http.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def withServer(f: QueryServer => Unit): Unit = {
    val srv = new QueryServer(spark, "/root/testdata/sf0.001")
    srv.start()
    try f(srv) finally srv.stop()
  }

  test("health, query list, and a dashboard tile round-trip") {
    withServer { srv =>
      assert(get(s"${srv.baseUrl}/health") == (200, """{"status":"ok"}"""))

      val (ls, names) = get(s"${srv.baseUrl}/queries")
      assert(ls == 200)
      assert(names.contains("\"q_hourly_stats\"") && names.contains("\"q_dashboard_tiles\""))

      val (qs, body) = get(s"${srv.baseUrl}/query/q_hourly_stats?limit=3")
      assert(qs == 200)
      // three JSON objects with the query's columns
      assert(body.startsWith("[{") && body.endsWith("}]"))
      assert(body.contains("\"hour_epoch\"") && body.contains("\"event_type\""))
      assert(body.split("\\},\\{").length == 3)
    }
  }

  test("unknown query is a 404, not an exception") {
    withServer { srv =>
      val (st, body) = get(s"${srv.baseUrl}/query/q_nope")
      assert(st == 404 && body.contains("unknown query"))
    }
  }

  /** Split a JSON array of flat objects into object strings. */
  private def objects(body: String): Seq[String] = {
    assert(body.startsWith("[") && body.endsWith("]"), body.take(80))
    if (body == "[]") Nil
    else body.stripPrefix("[").stripSuffix("]").split("(?<=\\}),(?=\\{)").toSeq
  }

  private def field(obj: String, name: String): String = {
    val m = ("\"" + name + "\":(\"[^\"]*\"|[^,}]+)").r.findFirstMatchIn(obj)
    m.get.group(1).stripPrefix("\"").stripSuffix("\"")
  }

  test("search_after pagination walks to exactly the unpaged result") {
    withServer { srv =>
      val (_, whole) = get(
        s"${srv.baseUrl}/query/q_hourly_stats?limit=10000")
      val expected = objects(whole)
      assert(expected.size > 20, "fixture too small to exercise paging")
      // cursor-walk in pages of 7 over the composite (hour_epoch, event_type)
      var acc = Seq.empty[String]
      var after = Option.empty[(String, String)]
      var pages = 0
      var done = false
      while (!done) {
        val cursor = after.fold("")(c => s"&after=${c._1},${c._2}")
        val (st, body) = get(s"${srv.baseUrl}/query/q_hourly_stats" +
          s"?limit=7&sort=hour_epoch,event_type$cursor")
        assert(st == 200)
        val page = objects(body)
        acc ++= page
        pages += 1
        assert(pages < 1000, "cursor failed to advance")
        if (page.size < 7) done = true
        else after = Some((field(page.last, "hour_epoch"), field(page.last, "event_type")))
      }
      // page concatenation reproduces the unpaged oracle-gated result
      assert(acc == expected)
      // an exact-multiple total costs one extra (empty) probe page
      val extraProbe = if (expected.size % 7 == 0) 1 else 0
      assert(pages == (expected.size + 6) / 7 + extraProbe)
    }
  }

  test("date-histogram interval selection: hour equals q_hourly_stats; minute is finer") {
    withServer { srv =>
      val (st, hourly) = get(s"${srv.baseUrl}/histogram?interval=hour&limit=10000")
      assert(st == 200)
      val (_, oracle) = get(s"${srv.baseUrl}/query/q_hourly_stats?limit=10000")
      // identical modulo the generic bucket column name
      assert(hourly.replace("\"bucket_epoch\"", "\"hour_epoch\"") == oracle)
      val (_, minutely) = get(s"${srv.baseUrl}/histogram?interval=minute&limit=10000")
      assert(objects(minutely).size > objects(hourly).size,
        "minute grain must produce more buckets than hour grain")
      // an unknown interval is a clean client error, not a 500 with a scan
      val (bad, _) = get(s"${srv.baseUrl}/histogram?interval=fortnight")
      assert(bad == 500)
    }
  }

  test("concurrent streaming and batch requests: serial results, session conf untouched") {
    withServer { srv =>
      val names = Seq("q_stream_window_hourly", "q_stream_mapstate_counts",
        "q_hourly_stats")
      def run(name: String) = get(s"${srv.baseUrl}/query/$name?limit=10000")
      val serial = names.map(n => n -> run(n)).toMap
      assert(serial.values.forall(_._1 == 200), serial.values.map(_._2.take(200)))
      val conf = spark.conf.getAll
      val requests = Seq.tabulate(9)(i => names(i % names.size))
      val clients = Executors.newFixedThreadPool(requests.size)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(clients)
      try {
        val responses = Await.result(
          Future.traverse(requests)(n => Future(n -> run(n))), 10.minutes)
        responses.foreach { case (n, r) => assert(r == serial(n), n) }
      } finally clients.shutdown()
      assert(spark.conf.getAll == conf)
    }
  }
}
