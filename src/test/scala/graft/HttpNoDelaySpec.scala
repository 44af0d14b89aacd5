package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

import graft.cli.QueryServer
import graft.kafka.{RegistryAvro, SchemaRegistryClient, SchemaRegistryStub}
import graft.streaming.{EsBulkClient, EsStub, Service}

/** The loopback HTTP stand-ins answer a small request without a Nagle
  * stall. The JDK server writes a response's headers and body in two
  * sends; without TCP_NODELAY the body waits for the client's delayed
  * ACK, about 40 ms per round trip on a Linux loopback.
  */
class HttpNoDelaySpec extends AnyFunSuite {

  /** Median wall time of 20 calls, after 5 warm-up calls. */
  private def medianMs(call: => Unit): Double = {
    (1 to 5).foreach(_ => call)
    val ms = (1 to 20).map { _ =>
      val t0 = System.nanoTime()
      call
      (System.nanoTime() - t0) / 1e6
    }.sorted
    (ms(9) + ms(10)) / 2
  }

  test("EsStub: a health round trip is not held by Nagle") {
    Service.using(new EsStub) { stub =>
      val c = new EsBulkClient(stub.baseUrl)
      val ms = medianMs(assert(c.health()))
      assert(ms < 20, s"median _cluster/health round trip $ms ms")
    }
  }

  test("SchemaRegistryStub: a small GET is not held by Nagle") {
    Service.using(new SchemaRegistryStub) { stub =>
      val c = new SchemaRegistryClient(stub.baseUrl)
      c.register("s", RegistryAvro.EventSchemaV1Json)
      val ms = medianMs(assert(c.latest("s")._1 == 1))
      assert(ms < 20, s"median latest-version round trip $ms ms")
    }
  }

  test("QueryServer: a health request is not held by Nagle") {
    val srv = new QueryServer(TestSpark.spark, sfDir = "") // /health reads no table
    srv.start()
    try {
      val http = HttpClient.newHttpClient()
      val req = HttpRequest.newBuilder(URI.create(s"${srv.baseUrl}/health")).GET().build()
      val ms = medianMs(assert(
        http.send(req, HttpResponse.BodyHandlers.ofString()).statusCode() == 200))
      assert(ms < 20, s"median /health round trip $ms ms")
    } finally srv.stop()
  }
}
