package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.kafka.{KafkaCodec, KafkaStubBroker}
import graft.streaming.{EsStub, Service}

/** The service fixture stops exactly the services it started, in
  * reverse order, however the run ends.
  */
class ServiceSpec extends AnyFunSuite {
  import ServiceSpec._

  private final class Probe(name: String, log: mutable.Buffer[String],
      failStart: Boolean = false) extends Service {
    def start(): Unit = {
      if (failStart) throw new IllegalStateException(s"$name cannot start")
      log += s"start $name"
    }
    def stop(): Unit = log += s"stop $name"
  }

  private def reach(port: Int, request: Array[Byte],
      isReply: java.io.DataInputStream => Boolean): Reached = {
    val sock = new java.net.Socket()
    try {
      sock.connect(new java.net.InetSocketAddress("127.0.0.1", port), 2000)
      if (sock.getLocalPort == port) {
        info(s"self-connect on port $port (getLocalPort == port)")
        Released
      } else {
        sock.setSoTimeout(2000)
        sock.getOutputStream.write(request)
        val in = new java.io.DataInputStream(sock.getInputStream)
        if (isReply(in)) Held("answered its protocol")
        else {
          info(s"port $port reached a foreign listener from local port ${sock.getLocalPort}")
          Foreign
        }
      }
    } catch {
      case _: java.net.ConnectException => Released
      case e @ (_: java.io.EOFException | _: java.net.SocketException |
          _: java.net.SocketTimeoutException) =>
        Held(s"accepted a connect from local port ${sock.getLocalPort} " +
          s"and answered nothing (${e.getClass.getSimpleName})")
    } finally sock.close()
  }

  private val CorrelationId = 0x5e7f1a2b

  /** ApiVersions v0, answered by any Kafka broker before authentication. */
  private def kafka(port: Int): Reached = {
    val clientId = "service-spec".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val req = java.nio.ByteBuffer.allocate(4 + 10 + clientId.length)
    req.putInt(10 + clientId.length).putShort(KafkaCodec.Api.ApiVersions.toShort)
      .putShort(0.toShort).putInt(CorrelationId)
      .putShort(clientId.length.toShort).put(clientId)
    reach(port, req.array(), in => {
      val size = in.readInt()
      size >= 6 && size <= (1 << 20) && {
        val body = new Array[Byte](size)
        in.readFully(body)
        val b = java.nio.ByteBuffer.wrap(body)
        b.getInt == CorrelationId && b.getShort == KafkaCodec.Err.None
      }
    })
  }

  private def http(port: Int): Reached =
    reach(port,
      s"GET / HTTP/1.1\r\nHost: 127.0.0.1:$port\r\nConnection: close\r\n\r\n"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII),
      in => {
        val head = new Array[Byte](7)
        in.readFully(head)
        new String(head, java.nio.charset.StandardCharsets.US_ASCII) == "HTTP/1."
      })

  test("a failed second start stops the first service") {
    val log = mutable.Buffer.empty[String]
    val e = intercept[IllegalStateException] {
      Service.using(new Probe("a", log), new Probe("b", log, failStart = true)) {
        (_, _) => log += "body"
      }
    }
    assert(e.getMessage == "b cannot start")
    assert(log == Seq("start a", "stop a"))
  }

  test("a failing body stops every service, in reverse order") {
    val log = mutable.Buffer.empty[String]
    val e = intercept[RuntimeException] {
      Service.using(new Probe("a", log), new Probe("b", log)) { (_, _) =>
        log += "body"
        throw new RuntimeException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(log == Seq("start a", "start b", "body", "stop b", "stop a"))
  }

  test("a broker started before a failing start releases its port") {
    // the probe recognizes a running broker
    Service.using(new KafkaStubBroker(1)) { b =>
      assert(kafka(b.port) == Held("answered its protocol"))
    }
    val log = mutable.Buffer.empty[String]
    val broker = new KafkaStubBroker(3)
    intercept[IllegalStateException] {
      Service.using(broker, new Probe("es", log, failStart = true))((_, _) => ())
    }
    kafka(broker.port) match {
      case Held(how) => fail(s"stopped KafkaStubBroker on port ${broker.port} $how")
      case _ =>
    }
  }

  test("the body's result comes back and the stub is stopped") {
    var port = -1
    val n = Service.using(new EsStub()) { stub =>
      port = stub.port
      assert(http(port) == Held("answered its protocol"))
      42
    }
    assert(n == 42)
    http(port) match {
      case Held(how) => fail(s"stopped EsStub on port $port $how")
      case _ =>
    }
  }
}

object ServiceSpec {
  /** What a loopback connect to a stopped (or running) service's port
    * reaches. `Released`: refused, or a self-connect (the connect picked
    * the freed port as its own source port, so no listener was needed).
    * `Foreign`: a listener that answered in another protocol. `Held`:
    * the service answered its own protocol, or a listener accepted and
    * answered nothing — both the signature of the service's socket.
    */
  sealed trait Reached
  case object Released extends Reached
  case object Foreign extends Reached
  final case class Held(how: String) extends Reached
}
