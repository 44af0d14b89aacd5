package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.kafka.KafkaStubBroker
import graft.streaming.{EsStub, Service}

/** The service fixture stops exactly the services it started, in
  * reverse order, however the run ends.
  */
class ServiceSpec extends AnyFunSuite {

  private final class Probe(name: String, log: mutable.Buffer[String],
      failStart: Boolean = false) extends Service {
    def start(): Unit = {
      if (failStart) throw new IllegalStateException(s"$name cannot start")
      log += s"start $name"
    }
    def stop(): Unit = log += s"stop $name"
  }

  private def refused(port: Int): Boolean =
    try { new java.net.Socket("127.0.0.1", port).close(); false }
    catch { case _: java.net.ConnectException => true }

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
    val log = mutable.Buffer.empty[String]
    val broker = new KafkaStubBroker(3)
    intercept[IllegalStateException] {
      Service.using(broker, new Probe("es", log, failStart = true))((_, _) => ())
    }
    assert(refused(broker.port), "broker still accepts connections")
  }

  test("the body's result comes back and the stub is stopped") {
    var port = -1
    val n = Service.using(new EsStub()) { stub =>
      port = stub.port
      assert(!refused(port))
      42
    }
    assert(n == 42)
    assert(refused(port), "ES stub still accepts connections")
  }
}
