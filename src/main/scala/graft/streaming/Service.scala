package graft.streaming

import java.net.InetSocketAddress
import java.util.concurrent.Executors

import scala.util.Using

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** An in-process stand-in for an external service a query talks to for
  * the length of one run: a Kafka broker or cluster, Elasticsearch, a
  * schema registry.
  */
trait Service {
  def start(): Unit
  def stop(): Unit
}

object Service {

  /** Start `a`, run `body`, then stop `a` — also when `body` throws. */
  def using[A <: Service, T](a: A)(body: A => T): T =
    startAll(Seq(a))(body(a))

  /** Start `a` then `b`, run `body`, then stop whichever started, in
    * reverse order. If `b.start()` throws, `a` is stopped before the
    * exception propagates.
    */
  def using[A <: Service, B <: Service, T](a: A, b: B)(body: (A, B) => T): T =
    startAll(Seq(a, b))(body(a, b))

  private implicit val stopOnRelease: Using.Releasable[Service] = _.stop()

  // Using.Manager releases in reverse registration order; a failing
  // stop never skips the others, and is suppressed under the body's
  // exception (or thrown, if the body succeeded).
  private def startAll[T](services: Seq[Service])(body: => T): T =
    Using.Manager { use =>
      services.foreach { s => s.start(); use(s) }
      body
    }.get
}

/** A loopback HTTP server (`com.sun.net.httpserver`) on `bindPort`
  * (0 = an ephemeral port) that runs `handler` for every request on
  * `threads` daemon threads named `threadName`. Daemon threads plus the
  * pool shutdown in `stop()`: a leaked server never pins the JVM open.
  *
  * Responses go out with TCP_NODELAY, as real Elasticsearch sends them
  * (`http.tcp.no_delay`, on by default) and as
  * [[graft.kafka.KafkaStubBroker]] does. The JDK server writes the
  * headers and the body of a response in two sends; under Nagle's
  * algorithm the body waits for the client's delayed ACK of the headers,
  * about 40 ms per round trip on a Linux loopback. The JDK reads
  * `sun.net.httpserver.nodelay` once, when it creates its first server,
  * so it is set before that unless it is already set.
  */
final class HttpService(threadName: String, threads: Int, bindPort: Int = 0)(
    handler: HttpExchange => Unit) extends Service {

  if (System.getProperty("sun.net.httpserver.nodelay") == null)
    System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", bindPort), 0)
  private val pool = Executors.newFixedThreadPool(threads, r => {
    val t = new Thread(r, threadName)
    t.setDaemon(true)
    t
  })
  server.setExecutor(pool)
  server.createContext("/", ex => handler(ex))

  def port: Int = server.getAddress.getPort
  def baseUrl: String = s"http://127.0.0.1:$port"

  def start(): Unit = server.start()
  def stop(): Unit = { server.stop(0); pool.shutdown() }
}
