package graft.streaming

import scala.util.Using

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
