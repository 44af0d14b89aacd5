package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Ingest

/** Streaming decode semantics against MemoryStream (SURVEY.md §5.2.3):
  * well-formed rows parse, corrupt payloads yield all-null rows
  * (PERMISSIVE `from_json`/`from_csv` — the reference's dirty-data
  * policy, T8).
  */
class IngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def streamOf(values: String*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[String]
    ms.addData(values: _*)
    ms.toDF().withColumnRenamed("value", "value")
  }

  test("JSON wire: corrupt payload → all-null row, valid payload parses") {
    val good =
      """{"event_id":7,"user_id":42,"event_type":"click","value":1.5,"props":"{\"k\": 3}","ts_us":1704067200000000}"""
    val decoded = Ingest.decodeJsonWire(streamOf(good, "THIS IS NOT JSON"))
    val rows = Ingest.runToMemory(decoded).collect()
    assert(rows.length == 2)
    val (ok, bad) = rows.partition(r => !r.isNullAt(r.fieldIndex("event_id")))
    assert(ok.length == 1 && bad.length == 1)
    val r = ok.head
    assert(r.getAs[Long]("event_id") == 7L)
    assert(r.getAs[String]("event_type") == "click")
    assert(r.getAs[java.sql.Timestamp]("ts").toInstant.toString == "2024-01-01T00:00:00Z")
    assert(bad.head.isNullAt(bad.head.fieldIndex("event_type")))
  }

  test("eventsStream leaves the caller's parquet nanos conf unset") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val s = spark.newSession()
    assert(!s.conf.getAll.contains(key))
    val events = Ingest.eventsStream(s, "/root/testdata/sf0.001")
    assert(Ingest.runToMemory(events).count() > 0)
    assert(!s.conf.getAll.contains(key))
  }

  test("DSV wire: round-trip and corrupt-row nulls") {
    val good = "7|42|click|1.5|1704067200000000"
    val decoded = Ingest.decodeDsvWire(streamOf(good, "not|enough"), "|")
    val rows = Ingest.runToMemory(decoded).collect()
    assert(rows.length == 2)
    val ok = rows.find(r => !r.isNullAt(r.fieldIndex("event_id"))).get
    assert(ok.getAs[Double]("value") == 1.5)
    val bad = rows.find(r => r.isNullAt(r.fieldIndex("value"))).get
    assert(bad.isNullAt(bad.fieldIndex("ts_us")))
  }

  test("each drain unregisters its child session's listener bus; parent listeners still see it end") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener._
    val terminated = new java.util.concurrent.atomic.AtomicInteger
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        terminated.incrementAndGet()
    }
    // the parent's own bus exists from its first `streams` use on
    spark.streams.addListener(listener)
    try {
      val sc = spark.sparkContext
      val buses = org.apache.spark.GraftTestBridge.streamingListenerBuses(sc)
      (1 to 3).foreach { i =>
        Ingest.runToMemory(Ingest.decodeJsonWire(streamOf(s"""{"event_id":$i}""")))
      }
      assert(org.apache.spark.GraftTestBridge.streamingListenerBuses(sc) == buses)
      assert(terminated.get == 3)
    } finally spark.streams.removeListener(listener)
  }
}
