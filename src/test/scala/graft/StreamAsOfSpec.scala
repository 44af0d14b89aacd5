package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Ingest, Stateful}

/** Out-of-order streaming as-of join across REAL micro-batches.
  *
  * The catalog oracle (q_stream_asof_join) runs a single sorted batch;
  * this spec drives AsOfTimerProcessor through three paced batches
  * where (a) a better click for an already-seen purchase arrives in a
  * LATER batch, (b) a purchase arrives out of order after a newer one,
  * and (c) the final watermark leaves one event pending — the general
  * event-time contract, not the happy path.
  */
class StreamAsOfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(p: String) =
    Files.createTempDirectory(Paths.get("target"), p).toString

  // (user_id, event_id, event_type, t_seconds); wm delay = 1 h
  private val batches: Seq[Seq[(Long, Long, String, Long)]] = Seq(
    // batch 0: user 1 click + purchase; user 2 purchase with no click
    Seq((1L, 1L, "click", 1000L), (1L, 100L, "purchase", 2000L),
      (2L, 200L, "purchase", 1500L)),
    // batch 1 (out of order, inside the watermark delay): a BETTER
    // click for p100 (1800 ≤ 2000, newer than c1), and an older
    // purchase p101 whose only valid match is c1 (c2's 1800 > 1500)
    Seq((1L, 2L, "click", 1800L), (1L, 101L, "purchase", 1500L)),
    // batch 2: user 9's click advances the watermark to 100000−3600 so
    // every pending purchase flushes; the click itself emits nothing
    Seq((9L, 900L, "click", 100000L)))

  test("out-of-order batches: late better click, late purchase, watermark flush") {
    val src = tmp("asof_src_")
    batches.zipWithIndex.foreach { case (rows, b) =>
      rows.toDF("user_id", "event_id", "event_type", "t")
        .select(col("user_id"), col("event_id"), col("event_type"),
          timestamp_seconds(col("t")).as("ts"))
        .coalesce(1).write.parquet(s"$src/batch_$b")
    }
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream
        .schema("user_id LONG, event_id LONG, event_type STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$src/*")
      val out = Ingest.runToMemory(Stateful.asOfViaTimers(stream).toDF())
        .orderBy("purchase_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .toSeq
      assert(out == Seq(
        (100L, 1L, 2000L, Some(2L)), // the batch-1 click c2 wins
        (101L, 1L, 1500L, Some(1L)), // late purchase matches only c1
        (200L, 2L, 1500L, None)))    // no preceding click → null
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("click state stays bounded for a key that never purchases") {
    // A user who ONLY clicks must not accumulate state forever: once
    // the watermark passes a click, only the latest at-or-below-wm
    // click can ever win a future as-of match, so GC must run even
    // with no purchase timer pending. Verified by reading the "clicks"
    // state variable straight out of the checkpoint after the run.
    val src = tmp("asofgc_src_")
    val clickBatches: Seq[Seq[(Long, Long, String, Long)]] = Seq(
      Seq((1L, 1L, "click", 1000L), (1L, 2L, "click", 1100L),
        (1L, 3L, "click", 1200L)),
      Seq((1L, 4L, "click", 2000L), (1L, 5L, "click", 2100L)),
      // advances the watermark to 100000-3600: ALL of user 1's clicks
      // are then at-or-below it → exactly one may survive
      Seq((9L, 900L, "click", 100000L)))
    clickBatches.zipWithIndex.foreach { case (rows, b) =>
      rows.toDF("user_id", "event_id", "event_type", "t")
        .select(col("user_id"), col("event_id"), col("event_type"),
          timestamp_seconds(col("t")).as("ts"))
        .coalesce(1).write.parquet(s"$src/batch_$b")
    }
    val chk = tmp("asofgc_chk_")
    val stream = spark.readStream
      .schema("user_id LONG, event_id LONG, event_type STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$src/*")
    val q = Ingest.drain(Stateful.asOfViaTimers(stream).toDF(), checkpoint = chk,
      statePartitions = true, rocksDb = true)(_.format("memory").queryName("asof_gc"))
    // no purchases → no output
    assert(q.sparkSession.table("asof_gc").count() == 0)
    val clickState = spark.read.format("statestore")
      .option("path", chk)
      .option("stateVarName", "clicks")
      .load()
    val perKey = clickState.groupBy(col("key.value").as("uid")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // user 1: five clicks arrived, all at-or-below the final
    // watermark — GC must have collapsed them to the single latest
    assert(perKey(1L) == 1L, s"user-1 clicks not GC'd: $perKey")
    // user 9's lone click is above the watermark and remains in play
    assert(perKey(9L) == 1L)
  }
}
