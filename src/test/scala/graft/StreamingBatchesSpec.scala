package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.DeltaUpsertStore

/** Multi-micro-batch streaming semantics: consumer-side pacing via
  * maxFilesPerTrigger (the file-source analog of maxOffsetsPerTrigger,
  * SURVEY §2.7 T6), K3 upsert across several REAL batches, and
  * checkpoint-based restart idempotence (T3).
  */
class StreamingBatchesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(p: String) =
    Files.createTempDirectory(Paths.get("target"), p).toString

  // three files → with maxFilesPerTrigger=1, three micro-batches; later
  // files carry newer ts for overlapping keys
  private def writeBatches(dir: String): Unit =
    (0 until 3).foreach { b =>
      Seq((1L, 10L * (b + 1), s"v1_b$b"), (2L + b, 10L * (b + 1) + 1, s"k_b$b"))
        .toDF("key", "ts", "v")
        .coalesce(1).write.parquet(s"$dir/batch_$b")
    }

  private def stream(dir: String) =
    spark.readStream.schema("key LONG, ts LONG, v STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*")

  test("paced multi-batch upsert: last write per key wins across batches") {
    val src = tmp("mb_src_")
    writeBatches(src)
    val store = new DeltaUpsertStore(tmp("mb_store_"), "key", Seq("ts"))
    assert(store.healthCheck())
    var batches = 0
    val q = stream(src).writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], id: Long) =>
        batches += 1; store.upsert(b.toDF(), id)
      }
      .option("checkpointLocation", tmp("mb_chk_"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(batches >= 3, s"expected >=3 micro-batches, got $batches")
    val out = store.read(spark).orderBy("key")
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    // key 1 appears in every batch; the ts=30 write must win
    assert(out(1L) == "v1_b2")
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
  }

  test("paced multi-batch ES upsert: external versioning wins across batches AND rejects a late-arriving older batch") {
    val src = tmp("mbes_src_")
    writeBatches(src)
    // a 4th batch arriving LAST but carrying OLDER timestamps for key 1:
    // the parquet store would need its global merge to handle this; the
    // ES wire path must reject it via the strictly-greater version rule
    Seq((1L, 5L, "stale_late")).toDF("key", "ts", "v")
      .coalesce(1).write.parquet(s"$src/batch_9")
    val stub = new graft.streaming.EsStub()
    stub.start()
    try {
      val store = new graft.streaming.EsHttpStore(stub.baseUrl, "mb", "key",
        Seq("ts"), "ts", org.apache.spark.sql.types.StructType.fromDDL(
          "key BIGINT, ts BIGINT, v STRING"))
      assert(store.healthCheck())
      val q = stream(src).writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[Row], id: Long) =>
          store.upsert(b.toDF(), id))
        .option("checkpointLocation", tmp("mbes_chk_"))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val out = store.read(spark).orderBy("key")
        .collect().map(r => (r.getLong(0), r.getString(2))).toMap
      assert(out(1L) == "v1_b2", s"stale late batch clobbered key 1: $out")
      assert(out.keySet == Set(1L, 2L, 3L, 4L))
    } finally stub.stop()
  }

  test("checkpoint restart: re-running over the same source adds nothing") {
    val src = tmp("rs_src_")
    writeBatches(src)
    val chk = tmp("rs_chk_")
    val store = new DeltaUpsertStore(tmp("rs_store_"), "key", Seq("ts"))
    def runOnce(): Int = {
      var batches = 0
      val q = stream(src).writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], id: Long) =>
          batches += 1; store.upsert(b.toDF(), id)
        }
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      batches
    }
    assert(runOnce() >= 3)
    val snapshot = store.read(spark).orderBy("key").collect().map(_.toSeq).toSeq
    // second run with the SAME checkpoint: offsets already committed →
    // no new batches, store untouched
    assert(runOnce() == 0)
    val after = store.read(spark).orderBy("key").collect().map(_.toSeq).toSeq
    assert(after == snapshot)
  }

  test("mid-run crash: resume replays ONLY the failed batch; keyed dedup repairs the duplicate") {
    val src = tmp("cr_src_")
    writeBatches(src)
    val journal = tmp("cr_journal_")
    val chk = tmp("cr_chk_")
    // journal the batch FIRST, then crash — the at-least-once shape a
    // non-transactional sink exhibits when the process dies between the
    // sink write and the checkpoint commit
    def run(crash: Boolean): Unit = {
      val q = stream(src).writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], id: Long) =>
          b.toDF().withColumn("bid", lit(id))
            .write.mode("append").parquet(journal)
          if (crash && id == 1) throw new RuntimeException("injected crash")
        }
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .start()
      try { q.awaitTermination(); assert(!crash, "crash run should fail") }
      catch {
        case _: org.apache.spark.sql.streaming.StreamingQueryException =>
          assert(crash, "clean run must not fail")
      }
    }
    run(crash = true)   // batch 0 commits; batch 1 journals, then dies
    run(crash = false)  // resumes AT batch 1 (same id, same data), then 2
    val j = spark.read.parquet(journal)
    val perBid = j.groupBy("bid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each source file holds 2 rows; the crashed-then-replayed batch is
    // journaled twice (at-least-once), the committed ones exactly once
    assert(perBid == Map(0L -> 2L, 1L -> 4L, 2L -> 2L))
    // idempotent consumption: dedup on the full record collapses the
    // replay — the repaired journal equals an uninterrupted run's
    assert(j.dropDuplicates("bid", "key").count() == 6)
  }
}
