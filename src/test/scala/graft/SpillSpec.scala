package graft

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import org.apache.spark.GraftTestBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.core.{Spill, Tables}
import graft.ops.{KMeans, Vectors}

/** A build releases exactly the pins it made (`Spill.scoped`): all of
  * its own, also when it fails, and never a checkpoint that another
  * query on the same session still reads.
  */
class SpillSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def checkpointIds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

  /** Build and write `build` to noop while a side thread checkpoints a
    * 1,000-row frame of the same session every 100 ms. Every side frame
    * must still count afterwards, and no RDD the build made may remain
    * persisted once it is written, nor keep a block, other than the RDDs
    * `keep` names in its result.
    */
  private def checkAlongside(build: => DataFrame)(keep: DataFrame => Set[Int]): Unit = {
    val sc = spark.sparkContext
    val before = GraftTestBridge.rddIdsWithBlocks(sc)
    val persisted = sc.getPersistentRDDs.keySet
    val side = ArrayBuffer.empty[DataFrame]
    @volatile var running = true
    val sideThread = new Thread(() =>
      while (running) {
        val f = spark.range(1000).toDF().localCheckpoint()
        side.synchronized(side += f)
        Thread.sleep(100)
      })
    sideThread.start()
    val result =
      try {
        val df = build
        df.write.format("noop").mode("overwrite").save()
        df
      } finally {
        running = false
        sideThread.join()
      }
    try {
      val sideIds = side.flatMap(checkpointIds).toSet
      // read before any GC lets ContextCleaner drop a stranded pin
      val pinned = sc.getPersistentRDDs.keySet -- persisted -- sideIds -- keep(result)
      assert(pinned.isEmpty, s"RDDs $pinned still persisted")
      val lost = side.count(f => !Try(f.count()).toOption.contains(1000L))
      assert(lost == 0, s"$lost of ${side.size} side frames released")
      eventually(timeout(30.seconds), interval(100.millis)) {
        val left = GraftTestBridge.rddIdsWithBlocks(sc) -- before -- sideIds -- keep(result)
        assert(left.isEmpty, s"blocks left of RDDs $left")
      }
    } finally side.flatMap(checkpointIds).foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
  }

  Seq("q_dedup_clusters", "q_dedup_clusters_twostar", "q_split_leakage_safe",
      "q_corpus_dedup", "q_corpus_dedup_best", "q_pagerank", "q_triangle_count",
      "q_degree_dist", "q_label_prop", "q_kcore_rounds", "q_training_export").foreach { name =>
    test(s"$name releases its own pins and no concurrent query's checkpoints") {
      checkAlongside(SparkEntry.queries(name)(spark, sf))(_ => Set.empty)
    }
  }

  test("KMeans.fit releases its corpus checkpoint and no concurrent query's checkpoints") {
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), Vectors.toDouble(col("embedding")).as("v"))
    // the returned assignments are a result-lifetime pin
    checkAlongside(KMeans.fit(vecs, "vec_id", "v", k = 8, rounds = 3)._1)(checkpointIds)
  }

  test("a failed scoped build releases its pins and rethrows") {
    var persisted: DataFrame = null
    var checkpointed: Set[Int] = Set.empty
    val e = intercept[IllegalStateException] {
      Spill.scoped { pins =>
        persisted = pins.persist(spark.range(100).toDF())
        assert(persisted.count() == 100)
        checkpointed = checkpointIds(pins.checkpoint(spark.range(100).toDF()))
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    assert(checkpointed.nonEmpty)
    assert(persisted.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(checkpointed.forall(id => !spark.sparkContext.getPersistentRDDs.contains(id)))
    eventually(timeout(30.seconds), interval(100.millis)) {
      assert((GraftTestBridge.rddIdsWithBlocks(spark.sparkContext) & checkpointed).isEmpty)
    }
  }
}
