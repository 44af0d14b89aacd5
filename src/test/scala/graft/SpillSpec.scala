package graft

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import org.apache.spark.GraftTestBridge
import org.apache.spark.sql.{DataFrame, GraftSqlTestBridge}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.core.{QueryDef, Tables}
import graft.ops.{KMeans, Vectors}

/** A query's pins live until its consumer is done (`QueryDef.run`):
  * once `run` returns, all of them are released, also when the build or
  * the consumer fails, and never a checkpoint that another query on the
  * same session still reads.
  */
class SpillSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def checkpointIds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Run `consume` while a side thread checkpoints a 1,000-row frame of
    * the same session every 100 ms. Every side frame must still count
    * afterwards, and once `consume` returns no RDD it made may remain
    * persisted, nor keep a block, nor any Dataset stay cached.
    */
  private def checkAlongside(consume: => Unit): Unit = {
    val sc = spark.sparkContext
    val before = GraftTestBridge.rddIdsWithBlocks(sc)
    val persisted = sc.getPersistentRDDs.keySet
    val cached = GraftSqlTestBridge.cachedEntries(spark)
    val side = ArrayBuffer.empty[DataFrame]
    @volatile var running = true
    val sideThread = new Thread(() =>
      while (running) {
        val f = spark.range(1000).toDF().localCheckpoint()
        side.synchronized(side += f)
        Thread.sleep(100)
      })
    sideThread.start()
    try consume
    finally {
      running = false
      sideThread.join()
    }
    try {
      val sideIds = side.flatMap(checkpointIds).toSet
      // read before any GC lets ContextCleaner drop a stranded pin
      val pinned = sc.getPersistentRDDs.keySet -- persisted -- sideIds
      assert(pinned.isEmpty, s"RDDs $pinned still persisted")
      assert(GraftSqlTestBridge.cachedEntries(spark) == cached, "a cached Dataset outlived run")
      val lost = side.count(f => !Try(f.count()).toOption.contains(1000L))
      assert(lost == 0, s"$lost of ${side.size} side frames released")
      eventually(timeout(30.seconds), interval(100.millis)) {
        val left = GraftTestBridge.rddIdsWithBlocks(sc) -- before -- sideIds
        assert(left.isEmpty, s"blocks left of RDDs $left")
      }
    } finally side.flatMap(checkpointIds).foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
  }

  // every builder that pins intermediates, then the ones whose result
  // itself reads what they pinned
  private val pinning = Seq(
    "q_dedup_clusters", "q_dedup_clusters_twostar", "q_split_leakage_safe",
    "q_corpus_dedup", "q_corpus_dedup_best", "q_pagerank", "q_triangle_count",
    "q_degree_dist", "q_label_prop", "q_kcore_rounds", "q_training_export",
    "q_rrf_fusion", "q_ann_ivfpq", "q_rolling_median", "q_ts_similarity",
    "q_minhash_pairs", "q_minhash_pairs_capped", "q_minhash_hot_buckets",
    "q_ngram_jaccard", "q_minhash_verified", "q_simhash60_neardup",
    "q_minhash_jaccard_est", "q_dedup_incremental", "q_dup_ngram_spans",
    "q_importance_weights", "q_tfidf_retrieval", "q_bm25_retrieval",
    "q_substring_scrub", "q_pmi_collocations", "q_kl_drift", "q_oov_rate",
    "q_winnow_neardup", "q_trajectory_sim", "q_trajectory_sim_blocked",
    "q_trajectory_sim_lsh", "q_image_neardup", "q_audio_neardup",
    "q_video_neardup", "q_levenshtein_pairs_banded", "q_levenshtein_pairs_tight",
    "q_substring_dedup", "q_substring_dedup_scrub")
  private val resultReadsPins = Seq(
    "q_global_rownum", "q_shard_balance", "q_pack_sequences", "q_token_budget",
    "q_kmeans_fit", "q_semantic_dedup", "q_bpe_merge_round", "q_bpe_merge_round2",
    "q_perplexity_buckets")

  (pinning ++ resultReadsPins).foreach { name =>
    test(s"$name releases its own pins and no concurrent query's checkpoints") {
      checkAlongside(SparkEntry.queries(name).run(spark, sf)(noop))
    }
  }

  test("KMeans.fit releases its corpus checkpoint and no concurrent query's checkpoints") {
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), Vectors.toDouble(col("embedding")).as("v"))
    // the returned assignments read a checkpoint held in the caller's pins
    checkAlongside(graft.core.Pins.using(pins =>
      noop(KMeans.fit(vecs, "vec_id", "v", k = 8, rounds = 3, pins)._1)))
  }

  test("q_bpe_merge_round2 holds one checkpoint while its result is read") {
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.keySet
    val held = SparkEntry.queries("q_bpe_merge_round2").run(spark, sf) { df =>
      noop(df)
      sc.getPersistentRDDs.keySet -- persisted
    }
    assert(held.size == 1, s"RDDs $held persisted while the result was read")
  }

  test("run of a pinned builder writes nothing under the spill dir") {
    val key = "spark.graft.spill.dir"
    val spill = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "run_spill_")
    core.Spill.track(spill.toString)
    val prior = spark.conf.getOption(key)
    try {
      spark.conf.set(key, spill.toString)
      SparkEntry.queries("q_pagerank").run(spark, sf)(noop)
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(spill.toFile.list().isEmpty, s"run wrote ${spill.toFile.list().toSeq}")
  }

  private def failing(build: Boolean): (Set[Int], DataFrame) = {
    var persisted: DataFrame = null
    var checkpointed: Set[Int] = Set.empty
    val q = QueryDef.pinned("q_fails")("SELECT 1") { (s, _, pins) =>
      persisted = pins.persist(s.range(100).toDF())
      assert(persisted.count() == 100)
      checkpointed = checkpointIds(pins.checkpoint(s.range(100).toDF()))
      if (build) throw new IllegalStateException("failed")
      persisted
    }
    val e = intercept[IllegalStateException] {
      q.run(spark, sf)(_ => throw new IllegalStateException("failed"))
    }
    assert(e.getMessage == "failed")
    (checkpointed, persisted)
  }

  Seq(true -> "a failed build releases its pins and rethrows",
      false -> "a failed consumer releases the build's pins and rethrows").foreach {
    case (inBuild, title) =>
      test(title) {
        val (checkpointed, persisted) = failing(inBuild)
        assert(checkpointed.nonEmpty)
        assert(persisted.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        assert(checkpointed.forall(id => !spark.sparkContext.getPersistentRDDs.contains(id)))
        eventually(timeout(30.seconds), interval(100.millis)) {
          assert((GraftTestBridge.rddIdsWithBlocks(spark.sparkContext) & checkpointed).isEmpty)
        }
      }
  }
}
