package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior of the round-5 corpus operators beyond their DuckDB oracles:
  * the end-to-end dedup's survivor invariants, the weighted sample's
  * weight skew, BM25 ranking contracts, and bigram-LM consistency with
  * the token counts.
  */
class CorpusOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  test("leakage-safe split: clusters never straddle splits, totals conserve, and doc-hash would leak") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.documents(spark, dir)
      .select("doc_id", "lang", "n_chars")
    import spark.implicits._
    val clusters = SparkEntry.queries("q_dedup_clusters").run(spark, dir)(
      _.select(col("doc_id"), col("cluster_id")).as[(Long, Long)].collect())
      .toSeq.toDF("doc_id", "cluster_id")
    // doc-level reconstruction of the split the aggregate query reports
    def splitOf(c: org.apache.spark.sql.Column) =
      when(graft.ops.Text.hash60(concat(lit("split:"), c.cast("string"))) % 100 < 80, "train")
        .when(graft.ops.Text.hash60(concat(lit("split:"), c.cast("string"))) % 100 < 90, "val")
        .otherwise("test")
    val perDoc = docs.join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split", splitOf(col("cluster_id")))
    // 1. the aggregate catalog query equals the doc-level reconstruction
    val agg = SparkEntry.queries("q_split_leakage_safe").run(spark, dir)(_.collect())
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val rebuilt = perDoc.groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("cluster_id")).as("n_clusters"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("split", "lang").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(agg.toSeq == rebuilt.toSeq)
    assert(agg.map(_._3).sum == docs.count())
    // 2. no near-dup cluster straddles splits (the operator's contract)
    val straddling = perDoc.groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("k")).filter(col("k") > 1).count()
    assert(straddling == 0L)
    // 3. the doc-id hash (q_hash_split) WOULD straddle some multi-doc
    //    cluster — the leakage this operator exists to prevent is real
    //    in this corpus, not vacuously absent
    val wouldLeak = perDoc.withColumn("doc_split", splitOf(col("doc_id")))
      .groupBy("cluster_id").agg(countDistinct(col("doc_split")).as("k"))
      .filter(col("k") > 1).count()
    assert(wouldLeak > 0L,
      "fixture has no multi-doc cluster split by doc-id hashing; property 3 is vacuous")
  }

  test("corpus dedup keeps every unique doc and exactly one canonical per cluster") {
    val total = graft.core.Tables.documents(spark, sf).count()
    val rows = graft.catalog.Curation.corpusDedup.run(spark, sf)(_.collect())
    assert(rows.length < total, "near-dup clusters exist at sf0.01, some docs must drop")
    // every kept doc is its own cluster representative
    assert(rows.forall(r => r.getAs[Long]("cluster_id") == r.getAs[Long]("doc_id")))
    // survivors that had duplicates really were cluster members; the
    // pair queries (same LSH+verify definition) must agree on who
    val dupMembers = graft.catalog.TextAnalysis.minhashVerified.run(spark, sf) { pairs =>
      val verified = pairs.filter(col("jaccard") >= 0.7)
      verified.select(col("doc_a").as("d"))
        .unionByName(verified.select(col("doc_b").as("d")))
        .distinct().collect().map(_.getLong(0)).toSet
    }
    val keptDups = rows.filter(_.getAs[Int]("had_dups") == 1).map(_.getAs[Long]("doc_id")).toSet
    assert(keptDups.subsetOf(dupMembers))
    // dropped docs = dup members that are not canonical
    assert(total - rows.length == dupMembers.size - keptDups.size)
  }

  test("weighted sample prefers long documents and is deterministic") {
    val q = graft.catalog.Curation.sampleWeighted
    val a = q.run(spark, sf)(_.collect())
    val b = q.run(spark, sf)(_.collect())
    assert(a.toSeq == b.toSeq, "salted-hash keys must be partition-invariant")
    assert(a.length == 50)
    val sampleMean = a.map(_.getAs[Long]("n_chars")).sum.toDouble / a.length
    val corpusMean = graft.core.Tables.documents(spark, sf)
      .agg(avg("n_chars")).collect().head.getDouble(0)
    assert(sampleMean > corpusMean,
      s"n_chars-weighted sample mean $sampleMean should exceed corpus mean $corpusMean")
  }

  test("bm25 returns 5 ranked hits per query and never the query doc itself") {
    val rows = graft.catalog.TextAnalysis.bm25Retrieval.run(spark, sf)(_.collect())
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size == 5)
    byQuery.foreach { case (qid, hits) =>
      assert(hits.map(_.getAs[Int]("rnk")).sorted.toSeq == (1 to 5))
      assert(hits.forall(_.getAs[Long]("doc_id") != qid))
      assert(hits.forall(_.getAs[Double]("score") > 0.0))
      // rank order is score order
      val sorted = hits.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("score"))
      assert(sorted.zip(sorted.tail).forall { case (hi, lo) => hi >= lo })
    }
  }

  test("sequence packing conserves tokens, fills every non-final sequence exactly") {
    val L = 256L
    val rows = graft.catalog.Curation.packSequences.run(spark, sf)(_.collect())
    // offsets stay inside the sequence
    assert(rows.forall { r =>
      val p = r.getAs[Long]("pos_in_seq"); val n = r.getAs[Long]("n_toks_in_seq")
      p >= 0 && n > 0 && p + n <= L
    })
    // every sequence except the last is exactly full
    val bySeq = rows.groupBy(_.getAs[Long]("seq_id"))
      .map { case (s, rs) => s -> rs.map(_.getAs[Long]("n_toks_in_seq")).sum }
    val lastSeq = bySeq.keys.max
    bySeq.foreach { case (s, tot) =>
      if (s == lastSeq) assert(tot > 0 && tot <= L) else assert(tot == L, s"seq $s")
    }
    // token conservation per document
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
      .map { case (d, rs) => d -> rs.map(_.getAs[Long]("n_toks_in_seq")).sum }
    val nToks = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), size(graft.ops.Text.tokens(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc == nToks)
  }

  test("bigram-lm bigram counts match token counts and scores are negative log-probs") {
    val toks = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), size(graft.ops.Text.tokens(col("text"))).as("n_toks"))
    val joined = graft.catalog.TextAnalysis.bigramLm.run(spark, sf)(
      _.join(toks, "doc_id").collect())
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getAs[Long]("n_bigrams") == r.getAs[Int]("n_toks") - 1L)
      assert(r.getAs[Double]("avg_logprob") < 0.0)
    }
  }
}
