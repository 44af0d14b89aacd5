package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN recall-at-scale probe: mean recall@3 of every bucketed ANN
  * variant vs the exact brute-force top-3, measured across scale
  * factors. The quality floors in [[graft.core.AccuracySpecs]] are
  * enforced at sf0.01 (AnnRecallSpec); this main answers the question
  * those floors cannot — does recall@k HOLD as the corpus grows 100×
  * while nlist stays capped at the deployment constant
  * (SimilaritySearch's √n-with-cap seed rule) — the known IVF
  * recall-vs-corpus-size tension.
  *
  * Ground truth per dir = `q_ann_topk_refine`: its candidate stage is
  * the exact brute-force corpus scan (broadcast ≤20-row query side),
  * so its top-3 prefix IS the exact answer at any SF.
  *
  * Usage: RecallProbe [sfDir ...]   (defaults to the curve's 3 dirs)
  * Prints one JSON line per dir:
  *   {"dir":…,"n_queries":20,"recall@3":{"q_ann_ivf":0.37,…}}
  */
object RecallProbe {
  private val Variants = sys.env.get("GRAFT_PROBE_ONLY")
    .map(_.split(",").toSeq).getOrElse(Seq(
    "q_ann_ivf", "q_ann_ivf_probe2", "q_ann_ivf_probe4",
    // r16: the scale-aware policy — nprobe doubles per corpus decade,
    // built to HOLD the uniform regime this probe showed every
    // fixed-probe variant losing (sf10-uniform best 0.417)
    "q_ann_ivf_adaptive", "q_ann_lsh",
    "q_ann_lsh_multi",
    // r14: the quantized variants — quantization distortion vs corpus
    // spread is the classic silent 100× decay (a codebook/signature
    // trained on corpus geometry at sf0.01 may stop separating
    // neighbors as the corpus fills the space), so they ride the same
    // three-decade probe as the IVF family
    "q_ann_ivf_kmeans", "q_ann_binary_quant", "q_ann_pq_adc",
    // r15: residual IVF-PQ — the variant built to SURVIVE this probe's
    // 200k clustered row where the flat 64-bit codes hold 0.000
    "q_ann_ivfpq"))

  private def topSets(df: DataFrame, k: Int): Map[Long, Set[Long]] =
    df.filter(col("rnk") <= k)
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }

  /** Deterministic clustered corpus at size `n` — AnnRecallSpec's
    * 10-Gaussian fixture (within-cluster cosine ≈ 0.94, cross ≈ 0)
    * scaled up with the SAME layout rules the catalog constants assume
    * (queries = ids 0..19 planted 2-per-cluster; members in contiguous
    * 50-blocks cycling the 10 clusters, so the IVF seed rule vec_id %
    * 50 = 0 spans every cluster). Cluster COUNT stays fixed as n grows
    * — the regime where a capped-nlist IVF should hold recall, which
    * is exactly what this probe measures.
    */
  private def clusteredDir(spark: SparkSession, n: Int): String = {
    val out = java.nio.file.Paths.get("target", s"recall_clustered_$n")
    val marker = out.resolve("embeddings.parquet")
    if (!java.nio.file.Files.exists(marker)) {
      import spark.implicits._
      val rnd = new scala.util.Random(20260814L)
      val K = 10; val d = 64
      val centers = Array.fill(K, d)(rnd.nextGaussian())
      def clusterOf(id: Int): Int = if (id < 20) id % K else (id / 50) % K
      val rows = (0 until n).map { id =>
        val c = centers(clusterOf(id))
        val v: Seq[Float] =
          Array.tabulate(d)(j => (c(j) + 0.25 * rnd.nextGaussian()).toFloat).toSeq
        (id.toLong, v)
      }
      rows.toDF("vec_id", "embedding")
        .repartition(8).write.mode("overwrite")
        .parquet(marker.toString)
    }
    out.toString
  }

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/root/repo/target/sf1.0",
        "/root/repo/target/sf10")
    graft.Session.run("graft-recall-probe") { spark =>
      def measure(d: String, regime: String): Unit = {
        def top3(name: String) = graft.SparkEntry.queries(name).run(spark, d)(topSets(_, 3))
        val exact = top3("q_ann_topk_refine")
        require(exact.nonEmpty, s"no exact top-k rows for $d")
        val recalls = Variants.map { name =>
          val approx = top3(name)
          val r = exact.map { case (q, ex) =>
            approx.getOrElse(q, Set.empty).intersect(ex).size / 3.0
          }.sum / exact.size
          name -> r
        }
        val qs = recalls.map { case (k, v) => f""""$k":$v%.3f""" }.mkString(",")
        println(s"""{"dir":"$d","regime":"$regime","n_queries":${exact.size},"recall@3":{$qs}}""")
      }
      dirs.foreach(measure(_, "uniform"))
      // clustered corpora at the same three cardinalities as the sf dirs
      Seq(2000, 20000, 200000).foreach { n =>
        measure(clusteredDir(spark, n), "clustered")
      }
    }
  }
}
