package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scale leg of the ANN quality floors: AccuracySpecs registers a
  * `uniform-sf10` floor for the adaptive-nprobe variant — the regime
  * where every CONSTANT-nprobe variant measurably decays as the corpus
  * grows against the capped nlist (RECALL_SCALE jsonl; best fixed-probe
  * sf10-uniform recall@3 = 0.417). This spec enforces it whenever the
  * amplified sf10 corpus exists (cli.ScaleGen output — the scale-run
  * prerequisite); on a box without it the test cancels rather than
  * silently passing.
  */
class ScaleRecallSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sf10 = "/root/repo/target/sf10"

  private def topSets(name: String, d: String): Map[Long, Set[Long]] =
    SparkEntry.queries(name).run(spark, d)(
      _.filter(org.apache.spark.sql.functions.col("rnk") <= 3)
        .select("query_id", "neighbor_id")
        .collect())
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }

  test("adaptive nprobe holds the sf10-uniform recall floor") {
    assume(java.nio.file.Files.exists(
      java.nio.file.Paths.get(sf10, "embeddings.parquet")),
      s"amplified sf10 corpus not present at $sf10 — run cli.ScaleGen first")
    // ground truth: q_ann_topk_refine's candidate stage is the exact
    // brute-force corpus scan, so its top-3 prefix is exact at any SF
    val exact = topSets("q_ann_topk_refine", sf10)
    assert(exact.size == 20 && exact.values.forall(_.size == 3))
    val approx = topSets("q_ann_ivf_adaptive", sf10)
    val recall = exact.map { case (q, ex) =>
      approx.getOrElse(q, Set.empty).intersect(ex).size / 3.0
    }.sum / exact.size
    val floor = graft.core.AccuracySpecs.annFloors("q_ann_ivf_adaptive")
      .find(_.regime == "uniform-sf10").get.floor
    info(f"sf10-uniform adaptive recall@3 = $recall%.3f (floor $floor%.2f)")
    assert(recall >= floor,
      f"adaptive nprobe sf10-uniform recall@3 $recall%.3f below floor $floor%.2f")
  }
}
