package graft

import org.scalatest.funsuite.AnyFunSuite

/** Sanity pins for the round-3 analytics: fixed-point PageRank and
  * token entropy, run on the smallest driver fixture.
  */
class GraphEntropySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("fixed-point pagerank: mass bounded, floor respected, degree ordering") {
    val r = graft.catalog.Graph.pagerank.run(spark, dir)(_.collect())
    assert(r.nonEmpty)
    val ranks = r.map(_.getAs[Long]("rank_u"))
    // damped floor: every node keeps at least (1-d) of the unit mass
    assert(ranks.forall(_ >= 150000L))
    // integer truncation only ever LOSES mass vs the float recursion:
    // total stays at or below the initial n × 1e6
    assert(ranks.sum <= r.length * 1000000L)
    // suppliers (odd ids) are ~15× fewer than customers here, so the
    // top-ranked node must be a supplier hub
    val top = r.maxBy(_.getAs[Long]("rank_u")).getAs[Long]("node")
    assert(top % 2 == 1)
  }

  test("two-star CC equals pointer-jumping CC") {
    val pj = graft.catalog.Curation.dedupClusters.run(spark, dir)(_.collect())
      .map(_.toSeq).toSeq
    val ts = graft.catalog.Curation.dedupClustersTwoStar.run(spark, dir)(_.collect())
      .map(_.toSeq).toSeq
    assert(ts == pj)
  }

  test("approx quantiles track exact nearest-rank percentiles") {
    import org.apache.spark.sql.functions._
    val approx = graft.catalog.Sketches.approxQuantiles.run(spark, dir)(_.collect())
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = graft.core.Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("p50"), expr("percentile(value, 0.9)").as("p90"),
        max("value").as("mx"), min("value").as("mn"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2),
        r.getDouble(3) - r.getDouble(4))).toMap
    exact.foreach { case (k, (p50, p90, range)) =>
      val (a50, a90) = approx(k)
      assert(math.abs(a50 - p50) <= range * 0.02, s"$k p50: $a50 vs $p50")
      assert(math.abs(a90 - p90) <= range * 0.02, s"$k p90: $a90 vs $p90")
    }
  }

  test("kmeans fit: WCSS non-increasing over Lloyd rounds") {
    import org.apache.spark.sql.functions._
    graft.ops.Vectors.register(spark)
    val vecs = graft.core.Tables.embeddings(spark, dir)
      .select(col("vec_id"), graft.ops.Vectors.toDouble(col("embedding")).as("v"))
      .localCheckpoint()
    def wcss(rounds: Int): Double = graft.core.Pins.using { pins =>
      val (asg, cents) = graft.ops.KMeans.fit(vecs, "vec_id", "v", k = 8, rounds, pins)
      asg.join(vecs, asg("id") === vecs("vec_id")).join(cents, "cid")
        .select(aggregate(zip_with(col("v"), col("cv"), (x, c) => (x - c) * (x - c)),
          lit(0.0), (a, x) => a + x).as("sq"))
        .agg(sum("sq")).collect()(0).getDouble(0)
    }
    val w = (1 to 3).map(wcss)
    assert(w(1) <= w(0) + 1e-9 && w(2) <= w(1) + 1e-9,
      s"WCSS increased across rounds: $w")
  }

  test("token entropy: bounds and exact value on a uniform document") {
    val rows = graft.catalog.TextAnalysis.tokenEntropy.run(spark, dir)(_.collect())
    assert(rows.nonEmpty)
    rows.foreach { row =>
      val h = row.getAs[Double]("entropy")
      val nd = row.getAs[Long]("n_distinct")
      val hn = row.getAs[Double]("norm_entropy")
      assert(h >= 0.0 && h <= math.log(nd.toDouble) + 1e-6,
        s"entropy $h outside [0, ln($nd)]")
      assert(hn >= 0.0 && hn <= 1.0 + 1e-6)
      assert(math.abs(row.getAs[Double]("ppl") - math.exp(h)) <= math.exp(h) * 1e-4)
    }
    // a doc of k distinct tokens, all once → entropy exactly ln(k)
    val uniform = rows.filter(r => r.getAs[Long]("n_tokens") == r.getAs[Long]("n_distinct"))
    uniform.foreach { r =>
      val expected = math.log(r.getAs[Long]("n_distinct").toDouble)
      assert(math.abs(r.getAs[Double]("entropy") - expected) < 1e-5)
    }
  }
}
