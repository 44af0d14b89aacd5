package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 analytics operators cross-checked against independent
  * in-memory references (not just the DuckDB oracle): a plain-Scala
  * EWMA recomputation, funnel monotonicity, and the cohort-triangle
  * identities.
  */
class AnalyticsOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("ewma matches a sequential scala fold over the same event order") {
    val rows = graft.catalog.Analytics.ewma.run(spark, sf)(_.collect())
    val events = graft.core.Tables.events(spark, sf)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"),
        unix_micros(col("ts")).as("us"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val ref = events.groupBy(e => (e._1, e._2)).map { case (k, es) =>
      val ordered = es.sortBy(e => (e._3, e._4)).map(_._5)
      k -> ordered.foldLeft(0.0)((a, x) => 0.3 * x + 0.7 * a)
    }
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val k = (r.getAs[String]("event_type"), r.getAs[Long]("day"))
      assert(r.getAs[Double]("ewma") == ref(k), s"ewma mismatch for $k")
    }
  }

  test("funnel stages are monotonically non-increasing") {
    val n = graft.catalog.Analytics.eventFunnel.run(spark, sf)(_.collect())
      .sortBy(_.getAs[Int]("stage")).map(_.getAs[Long]("n_users"))
    assert(n.length == 3)
    assert(n(0) >= n(1) && n(1) >= n(2))
    assert(n(0) > 0)
  }

  test("every cohort is complete at offset zero and never grows") {
    val rows = graft.catalog.Analytics.cohortRetention.run(spark, sf)(_.collect())
      .map(r => (r.getAs[Long]("cohort_day"), r.getAs[Long]("day_offset"),
        r.getAs[Long]("n_users")))
    val byCohort = rows.groupBy(_._1)
    byCohort.foreach { case (c, rs) =>
      val at0 = rs.find(_._2 == 0L)
      assert(at0.isDefined, s"cohort $c missing offset-0 row")
      // offset 0 contains every cohort member by definition of cohort_day
      assert(rs.forall(_._3 <= at0.get._3), s"cohort $c exceeds its own size")
      assert(rs.forall(_._2 >= 0L))
    }
    // cohort sizes partition the user base
    val users = graft.core.Tables.events(spark, sf)
      .select(count_distinct(col("user_id"))).collect().head.getLong(0)
    assert(byCohort.values.map(_.find(_._2 == 0L).get._3).sum == users)
  }

  test("histogram percentiles equal the exact nearest-rank values at bin granularity") {
    // rounding is monotone, so the CDF-selected bin must be exactly
    // round(exact nearest-rank percentile, 2) — not merely close
    val exact = graft.catalog.Analytics.percentiles.run(spark, sf)(_.collect())
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val hist = graft.catalog.Analytics.percentilesHist.run(spark, sf)(_.collect())
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(hist.keySet == exact.keySet && hist.nonEmpty)
    def r2(x: Double) = BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    exact.foreach { case (k, (p50, p90, p99)) =>
      assert(hist(k) == ((r2(p50), r2(p90), r2(p99))), s"$k: ${hist(k)} vs exact ($p50,$p90,$p99)")
    }
  }

  test("histogram quartiles partition the corpus and track exact NTILE at bin granularity") {
    // bins never split across quartiles, so counts may deviate from
    // exact NTILE by at most one bin's population and each quartile
    // boundary by at most one bin width
    val exact = graft.catalog.Analytics.valueQuartiles.run(spark, sf)(_.collect())
      .map(r => r.getInt(0).toLong -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val hist = graft.catalog.Analytics.valueQuartilesHist.run(spark, sf)(_.collect())
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(hist.keySet == Set(1L, 2L, 3L, 4L) && exact.keySet == hist.keySet)
    // a partition of the corpus: counts sum to the total
    assert(hist.values.map(_._1).sum == exact.values.map(_._1).sum)
    val maxBin = graft.core.Tables.events(spark, sf)
      .groupBy(org.apache.spark.sql.functions.round(col("value"), 2))
      .count().agg(org.apache.spark.sql.functions.max("count"))
      .collect().head.getLong(0)
    (1L to 4L).foreach { q =>
      assert(math.abs(hist(q)._1 - exact(q)._1) <= maxBin,
        s"quartile $q count ${hist(q)._1} vs exact ${exact(q)._1} (maxBin $maxBin)")
      // upper boundary within one bin width of the exact NTILE boundary
      assert(math.abs(hist(q)._3 - exact(q)._3) <= 0.011,
        s"quartile $q hi ${hist(q)._3} vs exact ${exact(q)._3}")
    }
  }
}
