package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TopKTokens
import graft.ops.AsOf

/** As-of join and typed-aggregator unit behavior. */
class AdvancedOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("as-of join carries the most recent at-or-before right value") {
    val left = Seq((1L, 10L, 100L), (1L, 25L, 101L), (2L, 5L, 102L))
      .toDF("k", "t", "lid")
    val right = Seq((1L, 10L, 7L), (1L, 20L, 8L), (1L, 30L, 9L), (3L, 1L, 99L))
      .toDF("k", "t", "rid")
    val out = AsOf.joinAsOf(left, right, Seq("k"), "t", "rid", "asof_rid")
      .orderBy("lid")
      .collect().map(r => (r.getAs[Long]("lid"), Option(r.getAs[java.lang.Long]("asof_rid"))))
    // lid 100 at t=10: exact tie with right t=10 → visible (at-or-before)
    // lid 101 at t=25: last right ≤ 25 is t=20 → 8
    // lid 102 key 2: no right rows → null
    assert(out.toSeq == Seq(
      (100L, Some(7L: java.lang.Long)),
      (101L, Some(8L: java.lang.Long)),
      (102L, None)))
  }

  test("forward as-of carries the earliest at-or-after right value") {
    val left = Seq((1L, 10L, 100L), (1L, 25L, 101L), (1L, 31L, 103L), (2L, 5L, 102L))
      .toDF("k", "t", "lid")
    val right = Seq((1L, 10L, 7L), (1L, 20L, 8L), (1L, 30L, 9L), (3L, 1L, 99L))
      .toDF("k", "t", "rid")
    val out = AsOf.joinAsOfForward(left, right, Seq("k"), "t", "rid", "next_rid")
      .orderBy("lid")
      .collect().map(r => (r.getAs[Long]("lid"), Option(r.getAs[java.lang.Long]("next_rid"))))
    // lid 100 at t=10: exact tie with right t=10 → visible (at-or-after)
    // lid 101 at t=25: earliest right ≥ 25 is t=30 → 9
    // lid 103 at t=31: nothing after → null
    // lid 102 key 2: no right rows → null
    assert(out.toSeq == Seq(
      (100L, Some(7L: java.lang.Long)),
      (101L, Some(9L: java.lang.Long)),
      (102L, None),
      (103L, None)))
  }

  test("forward and backward as-of bracket every event") {
    // on random data: the backward match time is <= the event time and
    // the forward match time is >= it — the two directions partition the
    // right timeline around each left row
    val r = new scala.util.Random(11)
    val left = (1 to 300).map(i =>
      (r.nextInt(10).toLong, r.nextInt(500).toLong, i.toLong)).toDF("k", "t", "lid")
    val right = (1 to 300).map(i =>
      (r.nextInt(12).toLong, r.nextInt(500).toLong, 1000L + i)).toDF("k", "t", "rid")
    val rTime = right.select(col("rid").as("m_rid"), col("t").as("m_t"))
    def times(df: org.apache.spark.sql.DataFrame, outCol: String) = df
      .join(rTime, col(outCol) === col("m_rid"), "left")
      .select(col("t"), col("m_t"))
      .collect().map(x => (x.getLong(0), Option(x.getAs[java.lang.Long]("m_t"))))
    val back = times(AsOf.joinAsOf(left, right, Seq("k"), "t", "rid", "b"), "b")
    val fwd = times(AsOf.joinAsOfForward(left, right, Seq("k"), "t", "rid", "f"), "f")
    assert(back.exists(_._2.isDefined) && fwd.exists(_._2.isDefined))
    back.foreach { case (t, mt) => mt.foreach(m => assert(m <= t)) }
    fwd.foreach { case (t, mt) => mt.foreach(m => assert(m >= t)) }
  }

  test("native AsOfJoinExec matches the composed as-of join") {
    val r = new scala.util.Random(7)
    val left = (1 to 500).map(_ =>
      (r.nextInt(20).toLong, r.nextInt(1000).toLong, r.nextInt(100000).toLong))
      .toDF("k", "t", "lid")
    val right = (1 to 500).map(_ =>
      (r.nextInt(25).toLong, r.nextInt(1000).toLong, r.nextInt(100000).toLong))
      .toDF("k", "t", "rid")
    val composed = AsOf.joinAsOf(left, right, Seq("k"), "t", "rid", "asof_rid")
      .orderBy("k", "t", "lid").collect().map(_.toSeq).toSeq
    val native = graft.plans.AsOfJoin.joinAsOf(left, right, Seq("k"), "t", "rid", "asof_rid")
      .orderBy("k", "t", "lid").collect().map(_.toSeq).toSeq
    assert(native == composed)
    assert(native.nonEmpty)
  }

  test("native AsOfJoinExec handles empty right side and exact ties") {
    val left = Seq((1L, 10L, 100L)).toDF("k", "t", "lid")
    val emptyRight = Seq.empty[(Long, Long, Long)].toDF("k", "t", "rid")
    val out = graft.plans.AsOfJoin
      .joinAsOf(left, emptyRight, Seq("k"), "t", "rid", "a")
      .collect()
    assert(out.length == 1 && out.head.isNullAt(3))
    // exact-tie: right row at the same instant is visible; max payload
    // wins among equal instants (same as the composed operator)
    val right = Seq((1L, 10L, 7L), (1L, 10L, 9L)).toDF("k", "t", "rid")
    val tied = graft.plans.AsOfJoin
      .joinAsOf(left, right, Seq("k"), "t", "rid", "a")
      .collect().head
    assert(tied.getLong(3) == 9L)
    // null payloads are skipped — last NON-null wins (ignoreNulls parity)
    val withNull = Seq((1L, Some(5L), 3L), (1L, None, 9L))
      .toDF("k", "rid", "t")
      .select(col("k"), col("t"), col("rid"))
    val nn = graft.plans.AsOfJoin
      .joinAsOf(left, withNull, Seq("k"), "t", "rid", "a")
      .collect().head
    assert(nn.getLong(3) == 5L)
  }

  test("TopKTokens: exact counts, row_number tie-break, k rows") {
    val ds = Seq("b", "a", "a", "c", "b", "d").map(("g", _)).toDS()
    val out = ds.groupByKey(_._1)
      .agg(new TopKTokens[(String, String)](3, _._2).toColumn.name("topk"))
      .collect().head._2
    assert(out == Seq(
      TopKTokens.TokenCount("a", 2), TopKTokens.TokenCount("b", 2),
      TopKTokens.TokenCount("c", 1)))
  }

  /** Top-20 pair sets of a trajectory query as (ua, ub) tuples. */
  private def topPairs(name: String, dir: String): Seq[(Long, Long)] =
    SparkEntry.queries(name).run(spark, dir)(
      _.select(col("ua").cast("long"), col("ub").cast("long")).collect())
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** Quality floors for q_trajectory_sim_lsh, mirroring the ANN
    * family's two-regime philosophy (AccuracySpecs.annFloors scaladoc):
    * the hash oracle proves determinism, these pin retrieval quality.
    *
    *  - clustered: users drawn from 10 behavioral ARCHETYPES (each a
    *    deterministic event-type cycle + 10% noise) — the regime real
    *    user behavior resembles, where same-archetype pairs dominate
    *    the exact top-20 and a centered sign-LSH must co-bucket them.
    *  - uniform (the synthetic testdata): iid multinomial users, the
    *    structureless worst case — the exact top-20 mean cosine
    *    (0.587 at sf0.01) barely clears the all-pairs corpus mean
    *    (0.345), and NO o(n²)-candidate algorithm can reliably isolate
    *    it (the q_ann_lsh uniform-regime argument). There the floor is
    *    ENRICHMENT: the twin's top-20 mean cosine must reach ≥ 65% of
    *    the exact top-20's mean (measured 0.755 — and 28 points above
    *    the corpus mean), i.e. the pairs it surfaces are genuinely
    *    similar even when the true extremes are unfindable.
    */
  test("trajectory LSH twin: clustered top-20 overlap, uniform enrichment") {
    // --- clustered fixture: 300 users × 63 events, 10 archetypes ---
    val rnd = new scala.util.Random(20260816L)
    val types = Vector("click", "signup", "error", "view", "purchase")
    // archetype k = a fixed random cycle of length 6 over the 5 types
    val cycles = Vector.tabulate(10)(k => {
      val r = new scala.util.Random(1000 + k)
      Vector.fill(6)(types(r.nextInt(5)))
    })
    val rows = for {
      u <- 0 until 300
      arch = u % 10
      i <- 0 until 63
    } yield {
      val t = if (rnd.nextDouble() < 0.10) types(rnd.nextInt(5))
        else cycles(arch)(i % 6)
      (u.toLong * 1000 + i, // event_id: unique, ordered within user
        java.sql.Timestamp.valueOf(java.time.LocalDateTime
          .of(2026, 1, 1, 0, 0).plusSeconds(i.toLong * 60 + u)),
        u.toLong, t, 1.0, "{}")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-traj-clustered")
    dir.toFile.deleteOnExit()
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val exactC = topPairs("q_trajectory_sim", dir.toString)
    val lshC = topPairs("q_trajectory_sim_lsh", dir.toString)
    val overlapC = exactC.toSet.intersect(lshC.toSet).size / 20.0
    info(f"clustered top-20 overlap: $overlapC%.2f")
    assert(overlapC >= 0.75,
      f"clustered-regime top-20 overlap $overlapC%.2f below floor 0.75")

    // --- uniform regime: the sf0.01 testdata ---
    val sf = "/root/testdata/sf0.01"
    def meanTopCos(name: String): Double = {
      val c = SparkEntry.queries(name).run(spark, sf)(
        _.select(col("cosine").cast("double")).collect()).map(_.getDouble(0))
      c.sum / c.length
    }
    val exactMean = meanTopCos("q_trajectory_sim")
    val lshMean = meanTopCos("q_trajectory_sim_lsh")
    info(f"uniform top-20 mean cosine: exact $exactMean%.3f, lsh $lshMean%.3f")
    assert(lshMean >= 0.65 * exactMean,
      f"uniform-regime enrichment $lshMean%.3f < 0.65 × exact $exactMean%.3f")
  }
}
