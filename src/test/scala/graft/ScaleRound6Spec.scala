package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cross-query invariants for the round-6 scale operators — properties
  * the per-query DuckDB oracles cannot express: equivalence of the
  * incremental-merge path to a direct recompute, z-order pruning
  * actually pruning, greedy budget maximality, and survivorship-policy
  * consistency between the two corpus-dedup variants.
  */
class ScaleRound6Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.01"

  private def run(name: String) =
    SparkEntry.queries(name).run(spark, dir)(_.collect())

  test("z-order buckets prune the sample box query") {
    val rows = run("q_zorder")
    val hits = rows.count(_.getInt(6) == 1)
    // the box is small relative to the full (x, y) domain: z-clustering
    // must let MOST buckets prove themselves irrelevant via min/max
    assert(hits > 0, "no bucket can serve the box — stats are broken")
    assert(hits < rows.length,
      s"all ${rows.length} buckets hit: min/max ranges carry no locality")
    // bucket stats are internally consistent and cover every event
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3) && r.getLong(4) <= r.getLong(5))
    }
    val total = spark.read.parquet(s"$dir/events.parquet").count()
    assert(rows.map(_.getLong(1)).sum == total)
  }

  test("snapshot diff classifies consistently with its own timestamps") {
    val rows = run("q_snapshot_diff")
    val statuses = rows.map(_.getString(2)).toSet
    assert(statuses == Set("added", "changed", "unchanged"),
      s"expected all three statuses at sf0.01, got $statuses")
    rows.foreach { r =>
      r.getString(2) match {
        case "added" => assert(r.isNullAt(3), s"added row has old state: $r")
        case "changed" =>
          assert(r.getLong(3) != r.getLong(5), s"changed row identical: $r")
        case "unchanged" =>
          assert(r.getLong(3) == r.getLong(5) &&
            r.getString(4) == r.getString(6), s"unchanged row differs: $r")
      }
    }
  }

  test("skew report matches an independent group-count") {
    val rows = run("q_skew_report")
    assert(rows.length == 10)
    val counts = rows.map(_.getLong(2))
    assert(counts.sameElements(counts.sorted.reverse), "top-10 not descending")
    rows.foreach { r =>
      assert(r.getDouble(3) > 0 && r.getDouble(3) <= 1.0)
      assert(r.getLong(5) >= 1L, s"salt factor < 1: $r")
    }
    val events = spark.read.parquet(s"$dir/events.parquet")
    val top1 = events.groupBy("user_id").count()
      .orderBy(org.apache.spark.sql.functions.col("count").desc,
        org.apache.spark.sql.functions.col("user_id"))
      .first()
    assert(rows.head.getLong(1) == top1.getLong(0) &&
      rows.head.getLong(2) == top1.getLong(1))
  }

  test("incremental aggregate merge equals the direct recompute") {
    import org.apache.spark.sql.functions._
    val merged = run("q_incr_agg_merge")
    val direct = graft.core.Tables.events(spark, dir)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
      .orderBy("event_type", "day")
      .collect()
    assert(merged.length == direct.length)
    merged.zip(direct).foreach { case (m, d) =>
      assert(m.getString(0) == d.getString(0) && m.getLong(1) == d.getLong(1))
      assert(m.getLong(2) == d.getLong(2), s"count differs at $m / $d")
      // decimal-accumulated sums are order-free: merge must be EXACT
      assert(m.getDouble(3) == d.getDouble(3), s"sum differs at $m / $d")
    }
  }

  test("token budget selection is greedy-maximal per source") {
    import org.apache.spark.sql.functions._
    val kept = run("q_token_budget")
      .groupBy(_.getString(0)).map { case (src, rs) =>
        src -> (rs.map(_.getLong(4)).max, rs.map(_.getLong(1)).max)
      }
    // recompute the full ranked token list and check the FIRST excluded
    // doc per source would blow the budget (cut exactly at the boundary)
    val ranked = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), col("doc_id"),
        size(graft.ops.Text.tokens(col("text"))).cast("long").as("n_toks"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (src, rs) =>
        src -> rs.map(r => (r.getLong(2), r.getLong(1)))
          .sortBy { case (n, id) => (-n, id) }
      }
    kept.foreach { case (src, (cum, maxRank)) =>
      assert(cum <= 600L, s"$src over budget: $cum")
      val next = ranked(src).drop(maxRank.toInt)
      if (next.nonEmpty)
        assert(cum + next.head._1 > 600L,
          s"$src stopped early: $cum + ${next.head._1} fits in 600")
    }
    assert(kept.nonEmpty)
  }

  test("bucketed join plan has zero exchanges in the join subplan") {
    val (joined, drop) = graft.catalog.Scale.bucketedJoinParts(spark, dir)
    try {
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ, plan:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles — bucket pruning lost:\n$plan")
      // and it computes the same rows as the shuffled salted join
      assert(joined.count() ==
        SparkEntry.queries("q_salted_join").run(spark, dir)(_.count()))
    } finally drop()
  }

  test("incremental stream marks exactly the delta keys as updated") {
    val rows = run("q_stream_incremental")
    val updated = rows.filter(_.getInt(4) == 1)
    assert(updated.nonEmpty, "delta run updated nothing — second pass didn't run")
    assert(updated.length < rows.length,
      "every key rewritten — delta isolation proves nothing")
    // the delta begins at the 2/3 timestamp: every key whose last event
    // is in the final third must be marked, and day indices past the
    // split day must ALL be marked
    val splitDay = {
      val ev = graft.core.Tables.events(spark, dir)
      val r = ev.agg(org.apache.spark.sql.functions.expr(
        "(min(unix_micros(ts)) + 2 * max(unix_micros(ts))) div 3 div 86400000000"))
        .first().getLong(0)
      r
    }
    rows.foreach { r =>
      if (r.getLong(1) > splitDay)
        assert(r.getInt(4) == 1, s"post-split day not marked updated: $r")
      if (r.getLong(1) < splitDay)
        assert(r.getInt(4) == 0, s"pre-split day marked updated: $r")
    }
  }

  test("dq report discriminates: soft cap fails, hard constraints pass") {
    val rows = run("q_dq_checks")
    val byName = rows.map(r => r.getString(0) -> (r.getDouble(1), r.getInt(2))).toMap
    assert(byName.size == 7)
    // the clean synthetic table must pass every hard constraint
    Seq("completeness_event_id", "uniqueness_event_id", "completeness_value",
      "value_nonnegative", "event_type_in_set", "volume_min_rows")
      .foreach(c => assert(byName(c)._2 == 1, s"$c unexpectedly failed"))
    // and the deliberately-tight soft cap must FAIL — a report that can
    // only say "pass" verifies nothing
    assert(byName("value_within_soft_cap")._2 == 0)
    assert(byName("value_within_soft_cap")._1 < 0.99)
  }

  test("substring scrub flags exactly the docs the span report flags") {
    val scrub = run("q_substring_scrub")
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val spans = run("q_dup_ngram_spans")
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(scrub.keySet == spans.keySet)
    scrub.foreach { case (doc, (nToks, nRemoved, retention)) =>
      assert(nRemoved >= 0 && nRemoved <= nToks, s"doc $doc removal out of range")
      assert(math.abs(retention - (nToks - nRemoved).toDouble / nToks) < 1e-12)
      // a doc loses tokens iff it has at least one cross-doc duplicated span
      assert((nRemoved > 0) == (spans(doc) > 0),
        s"doc $doc: scrub=$nRemoved dupSpans=${spans(doc)} disagree")
      // each duplicated 8-gram covers at most 8 tokens: removal is
      // bounded by 8 x span count (equality when spans don't overlap)
      assert(nRemoved <= 8 * spans(doc), s"doc $doc removes more than spans cover")
    }
    assert(scrub.values.exists(_._2 > 0), "no doc scrubbed at sf0.01 — vacuous")
  }

  test("partition backfill rewrites exactly one day and loses none") {
    import org.apache.spark.sql.functions._
    val rows = run("q_partition_backfill")
    val days = rows.map(_.getLong(0)).distinct
    val marked = rows.filter(_.getInt(4) == 1).map(_.getLong(0)).distinct
    assert(marked.length == 1, s"expected one backfilled day, got ${marked.toSeq}")
    val expectedDays = graft.core.Tables.events(spark, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct().count()
    // dynamic overwrite must keep every non-backfilled day's partition
    assert(days.length.toLong == expectedDays,
      s"days lost by overwrite: ${days.length} of $expectedDays survive")
  }

  test("best-of-cluster survivorship keeps as many docs as min-id, never shorter ones") {
    val best = run("q_corpus_dedup_best")
    val minId = run("q_corpus_dedup")
    assert(best.length == minId.length,
      "survivorship policy changed the kept-doc COUNT — clustering differs")
    // same label space (ccLabels min-id labels), so clusters align 1:1;
    // the best-policy survivor can never have fewer chars than the
    // min-id survivor of the same cluster
    val minById = minId.map(r => r.getLong(3) -> r.getLong(2)).toMap
    best.foreach { r =>
      val (cluster, chars, size) = (r.getLong(3), r.getLong(2), r.getLong(4))
      assert(chars >= minById(cluster),
        s"cluster $cluster: best survivor shorter than min-id survivor")
      if (size > 1L) assert(minById.contains(cluster))
    }
    assert(best.exists(_.getLong(4) > 1L), "no dup cluster at sf0.01 — vacuous")
  }
}
