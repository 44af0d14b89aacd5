package graft.catalog

import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}

/** Sketch-based approximate aggregates — HyperLogLog distinct counts and
  * count-min-sketch heavy hitters. Sketch internals are engine-specific,
  * so these are rows-only checks (no DuckDB oracle); correctness is
  * bounded-error by construction and pinned by `SketchSpec` against the
  * exact answers.
  *
  * Scale rationale: at 100 TB an exact COUNT(DISTINCT) shuffles every
  * distinct key; the HLL sketch is a few KB per group, merged map-side.
  */
object Sketches {

  // rsd 0.01 needs a 2^~14-register HLL per group per column — the
  // high-precision form a final report would run. It is deliberately
  // auditOnly: the default bench runs the rsd 0.05 twin below (the
  // monitoring-grade precision a recurring 100 TB job would pick —
  // ~16x smaller registers for 5x the error), and Verify still
  // oracle-gates both plus the hash-green `_bound` twin.
  val approxDistinct: QueryDef = QueryDef.rowsOnly("q_approx_distinct") { (s, dir) =>
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
        approx_count_distinct(col("event_id"), 0.01).as("approx_events"))
      .orderBy("event_type")
  }.audit

  /** The benched twin of [[approxDistinct]]: rsd 0.05 (Spark's default
    * HLL precision), same shape. Accuracy pinned at 15% (3σ) by
    * `ScaleTechniquesSpec`.
    */
  val approxDistinctRsd5: QueryDef =
    QueryDef.rowsOnly("q_approx_distinct_rsd5") { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          approx_count_distinct(col("user_id"), 0.05).as("approx_users"),
          approx_count_distinct(col("event_id"), 0.05).as("approx_events"))
        .orderBy("event_type")
    }

  val heavyHitters: QueryDef = QueryDef.rowsOnly("q_heavy_hitters") { (s, dir) =>
    // count-min sketch over user ids; surface the estimated counts of
    // the true top users (estimates upper-bound the exact counts)
    val cms = Tables.events(s, dir)
      .select(count_min_sketch(col("user_id"), lit(0.001), lit(0.99), lit(42)).as("sketch"))
    val top = Tables.events(s, dir)
      .groupBy("user_id").agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("user_id")).limit(5)
    graft.functions.Registry.once(s, "graft_cms_estimate")(
      exprs => graft.functions.CountMinEstimate(exprs(0), exprs(1)))
    top.crossJoin(cms)
      .select(col("user_id"), col("exact_n"),
        call_function("graft_cms_estimate", col("sketch"), col("user_id"))
          .as("estimated_n"))
      .orderBy("user_id")
  }

  // t-digest-style approximate quantiles: percentile_approx with
  // accuracy 10000 — per group the sketch is O(accuracy) however many
  // rows stream through it, merged map-side like HLL. Rows-only (the
  // digest layout is engine-specific); `ScaleTechniquesSpec` pins the
  // estimates against exact nearest-rank percentiles.
  val approxQuantiles: QueryDef = QueryDef.rowsOnly("q_approx_quantiles") { (s, dir) =>
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50"),
        percentile_approx(col("value"), lit(0.9), lit(10000)).as("p90"),
        percentile_approx(col("value"), lit(0.99), lit(10000)).as("p99"))
      .orderBy("event_type")
  }

  // Full distributed k-means (3 Lloyd rounds over ops.KMeans.fit):
  // cluster cardinalities + within-cluster sum of squares, hash-matched
  // against a fully UNROLLED 3-round DuckDB oracle (the q_pagerank
  // trick): every Lloyd round is deterministic — broadcast max-cosine
  // assignment with a min-cid tie-break, then a vec_id-ordered IEEE
  // mean fold (ops.KMeans.foldMeans ≡ the oracle's
  // `list_reduce(list(x ORDER BY vec_id))`) — so three rounds compose
  // bit-for-bit. The WCSS itself is an id-ordered sequential fold on
  // both engines (a plain SUM of doubles would be shuffle-order-
  // dependent). `KMeansSpec` additionally pins the Lloyd invariant
  // (objective non-decreasing round over round).
  /** WITH-clause prefix shared with `q_semantic_dedup`: the full
    * unrolled 3-round Lloyd fit, ending at `nbf(vec_id, v, nrm, cid)` —
    * every vector with its final cluster assignment. Both oracles build
    * on the same trained clustering, so a change to the fit (seeding,
    * tie-break, fold order) must reach both or neither. k is the
    * ADAPTIVE count (ops.KMeans.adaptiveK — n/256 clamped to [8, 4096],
    * expressed here as an expression LIMIT over the seed scan): the
    * floor keeps every sf≤0.1 hash bit-unchanged, the growth keeps
    * SemDeDup's within-cluster pair cost linear (see adaptiveK's
    * scaladoc for the sf10 measurement that forced this).
    */
  private[catalog] val kmeansAssignCte: String = {
    def round(i: Int, prev: String): String =
      s"""asg$i AS (
         |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY list_dot_product(v, cv) / (nrm * cnrm) DESC, cid) AS rn
         |  FROM n CROSS JOIN $prev),
         |nb$i AS (SELECT n.vec_id, v, nrm, cid FROM n
         |  JOIN (SELECT vec_id, cid FROM asg$i WHERE rn = 1) b$i USING (vec_id)),
         |dim$i AS (SELECT cid, vec_id, d, v[d] AS x
         |  FROM nb$i CROSS JOIN (SELECT UNNEST(range(1, 65)) AS d) dd$i),
         |m$i AS (SELECT cid, d,
         |    list_reduce(list_prepend(0.0, list(x ORDER BY vec_id)),
         |      (a, b) -> a + b) / COUNT(*) AS mx
         |  FROM dim$i GROUP BY cid, d),
         |u$i AS (SELECT cid, list(mx ORDER BY d) AS cv FROM m$i GROUP BY cid),
         |c$i AS (SELECT p.cid, COALESCE(u$i.cv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN u$i ON p.cid = u$i.cid),
         |cn$i AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cnrm
         |  FROM c$i)""".stripMargin
    s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |      CAST(embedding AS DOUBLE[]))) AS nrm FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n
       |  ORDER BY vec_id
       |  LIMIT (SELECT GREATEST(8, LEAST(4096, COUNT(*)//256)) FROM n)),
       |${round(1, "c0")},
       |${round(2, "cn1")},
       |${round(3, "cn2")},
       |asgf AS (
       |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY list_dot_product(v, cv) / (nrm * cnrm) DESC, cid) AS rn
       |  FROM n CROSS JOIN cn3),
       |nbf AS (SELECT n.vec_id, v, nrm, cid FROM n
       |  JOIN (SELECT vec_id, cid FROM asgf WHERE rn = 1) bf USING (vec_id))""".stripMargin
  }

  private val kmeansOracle: String =
    s"""$kmeansAssignCte,
       |sq AS (SELECT f.cid, f.vec_id AS id,
       |    list_reduce(list_prepend(0.0,
       |      list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))),
       |      (a, b) -> a + b) AS sq
       |  FROM nbf f JOIN cn3 USING (cid))
       |SELECT cid, COUNT(*) AS n_members,
       |  list_reduce(list_prepend(0.0, list(sq ORDER BY id)),
       |    (a, b) -> a + b) AS wcss
       |FROM sq GROUP BY cid ORDER BY cid""".stripMargin

  val kmeansFit: QueryDef = QueryDef.pinned("q_kmeans_fit")(kmeansOracle) { (s, dir, pins) =>
    graft.ops.Vectors.register(s)
    val vecs = Tables.embeddings(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), graft.ops.Vectors.toDouble(col("embedding")).as("v"))
    val (asg, cents) = graft.ops.KMeans.fit(vecs, "vec_id", "v",
      k = graft.ops.KMeans.adaptiveK(vecs.count()), rounds = 3, pins)
    asg.join(vecs, asg("id") === vecs("vec_id"))
      .join(cents, "cid")
      .select(col("cid"), col("id"),
        aggregate(zip_with(col("v"), col("cv"), (x, c) => (x - c) * (x - c)),
          lit(0.0), (a, x) => a + x).as("sq"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_members"),
        // id-ordered sequential fold — bit-identical across partitionings
        // and to the oracle's list_reduce(list(sq ORDER BY id))
        aggregate(
          transform(sort_array(collect_list(struct(col("id"), col("sq")))),
            p => p.getField("sq")),
          lit(0.0), (a, x) => a + x).as("wcss"))
      .orderBy("cid")
  }

  // -------------------------------------------------------------------
  // Accuracy-contract twins: the sketch VALUES are engine-specific (so
  // q_approx_distinct / q_heavy_hitters / q_approx_quantiles stay
  // rows-only), but the sketch ERROR against the exact answer computed
  // in the same query is deterministic — so the error CONTRACT is
  // hash-oracle-able. Each twin outputs the exact statistic plus
  // booleans asserting the sketch landed inside its documented bound;
  // the DuckDB oracle supplies the exact values and TRUE for every
  // bound. A sketch regression (wrong rsd wiring, seed drift, broken
  // merge) flips a boolean and fails the hash gate — turning the former
  // weakest checks into full oracle checks.

  val approxDistinctBound: QueryDef = QueryDef.sql("q_approx_distinct_bound")(
    """SELECT event_type,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
      |  TRUE AS within_5pct
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(count_distinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.01).as("__est"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("__est") - col("exact_users")) <=
          greatest(lit(1.0), col("exact_users") * 0.05)).as("within_5pct"))
      .orderBy("event_type")
  }

  val heavyHittersBound: QueryDef = QueryDef.sql("q_heavy_hitters_bound")(
    """WITH top AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
      |  FROM events GROUP BY user_id
      |  ORDER BY COUNT(*) DESC, user_id LIMIT 5)
      |SELECT user_id, exact_n,
      |  TRUE AS is_upper_bound, TRUE AS within_eps
      |FROM top ORDER BY user_id""".stripMargin) { (s, dir) =>
    val events = Tables.events(s, dir)
    val cms = events
      .select(count_min_sketch(col("user_id"), lit(0.001), lit(0.99), lit(42)).as("sketch"),
        count(lit(1)).as("total_n"))
    val top = events
      .groupBy("user_id").agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("user_id")).limit(5)
    graft.functions.Registry.once(s, "graft_cms_estimate")(
      exprs => graft.functions.CountMinEstimate(exprs(0), exprs(1)))
    top.crossJoin(cms)
      .select(col("user_id"), col("exact_n"),
        call_function("graft_cms_estimate", col("sketch"), col("user_id")).as("__est"),
        col("total_n"))
      // CMS guarantees: never under-counts; over-counts by <= eps·N
      .select(col("user_id"), col("exact_n"),
        (col("__est") >= col("exact_n")).as("is_upper_bound"),
        (col("__est") - col("exact_n") <= col("total_n") * 0.001).as("within_eps"))
      .orderBy("user_id")
  }

  val approxQuantilesBound: QueryDef = QueryDef.sql("q_approx_quantiles_bound")(
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  TRUE AS p50_ok, TRUE AS p90_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("__a50"),
        percentile_approx(col("value"), lit(0.9), lit(10000)).as("__a90"),
        expr("percentile(value, 0.5)").as("__e50"),
        expr("percentile(value, 0.9)").as("__e90"),
        (max(col("value")) - min(col("value"))).as("__range"))
      // same 2%-of-range tolerance GraphEntropySpec pins
      .select(col("event_type"), col("n"),
        (abs(col("__a50") - col("__e50")) <= col("__range") * 0.02).as("p50_ok"),
        (abs(col("__a90") - col("__e90")) <= col("__range") * 0.02).as("p90_ok"))
      .orderBy("event_type")
  }

  // Sketch MERGEABILITY — the property that makes sketches the 100 TB
  // rollup strategy: per-(type, day) HLL sketches union into a
  // per-type monthly sketch WITHOUT revisiting the raw rows (a nightly
  // job keeps day sketches; month/quarter/all-time distincts are
  // sketch unions, never rescans). The estimate from the unioned
  // day-sketches must match the exact month-level distinct within the
  // configured error — pinned per group under the hash oracle, same
  // discipline as the other `_bound` twins. lgConfigK=14 ⇒ rse ≈
  // 1.04/√2^14 ≈ 0.8%; the 5% gate leaves 6σ headroom.
  val hllMergeRollup: QueryDef = QueryDef.sql("q_hll_merge_rollup")(
    """SELECT event_type,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
      |  CAST(COUNT(DISTINCT epoch_us(ts) // 86400000000) AS BIGINT) AS n_days,
      |  TRUE AS merged_within_5pct
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(14)).as("day_sketch"))
    daily
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("day_sketch"), lit(false)))
          .as("__merged_est"),
        count(lit(1)).as("n_days"))
      .join(Tables.events(s, dir).groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("exact_users")), Seq("event_type"))
      .select(col("event_type"), col("exact_users"), col("n_days"),
        (abs(col("__merged_est") - col("exact_users")) <=
          greatest(lit(1.0), col("exact_users") * 0.05))
          .as("merged_within_5pct"))
      .orderBy("event_type")
  }

  // The quantile twin of q_hll_merge_rollup: per-(type, day) GK
  // sketches (functions.QuantileSketch over Spark's own
  // QuantileSummaries, serialized to a binary column — the stored
  // nightly artifact) union into per-type monthly quantiles WITHOUT
  // revisiting raw rows. Verified the strong way: the merged p50/p90
  // estimates' EXACT ranks (recomputed from the raw data, tie-safe via
  // strict/inclusive rank brackets) must sit within 3× the sketch's
  // ε=0.01 rank guarantee — booleans under the hash oracle, the
  // `_bound` discipline.
  val quantileMergeRollup: QueryDef = QueryDef.sql("q_quantile_merge_rollup")(
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(DISTINCT epoch_us(ts) // 86400000000) AS BIGINT) AS n_days,
      |  TRUE AS p50_ok, TRUE AS p90_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    import s.implicits._
    import graft.functions.{QuantileSketchBuild, QuantileSketchMerge}
    val ev = Tables.events(s, dir)
    // nightly build: one sketch row per (type, day)
    val daily = ev
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"),
        col("value"))
      .as[(String, Long, Double)]
      .groupByKey { case (t, d, _) => (t, d) }
      .agg(new QuantileSketchBuild[(String, Long, Double)](_._3).toColumn
        .name("sketch"))
      .map { case ((t, d), sk) => (t, d, sk) }
    // rollup read: union day sketches per type, query p50/p90
    val ests = daily
      .groupByKey(_._1)
      .agg(new QuantileSketchMerge[(String, Long, Array[Byte])](_._3,
        Seq(0.5, 0.9)).toColumn.name("qs"))
      .map { case (t, qs) => (t, qs.head, qs(1)) }
      .toDF("event_type", "est50", "est90")
    // exact rank brackets of the estimates, from the raw data
    ev.join(broadcast(ests), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count_distinct(expr("unix_micros(ts) div 86400000000")).as("n_days"),
        sum(when(col("value") < col("est50"), 1).otherwise(0)).as("__lo50"),
        sum(when(col("value") <= col("est50"), 1).otherwise(0)).as("__hi50"),
        sum(when(col("value") < col("est90"), 1).otherwise(0)).as("__lo90"),
        sum(when(col("value") <= col("est90"), 1).otherwise(0)).as("__hi90"))
      .select(col("event_type"), col("n"), col("n_days"),
        (col("__hi50") >= col("n") * 0.5 - col("n") * 0.03 &&
          col("__lo50") <= col("n") * 0.5 + col("n") * 0.03).as("p50_ok"),
        (col("__hi90") >= col("n") * 0.9 - col("n") * 0.03 &&
          col("__lo90") <= col("n") * 0.9 + col("n") * 0.03).as("p90_ok"))
      .orderBy("event_type")
  }

  val all: Seq[QueryDef] = Seq(approxDistinct, approxDistinctRsd5,
    heavyHitters, approxQuantiles, kmeansFit,
    approxDistinctBound, heavyHittersBound, approxQuantilesBound, hllMergeRollup,
    quantileMergeRollup)
}
