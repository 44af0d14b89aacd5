package graft.catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}
import graft.functions.TopKTokens
import graft.ops.{AsOf, Text}
import graft.streaming.{Ingest, Stateful}

/** Advanced operators beyond the reference surface: as-of join, custom
  * keyed streaming state, and a typed user-defined aggregator.
  */
object Advanced {

  // As-of join: for every purchase, the most recent at-or-before click
  // of the same user (tolerance-full generalization of the reference's
  // exact-timestamp alignment, SURVEY §2.3).
  val asofJoin: QueryDef = QueryDef.sql("q_asof_join")(
    """WITH l AS (
      |  SELECT user_id, ts, event_id, 1 AS side, CAST(NULL AS BIGINT) AS asof_v
      |  FROM events WHERE event_type = 'purchase'),
      |r AS (
      |  SELECT user_id, ts, CAST(NULL AS BIGINT) AS event_id, 0 AS side,
      |    event_id AS asof_v
      |  FROM events WHERE event_type = 'click'),
      |u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
      |c AS (
      |  SELECT *, last_value(asof_v IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY ts, side, asof_v NULLS FIRST
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id
      |  FROM u)
      |SELECT event_id, user_id, epoch_us(ts) AS ts_us, last_click_id
      |FROM c WHERE side = 1 ORDER BY event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    AsOf.joinAsOf(purchases, clicks, Seq("user_id"), "ts", "event_id", "last_click_id")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("last_click_id"))
      .orderBy("event_id")
  }

  // The same as-of join through the NATIVE custom operator
  // (graft.plans.AsOfJoinExec: LogicalPlan + Strategy + SparkPlan) —
  // identical semantics and oracle, different physical plan: one
  // streamed sort-merge pass instead of union + window.
  val asofJoinNative: QueryDef = QueryDef.sql("q_asof_join_native")(asofJoin.oracle.get) {
    (s, dir) =>
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      graft.plans.AsOfJoin
        .joinAsOf(purchases, clicks, Seq("user_id"), "ts", "event_id", "last_click_id")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("last_click_id"))
        .orderBy("event_id")
  }

  // Forward as-of: for every purchase, the EARLIEST at-or-after click —
  // "what did the user do next" (attribution windows, next-touch
  // analysis). Same one-shuffle union + window shape as q_asof_join
  // with the frame mirrored; tie rules mirror too (a click at the
  // purchase instant counts, equal-time clicks resolve to min id).
  val asofForward: QueryDef = QueryDef.sql("q_asof_forward")(
    """WITH l AS (
      |  SELECT user_id, ts, event_id, 1 AS side, CAST(NULL AS BIGINT) AS asof_v
      |  FROM events WHERE event_type = 'purchase'),
      |r AS (
      |  SELECT user_id, ts, CAST(NULL AS BIGINT) AS event_id, 0 AS side,
      |    event_id AS asof_v
      |  FROM events WHERE event_type = 'click'),
      |u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
      |c AS (
      |  SELECT *, first_value(asof_v IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY ts, side DESC, asof_v NULLS FIRST
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_click_id
      |  FROM u)
      |SELECT event_id, user_id, epoch_us(ts) AS ts_us, next_click_id
      |FROM c WHERE side = 1 ORDER BY event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    AsOf.joinAsOfForward(purchases, clicks, Seq("user_id"), "ts", "event_id",
        "next_click_id")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("next_click_id"))
      .orderBy("event_id")
  }

  // Custom keyed streaming state (flatMapGroupsWithState): running
  // per-user counts drained through a real micro-batch execution.
  val streamStatefulCount: QueryDef = QueryDef.sql("q_stream_stateful_count")(
    """SELECT user_id, COUNT(*) AS n FROM events
      |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    val counts = Stateful.runningUserCounts(Ingest.eventsStream(s, dir))
      .toDF("user_id", "n")
    Ingest.runToMemory(counts, mode = "update")
      // update mode re-emits a key's total each batch; keep the final one
      .groupBy("user_id").agg(max(col("n")).as("n"))
      .orderBy("user_id")
  }

  // Typed Aggregator (Aggregator[IN, BUF, OUT]): exact top-5 tokens per
  // language, merged map-side like any partial aggregate.
  val topkTokens: QueryDef = {
    val normSql =
      """trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))"""
    QueryDef.sql("q_topk_tokens")(
      s"""WITH base AS (SELECT lang,
         |  list_filter(string_split($normSql, ' '), t -> t != '') AS toks FROM documents),
         |tokx AS (SELECT lang, UNNEST(toks) AS token FROM base),
         |counts AS (SELECT lang, token, COUNT(*) AS cnt FROM tokx GROUP BY 1, 2),
         |ranked AS (SELECT *, ROW_NUMBER() OVER
         |  (PARTITION BY lang ORDER BY cnt DESC, token) AS rnk FROM counts)
         |SELECT lang, token, cnt, rnk FROM ranked WHERE rnk <= 5
         |ORDER BY lang, rnk""".stripMargin) { (s, dir) =>
      import s.implicits._
      val toks = Tables.documents(s, dir)
        .select(col("lang"), explode(Text.tokens(col("text"))).as("token"))
        .as[(String, String)]
      toks.groupByKey(_._1)
        .agg(new TopKTokens[(String, String)](5, _._2).toColumn.name("topk"))
        .toDF("lang", "topk")
        .select(col("lang"), posexplode(col("topk")).as(Seq("pos", "tc")))
        .select(col("lang"), col("tc.token").as("token"), col("tc.cnt").as("cnt"),
          (col("pos") + 1).as("rnk"))
        .orderBy("lang", "rnk")
    }
  }

  // Band (range) join — an operator Spark has no native physical plan
  // for: error events in the same hour whose values differ by <= 0.5.
  // The naive theta-join is a per-hour cross product; the scale path
  // implemented here buckets values at the band width and equi-joins on
  // (hour, bucket) with the left side EXPLODED to its own and adjacent
  // buckets, so every qualifying pair is found by an equi-join
  // (candidates within one bucket of each other ⊇ all |Δ| <= width
  // pairs) and verified exactly. Shuffle key cardinality = hours ×
  // buckets — no cross product ever materializes.
  val rangeJoinBucketed: QueryDef = QueryDef.sql("q_range_join_bucketed")(
    """WITH e AS (
      |  SELECT event_id, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h, value,
      |    CAST(FLOOR(value / 0.5) AS BIGINT) AS bkt
      |  FROM events WHERE event_type = 'error'),
      |cand AS (
      |  SELECT DISTINCT a.event_id AS id_a, b.event_id AS id_b,
      |    a.value AS v_a, b.value AS v_b
      |  FROM (SELECT e.*, UNNEST([bkt - 1, bkt, bkt + 1]) AS probe FROM e) a
      |  JOIN e b ON a.h = b.h AND a.probe = b.bkt AND a.event_id < b.event_id)
      |SELECT id_a, id_b, v_a, v_b FROM cand
      |WHERE abs(v_a - v_b) <= 0.5
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    val e = graft.core.Tables.events(s, dir)
      .filter(col("event_type") === "error")
      .select(col("event_id"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("h"),
        col("value"),
        floor(col("value") / 0.5).as("bkt"))
    val probes = e.select(col("event_id"), col("h"), col("value"),
      explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("probe"))
    val b = e.select(col("event_id").as("id_b"), col("h").as("h_b"),
      col("value").as("v_b"), col("bkt").as("bkt_b"))
    probes.join(b,
        col("h") === col("h_b") && col("probe") === col("bkt_b") &&
          col("event_id") < col("id_b"))
      .select(col("event_id").as("id_a"), col("id_b"),
        col("value").as("v_a"), col("v_b"))
      .distinct()
      .filter(abs(col("v_a") - col("v_b")) <= 0.5)
      .orderBy("id_a", "id_b")
  }

  // As-of join WITH TOLERANCE (the common market-data variant: a stale
  // reference value is worse than none): the carried payload is a
  // (click_id, click_ts) struct through the SAME composed operator —
  // no operator change needed — and matches older than 1 hour null out
  // in a final projection. The oracle carries id and ts as two
  // last_value IGNORE NULLS columns over one frame; their null patterns
  // coincide row-wise, so both come from the same matched right row.
  val asofTolerance: QueryDef = QueryDef.sql("q_asof_tolerance")(
    """WITH l AS (
      |  SELECT user_id, ts, event_id, 1 AS side,
      |    CAST(NULL AS BIGINT) AS asof_v, CAST(NULL AS BIGINT) AS asof_ts
      |  FROM events WHERE event_type = 'purchase'),
      |r AS (
      |  SELECT user_id, ts, CAST(NULL AS BIGINT) AS event_id, 0 AS side,
      |    event_id AS asof_v, epoch_us(ts) AS asof_ts
      |  FROM events WHERE event_type = 'click'),
      |u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
      |c AS (
      |  SELECT *,
      |    last_value(asof_v IGNORE NULLS) OVER w AS last_click_id,
      |    last_value(asof_ts IGNORE NULLS) OVER w AS last_click_ts
      |  FROM u
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, asof_v NULLS FIRST
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      |  CASE WHEN last_click_id IS NOT NULL
      |        AND epoch_us(ts) - last_click_ts <= 3600000000
      |       THEN last_click_id END AS click_id_1h
      |FROM c WHERE side = 1 ORDER BY event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        struct(col("event_id").as("cid"), unix_micros(col("ts")).as("cts_us"))
          .as("click"))
    AsOf.joinAsOf(purchases, clicks, Seq("user_id"), "ts", "click", "asof_click")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        when(col("asof_click").isNotNull &&
          unix_micros(col("ts")) - col("asof_click.cts_us") <= 3600000000L,
          col("asof_click.cid")).as("click_id_1h"))
      .orderBy("event_id")
  }

  // Trajectory similarity (the retrieved ICDE 2021 REPOSE theme —
  // distributed top-k trajectory similarity): each user's event-type
  // SEQUENCE becomes a trigram frequency vector (order-aware, unlike a
  // bag of types), and the top-20 most behaviorally similar user pairs
  // rank by cosine. The pairwise dot products come from an
  // inverted-index self-join on the trigram (shuffle carries
  // (user, trigram, count) then (pair)). AUDIT-ONLY: per-trigram cost
  // is df², and the tiny trigram vocabulary concentrates huge heavy
  // hitters, so this form is the oracle-gated exact baseline while
  // q_trajectory_sim_blocked (same oracle, block-pair equi-join) is
  // the plan the bench measures. Counts are exact integers, so
  // dot/norms are bit-identical doubles; cosine rounds before the rank.
  val trajectorySim: QueryDef = QueryDef.pinned("q_trajectory_sim")(
    """WITH tr AS (
      |  SELECT user_id,
      |    event_type || ' ' || lead(event_type, 1) OVER w
      |      || ' ' || lead(event_type, 2) OVER w AS g,
      |    lead(event_type, 2) OVER w AS t3
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |tc AS (SELECT user_id, g, COUNT(*) AS c FROM tr WHERE t3 IS NOT NULL GROUP BY 1, 2),
      |nrm AS (SELECT user_id, CAST(SUM(c*c) AS BIGINT) AS ss FROM tc GROUP BY 1),
      |dots AS (SELECT a.user_id AS ua, b.user_id AS ub,
      |           CAST(SUM(a.c * b.c) AS BIGINT) AS dot
      |         FROM tc a JOIN tc b ON a.g = b.g AND a.user_id < b.user_id
      |         GROUP BY 1, 2)
      |SELECT ua, ub,
      |  ROUND(CAST(dot AS DOUBLE) /
      |    (sqrt(CAST(na.ss AS DOUBLE)) * sqrt(CAST(nb.ss AS DOUBLE))), 6) AS cosine
      |FROM dots JOIN nrm na ON na.user_id = ua JOIN nrm nb ON nb.user_id = ub
      |ORDER BY cosine DESC, ua, ub LIMIT 20""".stripMargin) { (s, dir, pins) =>
    import org.apache.spark.sql.expressions.Window
    val wu = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val tri = pins.persist(Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("t2", lead(col("event_type"), 1).over(wu))
      .withColumn("t3", lead(col("event_type"), 2).over(wu))
      .filter(col("t3").isNotNull)
      .select(col("user_id"),
        concat_ws(" ", col("event_type"), col("t2"), col("t3")).as("g"))
      .groupBy("user_id", "g").agg(count(lit(1)).as("c")))
    val nrm = tri.groupBy("user_id").agg(sum(col("c") * col("c")).as("ss"))
    val dots = tri.as("a")
      .join(tri.as("b"),
        col("a.g") === col("b.g") && col("a.user_id") < col("b.user_id"))
      .select(col("a.user_id").as("ua"), col("b.user_id").as("ub"),
        (col("a.c") * col("b.c")).as("p"))
      .groupBy("ua", "ub").agg(sum("p").as("dot"))
    dots
      .join(nrm.select(col("user_id").as("ua"), col("ss").as("sa")), "ua")
      .join(nrm.select(col("user_id").as("ub"), col("ss").as("sb")), "ub")
      .select(col("ua"), col("ub"),
        round(col("dot").cast("double") /
          (sqrt(col("sa").cast("double")) * sqrt(col("sb").cast("double"))), 6)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("ua"), col("ub")).limit(20)
  }

  // The 100 TB path for q_trajectory_sim — SAME oracle (two algorithms,
  // one oracle, like the CC dedup pair), different plan. The inverted-
  // index self-join above is hot-key quadratic: event-type trigrams
  // have a tiny vocabulary, so per-trigram cost is df² on heavy
  // hitters. Here each user's trajectory becomes a DENSE vector over
  // that same tiny vocabulary (dimension bounded by |event types|³ —
  // a data-model constant, not a corpus-scale variable), the vocabulary
  // index is a broadcast, and the all-pairs cosine runs as the
  // q_embed_neardup BLOCKED equi-join: every unordered block pair is a
  // join key, the shuffle is on (g1, g2), each reducer compares two
  // bounded blocks, and no trigram ever concentrates a df² pair list on
  // one key. Dot products and norms are exact integer folds (zip_with
  // products summed as BIGINT — order-insensitive), so the cosine is
  // bit-identical to the oracle's SUM(a.c*b.c) form. Past the exact
  // requirement, the sub-quadratic fallback is the SimHash/LSH
  // signature machinery (q_embed_neardup_lsh) over these same vectors.
  val trajectorySimBlocked: QueryDef =
    QueryDef.pinned("q_trajectory_sim_blocked")(trajectorySim.oracle.get) { (s, dir, pins) =>
      import org.apache.spark.sql.expressions.Window
      graft.ops.Vectors.register(s)
      val wu = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      // feeds vocab AND vectors — one event-grain pass
      val tc = pins.persist(Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("t2", lead(col("event_type"), 1).over(wu))
        .withColumn("t3", lead(col("event_type"), 2).over(wu))
        .filter(col("t3").isNotNull)
        .select(col("user_id"),
          concat_ws(" ", col("event_type"), col("t2"), col("t3")).as("g"))
        .groupBy("user_id", "g").agg(count(lit(1)).as("c")))
      // dense index over the bounded trigram vocabulary; the window is
      // over the tiny distinct-trigram relation, never event-grain data
      val vocab = tc.select("g").distinct()
        .withColumn("gid", row_number().over(Window.orderBy("g")))
      val d = vocab.groupBy().agg(max(col("gid")).as("d"))
      // dense DOUBLE vectors: counts are small integers, so every
      // product and partial sum is ≪ 2^53 and exactly representable —
      // the codegen'd graft_dot then folds dims in index order, landing
      // on the same integer the oracle's BIGINT SUM(a.c*b.c) computes
      // (the interpreted zip_with/aggregate HOF pair allocates a fresh
      // array per pair; on the ~n²/2 pair stream that allocation WAS
      // the query's cost at sf0.1)
      val vecs = tc.join(broadcast(vocab), "g")
        .groupBy("user_id")
        .agg(map_from_entries(collect_list(struct(col("gid"), col("c")))).as("m"),
          sum(col("c") * col("c")).as("ss"))
        .crossJoin(broadcast(d))
        .select(col("user_id"), col("ss"),
          expr("transform(sequence(1, d), i -> CAST(coalesce(element_at(m, i), CAST(0 AS BIGINT)) AS DOUBLE))")
            .as("v"))
      val G = 8
      val n = vecs.withColumn("g", pmod(col("user_id"), lit(G)).cast("int"))
      val a = n
        .withColumn("g2", explode(sequence(col("g"), lit(G - 1))))
        .select(col("g").as("g1"), col("g2"),
          col("user_id").as("ida"), col("v").as("va"), col("ss").as("sa"))
      val b = n
        .withColumn("g1", explode(sequence(lit(0), col("g"))))
        .select(col("g1"), col("g").as("g2"),
          col("user_id").as("idb"), col("v").as("vb"), col("ss").as("sb"))
      a.join(b, Seq("g1", "g2"))
        .filter(col("g1") < col("g2") || col("ida") < col("idb"))
        .select(
          least(col("ida"), col("idb")).as("ua"),
          greatest(col("ida"), col("idb")).as("ub"),
          // integer-valued dot (exact in double): operand order cannot matter
          graft.ops.Vectors.dot(col("va"), col("vb")).as("dot"),
          col("sa"), col("sb"))
        .select(col("ua"), col("ub"),
          round(col("dot").cast("double") /
            (sqrt(col("sa").cast("double")) * sqrt(col("sb").cast("double"))), 6)
            .as("cosine"))
        .orderBy(col("cosine").desc, col("ua"), col("ub")).limit(20)
    }

  // The SUB-QUADRATIC path for trajectory similarity — the blocked
  // exact form above still enumerates all n²/2 pairs (78×/decade at
  // sf10 by contract), so past the exact requirement the bench
  // measures THIS, a two-stage production shape:
  //
  //  1. BEHAVIOR DEDUP FIRST. Identical event streams produce
  //     identical trigram vectors, and duplicate behavior dominates a
  //     replicated/real corpus (the 100× testdata holds 150k users but
  //     only 1.5k DISTINCT vectors — cliques of ~1000, i.e. ~7.5e8
  //     user-level pairs that all score cosine 1.0). Users group by an
  //     md5 digest of their sorted (trigram, count) list; every
  //     similarity decision then runs at REPRESENTATIVE grain, whose
  //     cardinality is the corpus's distinct-behavior count, not its
  //     row count. (The r15 first cut hashed every USER and its
  //     candidate set grew with the clique pairs — 28×/decade;
  //     dedup-first is what makes the curve flat.)
  //  2. Mean-centered sign-LSH over the representatives, T=4 tables ×
  //     B=16 bits. Centering is what makes behavior vectors hashable:
  //     raw trigram counts of ANY two users point in nearly the same
  //     direction (multinomials around the corpus mix), so uncentered
  //     signs would co-bucket everyone; subtracting the rep-mean
  //     spreads the 65k buckets. EVERYTHING is integer — plane values
  //     are an LCG of (bit, gid) in [−1000, 1000], the centered
  //     projection test N·S_uj − M_j > 0 multiplies through by the rep
  //     count so no division/double enters the signature, dots/norms
  //     are BIGINT folds — so the oracle mirrors the buckets
  //     bit-identically (the q_embed_neardup_lsh contract: recall
  //     bounded by the signature, determinism hash-gated;
  //     AdvancedOpsSpec pins top-20 overlap vs the exact form in a
  //     clustered regime and enrichment in the uniform one).
  //
  // The user-level top-20 then reassembles EXACTLY from rep-level
  // results: within a duplicate group every pair scores the same
  // round(ss/(√ss·√ss), 6), and the global order is (cosine DESC,
  // ua, ub) — so a group can only ever contribute pairs among its 21
  // SMALLEST member ids (any pair touching the 22nd-smallest id has
  // ≥21 lexicographically smaller same-cosine pairs, a pigeonhole on
  // the top-20 cut; same argument per side for cross-group pairs). The
  // expansion is therefore ≤ C(21,2) rows per group and ≤ 21×21 per
  // verified rep pair — bounded, never clique-quadratic. Scale shape:
  // one event-grain window pass → sparse (user, g, c); one digest agg
  // → groups; everything heavier runs at rep grain (candidates ∝
  // reps²/2¹⁶ — the honest LSH bound, in the corpus's
  // distinct-behavior count).
  val trajectorySimLsh: QueryDef = {
    val Tt = 4; val B = 16
    def pSql(j: Int): String =
      s"(((1103515245 * (${j.toLong * 1000003L} + gid) + 12345) % 2147483648) % 2001 - 1000)"
    val suSums = (0 until Tt * B)
      .map(j => s"CAST(SUM(c * ${pSql(j)}) AS BIGINT) AS s_$j").mkString(",\n  ")
    val mmSums = (0 until Tt * B)
      .map(j => s"CAST(SUM(c * ${pSql(j)}) AS BIGINT) AS m_$j").mkString(",\n  ")
    val bCols = (0 until Tt).map { t =>
      (0 until B).map { j =>
        s"(CASE WHEN nu * s_${t * B + j} - m_${t * B + j} > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ") + s" AS b_$t"
    }.mkString(",\n  ")
    val exUnion = (0 until Tt)
      .map(t => s"SELECT user_id, $t AS tbl, b_$t AS bucket FROM sig")
      .mkString("\n  UNION ALL\n  ")
    QueryDef.pinned("q_trajectory_sim_lsh")(
      s"""WITH tr AS (
         |  SELECT user_id,
         |    event_type || ' ' || lead(event_type, 1) OVER w
         |      || ' ' || lead(event_type, 2) OVER w AS g,
         |    lead(event_type, 2) OVER w AS t3
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |tc AS MATERIALIZED (SELECT user_id, g, COUNT(*) AS c FROM tr WHERE t3 IS NOT NULL GROUP BY 1, 2),
         |dig AS MATERIALIZED (SELECT user_id,
         |          md5(string_agg(g || ':' || c, '|' ORDER BY g)) AS d
         |        FROM tc GROUP BY user_id),
         |grp AS MATERIALIZED (SELECT d, MIN(user_id) AS rep, COUNT(*) AS sz FROM dig GROUP BY d),
         |m21 AS MATERIALIZED (SELECT d, user_id FROM (
         |  SELECT d, user_id, ROW_NUMBER() OVER (PARTITION BY d ORDER BY user_id) AS rn
         |  FROM dig) WHERE rn <= 21),
         |rtc AS MATERIALIZED (SELECT tc.user_id, g, c FROM tc JOIN grp ON tc.user_id = grp.rep),
         |vocab AS (SELECT g, ROW_NUMBER() OVER (ORDER BY g) AS gid
         |          FROM (SELECT DISTINCT g FROM rtc)),
         |tcg AS MATERIALIZED (SELECT user_id, c, gid FROM rtc JOIN vocab USING (g)),
         |su AS (SELECT user_id,
         |  $suSums
         |  FROM tcg GROUP BY 1),
         |mm AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu,
         |  $mmSums
         |  FROM tcg),
         |sig AS MATERIALIZED (SELECT user_id,
         |  $bCols
         |  FROM su CROSS JOIN mm),
         |ex AS MATERIALIZED (
         |  $exUnion),
         |cand AS (SELECT DISTINCT a.user_id AS ra, b.user_id AS rb
         |  FROM ex a JOIN ex b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.user_id < b.user_id),
         |nrm AS MATERIALIZED (SELECT user_id, CAST(SUM(c*c) AS BIGINT) AS ss FROM rtc GROUP BY 1),
         |dots AS (SELECT cand.ra, cand.rb, CAST(SUM(ta.c * tb.c) AS BIGINT) AS dot
         |  FROM cand JOIN rtc ta ON ta.user_id = cand.ra
         |  JOIN rtc tb ON tb.user_id = cand.rb AND tb.g = ta.g
         |  GROUP BY 1, 2),
         |rr AS (SELECT ra, rb,
         |  ROUND(CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(na.ss AS DOUBLE)) * sqrt(CAST(nb.ss AS DOUBLE))), 6) AS cosine
         |  FROM dots JOIN nrm na ON na.user_id = ra JOIN nrm nb ON nb.user_id = rb),
         |within AS (SELECT grp.d,
         |  ROUND(CAST(n.ss AS DOUBLE) /
         |    (sqrt(CAST(n.ss AS DOUBLE)) * sqrt(CAST(n.ss AS DOUBLE))), 6) AS cosine
         |  FROM grp JOIN nrm n ON n.user_id = grp.rep WHERE grp.sz >= 2),
         |wpairs AS (SELECT a.user_id AS ua, b.user_id AS ub, w.cosine
         |  FROM within w JOIN m21 a ON a.d = w.d
         |  JOIN m21 b ON b.d = w.d AND a.user_id < b.user_id),
         |xpairs AS (SELECT LEAST(a.user_id, b.user_id) AS ua,
         |    GREATEST(a.user_id, b.user_id) AS ub, rr.cosine
         |  FROM rr JOIN grp ga ON ga.rep = rr.ra JOIN m21 a ON a.d = ga.d
         |  JOIN grp gb ON gb.rep = rr.rb JOIN m21 b ON b.d = gb.d),
         |allp AS (SELECT * FROM wpairs UNION ALL SELECT * FROM xpairs)
         |SELECT ua, ub, cosine FROM allp
         |ORDER BY cosine DESC, ua, ub LIMIT 20""".stripMargin) { (s, dir, pins) =>
      import org.apache.spark.sql.expressions.Window
      val wu = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      // feeds digests AND the rep-grain relation
      val tc = pins.persist(Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("t2", lead(col("event_type"), 1).over(wu))
        .withColumn("t3", lead(col("event_type"), 2).over(wu))
        .filter(col("t3").isNotNull)
        .select(col("user_id"),
          concat_ws(" ", col("event_type"), col("t2"), col("t3")).as("g"))
        .groupBy("user_id", "g").agg(count(lit(1)).as("c")))
      // behavior digest: md5 of the sorted (g, c) list — the exact
      // string the oracle's string_agg(g || ':' || c ORDER BY g) builds
      val dig = tc.groupBy("user_id")
        .agg(md5(array_join(
          transform(array_sort(collect_list(struct(col("g"), col("c")))),
            x => concat(x.getField("g"), lit(":"),
              x.getField("c").cast("string"))), "|")).as("d"))
      // ONE d-grain aggregate carries rep, size AND the 21 smallest
      // member ids (r18): m21 was a separate row_number window over
      // dig, and its FOUR references (both wpairs sides, both xpairs
      // sides) each re-derived the digest aggregate + window pass —
      // exchange reuse deduped the shuffles but re-ran the window
      // operator per reference. slice(array_sort(collect_list), 1, 21)
      // is exactly the rn ≤ 21 row set (user_id is unique per d), it
      // rides the aggregate grp already pays, and every consumer now
      // reads the persisted cache. dig itself drops to a single
      // consumer, so the md5-digest pass runs once.
      // rep filter + both expansion sides + m21 expansions
      val grp = pins.persist(dig.groupBy("d")
        .agg(min(col("user_id")).as("rep"), count(lit(1)).as("sz"),
          slice(array_sort(collect_list(col("user_id"))), 1, 21).as("m21a")))
      val m21 = grp.select(col("d"), explode(col("m21a")).as("user_id"))
      // REPRESENTATIVE-grain trigram relation: everything heavier than
      // the digest agg runs at distinct-behavior cardinality
      val rtc = pins.persist(tc.join(grp.select(col("rep").as("user_id")), "user_id"))
      val vocab = rtc.select("g").distinct()
        .withColumn("gid", row_number().over(Window.orderBy("g")))
      val tcg = rtc.join(broadcast(vocab), "g")
      def p(j: Int) =
        pmod(lit(1103515245L) * (lit(j.toLong * 1000003L) + col("gid")) + 12345L,
          lit(2147483648L)) % 2001L - 1000L
      // persisted + eager: the 64-sum aggregate is the query's heaviest
      // pass and feeds the global-mean derivation AND both sides of the
      // band self-join; left lazy, each consumer re-ran the whole
      // vocab -> tcg -> 64-sum pipeline (the profiler showed the two
      // ~16 task-s twins). The cached relation is tiny: reps x 64 longs.
      val su = pins.persist(tcg.groupBy("user_id")
        .agg(sum(col("c") * p(0)).cast("long").as("s_0"),
          (1 until Tt * B).map(j =>
            sum(col("c") * p(j)).cast("long").as(s"s_$j")): _*))
      su.count()
      // global sums derive from the per-rep sums — integer addition is
      // associative, so m_j = Σ_user s_j bit-equals the oracle's direct
      // SUM over tcg, and nu = COUNT(su rows) = COUNT(DISTINCT user_id):
      // one pass over tcg computes both relations instead of two
      val mm = su.agg(
        count(lit(1)).cast("long").as("nu"),
        (0 until Tt * B).map(j =>
          sum(col(s"s_$j")).cast("long").as(s"m_$j")): _*)
      val sig = su.crossJoin(broadcast(mm))
        .select(col("user_id") +: (0 until Tt).map { t =>
          (0 until B).map { j =>
            when(col("nu") * col(s"s_${t * B + j}") - col(s"m_${t * B + j}") > 0,
              lit(1L << j)).otherwise(lit(0L))
          }.reduce(_ + _).as(s"b_$t")
        }: _*)
      val ex = sig.select(col("user_id"),
          posexplode(array((0 until Tt).map(t => col(s"b_$t")): _*))
            .as(Seq("tbl", "bucket")))
      val cand = ex.as("a").join(ex.as("b"),
          col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
            col("a.user_id") < col("b.user_id"))
        .select(col("a.user_id").as("ra"), col("b.user_id").as("rb"))
        .distinct()
      val nrm = rtc.groupBy("user_id").agg(sum(col("c") * col("c")).as("ss"))
      val dots = cand
        .join(rtc.select(col("user_id").as("ra"), col("g"), col("c").as("ca")), "ra")
        .join(rtc.select(col("user_id").as("rb"), col("g"), col("c").as("cb")),
          Seq("rb", "g"))
        .groupBy("ra", "rb").agg(sum(col("ca") * col("cb")).cast("long").as("dot"))
      val rr = dots
        .join(nrm.select(col("user_id").as("ra"), col("ss").as("sa")), "ra")
        .join(nrm.select(col("user_id").as("rb"), col("ss").as("sb")), "rb")
        .select(col("ra"), col("rb"),
          round(col("dot").cast("double") /
            (sqrt(col("sa").cast("double")) * sqrt(col("sb").cast("double"))), 6)
            .as("cosine"))
      // within-group pairs: same formula with dot = ss, so IEEE noise
      // (sqrt(ss)² ≠ ss) cancels identically cross-engine
      val within = grp.filter(col("sz") >= 2)
        .join(nrm.select(col("user_id").as("__r"), col("ss")),
          col("rep") === col("__r"))
        .select(col("d"),
          round(col("ss").cast("double") /
            (sqrt(col("ss").cast("double")) * sqrt(col("ss").cast("double"))), 6)
            .as("cosine"))
      val wpairs = within
        .join(m21.select(col("d"), col("user_id").as("ua")), "d")
        .join(m21.select(col("d"), col("user_id").as("ub")), "d")
        .filter(col("ua") < col("ub"))
        .select("ua", "ub", "cosine")
      val xpairs = rr
        .join(grp.select(col("rep").as("ra"), col("d").as("da")), "ra")
        .join(m21.select(col("d").as("da"), col("user_id").as("ma")), "da")
        .join(grp.select(col("rep").as("rb"), col("d").as("db")), "rb")
        .join(m21.select(col("d").as("db"), col("user_id").as("mb")), "db")
        .select(least(col("ma"), col("mb")).as("ua"),
          greatest(col("ma"), col("mb")).as("ub"), col("cosine"))
      wpairs.unionAll(xpairs)
        .orderBy(col("cosine").desc, col("ua"), col("ub")).limit(20)
    }
  }

  // Interval-OVERLAP join — the interval×interval sibling of
  // q_range_join_bucketed's value-band join: which user sessions
  // intersect which error incidents. Two scale decisions:
  //  1. Incident (burst) detection runs on the per-MINUTE error-count
  //     aggregate, not the raw error rows — the global gap-walk window
  //     that stitches minutes into bursts sees O(minutes-with-errors)
  //     rows (cardinality bounded by wall-clock time, independent of
  //     SF), so the single-partition window is over a relation that
  //     CANNOT grow with the data. Sessionization stays partitioned by
  //     user, as in q_sessionize.
  //  2. The overlap theta-join never executes as a theta-join: both
  //     interval sets explode into the HOUR buckets they cover
  //     (sessions ≤ a few buckets by the 30-min gap rule; bursts
  //     bounded by incident length), candidates come from the hour
  //     equi-join, pairs dedup, and the exact overlap predicate
  //     verifies — same candidate→verify contract as the band join.
  // All bounds are integer epoch-micros, so overlap arithmetic is
  // bit-identical on both engines.
  val intervalOverlap: QueryDef = QueryDef.sql("q_interval_overlap")(
    """WITH g AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS t,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         OR lag(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS brk
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sid AS (
      |  SELECT user_id, t, SUM(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g),
      |sess AS (SELECT user_id, sid, MIN(t) AS s_start, MAX(t) AS s_end
      |         FROM sid GROUP BY 1, 2),
      |em AS (
      |  SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) * 1000000 AS m,
      |    COUNT(*) AS n
      |  FROM events WHERE event_type = 'error' GROUP BY 1),
      |egap AS (
      |  SELECT m, n, CASE WHEN m - lag(m) OVER (ORDER BY m) > 600000000
      |    OR lag(m) OVER (ORDER BY m) IS NULL THEN 1 ELSE 0 END AS brk FROM em),
      |eid AS (SELECT m, n, SUM(brk) OVER (ORDER BY m
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bid FROM egap),
      |burst AS (
      |  SELECT bid, MIN(m) AS b_start, MAX(m) + 60000000 AS b_end,
      |    CAST(SUM(n) AS BIGINT) AS n_err
      |  FROM eid GROUP BY 1 HAVING SUM(n) >= 3)
      |SELECT user_id, s_start, s_end, b_start, b_end, n_err,
      |  LEAST(s_end, b_end) - GREATEST(s_start, b_start) AS overlap_us
      |FROM sess JOIN burst ON s_start <= b_end AND b_start <= s_end
      |ORDER BY user_id, s_start, b_start""".stripMargin) { (s, dir) =>
    val hourUs = 3600000000L
    // the running sum orders by (t, event_id) — t alone ties under
    // duplicate timestamps and the two engines would tie-break
    // differently, splitting a boundary session differently
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = Window.partitionBy("user_id").orderBy("t", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = Tables.events(s, dir)
    val prev = lag(unix_micros(col("ts")), 1).over(w)
    val sess = ev
      .select(col("user_id"), col("ts"), col("event_id"),
        unix_micros(col("ts")).as("t"),
        when(unix_micros(col("ts")) - prev > 1800000000L || prev.isNull, 1)
          .otherwise(0).as("brk"))
      .withColumn("sid", sum(col("brk")).over(wRun))
      .groupBy("user_id", "sid")
      .agg(min(col("t")).as("s_start"), max(col("t")).as("s_end"))
    // O(minutes-with-errors) relation; the global gap window below is
    // over THIS aggregate, never the raw rows.
    val mins = ev.filter(col("event_type") === "error")
      .groupBy((unix_timestamp(date_trunc("minute", col("ts"))) * 1000000L).as("m"))
      .agg(count(lit(1)).as("n"))
    val wm = Window.orderBy("m")
    val wmRun = wm.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prevM = lag(col("m"), 1).over(wm)
    val burst = mins
      .withColumn("brk",
        when(col("m") - prevM > 600000000L || prevM.isNull, 1).otherwise(0))
      .withColumn("bid", sum(col("brk")).over(wmRun))
      .groupBy("bid")
      .agg(min(col("m")).as("b_start"),
        (max(col("m")) + 60000000L).as("b_end"),
        sum(col("n")).as("n_err"))
      .filter(col("n_err") >= 3)
    val sessH = sess.select(col("user_id"), col("s_start"), col("s_end"),
      explode(sequence(floor(col("s_start") / hourUs),
        floor(col("s_end") / hourUs))).as("h"))
    val burstH = burst.select(col("b_start"), col("b_end"), col("n_err"),
      explode(sequence(floor(col("b_start") / hourUs),
        floor(col("b_end") / hourUs))).as("h"))
    sessH.join(burstH, Seq("h"))
      .select("user_id", "s_start", "s_end", "b_start", "b_end", "n_err")
      .distinct()
      .filter(col("s_start") <= col("b_end") && col("b_start") <= col("s_end"))
      .select(col("user_id"), col("s_start"), col("s_end"),
        col("b_start"), col("b_end"), col("n_err"),
        (least(col("s_end"), col("b_end")) -
          greatest(col("s_start"), col("b_start"))).as("overlap_us"))
      .orderBy("user_id", "s_start", "b_start")
  }

  // Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM) — joining a
  // grouped aggregate BACK to its input when the group key is nullable,
  // the case where a plain `===` silently drops every NULL-group row.
  // Spark plans EqualNullSafe as a hash-join key (nulls coalesce into
  // one shuffle partition like any other key value), so the shape is a
  // plain shuffled equi-join, not a theta join. Segment derivation is
  // integer arithmetic on the JSON payload; rows with k ≥ 80 carry a
  // NULL segment and must still pick up their (NULL-group) count.
  val nullsafeJoin: QueryDef = QueryDef.sql("q_nullsafe_join")(
    """WITH seg AS (
      |  SELECT event_id, user_id,
      |    CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) < 80
      |         THEN CAST(json_extract(props, '$.k') AS BIGINT) // 10 END AS segment
      |  FROM events),
      |cnt AS (SELECT segment, COUNT(*) AS seg_n FROM seg GROUP BY 1)
      |SELECT event_id, user_id, seg.segment, seg_n
      |FROM seg JOIN cnt ON seg.segment IS NOT DISTINCT FROM cnt.segment
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val k = get_json_object(col("props"), "$.k").cast("long")
    // JSON-parse both join sides in parallel when the scan is narrower
    // than the cluster (the r18 floor profile measured this query as 6
    // single-task stages, ~2.2 task-s of serialized get_json_object);
    // no-op at scale — ops.Par.widenInput scaladoc
    val seg = graft.ops.Par.widenInput(Tables.events(s, dir), dir, "events")
      .select(col("event_id"), col("user_id"),
        when(k < 80, floor(k / 10).cast("long")).as("segment"))
    val cnt = seg.groupBy("segment").agg(count(lit(1)).as("seg_n"))
      .withColumnRenamed("segment", "cseg")
    seg.join(cnt, col("segment") <=> col("cseg"))
      .select("event_id", "user_id", "segment", "seg_n")
      .orderBy("event_id")
  }

  val all: Seq[QueryDef] = Seq(asofJoin, asofJoinNative, asofForward,
    streamStatefulCount, topkTokens, rangeJoinBucketed, intervalOverlap,
    nullsafeJoin, asofTolerance,
    // blocked exact form enumerates all n²/2 pairs (78×/decade at
    // sf10); audit-gated, the LSH twin is the benched path
    trajectorySim.audit, trajectorySimBlocked.audit, trajectorySimLsh)
}
