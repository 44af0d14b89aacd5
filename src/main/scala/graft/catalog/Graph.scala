package graft.catalog

import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}

/** Graph analytics over relations — link analysis re-expressed as
  * iterated joins + aggregations, the shape GraphX/Pregel lowers to
  * anyway. The engine-level point: each iteration is ONE shuffle on the
  * edge key (contributions group by destination), state is a (node,
  * rank) table, and lineage is cut per round — exactly the loop that
  * scales to billions of edges.
  */
object Graph {

  private val Iters = 5

  // PageRank over the customer↔supplier bipartite trade graph (an edge
  // per distinct (o_custkey, l_suppkey) pair, both directions). Ranks
  // are FIXED-POINT integers (micro-units): every transfer is integer
  // division (r div deg), every damped update is integer arithmetic —
  // a float PageRank's partition-order-dependent double sums can never
  // hash-match across engines, integer fixed-point is bit-exact by
  // construction and still converges like the real thing (the
  // truncation loses < 1 micro-unit per edge per round).
  //
  // Node ids: customer c → 2c, supplier s → 2s+1 (disjoint ranges).
  val pagerank: QueryDef = {
    // unrolled iteration template, shared shape on both engines:
    // r_{k+1}(v) = 150000 + (85 * Σ_{u→v} (r_k(u) div deg(u))) div 100
    def duckIter(k: Int): String =
      s"""r$k AS (
         |  SELECT d.src AS node,
         |    CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
         |  FROM deg d LEFT JOIN (
         |    SELECT e.dst, CAST(SUM(r.r // dg.deg) AS BIGINT) AS s
         |    FROM edges e
         |    JOIN r${k - 1} r ON r.node = e.src
         |    JOIN deg dg ON dg.src = e.src
         |    GROUP BY e.dst) c ON c.dst = d.src)""".stripMargin
    QueryDef.pinned("q_pagerank")(
      s"""WITH cs AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |edges AS (SELECT src, dst FROM cs UNION ALL SELECT dst, src FROM cs),
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
         |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
         |${(1 to Iters).map(duckIter).mkString(",\n")}
         |SELECT node, r AS rank_u FROM r$Iters ORDER BY node""".stripMargin) { (s, dir, pins) =>
      val cs = Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey")
        .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      // localCheckpoint: edges and degrees are reused every round — pin
      // them once instead of re-running the join 2×Iters times
      val edges = pins.checkpoint(
        cs.unionByName(cs.select(col("dst").as("src"), col("src").as("dst"))))
      val deg = pins.checkpoint(edges.groupBy("src").agg(count(lit(1)).as("deg")))
      var r = deg.select(col("src").as("node"), lit(1000000L).as("r"))
      for (_ <- 1 to Iters) {
        val contrib = edges
          .join(deg, "src")
          .join(r, col("node") === col("src"))
          .select(col("dst"), expr("r div deg").as("t"))
          .groupBy("dst").agg(sum(col("t")).as("s"))
        // rounds stay LAZY (r18): each round's r is consumed exactly
        // once by the next round, so the unrolled 5-round chain is a
        // LINEAR DAG — no shared subtree to re-derive — and executing
        // it as ONE query lets the scheduler pipeline the rounds
        // instead of paying a localCheckpoint job + materialization
        // per round (the r17 shape ran 57 stages; guide §1.2 step 1 —
        // remove passes, not per-pass cost). edges/deg stay
        // checkpointed: they ARE multi-consumer (2 joins × 5 rounds).
        r = deg.select(col("src").as("node"))
          .join(contrib, col("node") === col("dst"), "left")
          .select(col("node"),
            (lit(150000L) + expr("(85 * coalesce(s, 0)) div 100")).as("r"))
      }
      // read by the consumer, never a driver collect: the result is one
      // row per node — cluster-sized at 100 TB
      r.select(col("node"), col("r").as("rank_u")).orderBy("node")
    }
  }

  // Triangle counting over the near-dup document graph (the exact
  // token-Jaccard >= 0.3 pairs shared with q_ngram_jaccard /
  // q_dedup_clusters — dup clusters are near-cliques, so triangle
  // participation is a cluster-density signal). The Spark side runs the
  // DEGREE-ORIENTED (compact-forward) algorithm: every edge is oriented
  // from its lower-(degree, id) endpoint to the higher one, wedges are
  // enumerated only from each node's oriented out-neighborhood (out-
  // degree is O(√m)-bounded on any graph), and a wedge closes iff the
  // oriented closing edge exists — each triangle found exactly once,
  // no high-degree hub ever explodes a join. The oracle enumerates the
  // same triangles by plain id-ordered 3-way self-join; per-node counts
  // are algorithm-invariant, so the hash match proves the oriented
  // enumeration exact.
  val triangleCount: QueryDef = QueryDef.pinned("q_triangle_count")(
    s"""WITH ${Curation.pairsSql},
       |tri AS (
       |  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
       |  FROM pairs e1
       |  JOIN pairs e2 ON e2.doc_a = e1.doc_b
       |  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
       |n AS (SELECT UNNEST([a, b, c]) AS doc_id FROM tri)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
       |FROM n GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir, pins) =>
    val pairs = Curation.jaccardPairs(s, dir, pins)
    val deg = pairs.select(col("doc_a").as("node"))
      .unionByName(pairs.select(col("doc_b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient by (deg, id): lexicographic struct comparison
    val withDeg = pairs
      .join(deg.select(col("node").as("doc_a"), col("deg").as("deg_a")), "doc_a")
      .join(deg.select(col("node").as("doc_b"), col("deg").as("deg_b")), "doc_b")
    def key(d: String, i: String) = struct(col(d).as("d"), col(i).as("i"))
    val oriented = withDeg.select(
      when(key("deg_a", "doc_a") < key("deg_b", "doc_b"),
        struct(col("doc_a").as("src"), key("deg_b", "doc_b").as("dkey"),
          col("doc_b").as("dst")))
        .otherwise(
          struct(col("doc_b").as("src"), key("deg_a", "doc_a").as("dkey"),
            col("doc_a").as("dst"))).as("e"))
      .select(col("e.src").as("src"), col("e.dkey").as("dkey"), col("e.dst").as("dst"))
    // wedges from each node's out-neighborhood, smaller dkey first
    val w1 = oriented.select(col("src"), col("dkey").as("k1"), col("dst").as("v"))
    val w2 = oriented.select(col("src"), col("dkey").as("k2"), col("dst").as("w"))
    val wedges = w1.join(w2, Seq("src")).filter(col("k1") < col("k2"))
    // a wedge closes iff the oriented edge v→w exists (v has the
    // smaller (deg, id), so the closing edge is oriented v→w)
    val closing = oriented.select(col("src").as("v"), col("dst").as("w"))
    val tri = wedges.join(closing, Seq("v", "w"))
      .select(col("src"), col("v"), col("w"))
    tri
      .select(explode(array(col("src"), col("v"), col("w"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
      .orderBy("doc_id")
  }

  // Degree distribution of the near-dup graph — the first diagnostic a
  // dedup run reads: how many docs have 1 duplicate partner, how many
  // sit in dense boilerplate hubs (high degree = template/spam
  // families; a long tail means cluster-collapse will delete heavily).
  // Two partial→final HashAggregates (per-node degree, then per-degree
  // count) over the shared exact-Jaccard edge relation — the shuffles
  // carry (id, long) pairs only.
  val degreeDist: QueryDef = QueryDef.pinned("q_degree_dist")(
    s"""WITH ${Curation.pairsSql},
       |n AS (SELECT doc_a AS node FROM pairs
       |      UNION ALL SELECT doc_b FROM pairs),
       |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
       |        FROM n GROUP BY node)
       |SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |  CAST(MIN(node) AS BIGINT) AS example_doc
       |FROM deg GROUP BY degree ORDER BY degree""".stripMargin) { (s, dir, pins) =>
    val pairs = Curation.jaccardPairs(s, dir, pins)
    pairs.select(col("doc_a").as("node"))
      .unionByName(pairs.select(col("doc_b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
      .groupBy("degree")
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("example_doc"))
      .orderBy("degree")
  }

  // Synchronous label propagation (Raghavan et al. 2007) over the same
  // trade graph — the community-detection op that complements the CC
  // pair (components merge everything reachable; LPA groups by
  // neighborhood MAJORITY, so dense bipartite clusters separate even
  // inside one component). Deterministic variant: every node updates
  // simultaneously to its neighbors' modal label, ties to the SMALLEST
  // label, two unrolled rounds — same iteration budget both engines, so
  // the per-node labels hash-match. Each round is one tally aggregate
  // on (node, label) — map-side combinable — plus a per-node argmax
  // window; both shuffle on the node key, never on a corpus-wide order.
  val labelProp: QueryDef = {
    def duckRound(k: Int): String =
      s"""t$k AS (SELECT e.dst AS node, p.label AS l, COUNT(*) AS c
         |  FROM edges e JOIN l${k - 1} p ON p.node = e.src GROUP BY 1, 2),
         |l$k AS (SELECT node, l AS label FROM (
         |    SELECT node, l, ROW_NUMBER() OVER
         |      (PARTITION BY node ORDER BY c DESC, l) AS rn
         |    FROM t$k) r WHERE rn = 1)""".stripMargin
    QueryDef.pinned("q_label_prop")(
      s"""WITH cs AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |edges AS (SELECT src, dst FROM cs UNION ALL SELECT dst, src FROM cs),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
         |${(1 to 2).map(duckRound).mkString(",\n")}
         |SELECT node, label AS community FROM l2 ORDER BY node""".stripMargin) { (s, dir, pins) =>
      val cs = Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey")
        .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val edges = pins.checkpoint( // reused by l0 and both rounds
        cs.unionByName(cs.select(col("dst").as("src"), col("src").as("dst"))))
      var lbl = edges.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("label"))
      for (_ <- 1 to 2) {
        val tally = edges
          .join(lbl, col("node") === col("src"))
          .groupBy("dst", "label")
          .agg(count(lit(1)).as("c"))
        // modal label via max_by instead of a row_number window (r18):
        // the argmax over (c DESC, label ASC) is max_by(label,
        // struct(c, -label)) — (dst, label) rows are unique post-tally
        // so the struct order is total, largest c wins, and on equal c
        // the largest -label = SMALLEST label wins, exactly the
        // window's (c DESC, label) rn=1 row. A hash aggregate replaces
        // the window's exchange + full sort per round (guide §2.4) and
        // partial-aggregates map-side.
        lbl = tally.groupBy("dst")
          .agg(max_by(col("label"), struct(col("c"), (-col("label")).as("__neg")))
            .as("label"))
          .select(col("dst").as("node"), col("label"))
      }
      lbl.select(col("node"), col("label").as("community")).orderBy("node")
    }
  }

  // K-core peel, two unrolled rounds (the BPE/Lloyd/PageRank unrolled-
  // driver-loop precedent) over the same bipartite trade graph: drop
  // every node with degree < k, recompute degrees on the induced
  // subgraph, drop again. k is DATA-ADAPTIVE — the exact median degree
  // — computed scale-safely from the integer degree HISTOGRAM: the
  // running-sum window walks one row per DISTINCT degree value (a
  // relation that grows with max-degree, not node count), never a
  // global rank over the SF-scaled node table. k then rides along as a
  // 1-row broadcast. Each round is two left-semi equi-joins (edges ×
  // alive set) + one hash aggregate — no iteration-private shuffle
  // shape, and lineage is cut per round like the PageRank loop.
  val kcoreRounds: QueryDef = QueryDef.pinned("q_kcore_rounds")(
    """WITH cs AS (
      |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |edges0 AS (SELECT src, dst FROM cs UNION ALL SELECT dst, src FROM cs),
      |deg0 AS (SELECT src AS node, COUNT(*) AS deg FROM edges0 GROUP BY 1),
      |hist AS (SELECT deg, COUNT(*) AS c FROM deg0 GROUP BY deg),
      |cum AS (SELECT deg, SUM(c) OVER (ORDER BY deg ROWS UNBOUNDED PRECEDING) AS cum,
      |               SUM(c) OVER () AS n FROM hist),
      |kv AS (SELECT MIN(deg) AS k FROM cum WHERE cum >= (n + 1) // 2),
      |alive1 AS (SELECT node FROM deg0, kv WHERE deg >= k),
      |edges1 AS (SELECT e.src, e.dst FROM edges0 e
      |           JOIN alive1 a ON a.node = e.src JOIN alive1 b ON b.node = e.dst),
      |deg1 AS (SELECT src AS node, COUNT(*) AS deg FROM edges1 GROUP BY 1),
      |alive2 AS (SELECT node FROM deg1, kv WHERE deg >= k),
      |edges2 AS (SELECT e.src, e.dst FROM edges1 e
      |           JOIN alive2 a ON a.node = e.src JOIN alive2 b ON b.node = e.dst),
      |deg2 AS (SELECT src AS node, COUNT(*) AS deg FROM edges2 GROUP BY 1)
      |SELECT node, deg AS deg_r2, (SELECT k FROM kv) AS k
      |FROM deg2 ORDER BY node""".stripMargin) { (s, dir, pins) =>
    import org.apache.spark.sql.expressions.Window
    val cs = Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey")
      .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val edges0 = pins.checkpoint(
      cs.unionByName(cs.select(col("dst").as("src"), col("src").as("dst"))))
    val deg0 = pins.checkpoint(edges0.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg")))
    // histogram cardinality = distinct degree values — the window is tiny
    val hist = deg0.groupBy("deg").agg(count(lit(1)).as("c"))
    val cum = hist.select(col("deg"),
      sum(col("c")).over(Window.orderBy("deg")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"),
      sum(col("c")).over(Window.partitionBy()).as("n"))
    val kv = cum.filter(col("cum") >= expr("(n + 1) div 2"))
      .agg(min(col("deg")).as("k"))
    def peel(edges: org.apache.spark.sql.DataFrame, deg: org.apache.spark.sql.DataFrame,
        pinEdges: Boolean)
        : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
      val alive = deg.crossJoin(broadcast(kv))
        .filter(col("deg") >= col("k")).select("node")
      val e2raw = edges
        .join(alive.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(alive.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst")
      // pin the induced edge set only when a LATER round re-reads it
      // (round 1's e1 feeds round 2's two semi-joins); the final
      // round's edges feed exactly one degree aggregate, so
      // checkpointing them there was a wasted input-sized
      // materialization + job (r18; guide §5 — persist only what is
      // reused)
      val e2 = if (pinEdges) pins.checkpoint(e2raw) else e2raw
      val d2 = e2.groupBy("src").agg(count(lit(1)).as("deg"))
        .select(col("src").as("node"), col("deg"))
      (e2, d2)
    }
    val (e1, d1) = peel(edges0, deg0, pinEdges = true)
    val (_, d2) = peel(e1, d1, pinEdges = false)
    d2.crossJoin(broadcast(kv))
      .select(col("node"), col("deg").as("deg_r2"), col("k"))
      .orderBy("node")
  }

  val all: Seq[QueryDef] = Seq(pagerank, triangleCount, degreeDist, labelProp,
    kcoreRounds)
}
