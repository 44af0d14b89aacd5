package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}
import graft.ops.Vectors

/** Similarity search over the `embeddings` table (`array<float>`, d=64).
  *
  * Brute-force cosine top-k is the correctness baseline; the IVF query
  * is the 100 TB path — assign every vector to its nearest centroid
  * (broadcast centroid join, no shuffle of the big side), then search
  * only within the query's bucket. All arithmetic is sequential-fold
  * double precision, bit-identical to DuckDB's `list_dot_product`
  * (verified empirically), so cosines need no rounding fudge.
  */
object SimilaritySearch {

  /** Embeddings with double vectors + precomputed norms. Explicitly
    * repartitioned: the corpus arrives as one file → one partition, and
    * every downstream op is CPU-bound per row (AQE's size-based
    * coalesce would undo a bare repartition()).
    */
  private[catalog] def normed(s: SparkSession, dir: String): DataFrame = {
    Vectors.register(s)
    Tables.embeddings(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(
        col("vec_id"),
        Vectors.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", Vectors.norm2(col("v")))
  }

  private val normedSql =
    """SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |FROM embeddings""".stripMargin

  /** IVF centroid-seed cap: centroids are every 50th vector, capped at
    * `vec_id < 3200` (nlist ≤ 64). Without the cap nlist grows ∝ n and
    * the broadcast-assign pass is O(n · n/50) — quadratic, and the
    * sf1.0 scale run measured exactly that (q_ann_ivf_probe2 22.5× at
    * 10× data, BENCH_SCALE.json). nlist is a deployment constant in
    * production IVF, sized to the index's recall/latency budget, not to
    * the corpus — with the cap the assign pass is O(n · nlist) = linear
    * and buckets average n/nlist. The cap sits ABOVE the sf0.1 corpus
    * (2000 vectors → 40 centroids, all under 3200), so small-SF
    * results, oracle hashes, and bench baselines are bit-unchanged; it
    * binds from ~3.2k vectors up.
    */
  private val IvfCentroidCap = 3200

  // Vector norms — the primitive every similarity op builds on.
  val embedNorm: QueryDef = QueryDef.sql("q_embed_norm")(
    s"""WITH n AS ($normedSql)
       |SELECT vec_id, list_dot_product(v, v) AS dot_self, nrm AS l2_norm
       |FROM n ORDER BY vec_id""".stripMargin) { (s, dir) =>
    normed(s, dir)
      .select(col("vec_id"), Vectors.dot(col("v"), col("v")).as("dot_self"),
        col("nrm").as("l2_norm"))
      .orderBy("vec_id")
  }

  // Brute-force cosine top-k (k=5) for a query subset: the baseline ANN
  // answer. The query side is tiny → broadcast; the corpus side streams.
  val embedTopk: QueryDef = QueryDef.sql("q_embed_topk")(
    s"""WITH n AS ($normedSql),
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 20),
       |scored AS (
       |  SELECT query_id, n.vec_id AS neighbor_id,
       |    list_dot_product(qv, v) / (qnrm * nrm) AS cosine
       |  FROM q CROSS JOIN n WHERE n.vec_id <> query_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM scored)
       |SELECT query_id, neighbor_id, cosine, rnk FROM ranked
       |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
    val n = normed(s, dir)
    val q = n.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = broadcast(q).crossJoin(n)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Vectors.cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("query_id", "neighbor_id", "cosine", "rnk")
      .orderBy("query_id", "rnk")
  }

  // Embedding-cosine near-dup pairs (threshold tuned to the synthetic
  // data's cosine distribution; max observed ≈ 0.51). EXACT all-pairs —
  // inherently O(n²) comparisons — but executed as a BLOCKED equi-join,
  // not a broadcast nested loop: each vector lands in block
  // g = vec_id % G, every unordered block pair (g1 <= g2) is a join key,
  // and each side replicates a vector to the ~G/2 block pairs it
  // participates in. The join then shuffles on (g1, g2), so every
  // reducer compares exactly two blocks of n/G vectors — the n² work
  // spreads evenly across the cluster and NO task ever needs the whole
  // corpus in memory (a BroadcastNestedLoopJoin ships one entire side to
  // every executor, which is the piece that dies first at 100 TB; there
  // G grows ~√cluster to keep per-task pairs bounded). The LSH twin
  // q_embed_neardup_lsh remains the sub-quadratic path when approximate
  // recall is acceptable.
  val embedNearDup: QueryDef = QueryDef.sql("q_embed_neardup")(
    s"""WITH n AS ($normedSql)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
       |FROM n a JOIN n b ON a.vec_id < b.vec_id
       |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
       |ORDER BY vec_a, vec_b""".stripMargin) { (s, dir) =>
    val G = 8
    val n = normed(s, dir)
      .withColumn("g", pmod(col("vec_id"), lit(G)).cast("int"))
    // left: a vector in block g serves block pairs (g, g..G-1);
    // right: block pairs (0..g, g). Unordered pair {x,y} with blocks
    // gx != gy meets exactly once (smaller block on the left); same
    // block meets in both orders, deduped by the id inequality below.
    val a = n
      .withColumn("g2", explode(sequence(col("g"), lit(G - 1))))
      .select(col("g").as("g1"), col("g2"),
        col("vec_id").as("ida"), col("v").as("va"), col("nrm").as("na"))
    val b = n
      .withColumn("g1", explode(sequence(lit(0), col("g"))))
      .select(col("g1"), col("g").as("g2"),
        col("vec_id").as("idb"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("g1", "g2"))
      .filter(col("g1") < col("g2") || col("ida") < col("idb"))
      .select(
        least(col("ida"), col("idb")).as("vec_a"),
        greatest(col("ida"), col("idb")).as("vec_b"),
        // cosine is operand-order-insensitive bit-for-bit (per-dim
        // products commute; the dim fold order is fixed), so the
        // smaller-id-first output matches the oracle's a.v x b.v
        Vectors.cosine(col("va"), col("vb"), col("na"), col("nb")).as("cosine"))
      .filter(col("cosine") >= 0.4)
      .orderBy("vec_a", "vec_b")
  }

  /** Nearest-centroid assignment as a max_by AGGREGATION, not a window:
    * the window formulation shuffles the whole corpus × centroids cross
    * product (each row dragging its 64-double vector), while max_by
    * partially aggregates map-side — only one (v, nrm, best-centroid)
    * buffer per vector crosses the wire. Tie-break `ORDER BY cosine
    * DESC, cid ASC` is encoded as max over the (cosine, -cid) struct.
    */
  private def assignNearest(n: DataFrame, c: DataFrame): DataFrame =
    n.crossJoin(broadcast(c))
      .select(col("vec_id"), col("v"), col("nrm"), col("cid"),
        Vectors.cosine(col("v"), col("cv"), col("nrm"), col("cnrm")).as("__cos"))
      .groupBy("vec_id")
      .agg(
        max_by(col("cid"), struct(col("__cos"), (-col("cid")).as("__negcid"))).as("cid"),
        first(col("v")).as("v"), first(col("nrm")).as("nrm"))
      .select("vec_id", "v", "nrm", "cid")

  // IVF-style ANN: centroids = every 50th vector (deterministic,
  // training-free); assign each vector to its nearest centroid via a
  // broadcast join; answer queries from their bucket only. At scale the
  // bucket assignment is the only pass over the full corpus and the
  // per-bucket search is a co-partitioned join on centroid id.
  val annIvf: QueryDef = QueryDef.sql("q_ann_ivf")(
    s"""WITH n AS ($normedSql),
       |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n
       |     WHERE vec_id % 50 = 0 AND vec_id < $IvfCentroidCap),
       |asg AS (
       |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY list_dot_product(v, cv) / (nrm * cnrm) DESC, cid) AS rn
       |  FROM n CROSS JOIN c),
       |bucket AS (SELECT vec_id, cid FROM asg WHERE rn = 1),
       |nb AS (SELECT n.vec_id, v, nrm, cid FROM n JOIN bucket USING (vec_id)),
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, cid FROM nb
       |      WHERE vec_id < 20),
       |scored AS (
       |  SELECT query_id, nb.vec_id AS neighbor_id,
       |    list_dot_product(qv, v) / (qnrm * nrm) AS cosine
       |  FROM q JOIN nb USING (cid) WHERE nb.vec_id <> query_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM scored)
       |SELECT query_id, neighbor_id, cosine, rnk FROM ranked
       |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
    val n = normed(s, dir)
    val c = n.filter(col("vec_id") % 50 === 0 && col("vec_id") < IvfCentroidCap)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val nb = assignNearest(n, c)
    val q = nb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("cid"))
    val scored = broadcast(q).join(nb, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Vectors.cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id", "cosine", "rnk")
      .orderBy("query_id", "rnk")
  }

  // Multi-probe IVF (nprobe=2): the recall knob every production IVF
  // deployment turns. Corpus assignment is unchanged (each vector lives
  // in ONE bucket — storage never duplicates); each QUERY fans out to
  // its 2 nearest centroids' buckets, so recall loss from a query
  // sitting near a Voronoi boundary shrinks at exactly 2× the bucket-
  // scan cost. The query-side top-2 ranking windows over query_id —
  // high-cardinality partitions, not a global window — and the probe
  // list (2 rows/query) broadcasts into the bucket join, same
  // co-partitioned shape as single-probe.
  private def ivfProbeSql(nprobe: Int): String = ivfProbeSqlExpr(nprobe.toString)

  private def ivfProbeSqlExpr(nprobeExpr: String): String =
    s"""WITH n AS ($normedSql),
       |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n
       |     WHERE vec_id % 50 = 0 AND vec_id < $IvfCentroidCap),
       |asg AS (
       |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY list_dot_product(v, cv) / (nrm * cnrm) DESC, cid) AS rn
       |  FROM n CROSS JOIN c),
       |bucket AS (SELECT vec_id, cid FROM asg WHERE rn = 1),
       |nb AS (SELECT n.vec_id, v, nrm, cid FROM n JOIN bucket USING (vec_id)),
       |probe AS (SELECT vec_id AS query_id, cid FROM asg
       |          WHERE vec_id < 20 AND rn <= $nprobeExpr),
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n
       |      WHERE vec_id < 20),
       |scored AS (
       |  SELECT p.query_id, nb.vec_id AS neighbor_id,
       |    list_dot_product(qv, v) / (qnrm * nrm) AS cosine
       |  FROM probe p JOIN q USING (query_id) JOIN nb USING (cid)
       |  WHERE nb.vec_id <> p.query_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM scored)
       |SELECT query_id, neighbor_id, cosine, rnk FROM ranked
       |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  private def ivfProbe(nprobe: Int)(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val n = normed(s, dir)
    val c = n.filter(col("vec_id") % 50 === 0 && col("vec_id") < IvfCentroidCap)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val nb = assignNearest(n, c)
    val qs = n.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val wp = Window.partitionBy("query_id").orderBy(col("__cos").desc, col("cid"))
    val probes = qs.crossJoin(broadcast(c))
      .select(col("query_id"), col("qv"), col("qnrm"), col("cid"),
        Vectors.cosine(col("qv"), col("cv"), col("qnrm"), col("cnrm")).as("__cos"))
      .withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nprobe)
      .select("query_id", "qv", "qnrm", "cid")
    val scored = broadcast(probes).join(nb, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Vectors.cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id", "cosine", "rnk")
      .orderBy("query_id", "rnk")
  }

  val annIvfProbe2: QueryDef =
    QueryDef.sql("q_ann_ivf_probe2")(ivfProbeSql(2))(ivfProbe(2))

  // nprobe=4 — the SCALED probe count for grown corpora. The r13
  // recall-at-scale probe (cli.RecallProbe, PLANS.md round-13 table)
  // measured the known IVF tension directly: with nlist capped at the
  // deployment constant, a 10-Gaussian clustered corpus grown 100×
  // splits each cluster across ~6 centroid shards, and single-probe
  // clustered recall@3 decays 0.53 → 0.37 while probe2 erodes 0.77 →
  // 0.68. Production IVF answers corpus growth by turning the nprobe
  // knob, not re-sizing nlist — this query IS that knob turned once
  // more (same index, same buckets, 4 probed shards per query), with
  // its own hash oracle and floors. Cost stays 4 bucket scans per
  // query = 4·n/nlist candidates — linear in n, same plan shape.
  val annIvfProbe4: QueryDef =
    QueryDef.sql("q_ann_ivf_probe4")(ivfProbeSql(4))(ivfProbe(4))

  /** Scale-aware nprobe: 4 probes up to 20k vectors, DOUBLING each
    * corpus decade (8 ≤ 200k, 16 ≤ 2M, 32 beyond — past that the
    * policy is to re-size nlist, a re-index). Constant nprobe is the
    * measured uniform-regime failure mode (RECALL_SCALE_r15.jsonl:
    * every fixed-probe variant decays as the corpus grows against the
    * capped nlist, best sf10-uniform recall@3 0.417), because the
    * probed fraction nprobe/nlist of the corpus shrinks RELATIVE to
    * the noise floor of near-tie candidates. Doubling nprobe per
    * decade holds the floor at a log-factor cost: candidates per query
    * = nprobe·n/nlist, so the query stays linear-in-n with a
    * ⌈log10⌉-step multiplier. The thresholds are integer CASE rungs
    * (no float boundary can flip an engine), and both engines derive
    * them from COUNT(*) of the same embeddings relation.
    */
  private def adaptiveNprobe(nVecs: Long): Int =
    if (nVecs <= 20000L) 4
    else if (nVecs <= 200000L) 8
    else if (nVecs <= 2000000L) 16
    else 32

  val annIvfAdaptive: QueryDef = QueryDef.sql("q_ann_ivf_adaptive")(
    ivfProbeSqlExpr(
      """(SELECT CASE WHEN COUNT(*) <= 20000 THEN 4
        |        WHEN COUNT(*) <= 200000 THEN 8
        |        WHEN COUNT(*) <= 2000000 THEN 16
        |        ELSE 32 END FROM embeddings)""".stripMargin)) { (s, dir) =>
    // metadata-only count: parquet row counts come from footers, no
    // column IO — the one driver-side scalar the policy needs
    val nVecs = s.read.parquet(s"$dir/embeddings.parquet").count()
    ivfProbe(adaptiveNprobe(nVecs))(s, dir)
  }

  // IVF with TRAINED centroids: one deterministic Lloyd update on top
  // of the seed assignment — members of each seed bucket are averaged
  // per dimension, vectors re-assign to the updated centroids, and the
  // bucket-local search runs against the trained partitioning. The
  // per-dimension mean folds members in vec_id order (collect → sort →
  // sequential double fold), bit-identical to the oracle's
  // `list_reduce(list(x ORDER BY vec_id))` — a groupBy-avg would be
  // shuffle-order-dependent in IEEE arithmetic. At scale each Lloyd
  // round is one broadcast-assign pass + one (cid, dim) aggregation of
  // 64·n rows; more rounds = a driver loop over the same two stages.
  val annIvfKmeans: QueryDef = QueryDef.sql("q_ann_ivf_kmeans")(
    s"""WITH n AS ($normedSql),
       |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n
       |     WHERE vec_id % 50 = 0 AND vec_id < $IvfCentroidCap),
       |asg AS (
       |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY list_dot_product(v, cv) / (nrm * cnrm) DESC, cid) AS rn
       |  FROM n CROSS JOIN c),
       |bucket AS (SELECT vec_id, cid FROM asg WHERE rn = 1),
       |nb AS (SELECT n.vec_id, v, nrm, cid FROM n JOIN bucket USING (vec_id)),
       |dimx AS (SELECT cid, vec_id, d, v[d] AS x
       |         FROM nb CROSS JOIN (SELECT UNNEST(range(1, 65)) AS d) dd),
       |m AS (SELECT cid, d,
       |        list_reduce(list_prepend(0.0, list(x ORDER BY vec_id)),
       |          (a, b) -> a + b) / COUNT(*) AS mx
       |      FROM dimx GROUP BY cid, d),
       |c2 AS (SELECT cid, list(mx ORDER BY d) AS cv FROM m GROUP BY cid),
       |c2n AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM c2),
       |asg2 AS (
       |  SELECT vec_id, v, nrm, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY list_dot_product(v, cv) / (nrm * cnrm) DESC, cid) AS rn
       |  FROM n CROSS JOIN c2n),
       |nb2 AS (SELECT vec_id, v, nrm, cid FROM asg2 WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, cid FROM nb2
       |      WHERE vec_id < 20),
       |scored AS (
       |  SELECT query_id, nb2.vec_id AS neighbor_id,
       |    list_dot_product(qv, v) / (qnrm * nrm) AS cosine
       |  FROM q JOIN nb2 USING (cid) WHERE nb2.vec_id <> query_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM scored)
       |SELECT query_id, neighbor_id, cosine, rnk FROM ranked
       |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
    val n = normed(s, dir)
    val c = n.filter(col("vec_id") % 50 === 0 && col("vec_id") < IvfCentroidCap)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val nb = assignNearest(n, c)
    // Lloyd update — per-(cluster, dimension) mean with a vec_id-ordered
    // sequential fold (IEEE addition order pinned on both engines);
    // shared with the general ops.KMeans loop so the fold can't drift
    val c2 = graft.ops.KMeans.foldMeans(nb, "vec_id", "cid", "v")
      .withColumn("cnrm", Vectors.norm2(col("cv")))
    val nb2 = assignNearest(n, c2)
    val q = nb2.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("cid"))
    val scored = broadcast(q).join(nb2, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Vectors.cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id", "cosine", "rnk")
      .orderBy("query_id", "rnk")
  }

  // Random-hyperplane LSH ANN: 8 sign bits of dot products against
  // deterministic pseudo-random hyperplanes (integer LCG → exact in
  // both engines), bucket on the 8-bit signature, search bucket-local.
  // At scale: signature computation is one codegen'd projection pass;
  // the bucket join shuffles on an int key.
  private val B = 8  // signature bits
  private val D = 64 // embedding dim

  /** Hyperplane component: lcg(j*D + i + 1) scaled to [-1, 1). Exact
    * integer arithmetic + one exact division — reproducible in SQL.
    */
  private def lcg(x: Long): Long = (1103515245L * x + 12345L) % 2147483648L
  private def plane(j: Int): Seq[Double] =
    (0 until D).map(i => lcg(j.toLong * D + i + 1) / 2147483648.0 * 2 - 1)

  private def planeSqlList(j: Int): String =
    s"list_transform(range(0, $D), i -> " +
      s"((1103515245 * ($j * $D + i + 1) + 12345) % 2147483648) / 2147483648.0 * 2 - 1)"

  /** 8-bit signature over planes `t*B .. t*B+B-1` — table 0 is the
    * single-table query's signature; tables 1..T−1 exist for
    * OR-amplification ([[annLshMulti]]).
    */
  private def bucketSqlFor(t: Int): String = (0 until B).map(j =>
    s"(CASE WHEN list_dot_product(v, ${planeSqlList(t * B + j)}) > 0 THEN ${1 << j} ELSE 0 END)")
    .mkString(" + ")
  private val bucketSql = bucketSqlFor(0)

  /** Normed corpus with its 8-bit hyperplane LSH bucket — the exact
    * signature `q_ann_lsh` / `q_embed_neardup_lsh` search with. Shared
    * with `AnnRecallSpec`'s enrichment floor (core.AccuracySpecs) so the
    * measured hash is the served hash, not a re-derivation that could
    * drift.
    */
  private[graft] def lshBucketed(s: SparkSession, dir: String): DataFrame = {
    val bucket = (0 until B).map { j =>
      val h = array(plane(j).map(lit): _*)
      when(Vectors.dot(col("v"), h) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
    normed(s, dir).withColumn("bucket", bucket)
  }

  val annLsh: QueryDef = QueryDef.sql("q_ann_lsh")(
    s"""WITH n AS ($normedSql),
       |b AS (SELECT vec_id, v, nrm, $bucketSql AS bucket FROM n),
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, bucket FROM b
       |      WHERE vec_id < 20),
       |scored AS (
       |  SELECT query_id, b.vec_id AS neighbor_id,
       |    list_dot_product(qv, v) / (qnrm * nrm) AS cosine
       |  FROM q JOIN b USING (bucket) WHERE b.vec_id <> query_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM scored)
       |SELECT query_id, neighbor_id, cosine, rnk FROM ranked
       |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
    val b = lshBucketed(s, dir)
    val q = b.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("bucket"))
    val scored = broadcast(q).join(b, "bucket")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Vectors.cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id", "cosine", "rnk")
      .orderBy("query_id", "rnk")
  }

  // LSH-bucketed near-dup: the scale path for q_embed_neardup — pairs
  // only form inside a bucket (equi-join on the signature), so the
  // pairwise compare is bucket-local instead of O(n²). Recall is bounded
  // by the signature; the brute-force query remains the exact baseline.
  val embedNearDupLsh: QueryDef = QueryDef.sql("q_embed_neardup_lsh")(
    s"""WITH n AS ($normedSql),
       |b AS (SELECT vec_id, v, nrm, $bucketSql AS bucket FROM n)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
       |FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.3
       |ORDER BY vec_a, vec_b""".stripMargin) { (s, dir) =>
    val b = lshBucketed(s, dir)
    val a1 = b.select(col("bucket"), col("vec_id").as("vec_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b1 = b.select(col("bucket"), col("vec_id").as("vec_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    a1.join(b1, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        Vectors.cosine(col("va"), col("vb"), col("na"), col("nb")).as("cosine"))
      .filter(col("cosine") >= 0.3)
      .orderBy("vec_a", "vec_b")
  }

  // Multi-table OR-amplified LSH ANN: T independent 8-bit signature
  // tables (table t hashes with planes t·B..t·B+B−1 of the same LCG
  // family), candidates = the UNION of co-bucket members across
  // tables, then exact cosine re-rank of the candidate set. This is
  // the standard cure for single-table LSH's structural recall
  // ceiling: on a clustered corpus with within-cluster angle θ, one
  // B-bit table collides true neighbors with p = (1 − θ/π)^B (≈ 0.39
  // at θ≈20°, which is exactly where q_ann_lsh's clustered recall
  // tops out), while T OR'd tables recall 1 − (1 − p)^T (≈ 0.86 at
  // T=4) — amplification buys recall with LINEAR signature cost,
  // never widening any single bucket. At scale: signatures are one
  // codegen'd projection pass (T·B dot products against broadcast
  // literal planes, then one posexplode to (tbl, bucket) rows — the
  // corpus is scanned once, not T times); the candidate join keys on
  // (tbl, bucket) ints; the pair-dedup that implements the union is a
  // shuffle of ids+vectors, size bounded by T × bucket occupancy, and
  // the exact re-rank touches only deduped candidates.
  private val T = 4 // OR-amplification tables

  val annLshMulti: QueryDef = QueryDef.sql("q_ann_lsh_multi")(
    s"""WITH n AS ($normedSql),
       |sig AS (${(0 until T).map(t =>
             s"SELECT vec_id, v, nrm, $t AS tbl, ${bucketSqlFor(t)} AS bucket FROM n")
             .mkString("\n  UNION ALL\n  ")}),
       |q AS (SELECT vec_id AS query_id, tbl, bucket FROM sig WHERE vec_id < 20),
       |cand AS (SELECT DISTINCT query_id, s.vec_id AS neighbor_id
       |         FROM q JOIN sig s USING (tbl, bucket)
       |         WHERE s.vec_id <> query_id),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
       |  FROM cand JOIN n a ON a.vec_id = cand.query_id
       |            JOIN n b ON b.vec_id = cand.neighbor_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM scored)
       |SELECT query_id, neighbor_id, cosine, rnk FROM ranked
       |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
    val sig = lshMultiBucketed(s, dir)
    val q = sig.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("tbl"), col("bucket"))
    val cand = broadcast(q).join(sig, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      // the union across tables: one candidate row per (query,
      // neighbor) pair no matter how many tables it co-bucketed in.
      // The carried vector/norm columns are functionally dependent on
      // the ids, so which duplicate survives is value-irrelevant.
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("qv"), col("qnrm"), col("v"), col("nrm"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cand.select(col("query_id"), col("neighbor_id"),
      Vectors.cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id", "cosine", "rnk")
      .orderBy("query_id", "rnk")
  }

  /** Corpus exploded to one row per (vector, table) with that table's
    * 8-bit signature — all T signatures computed in a single scan
    * projection, then posexploded. Shared with AnnRecallSpec's
    * multi-table enrichment floor so the measured hash is the served
    * hash.
    */
  private[graft] def lshMultiBucketed(s: SparkSession, dir: String): DataFrame = {
    def bucketExpr(t: Int) = (0 until B).map { j =>
      val h = array(plane(t * B + j).map(lit): _*)
      when(Vectors.dot(col("v"), h) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
    normed(s, dir)
      .select(col("vec_id"), col("v"), col("nrm"),
        posexplode(array((0 until T).map(bucketExpr): _*)).as(Seq("tbl", "bucket")))
  }

  // Embedding-space outlier scoring: distance to the centroid of the
  // vector's own label group — the standard "mislabeled / off-manifold
  // sample" triage signal in training-data curation. Centroids come
  // from ops.KMeans.foldMeans (vec_id-ordered sequential fold → IEEE
  // sums pinned on both engines); per-vector distance folds the 64
  // dimensions in index order, so the doubles are bit-exact and need no
  // rounding. Top-5 farthest per label.
  val embedOutlier: QueryDef = QueryDef.sql("q_embed_outlier")(
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |dimx AS (SELECT label, vec_id, d, v[d] AS x
      |         FROM e CROSS JOIN (SELECT UNNEST(range(1, 65)) AS d) dd),
      |m AS (SELECT label, d,
      |        list_reduce(list_prepend(0.0, list(x ORDER BY vec_id)),
      |          (a, b) -> a + b) / COUNT(*) AS mx
      |      FROM dimx GROUP BY label, d),
      |c AS (SELECT label, list(mx ORDER BY d) AS cv FROM m GROUP BY label),
      |dist AS (
      |  SELECT vec_id, e.label,
      |    sqrt(list_reduce(list_prepend(0.0,
      |      list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))),
      |      (a, b) -> a + b)) AS dist
      |  FROM e JOIN c USING (label)),
      |ranked AS (SELECT *, ROW_NUMBER() OVER
      |  (PARTITION BY label ORDER BY dist DESC, vec_id) AS rnk FROM dist)
      |SELECT vec_id, label, dist, rnk FROM ranked
      |WHERE rnk <= 5 ORDER BY label, rnk""".stripMargin) { (s, dir) =>
    Vectors.register(s)
    val e = Tables.embeddings(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("label"), Vectors.toDouble(col("embedding")).as("v"))
    val cent = graft.ops.KMeans.foldMeans(e, "vec_id", "label", "v")
    val d = e.join(broadcast(cent), col("label") === col("cid"))
      .select(col("vec_id"), col("label"),
        sqrt(aggregate(zip_with(col("v"), col("cv"), (x, c) => (x - c) * (x - c)),
          lit(0.0), (a, x) => a + x)).as("dist"))
    val w = Window.partitionBy("label").orderBy(col("dist").desc, col("vec_id"))
    d.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("vec_id", "label", "dist", "rnk")
      .orderBy("label", "rnk")
  }

  // Int8 scalar quantization — the storage/IO lever for 100 TB ANN: a
  // 64-dim float32 vector compresses 4× (and the quantized dot product
  // runs on integers). Per-dimension min/max comes from one partial→
  // final aggregate over the exploded corpus (64 rows out), broadcast
  // back as two 64-element arrays; the quantize/reconstruct pass is
  // then a narrow codegen'd projection. Output per vector: the exact
  // integer norm of the quantized code (bit-exact across engines) and
  // the reconstruction MSE (dim-ordered IEEE fold). A degenerate
  // dimension (min = max) quantizes to 0 by convention on both engines.
  val vecQuantize: QueryDef = QueryDef.sql("q_vec_quantize")(
    s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |dx AS (SELECT vec_id, d, v[d] AS x
       |       FROM n CROSS JOIN (SELECT UNNEST(range(1, 65)) AS d) dd),
       |mm AS (SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM dx GROUP BY d),
       |mml AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM mm),
       |q AS (SELECT vec_id,
       |    list_transform(range(1, 65), i -> CASE WHEN mxs[i] = mns[i] THEN 0
       |      ELSE CAST(round((v[i] - mns[i]) / (mxs[i] - mns[i]) * 255) AS BIGINT) - 128
       |      END) AS code,
       |    v, mns, mxs
       |  FROM n CROSS JOIN mml)
       |SELECT vec_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(code, c -> c * c)), (a, b) -> a + b) AS qnorm,
       |  list_reduce(list_prepend(0.0, list_transform(range(1, 65), i ->
       |    CASE WHEN mxs[i] = mns[i] THEN 0.0 ELSE
       |      (v[i] - ((CAST(code[i] + 128 AS DOUBLE)) / 255 * (mxs[i] - mns[i]) + mns[i]))
       |      * (v[i] - ((CAST(code[i] + 128 AS DOUBLE)) / 255 * (mxs[i] - mns[i]) + mns[i]))
       |    END)), (a, b) -> a + b) / 64 AS mse
       |FROM q ORDER BY vec_id""".stripMargin) { (s, dir) =>
    Vectors.register(s)
    val n = Tables.embeddings(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), Vectors.toDouble(col("embedding")).as("v"))
    val mm = n.select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy("d").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(transform(sort_array(collect_list(struct(col("d"), col("mn")))),
          p => p.getField("mn")).as("mns"),
        transform(sort_array(collect_list(struct(col("d"), col("mx")))),
          p => p.getField("mx")).as("mxs"))
    val q = n.crossJoin(broadcast(mm))
      .withColumn("code", transform(sequence(lit(0), lit(63)), i =>
        when(element_at(col("mxs"), i + 1) === element_at(col("mns"), i + 1), lit(0L))
          .otherwise(
            round((element_at(col("v"), i + 1) - element_at(col("mns"), i + 1)) /
              (element_at(col("mxs"), i + 1) - element_at(col("mns"), i + 1)) * 255)
              .cast("long") - 128L)))
    def recon(i: org.apache.spark.sql.Column) =
      (element_at(col("code"), i + 1).cast("double") + 128.0) / 255.0 *
        (element_at(col("mxs"), i + 1) - element_at(col("mns"), i + 1)) +
        element_at(col("mns"), i + 1)
    q.select(col("vec_id"),
        aggregate(transform(col("code"), c => c * c), lit(0L), (a, x) => a + x)
          .as("qnorm"),
        (aggregate(transform(sequence(lit(0), lit(63)), i =>
            when(element_at(col("mxs"), i + 1) === element_at(col("mns"), i + 1), lit(0.0))
              .otherwise((element_at(col("v"), i + 1) - recon(i)) *
                (element_at(col("v"), i + 1) - recon(i)))),
          lit(0.0), (a, x) => a + x) / 64).as("mse"))
      .orderBy("vec_id")
  }

  // Product quantization encode — the memory-bound ANN compression
  // (Jégou et al., "Product Quantization for Nearest Neighbor Search"):
  // the 64-dim vector splits into 8 subspaces of 8 dims; each subvector
  // is assigned to its nearest codebook centroid (here: the first 8
  // vectors' subvectors, a deterministic seed codebook — training them
  // further is ops.KMeans per subspace), so a vector stores as 8 small
  // codes. Scale shape: the 64-row codebook broadcasts; assignment is a
  // map-side min_by aggregation over corpus × codebook rows keyed by
  // (vec, subspace) — the corpus never shuffles with its payload, and
  // the quantization error is a subspace-ordered IEEE fold.
  val pqCodes: QueryDef = QueryDef.sql("q_pq_codes")(
    s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |ss AS (SELECT UNNEST(range(0, 8)) AS s),
       |sub AS (SELECT vec_id, s,
       |          list_transform(range(1, 9), j -> v[s * 8 + j]) AS sv
       |        FROM n CROSS JOIN ss),
       |cb AS (SELECT n.vec_id AS cid, s,
       |          list_transform(range(1, 9), j -> v[s * 8 + j]) AS cs
       |        FROM n CROSS JOIN ss WHERE n.vec_id < 8),
       |d AS (SELECT vec_id, sub.s, cid,
       |        list_reduce(list_prepend(0.0, list_transform(range(1, 9),
       |          j -> (sv[j] - cs[j]) * (sv[j] - cs[j]))), (a, b) -> a + b) AS d2
       |      FROM sub JOIN cb ON sub.s = cb.s),
       |best AS (SELECT vec_id, s, cid, d2, ROW_NUMBER() OVER
       |  (PARTITION BY vec_id, s ORDER BY d2, cid) AS rn FROM d)
       |SELECT vec_id,
       |  array_to_string(list(cid ORDER BY s), '-') AS code,
       |  list_reduce(list_prepend(0.0, list(d2 ORDER BY s)), (a, b) -> a + b) AS qerr
       |FROM best WHERE rn = 1 GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (s, dir) =>
    Vectors.register(s)
    val n = Tables.embeddings(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), Vectors.toDouble(col("embedding")).as("v"))
    def subspaces(df: DataFrame, idOut: String) = df
      .withColumn("s", explode(sequence(lit(0), lit(7))))
      .select(col("vec_id").as(idOut), col("s"),
        slice(col("v"), col("s") * 8 + 1, lit(8)).as(if (idOut == "cid") "cs" else "sv"))
    val sub = subspaces(n, "vec_id")
    val cb = subspaces(n.filter(col("vec_id") < 8), "cid")
    val d2 = aggregate(zip_with(col("sv"), col("cs"), (x, c) => (x - c) * (x - c)),
      lit(0.0), (a, x) => a + x)
    val best = sub.join(broadcast(cb), "s")
      .select(col("vec_id"), col("s"), col("cid"), d2.as("d2"))
      .groupBy("vec_id", "s")
      .agg(min_by(struct(col("cid"), col("d2")), struct(col("d2"), col("cid"))).as("b"))
      .select(col("vec_id"), col("s"), col("b.cid").as("cid"), col("b.d2").as("d2"))
    best.groupBy("vec_id")
      .agg(
        concat_ws("-", transform(
          sort_array(collect_list(struct(col("s"), col("cid")))),
          p => p.getField("cid").cast("string"))).as("code"),
        aggregate(transform(
            sort_array(collect_list(struct(col("s"), col("d2")))),
            p => p.getField("d2")),
          lit(0.0), (a, x) => a + x).as("qerr"))
      .orderBy("vec_id")
  }

  // SemDeDup-style semantic dedup: k-means-cluster the embeddings
  // (ops.KMeans.fit, 3 Lloyd rounds — the SAME trained clustering
  // q_kmeans_fit hash-pins), then compare pairs WITHIN a cluster only
  // and flag the higher-id member of every pair above the cosine
  // threshold. This is the scale path for embedding dedup: candidate
  // generation is a co-partitioned equi-join on cluster id, so total
  // work is Σ|cluster|² ≪ n² and no task ever sees the corpus — and
  // that only holds if the cluster count GROWS with the data to cap
  // per-cluster size: k = ops.KMeans.adaptiveK(n) (n/256 in [8, 4096];
  // the fixed k=8 this replaced measured 47× wall at 10× data on the
  // sf10 run — per-cluster size ∝ n turns the pair join back into
  // n²/k). The floor keeps sf≤0.1 results and oracle hashes
  // bit-unchanged.
  // Recall vs the exact all-pairs baseline (q_embed_neardup) is the
  // deliberate trade: pairs split across clusters are missed.
  val semanticDedup: QueryDef = QueryDef.pinned("q_semantic_dedup")(
    s"""${Sketches.kmeansAssignCte},
       |mem AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members
       |        FROM nbf GROUP BY cid),
       |pr AS (SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b
       |       FROM nbf a JOIN nbf b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |       WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4),
       |agg AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |        CAST(COUNT(DISTINCT id_b) AS BIGINT) AS n_dups
       |        FROM pr GROUP BY cid)
       |SELECT mem.cid AS cid, mem.n_members,
       |  COALESCE(agg.n_pairs, CAST(0 AS BIGINT)) AS n_pairs,
       |  COALESCE(agg.n_dups, CAST(0 AS BIGINT)) AS n_dups
       |FROM mem LEFT JOIN agg ON mem.cid = agg.cid
       |ORDER BY mem.cid""".stripMargin) { (s, dir, pins) =>
    val vecs = normed(s, dir)
    val (asg, _) = graft.ops.KMeans.fit(
      vecs.select("vec_id", "v"), "vec_id", "v",
      k = graft.ops.KMeans.adaptiveK(vecs.count()), rounds = 3, pins)
    val members = asg.join(vecs, asg("id") === vecs("vec_id"))
      .select(col("cid"), col("vec_id"), col("v"), col("nrm"))
    val mem = members.groupBy("cid").agg(count(lit(1)).as("n_members"))
    val a = members.select(col("cid"), col("vec_id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = members.select(col("cid"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val agg = a.join(b, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .filter(Vectors.cosine(col("va"), col("vb"), col("na"), col("nb")) >= 0.4)
      .groupBy("cid")
      .agg(count(lit(1)).as("n_pairs"), count_distinct(col("id_b")).as("n_dups"))
    mem.join(agg, Seq("cid"), "left")
      .select(col("cid"), col("n_members"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"))
      .orderBy("cid")
  }

  // Matryoshka-style truncation evaluation: retrieval quality of the
  // FIRST-32-dims prefix vs the full 64-dim embedding — the measurement
  // behind "store the short prefix, rerank with the full vector" index
  // layouts (MRL). Per query: how many of the full top-5 the truncated
  // top-5 recovers, and whether rank 1 agrees. Integer-only output
  // (overlap counts, not cosines) makes the hash gate trivially
  // ulp-proof; the cosine ORDERING itself still matches cross-engine
  // because both sides share the bit-identical sequential-fold dot
  // product. Scale shape: the 20-query side broadcasts twice (full and
  // truncated), the corpus is scanned once per representation, and both
  // top-5s are WindowGroupLimit-prefiltered per query.
  val embedTruncatedRecall: QueryDef = {
    val kDims = 32
    QueryDef.sql("q_embed_truncated_recall")(
      s"""WITH n AS ($normedSql),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n
         |      WHERE vec_id < 20),
         |fullr AS (
         |  SELECT query_id, n.vec_id AS nb, ROW_NUMBER() OVER
         |      (PARTITION BY query_id
         |       ORDER BY list_dot_product(qv, v) / (qnrm * nrm) DESC, n.vec_id)
         |    AS rnk
         |  FROM q CROSS JOIN n WHERE n.vec_id <> query_id),
         |f5 AS (SELECT query_id, nb, rnk FROM fullr WHERE rnk <= 5),
         |tq AS (SELECT query_id, qv[1:$kDims] AS qtv,
         |         sqrt(list_dot_product(qv[1:$kDims], qv[1:$kDims])) AS qtnrm
         |       FROM q),
         |tn AS (SELECT vec_id, v[1:$kDims] AS tv,
         |         sqrt(list_dot_product(v[1:$kDims], v[1:$kDims])) AS tnrm
         |       FROM n),
         |truncr AS (
         |  SELECT t.query_id, tn.vec_id AS nb, ROW_NUMBER() OVER
         |      (PARTITION BY t.query_id
         |       ORDER BY list_dot_product(qtv, tv) / (qtnrm * tnrm) DESC, tn.vec_id)
         |    AS rnk
         |  FROM tq t CROSS JOIN tn WHERE tn.vec_id <> t.query_id),
         |t5 AS (SELECT query_id, nb, rnk FROM truncr WHERE rnk <= 5)
         |SELECT f.query_id, CAST(COUNT(t.nb) AS BIGINT) AS n_common,
         |  CAST(MAX(CASE WHEN f.rnk = 1 AND t.rnk = 1 THEN 1 ELSE 0 END) AS INT)
         |    AS top1_match
         |FROM f5 f LEFT JOIN t5 t ON f.query_id = t.query_id AND f.nb = t.nb
         |GROUP BY f.query_id ORDER BY f.query_id""".stripMargin) { (s, dir) =>
      val n = normed(s, dir)
      def top5(corpus: DataFrame, q: DataFrame): DataFrame = {
        val scored = broadcast(q).crossJoin(corpus)
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("nb"),
            Vectors.cosine(col("qv"), col("v"), col("qnrm"), col("nrm"))
              .as("cosine"))
        val w = Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("nb"))
        scored.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5).select("query_id", "nb", "rnk")
      }
      val q = n.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qnrm"))
      val tn = n.select(col("vec_id"), slice(col("v"), 1, kDims).as("v"))
        .withColumn("nrm", Vectors.norm2(col("v")))
      val tq = q.select(col("query_id"), slice(col("qv"), 1, kDims).as("qv"))
        .withColumn("qnrm", Vectors.norm2(col("qv")))
      val f5 = top5(n, q)
      val t5 = top5(tn, tq)
        .withColumnRenamed("rnk", "trnk")
      f5.join(t5, Seq("query_id", "nb"), "left")
        .groupBy("query_id")
        .agg(count(col("trnk")).as("n_common"),
          max(when(col("rnk") === 1 && col("trnk") === 1, 1).otherwise(0))
            .cast("int").as("top1_match"))
        .orderBy("query_id")
    }
  }

  // Hybrid retrieval via reciprocal-rank fusion (Cormack et al. 2009):
  // the standard way modern search stacks combine a lexical ranker with
  // a dense one. The BM25 top-20 (shared relation with
  // q_bm25_retrieval — the lexical scorer literally cannot drift
  // between the plain and hybrid retrievers) and the cosine top-20 are
  // full-outer-joined per (query, doc); each side contributes
  // 1/(60 + rank), a missing side contributes 0. RRF works on RANKS,
  // not scores, so the two retrievers' incomparable score scales never
  // touch — only two exact-integer reciprocals and one fixed-order sum
  // cross the hash. Fusion is rank-domain algebra over two top-k
  // relations (k rows per query each), so its cost is negligible next
  // to the retrievers it fuses — the scale path is theirs.
  val rrfFusion: QueryDef = QueryDef.pinned("q_rrf_fusion")(
    s"""WITH ${TextAnalysis.bm25RankedCte},
       |n AS ($normedSql),
       |dq AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 5),
       |ds AS (SELECT query_id, n.vec_id AS doc_id,
       |         list_dot_product(qv, v) / (qnrm * nrm) AS cosine
       |       FROM dq CROSS JOIN n WHERE n.vec_id <> query_id),
       |dr AS (SELECT query_id, doc_id, ROW_NUMBER() OVER
       |        (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS drnk FROM ds),
       |lex AS (SELECT query_id, doc_id, rnk AS lrnk FROM bm25r WHERE rnk <= 20),
       |den AS (SELECT query_id, doc_id, drnk FROM dr WHERE drnk <= 20),
       |fused AS (
       |  SELECT COALESCE(lex.query_id, den.query_id) AS query_id,
       |    COALESCE(lex.doc_id, den.doc_id) AS doc_id,
       |    ROUND(COALESCE(CAST(1 AS DOUBLE) / (60 + lrnk), 0)
       |        + COALESCE(CAST(1 AS DOUBLE) / (60 + drnk), 0), 6) AS rrf
       |  FROM lex FULL OUTER JOIN den
       |    ON lex.query_id = den.query_id AND lex.doc_id = den.doc_id),
       |fr AS (SELECT *, ROW_NUMBER() OVER
       |  (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rnk FROM fused)
       |SELECT query_id, doc_id, rrf, rnk FROM fr WHERE rnk <= 10
       |ORDER BY query_id, rnk""".stripMargin) { (s, dir, pins) =>
    val bm25 = TextAnalysis.bm25Ranked(s, dir, pins)
    val lex = bm25.filter(col("rnk") <= 20)
      .select(col("query_id").as("l_q"), col("doc_id").as("l_d"),
        col("rnk").as("lrnk"))
    val n = normed(s, dir)
    val dq = n.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val ds = broadcast(dq).crossJoin(n)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        Vectors.cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cosine"))
    val dw = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("doc_id"))
    val den = ds.withColumn("drnk", row_number().over(dw))
      .filter(col("drnk") <= 20)
      .select(col("query_id").as("d_q"), col("doc_id").as("d_d"), col("drnk"))
    val fused = lex.join(den,
        col("l_q") === col("d_q") && col("l_d") === col("d_d"), "full_outer")
      .select(
        coalesce(col("l_q"), col("d_q")).as("query_id"),
        coalesce(col("l_d"), col("d_d")).as("doc_id"),
        round(
          coalesce(lit(1).cast("double") / (lit(60) + col("lrnk")), lit(0.0)) +
            coalesce(lit(1).cast("double") / (lit(60) + col("drnk")), lit(0.0)),
          6).as("rrf"))
    val fw = Window.partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rnk", row_number().over(fw))
      .filter(col("rnk") <= 10)
      .select("query_id", "doc_id", "rrf", "rnk")
      .orderBy("query_id", "rnk")
  }

  // Incremental top-k refinement (the retrieved EDBT 2020 theme:
  // interactive analysis sessions deepen k against the same query).
  // The expensive corpus pass runs ONCE and materializes a top-20
  // candidate set per query; the session's deepen-to-10 is then a
  // candidate-local re-rank. Correctness is structural — with a total
  // tie-broken order, a top-K set is a prefix superset of every
  // k' ≤ K — which is exactly what the direct-top-10 oracle verifies.
  // At 100 TB the candidate store is the only thing an interactive
  // session re-touches; the corpus is scanned once per query batch,
  // not once per k.
  val annTopkRefine: QueryDef = QueryDef.sql("q_ann_topk_refine")(
    s"""WITH n AS ($normedSql),
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 20),
       |scored AS (
       |  SELECT query_id, n.vec_id AS neighbor_id,
       |    list_dot_product(qv, v) / (qnrm * nrm) AS cosine
       |  FROM q CROSS JOIN n WHERE n.vec_id <> query_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM scored)
       |SELECT query_id, neighbor_id, cosine, rnk FROM ranked
       |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
    val n = normed(s, dir)
    val q = n.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    val top20 = broadcast(q).crossJoin(n)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Vectors.cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 20)
      .drop("rnk")
    val candidates = graft.core.Spill.materialize(top20) // the session store
    candidates
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select("query_id", "neighbor_id", "cosine", "rnk")
      .orderBy("query_id", "rnk")
  }

  // MMR diversity re-rank (Carbonell & Goldstein 1998) — the RAG
  // retrieval op that trades relevance against redundancy: after
  // candidate generation, greedily pick k=3 of 8 candidates maximizing
  // λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s), λ = 0.7. The ONLY
  // corpus-scale stage is candidate generation (broadcast queries,
  // map-side cosine, WindowGroupLimit top-8 — the q_embed_topk shape);
  // the greedy loop, inherently sequential, is unrolled over the
  // 8-row-per-query candidate relation whose size is k-bound, not
  // corpus-bound — re-rank cost is independent of corpus size, which
  // is what makes MMR deployable at 100 TB. Relevances and pairwise
  // sims are the same bit-identical cosine folds as every other
  // embedding query; each round's score rounds to 6 decimals BEFORE
  // its argmax so the pick cannot flip on a ulp (tie → lowest id).
  val mmrRerank: QueryDef = QueryDef.sql("q_mmr_rerank")(
    s"""WITH n AS ($normedSql),
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 20),
       |scored AS (
       |  SELECT query_id, n.vec_id AS cid,
       |    list_dot_product(qv, v) / (qnrm * nrm) AS rel
       |  FROM q CROSS JOIN n WHERE n.vec_id <> query_id),
       |cand AS (SELECT query_id, cid, rel FROM (
       |    SELECT *, ROW_NUMBER() OVER
       |      (PARTITION BY query_id ORDER BY rel DESC, cid) AS rc
       |    FROM scored) t WHERE rc <= 8),
       |cv AS (SELECT c.query_id, c.cid, c.rel, n.v, n.nrm
       |       FROM cand c JOIN n ON n.vec_id = c.cid),
       |ps AS (SELECT a.query_id, a.cid AS ca, b.cid AS cb,
       |         list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS sim
       |       FROM cv a JOIN cv b
       |         ON a.query_id = b.query_id AND a.cid <> b.cid),
       |s1 AS (SELECT query_id, cid, rel FROM (
       |    SELECT *, ROW_NUMBER() OVER
       |      (PARTITION BY query_id ORDER BY rel DESC, cid) AS rn
       |    FROM cand) t WHERE rn = 1),
       |m2 AS (SELECT c.query_id, c.cid,
       |         ROUND(0.7 * c.rel - 0.3 * p.sim, 6) AS mmr
       |       FROM cand c
       |       JOIN s1 ON s1.query_id = c.query_id AND c.cid <> s1.cid
       |       JOIN ps p ON p.query_id = c.query_id
       |         AND p.ca = c.cid AND p.cb = s1.cid),
       |s2 AS (SELECT query_id, cid, mmr FROM (
       |    SELECT *, ROW_NUMBER() OVER
       |      (PARTITION BY query_id ORDER BY mmr DESC, cid) AS rn
       |    FROM m2) t WHERE rn = 1),
       |m3 AS (SELECT c.query_id, c.cid,
       |         ROUND(0.7 * c.rel - 0.3 * GREATEST(p1.sim, p2.sim), 6) AS mmr
       |       FROM cand c
       |       JOIN s1 ON s1.query_id = c.query_id AND c.cid <> s1.cid
       |       JOIN s2 ON s2.query_id = c.query_id AND c.cid <> s2.cid
       |       JOIN ps p1 ON p1.query_id = c.query_id
       |         AND p1.ca = c.cid AND p1.cb = s1.cid
       |       JOIN ps p2 ON p2.query_id = c.query_id
       |         AND p2.ca = c.cid AND p2.cb = s2.cid),
       |s3 AS (SELECT query_id, cid, mmr FROM (
       |    SELECT *, ROW_NUMBER() OVER
       |      (PARTITION BY query_id ORDER BY mmr DESC, cid) AS rn
       |    FROM m3) t WHERE rn = 1)
       |SELECT query_id, 1 AS rnk, cid AS vec_id, ROUND(0.7 * rel, 6) AS score FROM s1
       |UNION ALL SELECT query_id, 2, cid, mmr FROM s2
       |UNION ALL SELECT query_id, 3, cid, mmr FROM s3
       |ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
    val n = normed(s, dir)
    val q = n.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = broadcast(q).crossJoin(n)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cid"),
        Vectors.cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("rel"))
    val byRel = Window.partitionBy("query_id").orderBy(col("rel").desc, col("cid"))
    val cand = scored.withColumn("rc", row_number().over(byRel))
      .filter(col("rc") <= 8).select("query_id", "cid", "rel")
    // candidate vectors + the 8×7-per-query pairwise sim matrix: both
    // k-bound relations — broadcast them, never shuffle the corpus again
    val cv = broadcast(cand).join(n, col("cid") === col("vec_id"))
      .select(col("query_id"), col("cid"), col("rel"), col("v"), col("nrm"))
    val ps = cv.as("a").join(broadcast(cv.as("b")),
        col("a.query_id") === col("b.query_id") && col("a.cid") =!= col("b.cid"))
      .select(col("a.query_id").as("query_id"), col("a.cid").as("ca"),
        col("b.cid").as("cb"),
        Vectors.cosine(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")).as("sim"))
    val s1 = cand.withColumn("rn", row_number().over(byRel)).filter(col("rn") === 1)
      .select(col("query_id"), col("cid").as("s1"), col("rel").as("rel1"))
    val ps1 = ps.select(col("query_id"), col("ca").as("cid"),
      col("cb").as("s1"), col("sim").as("sim1"))
    val m2 = cand.join(s1, Seq("query_id")).filter(col("cid") =!= col("s1"))
      .join(ps1, Seq("query_id", "cid", "s1"))
      .withColumn("mmr", round(lit(0.7) * col("rel") - lit(0.3) * col("sim1"), 6))
    val byMmr = Window.partitionBy("query_id").orderBy(col("mmr").desc, col("cid"))
    val s2 = m2.withColumn("rn", row_number().over(byMmr)).filter(col("rn") === 1)
      .select(col("query_id"), col("cid").as("s2"), col("mmr").as("score2"))
    val ps2 = ps.select(col("query_id"), col("ca").as("cid"),
      col("cb").as("s2"), col("sim").as("sim2"))
    val m3 = cand.join(s1, Seq("query_id")).filter(col("cid") =!= col("s1"))
      .join(s2, Seq("query_id")).filter(col("cid") =!= col("s2"))
      .join(ps1, Seq("query_id", "cid", "s1"))
      .join(ps2, Seq("query_id", "cid", "s2"))
      .withColumn("mmr", round(
        lit(0.7) * col("rel") - lit(0.3) * greatest(col("sim1"), col("sim2")), 6))
    val s3 = m3.withColumn("rn", row_number().over(byMmr)).filter(col("rn") === 1)
      .select(col("query_id"), col("cid").as("s3"), col("mmr").as("score3"))
    s1.select(col("query_id"), lit(1).as("rnk"), col("s1").as("vec_id"),
        round(lit(0.7) * col("rel1"), 6).as("score"))
      .unionByName(s2.select(col("query_id"), lit(2).as("rnk"),
        col("s2").as("vec_id"), col("score2").as("score")))
      .unionByName(s3.select(col("query_id"), lit(3).as("rnk"),
        col("s3").as("vec_id"), col("score3").as("score")))
      .orderBy("query_id", "rnk")
  }

  // Hard-negative mining for contrastive/retrieval training: for each
  // query vector, the top-5 most similar vectors with a DIFFERENT
  // label — the highest-loss negatives a trainer wants in the batch.
  // Same plan shape as q_embed_topk (tiny broadcast query side, corpus
  // streams map-side, WindowGroupLimit top-k per query); the label
  // inequality is just one more pushed filter on the joined row, so the
  // 100 TB cost is identical to plain top-k retrieval. Cosines are
  // dim-ordered folds — bit-identical to DuckDB, no rounding.
  val hardNegatives: QueryDef = QueryDef.sql("q_hard_negatives")(
    """WITH n AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
      |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv, nrm AS qnrm
      |      FROM n WHERE vec_id < 20),
      |scored AS (
      |  SELECT query_id, n.vec_id AS neighbor_id, n.label AS neg_label,
      |    list_dot_product(qv, v) / (qnrm * nrm) AS cosine
      |  FROM q CROSS JOIN n WHERE n.label <> qlabel),
      |ranked AS (SELECT *, ROW_NUMBER() OVER
      |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM scored)
      |SELECT query_id, neighbor_id, neg_label, cosine, rnk FROM ranked
      |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
    Vectors.register(s)
    val n = Tables.embeddings(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("label"), Vectors.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", Vectors.norm2(col("v")))
    val q = n.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = broadcast(q).crossJoin(n)
      .filter(col("label") =!= col("qlabel"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("label").as("neg_label"),
        Vectors.cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("query_id", "neighbor_id", "neg_label", "cosine", "rnk")
      .orderBy("query_id", "rnk")
  }

  // Embedding distribution drift between two corpus snapshots (half A =
  // even vec_ids, half B = odd — the deterministic stand-in for
  // "yesterday's corpus vs today's"): per-label centroid of each half,
  // then the cosine between the two centroids and the L2 shift. The
  // drift monitor a production embedding pipeline runs nightly — a
  // label whose centroid cosine drops signals upstream distribution
  // change. Centroids are vec_id-ordered sequential folds
  // (KMeans.foldMeans on a composite label⋅2+half key), so every double
  // is bit-identical to the oracle; the final cosine/shift fold in dim
  // order likewise — no rounding anywhere. Cost: one partial→final
  // aggregate over the exploded corpus (2·|labels|·64 rows out), then
  // arithmetic on the tiny centroid relation.
  val embedDrift: QueryDef = QueryDef.sql("q_embed_drift")(
    """WITH e AS (SELECT vec_id, label, vec_id % 2 AS half,
      |             CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |dimx AS (SELECT label, half, vec_id, d, v[d] AS x
      |         FROM e CROSS JOIN (SELECT UNNEST(range(1, 65)) AS d) dd),
      |m AS (SELECT label, half, d,
      |        list_reduce(list_prepend(0.0, list(x ORDER BY vec_id)),
      |          (a, b) -> a + b) / COUNT(*) AS mx,
      |        COUNT(*) AS cnt
      |      FROM dimx GROUP BY label, half, d),
      |c AS (SELECT label, half, list(mx ORDER BY d) AS cv, MIN(cnt) AS cnt
      |      FROM m GROUP BY label, half)
      |SELECT a.label, a.cnt AS n_even, b.cnt AS n_odd,
      |  list_dot_product(a.cv, b.cv) /
      |    (sqrt(list_dot_product(a.cv, a.cv)) * sqrt(list_dot_product(b.cv, b.cv)))
      |    AS centroid_cosine,
      |  sqrt(list_reduce(list_prepend(0.0,
      |    list_transform(range(1, 65), i -> (a.cv[i] - b.cv[i]) * (a.cv[i] - b.cv[i]))),
      |    (x, y) -> x + y)) AS l2_shift
      |FROM c a JOIN c b ON a.label = b.label AND a.half = 0 AND b.half = 1
      |ORDER BY a.label""".stripMargin) { (s, dir) =>
    Vectors.register(s)
    val e = Tables.embeddings(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("label"),
        (col("label") * 2 + pmod(col("vec_id"), lit(2))).as("key"),
        Vectors.toDouble(col("embedding")).as("v"))
    val counts = e.groupBy("key").agg(count(lit(1)).as("cnt"))
    val cent = graft.ops.KMeans.foldMeans(e, "vec_id", "key", "v")
      .join(counts, col("cid") === col("key"))
      .select((col("cid") / 2).cast("int").as("label"),
        pmod(col("cid"), lit(2)).cast("int").as("half"), col("cv"), col("cnt"))
    val a = cent.filter(col("half") === 0)
      .select(col("label"), col("cv").as("cva"), col("cnt").as("n_even"))
    val b = cent.filter(col("half") === 1)
      .select(col("label"), col("cv").as("cvb"), col("cnt").as("n_odd"))
    a.join(b, "label")
      .select(col("label"), col("n_even"), col("n_odd"),
        Vectors.cosine(col("cva"), col("cvb"),
          Vectors.norm2(col("cva")), Vectors.norm2(col("cvb"))).as("centroid_cosine"),
        sqrt(aggregate(zip_with(col("cva"), col("cvb"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x)).as("l2_shift"))
      .orderBy("label")
  }

  // Binary (sign) quantization ANN: each 64-dim vector collapses to 64
  // SIGN BITS packed as two 32-bit words — 16 bytes of signature
  // instead of 512 bytes of doubles, a 32× smaller scan. Candidate
  // generation is hamming distance over the signatures (two XOR + two
  // POPCNT per pair — codegen'd integer ops, no float math), top-20
  // per query by (hamming, id); only those 20 candidates pay the exact
  // cosine rerank. This is the memory-bound regime's ANN: at 100 TB
  // the signature relation is what stays resident (16 B/vector), the
  // full vectors are fetched for the k'-bounded rerank only. Both
  // engines compute the signatures from the same 1-based component
  // sign tests, so the candidate cut is bit-identical; hamming is
  // emitted alongside cosine to pin the signature math itself.
  private def sigSqlWord(lo: Int): String =
    (0 until 32).map(j =>
      s"(CASE WHEN v[${lo + j + 1}] > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")

  private def sigColWord(lo: Int) =
    (0 until 32).map(j =>
      when(element_at(col("v"), lo + j + 1) > 0d, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)

  val annBinaryQuant: QueryDef = QueryDef.sql("q_ann_binary_quant")(
    s"""WITH n AS ($normedSql),
       |sg AS (SELECT vec_id, v, nrm,
       |         ${sigSqlWord(0)} AS sig_lo, ${sigSqlWord(32)} AS sig_hi
       |       FROM n),
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm,
       |        sig_lo AS q_lo, sig_hi AS q_hi
       |      FROM sg WHERE vec_id < 20),
       |ham AS (SELECT query_id, sg.vec_id AS neighbor_id, qv, qnrm, v, nrm,
       |          bit_count(xor(q_lo, sig_lo)) + bit_count(xor(q_hi, sig_hi)) AS hamming
       |        FROM q CROSS JOIN sg WHERE sg.vec_id <> query_id),
       |cand AS (SELECT *, ROW_NUMBER() OVER
       |  (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS hrnk FROM ham),
       |rerank AS (SELECT query_id, neighbor_id, CAST(hamming AS BIGINT) AS hamming,
       |             list_dot_product(qv, v) / (qnrm * nrm) AS cosine
       |           FROM cand WHERE hrnk <= 20),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM rerank)
       |SELECT query_id, neighbor_id, hamming, cosine, rnk FROM ranked
       |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
    val sg = normed(s, dir)
      .withColumn("sig_lo", sigColWord(0))
      .withColumn("sig_hi", sigColWord(32))
    val q = sg.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("sig_lo").as("q_lo"), col("sig_hi").as("q_hi"))
    val ham = broadcast(q).crossJoin(sg)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("qv"), col("qnrm"), col("v"), col("nrm"),
        (bit_count(col("q_lo").bitwiseXOR(col("sig_lo"))) +
          bit_count(col("q_hi").bitwiseXOR(col("sig_hi")))).as("hamming"))
    val hw = Window.partitionBy("query_id").orderBy(col("hamming"), col("neighbor_id"))
    val rerank = ham.withColumn("hrnk", row_number().over(hw))
      .filter(col("hrnk") <= 20)
      .select(col("query_id"), col("neighbor_id"),
        col("hamming").cast("long").as("hamming"),
        Vectors.cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    rerank.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id", "hamming", "cosine", "rnk")
      .orderBy("query_id", "rnk")
  }

  // PQ retrieval by ADC (asymmetric distance computation — Jégou et
  // al.): the corpus lives as 8 one-byte codes per vector
  // (q_pq_codes' encoding: 8 subspaces × the 8-centroid seed
  // codebook), and each query precomputes an 8×8 LOOKUP TABLE of
  // query-subvector · codebook-centroid dot products. Scoring a
  // corpus vector is then 8 table lookups + 7 adds — no float
  // vector math per candidate, which is why PQ is the RAM-resident
  // index for corpora whose raw vectors don't fit (at 100 TB: 8 B of
  // codes per vector vs 512 B of doubles, and the scan shape is one
  // pass over the n-row code relation crossed with the ≤20-row
  // broadcast query+LUT side — the corpus payload never shuffles;
  // candidate generation carries only (query_id, neighbor_id, adc)).
  // The ADC top-50 then pays the exact cosine rerank, so ranking
  // quality degrades only as far as the quantizer's distortion
  // misroutes the candidate cut (floored in AccuracySpecs.annFloors,
  // measured at scale by cli.RecallProbe). Both engines fold the LUT
  // partials in subspace order and each LUT cell in dimension order,
  // so adc is bit-identical cross-engine.
  val annPqAdc: QueryDef = QueryDef.sql("q_ann_pq_adc")(
    s"""WITH n AS ($normedSql),
       |ss AS (SELECT UNNEST(range(0, 8)) AS s),
       |cb AS (SELECT n.vec_id AS cid, s,
       |         list_transform(range(1, 9), j -> v[s * 8 + j]) AS cs
       |       FROM n CROSS JOIN ss WHERE n.vec_id < 8),
       |sub AS (SELECT vec_id, s,
       |          list_transform(range(1, 9), j -> v[s * 8 + j]) AS sv
       |        FROM n CROSS JOIN ss),
       |d AS (SELECT vec_id, sub.s, cid,
       |        list_reduce(list_prepend(0.0, list_transform(range(1, 9),
       |          j -> (sv[j] - cs[j]) * (sv[j] - cs[j]))), (a, b) -> a + b) AS d2
       |      FROM sub JOIN cb ON sub.s = cb.s),
       |code AS (SELECT vec_id, s, cid FROM (SELECT vec_id, s, cid,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
       |  FROM d) WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n
       |      WHERE vec_id < 20),
       |qsub AS (SELECT query_id, s,
       |           list_transform(range(1, 9), j -> qv[s * 8 + j]) AS qs
       |         FROM q CROSS JOIN ss),
       |lut AS (SELECT query_id, qsub.s, cid,
       |          list_reduce(list_prepend(0.0, list_transform(range(1, 9),
       |            j -> qs[j] * cs[j])), (a, b) -> a + b) AS lu
       |        FROM qsub JOIN cb ON qsub.s = cb.s),
       |adc AS (SELECT l.query_id, c.vec_id AS neighbor_id,
       |          list_reduce(list_prepend(0.0, list(l.lu ORDER BY c.s)),
       |            (a, b) -> a + b) AS adc
       |        FROM code c JOIN lut l ON c.s = l.s AND c.cid = l.cid
       |        WHERE c.vec_id <> l.query_id
       |        GROUP BY l.query_id, c.vec_id),
       |cand AS (SELECT *, ROW_NUMBER() OVER
       |  (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS arnk FROM adc),
       |rerank AS (SELECT cand.query_id, neighbor_id, adc,
       |             list_dot_product(qv, v) / (qnrm * nrm) AS cosine
       |           FROM cand JOIN q ON cand.query_id = q.query_id
       |           JOIN n ON n.vec_id = cand.neighbor_id
       |           WHERE arnk <= 50),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
       |  FROM rerank)
       |SELECT query_id, neighbor_id, adc, cosine, rnk FROM ranked
       |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
    val n = normed(s, dir)
    def subspaces(df: DataFrame, idOut: String, vecCol: String, out: String) = df
      .withColumn("s", explode(sequence(lit(0), lit(7))))
      .select(col(df.columns.head).as(idOut), col("s"),
        slice(col(vecCol), col("s") * 8 + 1, lit(8)).as(out))
    val cb = subspaces(n.filter(col("vec_id") < 8), "cid", "v", "cs")
    val sub = subspaces(n, "vec_id", "v", "sv")
    val d2 = aggregate(zip_with(col("sv"), col("cs"), (x, c) => (x - c) * (x - c)),
      lit(0.0), (a, x) => a + x)
    // corpus → one row per vector holding its 8 codes in subspace order
    val codes = sub.join(broadcast(cb), "s")
      .select(col("vec_id"), col("s"), col("cid"), d2.as("d2"))
      .groupBy("vec_id", "s")
      .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("cid"))
      .groupBy("vec_id")
      .agg(transform(sort_array(collect_list(struct(col("s"), col("cid")))),
        p => p.getField("cid")).as("code"))
    // query side: full vector + its 8×8 LUT (lut[s][cid], both sorted)
    val q = n.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val qsub = subspaces(
      q.select(col("query_id"), col("qv")), "query_id", "qv", "qs")
    val lut = qsub.join(broadcast(cb), "s")
      .select(col("query_id"), col("s"), col("cid"),
        aggregate(zip_with(col("qs"), col("cs"), (x, c) => x * c),
          lit(0.0), (a, x) => a + x).as("lu"))
      .groupBy("query_id", "s")
      .agg(transform(sort_array(collect_list(struct(col("cid"), col("lu")))),
        p => p.getField("lu")).as("lus"))
      .groupBy("query_id")
      .agg(transform(sort_array(collect_list(struct(col("s"), col("lus")))),
        p => p.getField("lus")).as("lut"))
    val qside = q.join(lut, "query_id")
    // ADC scan: n code rows × 20 broadcast queries, 8 lookups each;
    // the LUT partials fold in subspace order (IEEE-stable)
    val adc = codes.crossJoin(broadcast(qside))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("qv"), col("qnrm"),
        aggregate(
          transform(sequence(lit(0), lit(7)), i =>
            element_at(element_at(col("lut"), i + 1),
              element_at(col("code"), i + 1).cast("int") + 1)),
          lit(0.0), (a, x) => a + x).as("adc"))
    val aw = Window.partitionBy("query_id").orderBy(col("adc").desc, col("neighbor_id"))
    val rerank = adc.withColumn("arnk", row_number().over(aw))
      .filter(col("arnk") <= 50)
      .join(n.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm")),
        "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("adc"),
        Vectors.cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    rerank.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id", "adc", "cosine", "rnk")
      .orderBy("query_id", "rnk")
  }

  // RESIDUAL IVF-PQ (Jégou et al. §IV) — the production answer to the
  // quantized-recall cliff the r14 scale table measured: flat 64-bit
  // codes (binary-quant, plain PQ/ADC) collapse to 0.000 clustered
  // recall at 200k vectors because every member of a dense cluster
  // maps to near-identical codes and the ADC cut degenerates to an
  // id-ordered tie-break. The fix is structural, not a knob: the
  // COARSE quantizer (the IVF centroid grid, nlist ≤ 64) routes each
  // vector to its cell first, and PQ encodes the RESIDUAL v − c — the
  // within-cell offset, which is exactly the part flat codes lose.
  // Each query fans out to its nprobe=4 nearest cells; the LUT is per
  // (query, probed cell) because the query's residual q − c differs by
  // cell; scoring is 8 lookups + 7 adds of squared-L2 over the probed
  // cells' codes only. At 100 TB the shape is the IVF shape: one
  // broadcast-assign pass, an 8 B/vector (8 × log₂256-bit) code
  // relation co-partitioned on cell id, and an ≤80-row broadcast
  // query+LUT side — the raw vectors are touched only for the top-200
  // rerank. The residual codebook is TRAINED, deterministically: 256
  // seed residuals (vec_id < 256) per subspace, then ONE Lloyd round
  // over every residual subvector with KMeans.foldMeans' id-ordered
  // IEEE fold, empty cells dropped and survivors re-keyed densely per
  // subspace — the r15 capacity curve at 200k clustered (0.03 with 8
  // sampled codewords → 0.13 with 64 sampled → 0.28 with 64 trained →
  // 0.52 with 256 trained) is why sampling isn't enough: random
  // codewords cannot tile an 8-dim residual space. Every fold runs in
  // pinned order (Lloyd means in member-id order, LUT cells in
  // dimension order, ADC in subspace order) so adc_d2 is bit-identical
  // cross-engine. Recall floors: AccuracySpecs.annFloors; the
  // recall-at-scale row (cli.RecallProbe, RECALL_SCALE_r15.jsonl) is
  // the acceptance test — clustered recall ≥ 0.5 at 200k where flat
  // pq_adc holds 0.000.
  val annIvfPq: QueryDef = QueryDef.pinned("q_ann_ivfpq")(
    s"""WITH n AS ($normedSql),
       |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n
       |     WHERE vec_id % 50 = 0 AND vec_id < $IvfCentroidCap),
       |asg AS (
       |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY list_dot_product(v, cv) / (nrm * cnrm) DESC, cid) AS rn
       |  FROM n CROSS JOIN c),
       |bucket AS (SELECT vec_id, cid FROM asg WHERE rn = 1),
       |res AS (SELECT n.vec_id, bucket.cid,
       |          list_transform(range(1, 65), j -> v[j] - cv[j]) AS r
       |        FROM n JOIN bucket USING (vec_id) JOIN c USING (cid)),
       |ss AS (SELECT UNNEST(range(0, 8)) AS s),
       |sub AS (SELECT vec_id, cid, s,
       |          list_transform(range(1, 9), j -> r[s * 8 + j]) AS rv
       |        FROM res CROSS JOIN ss),
       |cb0 AS (SELECT res.vec_id AS k, s,
       |         list_transform(range(1, 9), j -> r[s * 8 + j]) AS cs
       |       FROM res CROSS JOIN ss WHERE res.vec_id < 256),
       |d0 AS (SELECT vec_id, sub.s, k,
       |        list_reduce(list_prepend(0.0, list_transform(range(1, 9),
       |          j -> (rv[j] - cs[j]) * (rv[j] - cs[j]))), (a, b) -> a + b) AS d2
       |      FROM sub JOIN cb0 ON sub.s = cb0.s),
       |a0 AS (SELECT vec_id, s, k FROM (SELECT vec_id, s, k,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, k) AS rn0
       |  FROM d0) WHERE rn0 = 1),
       |tr AS (SELECT a0.s, a0.k, j.j,
       |         list_reduce(list_prepend(0.0, list(sub.rv[j.j] ORDER BY sub.vec_id)),
       |           (a, b) -> a + b) / COUNT(*) AS mx
       |       FROM a0 JOIN sub ON sub.vec_id = a0.vec_id AND sub.s = a0.s
       |       CROSS JOIN (SELECT UNNEST(range(1, 9)) AS j) j
       |       GROUP BY a0.s, a0.k, j.j),
       |cb1 AS (SELECT s, ROW_NUMBER() OVER (PARTITION BY s ORDER BY k) AS k2,
       |          cs FROM (
       |        SELECT s, k, list(mx ORDER BY j) AS cs FROM tr GROUP BY s, k)),
       |d1 AS (SELECT vec_id, sub.s, k2,
       |        list_reduce(list_prepend(0.0, list_transform(range(1, 9),
       |          j -> (rv[j] - cs[j]) * (rv[j] - cs[j]))), (a, b) -> a + b) AS d2
       |      FROM sub JOIN cb1 ON sub.s = cb1.s),
       |code AS (SELECT vec_id, cid, s, k2 FROM (SELECT d1.vec_id, b.cid, s, k2,
       |    ROW_NUMBER() OVER (PARTITION BY d1.vec_id, s ORDER BY d2, k2) AS rn2
       |  FROM d1 JOIN bucket b ON b.vec_id = d1.vec_id) WHERE rn2 = 1),
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n
       |      WHERE vec_id < 20),
       |probe AS (SELECT vec_id AS query_id, cid FROM asg
       |          WHERE vec_id < 20 AND rn <= 4),
       |qres AS (SELECT query_id, probe.cid,
       |           list_transform(range(1, 65), j -> qv[j] - cv[j]) AS qr
       |         FROM probe JOIN q USING (query_id) JOIN c USING (cid)),
       |qsub AS (SELECT query_id, cid, s,
       |           list_transform(range(1, 9), j -> qr[s * 8 + j]) AS qs
       |         FROM qres CROSS JOIN ss),
       |lut AS (SELECT query_id, qsub.cid, qsub.s, k2,
       |          list_reduce(list_prepend(0.0, list_transform(range(1, 9),
       |            j -> (qs[j] - cs[j]) * (qs[j] - cs[j]))), (a, b) -> a + b) AS lu
       |        FROM qsub JOIN cb1 ON qsub.s = cb1.s),
       |adc AS (SELECT l.query_id, cd.vec_id AS neighbor_id,
       |          list_reduce(list_prepend(0.0, list(l.lu ORDER BY cd.s)),
       |            (a, b) -> a + b) AS adc_d2
       |        FROM code cd
       |        JOIN lut l ON cd.cid = l.cid AND cd.s = l.s AND cd.k2 = l.k2
       |        WHERE cd.vec_id <> l.query_id
       |        GROUP BY l.query_id, cd.vec_id),
       |cand AS (SELECT *, ROW_NUMBER() OVER
       |  (PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS arnk FROM adc),
       |rerank AS (SELECT cand.query_id, neighbor_id, adc_d2,
       |             list_dot_product(qv, v) / (qnrm * nrm) AS cosine
       |           FROM cand JOIN q ON cand.query_id = q.query_id
       |           JOIN n ON n.vec_id = cand.neighbor_id
       |           WHERE arnk <= 200),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
       |  FROM rerank)
       |SELECT query_id, neighbor_id, adc_d2, cosine, rnk FROM ranked
       |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin) { (s, dir, pins) =>
    val n = normed(s, dir)
    val c = n.filter(col("vec_id") % 50 === 0 && col("vec_id") < IvfCentroidCap)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    // coarse assignment (one cell per vector) + residual v − c
    val nb = assignNearest(n, c)
    // seeds, training members, and the encode pass
    val res = pins.persist(nb.join(broadcast(c), "cid")
      .select(col("vec_id"), col("cid"),
        zip_with(col("v"), col("cv"), (x, cc) => x - cc).as("r")))
    def subspaces(df: DataFrame, idOut: String, vecCol: String, out: String) = {
      val keep = col(df.columns.head).as(idOut) +:
        df.columns.tail.filterNot(_ == vecCol).map(col).toSeq
      df.withColumn("s", explode(sequence(lit(0), lit(7))))
        .select(keep ++ Seq(col("s"),
          slice(col(vecCol), col("s") * 8 + 1, lit(8)).as(out)): _*)
    }
    val sub = subspaces(res, "vec_id", "r", "rv")
    // seed codebook: subspace slices of the first 256 residuals, then
    // ONE deterministic Lloyd round over ALL residual subvectors —
    // random samples cannot tile an 8-dim residual space (the r15
    // first cut measured clustered recall 0.13 at 200k with sampled
    // codewords), so the codebook is TRAINED exactly like production
    // IVF-PQ, with KMeans.foldMeans' id-ordered IEEE fold so the run
    // is bit-reproducible and the oracle mirrors it.
    //
    // Both nearest-codeword passes (seed assign + trained encode) run
    // through graft_pq_argmin over a FLATTENED per-subspace codebook
    // (8 broadcast rows of K codewords each, id-ordered) instead of a
    // one-row-per-(vector, codeword) join + min_by re-aggregate: the
    // relational form materialized a 256× row blowup (~28M joined rows
    // at sf0.1) and paid two HashAggregate exchanges per pass just to
    // discard 255 of every 256 rows. The expression walks the codebook
    // in a codegen'd primitive loop — one output row per subvector, no
    // aggregate — with the identical left-to-right (x−c)² IEEE fold and
    // the identical (d2, k) tie-break (ascending index, strict <), so
    // every assignment is bit-equal to the min_by form the oracle
    // mirrors (ArrayPqArgminSpec pins both, incl. exact ties).
    graft.functions.ArrayPqArgmin.register(s)
    graft.functions.ArraySqDist.register(s)
    def pqArgmin(rv: org.apache.spark.sql.Column,
        flat: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      call_function("graft_pq_argmin", rv, flat)
    val cb0 = subspaces(res.filter(col("vec_id") < 256).select("vec_id", "r"),
      "k", "r", "cs")
    // per-subspace flat codebook in ascending seed-id order; karr maps
    // the 0-based argmin slot back to the (sparse) seed id k
    val cb0flat = cb0.groupBy("s")
      .agg(array_sort(collect_list(struct(col("k"), col("cs")))).as("kcs"))
      .select(col("s"),
        flatten(transform(col("kcs"), p => p.getField("cs"))).as("flat"),
        transform(col("kcs"), p => p.getField("k")).as("karr"))
    def d2(a: String, b: String) =
      aggregate(zip_with(col(a), col(b), (x, cc) => (x - cc) * (x - cc)),
        lit(0.0), (acc, x) => acc + x)
    val a0 = sub.join(broadcast(cb0flat), "s")
      .select(col("vec_id"), col("s"),
        element_at(col("karr"), pqArgmin(col("rv"), col("flat")) + 1).as("k"),
        col("rv"))
    // Lloyd update at (subspace, codeword) grain via the shared fold
    // (cid packs (s, k) into one key); empty cells drop out and the
    // survivors re-key densely per subspace so codes index LUT arrays
    val cb1 = graft.ops.KMeans.foldMeans(
        a0.select(col("vec_id"), (col("s") * 1000 + col("k")).as("cid"), col("rv")),
        "vec_id", "cid", "rv")
      .select((col("cid") / 1000).cast("int").as("s"),
        pmod(col("cid"), lit(1000)).cast("int").as("k"), col("cv").as("cs"))
      .withColumn("k2", row_number().over(
        Window.partitionBy("s").orderBy("k")))
      .select("s", "k2", "cs")
    // The trained codebook's TWO consumers (corpus encode, query LUT)
    // both read it as the same flattened 8-row relation, persisted +
    // eager so the Lloyd round runs exactly once (AQE's two broadcast
    // builds run concurrently, so a lazy persist can double-compute;
    // exchange reuse was measured NOT to fire across the two joins —
    // the StageProfile twin stages 101/102). This replaces the r17
    // persist of the 2048-row cb1: same single count() job, but the
    // cached relation now already carries the flattening both
    // consumers need. k2 is 1-based dense per subspace (row_number
    // over k), so the flat codebook in k2 order maps slot i back to
    // k2 = i + 1.
    val cb1flat = pins.persist(cb1.groupBy("s")
      .agg(array_sort(collect_list(struct(col("k2"), col("cs")))).as("kcs"))
      .select(col("s"),
        flatten(transform(col("kcs"), p => p.getField("cs"))).as("flat")))
    cb1flat.count()
    // corpus code relation: (vec_id, cell cid, 8 trained codes in
    // subspace order) — the bytes-per-vector structure at scale.
    val codes = sub.join(broadcast(cb1flat), "s")
      .select(col("vec_id"), col("s"),
        (pqArgmin(col("rv"), col("flat")) + 1).as("k2"))
      .groupBy("vec_id")
      .agg(transform(sort_array(collect_list(struct(col("s"), col("k2")))),
        p => p.getField("k2")).as("code"))
      // cell ids come off the PERSISTED residual relation — joining nb
      // here replayed the full crossJoin coarse-assignment pass
      .join(res.select(col("vec_id"), col("cid")), "vec_id")
    // query side: nprobe=4 nearest cells, one residual + LUT per
    // probed cell (the residual q − c differs by cell)
    val qs = n.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val wp = Window.partitionBy("query_id").orderBy(col("__cos").desc, col("cid"))
    val probes = qs.crossJoin(broadcast(c))
      .select(col("query_id"), col("qv"), col("cid"), col("cv"),
        Vectors.cosine(col("qv"), col("cv"), col("qnrm"), col("cnrm")).as("__cos"))
      .withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= 4)
      .select(col("query_id"), col("cid"),
        zip_with(col("qv"), col("cv"), (x, cc) => x - cc).as("qr"))
    val qsub = subspaces(probes, "query_id", "qr", "qs")
    // per-(query, cell, subspace) LUT row computed directly off the
    // SAME flattened broadcast codebook as the corpus encode (exchange
    // reuse — see cb1flat above): slot k2's entry is the identical
    // graft_sqdist fold over the identical 8 doubles the (s, k2) join
    // row carried, walked in ascending k2 = flat order, so the lus
    // array is element-for-element the old sort_array(collect_list)
    // assembly. ≤ 640 LUT rows × ≤256 slots — expression-local work.
    val lut = qsub.join(broadcast(cb1flat), "s")
      .select(col("query_id"), col("cid"), col("s"),
        transform(sequence(lit(1), (size(col("flat")) / 8).cast("int")),
          k2 => call_function("graft_sqdist", col("qs"),
            slice(col("flat"), (k2 - 1) * 8 + 1, lit(8)))).as("lus"))
      .groupBy("query_id", "cid")
      .agg(transform(sort_array(collect_list(struct(col("s"), col("lus")))),
        p => p.getField("lus")).as("lut"))
    val probeSide = lut.join(qs, "query_id")
    // ADC scan over probed cells only — co-partitioned equi-join on
    // the cell id (the IVF shape), probe side ≤ 80 rows broadcast;
    // folds in subspace order so adc_d2 is bit-identical to the oracle
    val adc = codes.join(broadcast(probeSide), "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("qv"), col("qnrm"),
        aggregate(
          transform(sequence(lit(0), lit(7)), i =>
            element_at(element_at(col("lut"), i + 1),
              element_at(col("code"), i + 1).cast("int"))),
          lit(0.0), (a, x) => a + x).as("adc_d2"))
    val aw = Window.partitionBy("query_id").orderBy(col("adc_d2"), col("neighbor_id"))
    val rerank = adc.withColumn("arnk", row_number().over(aw))
      .filter(col("arnk") <= 200)
      .join(n.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm")),
        "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("adc_d2"),
        Vectors.cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    rerank.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id", "adc_d2", "cosine", "rnk")
      .orderBy("query_id", "rnk")
  }

  val all: Seq[QueryDef] = Seq(
    embedNorm, embedTopk,
    // exact all-pairs is quadratic by contract (119.7×/decade at sf10,
    // BENCH_SCALE_SF10.json); oracle-gated only — q_embed_neardup_lsh
    // is the benched scale path
    embedNearDup.audit, annIvf, annIvfProbe2, annIvfProbe4, annIvfAdaptive,
    annIvfKmeans, annLsh,
    annLshMulti, embedNearDupLsh, embedOutlier, vecQuantize, pqCodes, semanticDedup,
    embedTruncatedRecall, rrfFusion, annTopkRefine, mmrRerank, hardNegatives,
    embedDrift, annBinaryQuant, annPqAdc, annIvfPq)
}
