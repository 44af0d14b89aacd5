package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic distributed Lloyd iteration over an embedding column —
  * the general form behind `q_ann_ivf_kmeans` (which runs one round
  * inline for its oracle). Each round is two stages:
  *
  *  1. assign: broadcast the centroid table, pick the max-cosine
  *     centroid per vector with a map-side-combining `max_by`
  *     aggregation (never a window over the corpus × centroids cross
  *     product — that would shuffle every candidate row with its vector
  *     payload);
  *  2. update: per-(cluster, dimension) mean, folding members in id
  *     order so the IEEE sum — and therefore the whole training run —
  *     is bit-reproducible regardless of partitioning.
  *
  * The corpus is never shuffled by the assignment itself; the update
  * aggregates dims × corpus rows with partial aggregation. More rounds
  * = this driver loop, exactly like production Spark ML, with an eager
  * `localCheckpoint` per round to keep lineage flat.
  *
  * Reference anchor: SURVEY.md §7.4 north-star extensions (similarity
  * search); the reference itself has no trained operator.
  */
object KMeans {

  /** Cluster count for clusterings whose DOWNSTREAM cost is per-cluster
    * quadratic (SemDeDup within-cluster pairs): k must grow with the
    * corpus so cluster size stays ~constant (target 256 members), or
    * Σ|c|² degrades to n²/k — the sf10 scale run measured exactly that
    * (q_semantic_dedup 47× wall at 10× data with k pinned at 8,
    * BENCH_SCALE_CURVE.json). Floor 8 binds through ~2k vectors, so
    * sf≤0.1 results, oracle hashes, and baselines are bit-unchanged.
    * Ceiling 4096 bounds the broadcast-assign pass (n·k dot products):
    * it binds above ~1M vectors, where production SemDeDup moves
    * assignment to a coarse-quantized two-level route (assign to √k
    * super-centroids, refine within) — the scale note, not this
    * in-process path. Mirrored in SQL by the oracle seed
    * `LIMIT (SELECT GREATEST(8, LEAST(4096, COUNT(*)//256)) FROM n)`
    * (Sketches.kmeansAssignCte) — a change here must reach both.
    */
  def adaptiveK(n: Long): Int =
    math.min(4096L, math.max(8L, n / 256L)).toInt

  /** One Lloyd update: per-(cluster, dimension) member mean, folding
    * members in `idCol` order so the IEEE sum is bit-reproducible
    * regardless of partitioning. Shared by [[fit]] and the catalog's
    * `q_ann_ivf_kmeans` (whose DuckDB oracle mirrors this exact fold) —
    * a change to the fold order in one place must reach both.
    *
    * @param members (idCol, cidCol, vecCol) assigned vectors
    * @return (cid, cv) updated centroids, dimensions in input order
    */
  def foldMeans(members: DataFrame, idCol: String, cidCol: String,
      vecCol: String): DataFrame =
    members
      .select(col(cidCol).as("cid"), col(idCol).as("__mid"),
        posexplode(col(vecCol)).as(Seq("d", "x")))
      .groupBy("cid", "d")
      .agg(collect_list(struct(col("__mid"), col("x"))).as("pairs"),
        count(lit(1)).as("cnt"))
      .select(col("cid"), col("d"),
        (aggregate(transform(sort_array(col("pairs")), p => p.getField("x")),
          lit(0.0), (a, x) => a + x) / col("cnt")).as("mx"))
      .groupBy("cid")
      .agg(collect_list(struct(col("d"), col("mx"))).as("dms"))
      .select(col("cid"),
        transform(sort_array(col("dms")), p => p.getField("mx")).as("cv"))

  /** @param vectors  (id: long, v: array<double>) — pre-normalized or raw
    * @param k        centroid count; initial centroids are the k
    *                 smallest-id vectors (deterministic seed)
    * @param rounds   Lloyd rounds to run
    * @param pins     holds the checkpoint the returned assignments read
    * @return (assignments (id, cid), centroids (cid, cv))
    */
  def fit(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, rounds: Int, pins: graft.core.Pins): (DataFrame, DataFrame) = {
    require(rounds >= 1, "kmeans needs at least one Lloyd round")
    val spark = vectors.sparkSession
    import spark.implicits._
    Vectors.register(spark)
    // localCheckpoint pins blocks and SEVERS lineage — a checkpointed
    // frame whose blocks are dropped cannot be recomputed, so cleanup
    // must release exactly the intermediates and never the returned
    // frames: the corpus checkpoint is held in a local scope, released
    // before returning; the returned assignments' checkpoint is held in
    // the caller's `pins`
    graft.core.Pins.using { corpus =>
      // The corpus view is the only distributed round state (consumed by
      // rounds+1 assign passes) — pin it once. The CENTROID table is at
      // most adaptiveK's 4096 rows × 64 doubles (~2 MB): it lives as a
      // DRIVER-LOCAL list between rounds, rebuilt as a LocalRelation per
      // consumer. The r17-shape alternative (localCheckpoint per round)
      // paid a distributed checkpoint job, a broadcast build, and a
      // keep-old-centroid join EVERY round for that 2 MB relation —
      // q_kmeans_fit profiled at 39 jobs for ~11 task-s, pure per-job
      // overhead. Collected doubles round-trip bit-exactly, so the
      // trained run is unchanged (KMeansSpec pins determinism; the
      // kmeans-backed oracles hash-gate it end to end).
      val n = corpus.checkpoint(vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
        .withColumn("nrm", Vectors.norm2(col("v"))))
      var cents: Seq[(Long, Seq[Double])] = n.orderBy("id").limit(k)
        .select(col("id"), col("v")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
      // cnrm is derived INSIDE the plan (same Vectors.norm2 expression as
      // before) so the norm's IEEE fold never moves engines
      def localC: DataFrame = cents.toDF("cid", "cv")
        .withColumn("cnrm", Vectors.norm2(col("cv")))

      def assign(c: DataFrame): DataFrame =
        n.crossJoin(broadcast(c))
          .select(col("id"), col("v"), col("nrm"), col("cid"),
            Vectors.cosine(col("v"), col("cv"), col("nrm"), col("cnrm")).as("__cos"))
          .groupBy("id")
          .agg(max_by(col("cid"), struct(col("__cos"), (-col("cid")).as("__neg"))).as("cid"),
            first(col("v")).as("v"))

      var r = 0
      while (r < rounds) {
        val asg = assign(localC)
        val updated = foldMeans(asg, "id", "cid", "v")
          .collect().map(row => row.getLong(0) -> row.getSeq[Double](1)).toMap
        // a cluster can empty (e.g. duplicate seed vectors: the tie-break
        // sends both copies to the smaller cid) — keep the previous
        // centroid then, so fit always returns exactly k centroids
        cents = cents.map { case (cid, old) => (cid, updated.getOrElse(cid, old)) }
        r += 1
      }
      (pins.checkpoint(assign(localC).select("id", "cid")), cents.toDF("cid", "cv"))
    }
  }

  /** Mean cosine of each vector to its assigned centroid — the
    * (cosine-flavored) training objective; must not DECREASE round over
    * round.
    */
  def meanAssignedCosine(vectors: DataFrame, idCol: String, vecCol: String,
      assignments: DataFrame, centroids: DataFrame): Double = {
    Vectors.register(vectors.sparkSession)
    val n = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", Vectors.norm2(col("v")))
    val c = centroids.withColumn("cnrm", Vectors.norm2(col("cv")))
    n.join(assignments, "id").join(broadcast(c), "cid")
      .select(Vectors.cosine(col("v"), col("cv"), col("nrm"), col("cnrm")).as("cos"))
      .agg(avg(col("cos"))).head.getDouble(0)
  }
}
