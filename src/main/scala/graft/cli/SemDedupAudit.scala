package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.{KMeans, Vectors}

/** Invariant-export side of the sf10 verification for
  * `q_semantic_dedup` — the one curve query whose SQL oracle is
  * resource-intractable at 100× (DuckDB cannot re-derive the k-means
  * assignment relation at 2M vectors without re-running Lloyd in SQL;
  * it OOMed doing so in round 13). The CONTRACT is still checkable
  * without re-derivation: given the engine's assignment as DATA,
  * every downstream claim is plain SQL over the raw vectors.
  *
  * This main re-runs the exact pipeline the catalog query runs
  * (same `KMeans.adaptiveK`, same 3 Lloyd rounds — bit-deterministic:
  * smallest-id seeds, id-ordered IEEE folds, so the clustering here
  * IS the clustering the query computed) and exports four relations
  * for `tools/check_semdedup.py` to audit in DuckDB:
  *
  *   assign.parquet     (id, cid)        the k-means assignment
  *   centroids.parquet  (cid, cv)        final centroids
  *   dropped.parquet    (cid, vec_id)    SemDeDup's dropped docs
  *                      (distinct higher-id members of ≥τ pairs)
  *   result.parquet     the actual `q_semantic_dedup` output
  *
  * The checker then pins: (A) result.n_members ≡ assignment counts
  * for EVERY cluster; (B) result.n_dups ≡ dropped counts for EVERY
  * cluster; (C) on sampled clusters, DuckDB recomputes the ≥τ pair
  * relation from the raw vectors and matches n_pairs AND the dropped
  * SET exactly; (D) on sampled vectors, the assignment is
  * nearest-centroid (fit's returned assignment is computed against
  * the returned centroids, so this holds exactly up to cross-engine
  * float noise).
  *
  * Usage: SemDedupAudit <sfDir> <outDir>
  */
object SemDedupAudit {
  private val Tau = 0.4

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    graft.Session.run("graft-semdedup-audit")(audit(_, sfDir, outDir))
  }

  private def audit(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    Vectors.register(spark)

    // the catalog query's exact input shape (SimilaritySearch.normed)
    val vecs = graft.core.Tables.embeddings(spark, sfDir)
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), Vectors.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", Vectors.norm2(col("v")))

    val (asg, cents) = KMeans.fit(
      vecs.select("vec_id", "v"), "vec_id", "v",
      k = KMeans.adaptiveK(vecs.count()), rounds = 3)
    asg.write.mode("overwrite").parquet(s"$outDir/assign.parquet")
    cents.write.mode("overwrite").parquet(s"$outDir/centroids.parquet")

    // SemDeDup's dropped relation: within each cluster, the DISTINCT
    // higher-id member of every pair with cosine ≥ τ (the kept
    // exemplar of a dup pair is the lower id). Same co-partitioned
    // equi-join shape as the query; the checker cross-verifies the
    // per-cluster counts against the query's n_dups, and re-derives
    // the set from raw vectors on sampled clusters.
    val members = asg.join(vecs, asg("id") === vecs("vec_id"))
      .select(col("cid"), col("vec_id"), col("v"), col("nrm"))
    val a = members.select(col("cid"), col("vec_id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = members.select(col("cid"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .filter(Vectors.cosine(col("va"), col("vb"), col("na"), col("nb")) >= Tau)
      .select(col("cid"), col("id_b").as("vec_id"))
      .distinct()
      .write.mode("overwrite").parquet(s"$outDir/dropped.parquet")

    // the catalog query itself, as the driver's Verify would run it
    graft.SparkEntry.queries("q_semantic_dedup")(spark, sfDir)
      .write.mode("overwrite").parquet(s"$outDir/result.parquet")
  }
}
