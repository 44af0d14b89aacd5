package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cross-query invariants for the round-6 operators — properties the
  * per-query DuckDB oracles cannot express because they relate TWO
  * catalog results (subset/recall/flattening) or assert distributional
  * facts (balance, contiguity).
  */
class CurationRound6Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.01"

  private def run(name: String) =
    SparkEntry.queries(name).run(spark, dir)(_.collect())

  test("semantic dedup finds a subset of the exact near-dup pairs") {
    // every within-cluster pair with cos >= 0.4 is by definition in the
    // exact all-pairs result at the same threshold — cluster pruning
    // can only LOSE pairs (the SemDeDup recall trade), never invent them
    val semPairs = run("q_semantic_dedup").map(_.getLong(2)).sum
    val exactPairs = run("q_embed_neardup").length.toLong
    assert(semPairs <= exactPairs,
      s"semantic dedup found $semPairs pairs > exact $exactPairs")
    assert(semPairs > 0, "threshold/clustering yields zero pairs — test is vacuous")
  }

  test("probe2 never ranks a worse neighbor than single-probe IVF") {
    // nprobe=2 searches a superset of nprobe=1's bucket, so at every
    // (query, rank) position the probe2 cosine must be >= the ivf one
    val ivf = run("q_ann_ivf")
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getDouble(2)).toMap
    val p2 = run("q_ann_ivf_probe2")
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getDouble(2)).toMap
    assert(ivf.nonEmpty && p2.keySet == ivf.keySet)
    ivf.foreach { case (k, c1) =>
      assert(p2(k) >= c1 - 1e-12, s"probe2 worse at $k: ${p2(k)} < $c1")
    }
  }

  test("perplexity buckets partition the scored docs into contiguous ranges") {
    val b = run("q_perplexity_buckets").sortBy(_.getLong(0))
    val scored = run("q_bigram_lm").length.toLong
    assert(b.map(_.getLong(1)).sum == scored)
    // tertiles are assigned by cumulative bin position, so bucket value
    // ranges must be disjoint and increasing
    b.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo.getDouble(3) < hi.getDouble(2),
          s"bucket ranges overlap: ${lo.getDouble(3)} >= ${hi.getDouble(2)}")
      case _ => ()
    }
    // no tertile may be empty at this SF
    assert(b.length == 3 && b.forall(_.getLong(1) > 0))
  }

  test("serpentine shards balance doc counts to one and sizes to <2%") {
    val s = run("q_shard_balance")
    val docs = s.map(_.getLong(1))
    val chars = s.map(_.getLong(2))
    assert(s.length == 8)
    assert(docs.max - docs.min <= 1, s"doc spread ${docs.max - docs.min}")
    val spread = (chars.max - chars.min).toDouble / (chars.sum / 8)
    assert(spread < 0.02, s"char spread ${spread}")
  }

  test("temperature mixing flattens the quota ratio vs raw counts") {
    val rows = run("q_domain_mix_temp")
    val n = rows.map(_.getLong(1))
    val q = rows.map(_.getLong(3))
    rows.foreach(r => assert(r.getLong(3) <= r.getLong(1),
      s"quota exceeds supply for ${r.getString(0)}"))
    // α=0.5 compresses the spread: quota max/min ratio must not exceed
    // the raw-count max/min ratio
    assert(q.max.toDouble / q.min <= n.max.toDouble / n.min + 1e-9)
  }

  test("zipf slope is negative and near -1 on natural-ish text") {
    val r = run("q_zipf_fit").head
    val slope = r.getDouble(1)
    assert(slope < 0, s"slope $slope not negative")
    assert(slope > -3 && slope < -0.1, s"slope $slope implausible")
  }
}
