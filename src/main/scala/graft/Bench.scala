package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main: runs every catalog query on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Timing materializes each query through the noop sink — full plan
  * execution including sorts and projections (`.count()` would let
  * Catalyst prune both), which is what a real consumer pays.
  *
  * Reported per-query numbers are min-of-same-boot-runs: queries that
  * exceed 1.5x their `BASELINE_BENCH.json` entry in pass 1 are re-run
  * (reversed order) in up to `SPARK_GRAFT_PASSES` (default 3) passes,
  * and the min is reported, with all samples recorded under `reruns`
  * in BENCH_FULL.json. Rationale: this box's cross-boot samples swing
  * 3-4x under host contention, and an alphabetical single-pass run
  * turns one contention wave into a correlated band of false >2x
  * flags (see BASELINE.md's r8 bench notes); a flag that survives
  * N isolated attempts is a real regression.
  */
object Bench {

  /** Deterministic fixed-workload box probe, timed before any query:
    * a single-threaded splitmix64 stream (CPU/JIT era) plus a strided
    * pass over a 128 MiB long array (memory-bandwidth era). The
    * seconds are recorded with every run (`probe_sec` in the JSON) so
    * `tools/check_bench.py` can report probe-normalized ratios — two
    * baseline re-bases in three rounds (r10, r12) showed the raw 2x
    * gate erodes as the host era moves; normalizing by a fixed
    * workload measured in the SAME run ends that treadmill. Min of
    * two timed repetitions after one untimed JIT warm-up.
    */
  def probeSec(): Double = {
    val mem = new Array[Long](16 << 20) // 128 MiB
    def leg(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var acc = 0L
      var i = 0
      while (i < 400000000) {
        x += 0x9E3779B97F4A7C15L
        var z = x
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        acc ^= z ^ (z >>> 31)
        i += 1
      }
      var pass = 0
      while (pass < 10) {
        var j = 0
        while (j < mem.length) {
          mem(j) = mem(j) * 6364136223846793005L + acc
          j += 8 // one touch per cache line
        }
        pass += 1
      }
      acc ^= mem(0)
      val dt = (System.nanoTime() - t0) / 1e9
      if (acc == 42L) System.err.print("") // defeat dead-code elimination
      dt
    }
    leg() // untimed JIT warm-up
    math.min(leg(), leg())
  }

  /** Untimed warm-up: absorb one-time session costs (codegen + JIT
    * compilation of the hot operator paths, shuffle service, parquet
    * reader, page cache for the input tables, noop sink classloading)
    * so the first measured queries aren't charged for them. Each leg
    * exercises a family the catalog leans on: columnar scan + hash
    * aggregate, regex tokenization, sketch aggregation, window, and a
    * shuffled join — enough iterations that C2 reaches the loops.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    try {
      import org.apache.spark.sql.functions._
      val ev = graft.core.Tables.events(spark, sfDir)
      val docs = graft.core.Tables.documents(spark, sfDir)
      ev.groupBy("event_type")
        .agg(count(lit(1)), approx_count_distinct(col("user_id"), 0.01))
        .write.format("noop").mode("overwrite").save()
      docs.select(explode(graft.ops.Text.tokens(col("text"))).as("t"))
        .groupBy("t").count()
        .write.format("noop").mode("overwrite").save()
      ev.select(col("user_id"), col("value"),
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy("value")).as("rn"))
        .join(ev.groupBy("user_id").agg(sum(col("value")).as("s"))
          .hint("shuffle_hash"), Seq("user_id"))
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }

  def main(args: Array[String]): Unit = Session.run("graft-bench")(bench)

  private def bench(spark: SparkSession): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warmUp(spark, sfDir)
    // optional comma-separated allowlist for targeted profiling runs.
    // Audit-only exact forms (each with a scale twin in the catalog)
    // are skipped by default so the headline measures the 100 TB plan
    // shapes; an explicit allowlist still runs them for profiling.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Contention-robust measurement: the catalog runs alphabetically in
    // pass 1, then any query slower than 1.5x its BASELINE_BENCH.json
    // entry (or unbaselined) is re-run in later passes — REVERSED order
    // each time, so a host-contention wave that hit one alphabetical
    // band in pass 1 lands on different neighbors in pass 2 instead of
    // re-flagging the same band. The reported per-query time is the
    // min across its runs (same-boot min-of-N, the adjudication
    // protocol BENCH_AB_r08.json applied by hand), so a >2x flag in
    // the output survived up to SPARK_GRAFT_PASSES isolated attempts
    // and is a real regression, not a noise band. SPARK_GRAFT_ONLY
    // profiling runs re-run EVERY selected query each pass — one
    // command yields the min-of-N A/B number.
    val passes = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt).getOrElse(3)
    // box-era calibration anchor, measured in the SAME run the query
    // times come from (see [[probeSec]])
    val probe = probeSec()
    println(f"[bench] box probe: $probe%.3f s")
    val baseline: Map[String, Double] = {
      val p = java.nio.file.Paths.get("BASELINE_BENCH.json")
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        """"(q_[a-z0-9_]+)"\s*:\s*\{[^}]*?"sec"\s*:\s*([0-9.eE+-]+)""".r
          .findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
    val entries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        only.fold(!SparkEntry.auditOnly(name))(_.contains(name)) }
    def runOne(name: String, fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
        }
      val elapsed = (System.nanoTime() - t0) / 1e9
      Session.sweep(spark) // outside the timed region
      (elapsed, ok)
    }
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    val okMap = scala.collection.mutable.Map.empty[String, Boolean]
    entries.foreach { case (name, fn) =>
      val (t, ok) = runOne(name, fn)
      samples(name) = List(t)
      okMap(name) = ok
    }
    def minOf(name: String): Double = samples(name).min
    def flagged: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      entries.filter { case (name, _) =>
        okMap(name) && (only.isDefined ||
          baseline.get(name).forall(b => minOf(name) > 1.5 * b))
      }
    for (pass <- 2 to passes) {
      val rerun = flagged
      if (rerun.nonEmpty)
        // progress, not an error: stdout so sbt tags it [info]
        println(s"[bench] pass $pass: re-running ${rerun.size} " +
          s"flagged queries: ${rerun.map(_._1).mkString(",")}")
      val ordered = if (pass % 2 == 0) rerun.reverse else rerun
      ordered.foreach { case (name, fn) =>
        val (t, ok) = runOne(name, fn)
        // a FAILED re-run keeps its TIMING sample out of the min (a
        // fail-fast attempt's artificially small elapsed time must not
        // beat a real pass-1 measurement) but still FLIPS the ok bit:
        // the reversed-order passes exist precisely to surface
        // order-dependent failures, and absorbing one silently would
        // green-gate the class of bug they hunt
        if (ok) samples(name) = t :: samples(name)
        else {
          okMap(name) = false
          System.err.println(
            s"[bench] pass $pass: $name re-run FAILED (recorded); " +
              "timing sample discarded")
        }
      }
    }
    val results = entries.map { case (name, _) => (name, minOf(name), okMap(name)) }
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    def fmt(v: Double): String = f"$v%.3f"
    val auditSkipped = if (only.isEmpty)
      SparkEntry.auditOnly.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    else "[]"
    def line(entries: Seq[(String, Double)], omitted: Int,
        extra: String = ""): String = {
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"omitted":$omitted,"passes":$passes,"probe_sec":${fmt(probe)},"audit_skipped":$auditSkipped,"queries":$qs,"failed":$failed$extra,"sf":"$sfDir"}"""
    }
    // Full per-query detail goes to a repo file; stdout gets ONE line that
    // must survive the harness's 2000-char output tail — a full 130+-query
    // map at double precision is ~5 KB and has never parsed. Keep the
    // slowest queries (the ones a perf reader needs) up to a hard budget.
    val full = results.map { case (k, v, _) => k -> v }
    // per-query sample lists for everything that was re-run — the
    // checked-in adjudication record (oldest sample first)
    val rerunsJson = samples.toSeq.filter(_._2.size > 1).sortBy(_._1)
      .map { case (k, ts) =>
        "\"" + k + "\":[" + ts.reverse.map(fmt).mkString(",") + "]" }
      .mkString("{", ",", "}")
    // only a FULL run may refresh the repo's detail file — a filtered
    // profiling run would silently clobber the full-catalog record.
    // Scale runs (non-default SF dir) get their own detail file for the
    // same reason: BENCH_FULL.json is the driver's sf0.1 record, and an
    // sf1.0 run overwriting it silently poisons every ratio computed
    // against it.
    if (only.isEmpty) {
      val base = java.nio.file.Paths.get(sfDir).getFileName.toString
      val detail = if (base == "sf0.1") "BENCH_FULL.json"
        else s"BENCH_FULL_$base.json"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(detail),
        line(full.sortBy(_._1), 0, s""","reruns":$rerunsJson""").getBytes("UTF-8"))
    }
    val byCost = full.sortBy(-_._2)
    val keep = Iterator.range(byCost.size, 0, -1)
      .find(n => line(byCost.take(n), byCost.size - n).length <= 1600)
      .getOrElse(0)
    // a failed query must be visible in the JSON, not just on stderr —
    // otherwise a crashed round reads as a fast green one
    println(line(byCost.take(keep), byCost.size - keep))
  }
}
