package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape and metrics invariants for the round-7 scale operators —
  * properties the per-query DuckDB oracles cannot express: dynamic
  * partition pruning actually reaching the fact scan, and the
  * `observe()` metrics surface a production pipeline monitors with.
  */
class ScaleRound7Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.01"

  test("q_dpp_prune's fact scan carries a dynamicpruning partition filter") {
    val (planStr, rows) = SparkEntry.queries("q_dpp_prune").run(spark, dir)(df =>
      (df.queryExecution.executedPlan.toString, df.collect()))
    assert(planStr.toLowerCase.contains("dynamicpruning"),
      s"no DynamicPruningSubquery on the fact scan:\n$planStr")
    // and the pruned result is a strict subset of the event types
    assert(rows.nonEmpty, "dim cut selected no event type at sf0.01")
    assert(rows.length < 5,
      "dim cut selected ALL five types — pruning is vacuous at this SF")
  }

  test("streaming observe() surfaces per-batch metrics in query progress") {
    import org.apache.spark.sql.streaming.Trigger
    val src = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "obs_src_").toString
    val chk = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "obs_chk_").toString
    import spark.implicits._
    Seq((1L, 5.0), (2L, 9.0), (3L, 450.0)).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(src)
    val q = spark.readStream.schema("id LONG, v DOUBLE").parquet(src)
      .observe("dq_stream", count(lit(1)).as("n_in"),
        count(when(col("v") > 400, 1)).as("n_outliers"))
      .writeStream.format("memory").queryName("obs_out")
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val observed = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("dq_stream"))).lastOption
    assert(observed.isDefined, "no observed metrics in any progress event")
    assert(observed.get.getLong(0) == 3L)
    assert(observed.get.getLong(1) == 1L)
    assert(spark.table("obs_out").count() == 3L)
  }

  test("observe() reports the same totals the query computes") {
    val obs = new org.apache.spark.sql.Observation("dq")
    val out = spark.read.parquet(s"$dir/events.parquet")
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"),
        count(when(col("value") > 400, 1)).as("n_outliers"))
      .filter(col("event_type") === "purchase")
    val nPurchase = out.count() // the action that completes the observation
    val m = obs.get
    // observe() sees PRE-filter rows: the metrics cover the whole scan
    val direct = spark.read.parquet(s"$dir/events.parquet")
      .agg(count(lit(1)), sum(col("value").cast("decimal(18,2)")).cast("double"),
        count(when(col("value") > 400, 1)))
      .head()
    assert(m("n_rows") == direct.getLong(0))
    assert(m("sum_v") == direct.getDouble(1))
    assert(m("n_outliers") == direct.getLong(2))
    assert(nPurchase < direct.getLong(0))
  }
}
