package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape invariants for the round-8 additions — properties the
  * per-query DuckDB oracles cannot express: the metadata-only aggregate
  * actually reaching the parquet scan, and the VARIANT binary path
  * agreeing with string JSON-path extraction.
  */
class ScaleRound8Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.01"

  test("q_agg_pushdown's scan answers COUNT/MIN/MAX from parquet metadata") {
    val (planStr, r) = SparkEntry.queries("q_agg_pushdown").run(spark, dir)(df =>
      (df.queryExecution.executedPlan.toString, df.collect().head))
    assert(planStr.contains("PushedAggregation: [COUNT(*)"),
      s"aggregate did not reach the parquet scan:\n$planStr")
    // and the child session's v2 reader didn't leak into the shared one
    assert(spark.conf.get("spark.sql.parquet.aggregatePushdown") == "false")
    assert(r.getLong(0) == 10000L && r.getLong(1) == 0L)
  }

  test("variant_get extractions equal get_json_object over the same docs") {
    SparkEntry.queries("q_variant_extract").run(spark, dir) { viaVariant =>
      SparkEntry.queries("q_json_path").run(spark, dir) { viaString =>
        assert(viaVariant.columns.toSeq == viaString.columns.toSeq)
        assert(viaVariant.exceptAll(viaString).isEmpty &&
          viaString.exceptAll(viaVariant).isEmpty,
          "VARIANT and string-path extraction disagree")
      }
    }
  }

  test("a variant round-trips typed values, nulls, and nested access") {
    import spark.implicits._
    val v = Seq("""{"a": {"b": [1, 2.5, "x"]}, "n": null}""").toDF("j")
      .select(parse_json(col("j")).as("v"))
    val row = v.select(
      variant_get(col("v"), "$.a.b[0]", "bigint"),
      variant_get(col("v"), "$.a.b[1]", "double"),
      variant_get(col("v"), "$.a.b[2]", "string"),
      variant_get(col("v"), "$.n", "string").isNull,
      variant_get(col("v"), "$.missing", "string").isNull).collect().head
    assert(row.getLong(0) == 1L && row.getDouble(1) == 2.5 &&
      row.getString(2) == "x" && row.getBoolean(3) && row.getBoolean(4))
  }
}
