package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r17 rolling-median rewrite must be output-identical to the
  * window form it replaced: `percentile(value, 0.5) OVER (PARTITION BY
  * key ORDER BY ... ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)`.
  * Pins bit-exact equality (raw doubles, pre-round) on the real events
  * table and on a synthetic corpus engineered to hit the edge paths:
  * null values occupying frame slots, keys spanning range-partition
  * boundaries, keys smaller than the frame, and many partitions.
  */
class RollingMedianSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def windowForm(df: org.apache.spark.sql.DataFrame, frame: Int) = {
    val w = Window.partitionBy("k").orderBy(col("o"), col("o2"))
      .rowsBetween(-(frame - 1), 0)
    df.select(col("k"), col("o"), col("o2"),
      percentile(col("v"), lit(0.5)).over(w).as("med"))
  }

  private def twoPhase(df: org.apache.spark.sql.DataFrame, frame: Int,
      parts: Int) = {
    val pins = new graft.core.Pins
    try graft.ops.RollingMedian
      .withRollingMedian(df, "k", Seq(col("o"), col("o2")), "v", frame,
        "med", parts, pins)
      .select(col("k"), col("o"), col("o2"), col("med"))
      .collect()
    finally pins.release()
  }

  private def assertIdentical(df: org.apache.spark.sql.DataFrame,
      frame: Int, parts: Int): Unit = {
    val a = windowForm(df, frame).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
        (if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    val b = twoPhase(df, frame, parts)
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
        (if (r.isNullAt(3)) null else r.getDouble(3)))
    assert(b.length == a.size, "row count drift")
    b.foreach { case (key, v) =>
      assert(a(key) == v, s"median mismatch at $key: window=${a(key)} two-phase=$v")
    }
  }

  test("two-phase equals the percentile window on the real events table") {
    val ev = graft.core.Tables.events(spark, "/root/testdata/sf0.01")
      .select(col("event_type").as("k"),
        // same composite order as q_rolling_median
        unix_micros(col("ts")).as("o"), col("event_id").as("o2"),
        col("value").as("v"))
    assertIdentical(ev, 100, 16)
  }

  test("nulls, tiny keys, boundary-spanning runs, many partitions") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val rows = (0 until 5000).map { i =>
      // key "a" dominates (spans many range partitions); "b" tiny
      // (< frame); "c" mid-sized; ~8% null values still occupy frames
      val k = if (i % 97 == 13) "b" else if (i % 5 == 0) "c" else "a"
      val v: java.lang.Double =
        if (rng.nextInt(12) == 0) null
        else Double.box(math.rint(rng.nextDouble() * 1000) / 4.0)
      (k, i.toLong, (i * 7).toLong, v)
    }
    val df = rows.toDF("k", "o", "o2", "v")
    assertIdentical(df, 7, 23)
    assertIdentical(df, 100, 23)
    // frame 1: median == value
    assertIdentical(df, 1, 5)
  }

  test("all-null frames yield null") {
    import spark.implicits._
    val df = (0 until 50)
      .map(i => ("x", i.toLong, i.toLong, null: java.lang.Double))
      .toDF("k", "o", "o2", "v")
    val out = twoPhase(df, 10, 4)
    assert(out.length == 50 && out.forall(_.isNullAt(3)))
  }
}
