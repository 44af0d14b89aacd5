package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.KMeans

/** Multi-round Lloyd iteration: determinism, objective monotonicity,
  * and cluster recovery on well-separated synthetic data.
  */
class KMeansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // three well-separated direction clusters in 8-d (cosine geometry),
  // with a deterministic per-vector wiggle
  private def corpus() = {
    val base = Seq(
      Array(10.0, 0, 0, 0, 1, 0, 0, 0),
      Array(0.0, 10, 0, 0, 0, 1, 0, 0),
      Array(0.0, 0, 10, 0, 0, 0, 1, 0))
    (0 until 90).map { i =>
      val c = i % 3
      val wiggle = (i * 31 % 7) / 10.0
      (i.toLong, base(c).zipWithIndex.map { case (x, j) =>
        x + (if (j == 3) wiggle else 0.0)
      }.toSeq)
    }.toDF("id", "v")
  }

  test("deterministic across runs; objective never decreases with rounds") {
    graft.core.Pins.using { pins =>
      val df = corpus()
      val (a1, c1) = KMeans.fit(df, "id", "v", k = 3, rounds = 1, pins)
      val (a1b, _) = KMeans.fit(df, "id", "v", k = 3, rounds = 1, pins)
      assert(a1.orderBy("id").collect().map(_.toSeq).toSeq ==
        a1b.orderBy("id").collect().map(_.toSeq).toSeq)

      val obj1 = KMeans.meanAssignedCosine(df, "id", "v", a1, c1)
      val (a2, c2) = KMeans.fit(df, "id", "v", k = 3, rounds = 2, pins)
      val obj2 = KMeans.meanAssignedCosine(df, "id", "v", a2, c2)
      assert(obj2 >= obj1 - 1e-12, s"objective decreased: $obj1 -> $obj2")
    }
  }

  test("recovers the three separated clusters") {
    val df = corpus()
    val got = graft.core.Pins.using(KMeans.fit(df, "id", "v", k = 3, rounds = 2, _)._1.collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every vector of a true cluster shares one assigned centroid
    (0 until 3).foreach { c =>
      val ids = (0 until 90).filter(_ % 3 == c).map(_.toLong)
      assert(ids.map(got).toSet.size == 1, s"cluster $c split: ${ids.map(got).toSet}")
    }
    assert(got.values.toSet.size == 3)
  }

  test("fit releases its corpus checkpoint and nothing else") {
    val sc = spark.sparkContext
    val earlier = spark.range(500).toDF().localCheckpoint()
    val pinned = sc.getPersistentRDDs.keySet
    graft.core.Pins.using { pins =>
      val (asg, _) = KMeans.fit(corpus(), "id", "v", k = 3, rounds = 2, pins)
      val asgIds = asg.queryExecution.logical.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }.toSet
      // the one RDD fit leaves pinned is the assignments' own
      // checkpoint, held in the caller's scope
      assert(sc.getPersistentRDDs.keySet -- pinned == asgIds)
      assert(earlier.count() == 500)
      assert(asg.count() == 90)
    }
    assert(sc.getPersistentRDDs.keySet -- pinned == Set.empty)
  }
}
