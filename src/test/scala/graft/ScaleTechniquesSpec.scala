package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scale techniques PLANS.md promises, pinned by tests: salted
  * aggregation for skewed keys, bucketed co-located joins, sketch
  * accuracy, dead-letter decode.
  */
class ScaleTechniquesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("salted two-phase aggregate equals direct aggregate on skewed keys") {
    // heavily skewed: one key holds 90% of rows
    val rows = (1 to 9000).map(i => ("hot", i.toDouble)) ++
      (1 to 1000).map(i => (s"k${i % 50}", i.toDouble))
    val df = rows.toDF("key", "v").repartition(8)
    val direct = df.groupBy("key").agg(sum("v").as("s"), count(lit(1)).as("n"))
    // phase 1: aggregate on (key, salt) — spreads the hot key over 16
    // reducers; phase 2: merge partials per key
    val salted = df
      .withColumn("salt", pmod(hash(monotonically_increasing_id()), lit(16)))
      .groupBy("key", "salt").agg(sum("v").as("ps"), count(lit(1)).as("pn"))
      .groupBy("key").agg(sum("ps").as("s"), sum("pn").as("n"))
    val a = direct.orderBy("key").collect().map(r =>
      (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    val b = salted.orderBy("key").collect().map(r =>
      (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(a == b)
  }

  test("bucketed tables join without an exchange") {
    val left = (1L to 1000L).map(i => (i, s"l$i")).toDF("id", "lv")
    val right = (1L to 1000L).map(i => (i, s"r$i")).toDF("id", "rv")
    left.write.mode("overwrite").bucketBy(8, "id").sortBy("id")
      .saveAsTable("bkt_left")
    right.write.mode("overwrite").bucketBy(8, "id").sortBy("id")
      .saveAsTable("bkt_right")
    try {
      val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "id")
      val plan = joined.queryExecution.executedPlan.toString
      // co-located bucketed join: no shuffle exchange on either side
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected no shuffle in bucketed join plan:\n$plan")
      assert(joined.count() == 1000)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_left")
      spark.sql("DROP TABLE IF EXISTS bkt_right")
    }
  }

  test("HLL approx distinct within 5% of exact; CMS estimate upper-bounds exact") {
    val dir = "/root/testdata/sf0.001"
    val approx = graft.catalog.Sketches.approxDistinct.run(spark, dir)(_.collect())
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.core.Tables.events(spark, dir)
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n) <= math.max(1, n * 0.05),
        s"$k: approx ${approx(k)} vs exact $n")
    }
    // benched rsd 0.05 twin: 3x its rsd (15%) — the same 3σ discipline
    val rsd5 = graft.catalog.Sketches.approxDistinctRsd5.run(spark, dir)(_.collect())
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(rsd5(k) - n) <= math.max(1, n * 0.15),
        s"$k: rsd5 approx ${rsd5(k)} vs exact $n")
    }
    val cms = graft.catalog.Sketches.heavyHitters.run(spark, dir)(_.collect())
    cms.foreach { r =>
      assert(r.getAs[Long]("estimated_n") >= r.getAs[Long]("exact_n"))
    }
  }

  test("dead-letter decode keeps corrupt payloads routable") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[String]
    ms.addData(
      """{"event_id":1,"user_id":2,"event_type":"click","value":0.5,"props":"{}","ts_us":1704067200000000}""",
      "{}",  // valid JSON, all fields absent → NOT corrupt
      "garbage-not-json")
    val decoded = graft.streaming.Ingest.decodeJsonWireWithDlq(ms.toDF())
    val rows = graft.streaming.Ingest.runToMemory(decoded).collect()
    val (bad, ok) = rows.partition(r => !r.isNullAt(r.fieldIndex("_corrupt")))
    assert(ok.length == 2)
    assert(ok.exists(r => !r.isNullAt(r.fieldIndex("event_id")) &&
      r.getAs[Long]("event_id") == 1L))
    assert(ok.exists(r => r.isNullAt(r.fieldIndex("event_id"))))  // the {} row
    assert(bad.length == 1 && bad.head.getAs[String]("_corrupt") == "garbage-not-json")
  }

  test("GlobalIndex.withRowNumber equals the single-partition window") {
    val r = new scala.util.Random(11)
    // duplicate sort values force tie-breaking through the unique id
    val df = (1 to 5000).map(i => (i.toLong, r.nextInt(100).toDouble))
      .toDF("id", "v").repartition(16)
    // AQE's size-based coalesce folds this byte-tiny input to one
    // partition, hiding what the test pins: the operator never FORCES a
    // single partition the way the empty-partition window does
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    val viaDist =
      try {
        spark.conf.set(coalesceKey, "false")
        graft.core.Pins.using { pins =>
          val d = graft.ops.GlobalIndex
            .withRowNumber(df, Seq(col("v").desc, col("id").asc), "rn", pins)
          // stays distributed: no single-partition funnel
          assert(d.rdd.getNumPartitions > 1)
          d.orderBy("rn").collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("rn")))
        }
      } finally spark.conf.set(coalesceKey, prev)
    val viaWindow = df.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("v").desc, col("id").asc)))
      .orderBy("rn").collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("rn").toLong))
    assert(viaDist.toSeq == viaWindow.map { case (id, rn) => (id, rn) }.toSeq)
  }

  test("salted join equals the plain join") {
    val r = new scala.util.Random(13)
    // skew: key 0 holds half the fact rows
    val fact = (1 to 4000).map(i =>
      (i.toLong, if (i % 2 == 0) 0L else r.nextInt(40).toLong)).toDF("row_id", "k")
    val dim = (0 to 40).map(k => (k.toLong, s"d$k")).toDF("k", "payload")
    val plain = fact.join(dim, "k").select("row_id", "k", "payload")
      .orderBy("row_id").collect().map(_.toSeq).toSeq
    val s = 8
    val salted = fact.withColumn("__salt", pmod(hash(col("row_id")), lit(s)))
      .join(dim.withColumn("__salt", explode(sequence(lit(0), lit(s - 1)))),
        Seq("k", "__salt"))
      .select("row_id", "k", "payload")
      .orderBy("row_id").collect().map(_.toSeq).toSeq
    assert(salted == plain)
  }

  /** Set confs for the duration of `body`, restoring previous values. */
  private def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, o) =>
      o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("AQE splits a skewed sort-merge join partition (skew=true in final plan)") {
    // key 0 holds 90% of a fact whose hot partition (~20 MB) exceeds the
    // lowered skew threshold — AQE must split it instead of letting one
    // reducer drag the stage (the alternative to manual salting above)
    withConfs(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512k",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val fact = spark.range(200000)
        .select(when(col("id") % 10 < 9, 0L).otherwise(col("id") % 100).as("k"),
          concat(lit("x"), lpad(col("id").cast("string"), 100, "p")).as("payload"))
      val dim = spark.range(100).select(col("id").as("k"),
        concat(lit("d"), col("id").cast("string")).as("dv"))
      // keep the fat payload in the join output — column pruning would
      // otherwise shrink the hot partition below the skew threshold
      val joined = fact.join(dim, "k").select(col("k"), col("payload"), col("dv"))
      // execute THIS dataset's QueryExecution: AQE finalizes the plan
      // only on the executed instance (a count() would plan separately)
      assert(joined.collect().length == 200000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ, got:\n$plan")
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed partition:\n$plan")
    }
  }

  test("runtime bloom filter prunes the scan side of a selective join") {
    // a selective filter on the small side should inject might_contain
    // on the large scan side (Spark's runtime row-level semi-join
    // pruning) once the size thresholds admit it
    withConfs(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100m",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val dir = "/root/testdata/sf0.01"
      val lineitem = spark.read.parquet(s"$dir/lineitem.parquet")
      val orders = spark.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = lineitem.join(orders,
        col("l_orderkey") === col("o_orderkey"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"no bloom runtime filter injected:\n$optimized")
      // and the filtered result is still exactly the plain join
      val n = joined.count()
      val plainN = spark.read.parquet(s"$dir/lineitem.parquet")
        .join(spark.read.parquet(s"$dir/orders.parquet")
          .filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(n == plainN && n > 0)
    }
  }

  test("explicit bloom pre-filter is sound (no false negatives) and prunes") {
    // q_bloom_prune's mechanism in isolation: dim keys → bloom sketch
    // (scalar subquery) → map-side fact pre-filter. Soundness: the
    // pre-filtered set must contain EVERY true match; effectiveness:
    // with 10 dim keys out of 1000, the vast majority of fact rows must
    // die before the join.
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bloom_agg",
      exprs => new BloomFilterAggregate(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_might_contain",
      exprs => BloomFilterMightContain(exprs(0), exprs(1)), "built-in")
    (1L to 10000L).map(i => (i, i % 1000)).toDF("row_id", "key")
      .createOrReplaceTempView("bloom_fact")
    (0L to 9L).toDF("key").createOrReplaceTempView("bloom_dim")
    try {
      val pre = spark.sql(
        """SELECT * FROM bloom_fact f
          |WHERE graft_might_contain(
          |  (SELECT graft_bloom_agg(xxhash64(key)) FROM bloom_dim),
          |  xxhash64(f.key))""".stripMargin)
      val exact = spark.sql(
        """SELECT * FROM bloom_fact f
          |WHERE key IN (SELECT key FROM bloom_dim)""".stripMargin)
      val preKeys = pre.select("row_id").as[Long].collect().toSet
      val exactKeys = exact.select("row_id").as[Long].collect().toSet
      assert(exactKeys.subsetOf(preKeys), "bloom dropped a true match")
      assert(exactKeys.nonEmpty)
      // 1% true selectivity; allow generous false-positive slack
      assert(preKeys.size < 2000, s"bloom barely pruned: ${preKeys.size}")
    } finally {
      spark.catalog.dropTempView("bloom_fact")
      spark.catalog.dropTempView("bloom_dim")
    }
  }

  test("hive-partitioned layout prunes partitions at planning time") {
    // at 100 TB the events table would be laid out
    // events/event_type=X/date=Y/...; a filter on the partition column
    // must prune DIRECTORIES (never open their files), not post-filter
    // rows. Write the partitioned layout, then prove the scan's
    // partition list shrank to exactly the predicate's one.
    val path = "target/tmp/events_partitioned"
    graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").partitionBy("event_type").parquet(path)
    val scan = spark.read.parquet(path).filter(col("event_type") === "purchase")
    val fileScans = scan.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(fileScans.nonEmpty)
    assert(fileScans.head.partitionFilters.nonEmpty, "filter not recognized as partition filter")
    val scanned = fileScans.head.selectedPartitions.partitionCount
    assert(scanned == 1, s"expected 1 pruned partition, scanned $scanned")
    // pruned read still returns exactly the filtered rows
    val expected = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("event_type") === "purchase").count()
    assert(scan.count() == expected && expected > 0)
  }
}
