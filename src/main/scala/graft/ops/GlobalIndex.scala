package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.LongType

import graft.core.Pins

/** Total-order global row numbering that stays distributed.
  *
  * `row_number() OVER (ORDER BY ...)` declares an empty window partition,
  * so Spark funnels the ENTIRE table through one task — the classic
  * cliff between "works at sf0.1" and "dies at 100 TB". The scalable
  * shape is two phases:
  *
  *   1. `orderBy` — a range repartition (sampled bounds) + per-partition
  *      sort; partitions are globally ordered but work is spread across
  *      the cluster.
  *   2. `zipWithIndex` — one tiny job counts rows per partition, prefix
  *      sums give each partition its starting offset, then every
  *      partition labels its own rows locally.
  *
  * Total cost: the sort shuffle plus one count job — no single-task
  * bottleneck at any width. Ties must be broken by a unique column in
  * `sortCols`, otherwise the assignment at range-partition boundaries is
  * input-order dependent.
  */
object GlobalIndex {

  def withRowNumber(df: DataFrame, sortCols: Seq[Column], out: String,
      pins: Pins): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.orderBy(sortCols: _*)
    val schema = sorted.schema.add(out, LongType, nullable = false)
    // zipWithIndex runs its own count job before the labeling job —
    // pin the partitioning across both (see withRunningTotal)
    val rdd = pins.persist(sorted.rdd)
      .zipWithIndex().map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ (i + 1L))
      }
    spark.createDataFrame(rdd, schema)
  }

  /** EXCLUSIVE global running total of long column `valueCol` in
    * `sortCols` order — the prefix-sum generalization of
    * [[withRowNumber]], same two-phase shape: range-sort, one light job
    * summing each partition, prefix offsets (one long per partition on
    * the driver), then every partition labels its own rows locally.
    * `SUM(...) OVER (ORDER BY ...)` would funnel the table through one
    * task; this never does, at any width. The result is independent of
    * the sampled range boundaries because prefix sums over a total
    * order are partition-agnostic.
    */
  def withRunningTotal(df: DataFrame, sortCols: Seq[Column], valueCol: String,
      out: String, pins: Pins, numPartitions: Int = -1): DataFrame = {
    val spark = df.sparkSession
    // numPartitions > 0 pins the range-sort width to an input-sized
    // count (Tables.scaledPartitions) instead of the session default —
    // same total order, but per-task sort volume stays constant as the
    // corpus grows
    val sorted =
      if (numPartitions > 0)
        df.repartitionByRange(numPartitions, sortCols: _*)
          .sortWithinPartitions(sortCols: _*)
      else df.orderBy(sortCols: _*)
    val idx = sorted.schema.fieldIndex(valueCol)
    val schema = sorted.schema.add(out, LongType, nullable = false)
    // both phases must observe the SAME physical partitioning: the
    // offsets collected in phase 1 are only valid against the exact
    // partition contents phase 2 labels, and a recompute (speculation,
    // executor loss, non-deterministic upstream) can re-sample range
    // bounds. Held in the caller's `pins`, which must outlive every
    // read of the returned frame (QueryDef.run releases them after the
    // consumer).
    val rdd = pins.persist(sorted.rdd)
    val partSums = rdd.mapPartitionsWithIndex { case (i, it) =>
      var s = 0L
      it.foreach(r => s += r.getLong(idx))
      Iterator.single(i -> s)
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _)
    val labeled = rdd.mapPartitionsWithIndex { case (i, it) =>
      var acc = offsets(i)
      it.map { r =>
        val start = acc
        acc += r.getLong(idx)
        Row.fromSeq(r.toSeq :+ start)
      }
    }
    spark.createDataFrame(labeled, schema)
  }

  /** Per-KEY rank + INCLUSIVE running total in `sortCols` order — the
    * keyed generalization of [[withRunningTotal]] for when
    * `ROW_NUMBER()/SUM() OVER (PARTITION BY key ORDER BY ...)` would
    * put each key's whole slice on one task (fine while keys are many,
    * a cliff when key cardinality is small and slices grow ∝ corpus —
    * a per-source window over 100 TB of documents is one task per
    * source). Same two-phase shape: range-sort by (key, sortCols)
    * across `numPartitions` tasks sized to the input, one light job
    * collecting per-partition per-key (count, sum) — O(partitions ×
    * keys-per-partition-boundary) to the driver, keys are LOW
    * cardinality by precondition — then every partition labels its own
    * rows from its key-offset map. `sortCols` must be unique per row
    * within a key or boundary assignment is input-order dependent.
    */
  def withKeyedRankAndTotal(df: DataFrame, keyCol: String,
      sortCols: Seq[Column], valueCol: String, outRank: String,
      outTotal: String, numPartitions: Int, pins: Pins): DataFrame = {
    val spark = df.sparkSession
    val sorted = df
      .repartitionByRange(numPartitions, (org.apache.spark.sql.functions
        .col(keyCol) +: sortCols): _*)
      .sortWithinPartitions((org.apache.spark.sql.functions
        .col(keyCol) +: sortCols): _*)
    val kIdx = sorted.schema.fieldIndex(keyCol)
    val vIdx = sorted.schema.fieldIndex(valueCol)
    val schema = sorted.schema
      .add(outRank, LongType, nullable = false)
      .add(outTotal, LongType, nullable = false)
    // same two-job pinning as withRunningTotal: phase-2 labeling is only
    // correct against the exact partition contents phase 1 summed
    val rdd = pins.persist(sorted.rdd)
    // phase 1: per-partition per-key (row count, value sum)
    val partKey = rdd.mapPartitionsWithIndex { case (i, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
      it.foreach { r =>
        val k = String.valueOf(r.get(kIdx))
        val (c, s) = m.getOrElse(k, (0L, 0L))
        m.update(k, (c + 1L, s + r.getLong(vIdx)))
      }
      Iterator.single(i -> m.toSeq)
    }.collect().sortBy(_._1)
    // prefix offsets per key across partitions (driver-side, tiny)
    val running = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val offsets: Array[Map[String, (Long, Long)]] = partKey.map { case (_, ks) =>
      val snap = ks.map { case (k, _) =>
        k -> running.getOrElse(k, (0L, 0L)) }.toMap
      ks.foreach { case (k, (c, s)) =>
        val (pc, ps) = running.getOrElse(k, (0L, 0L))
        running.update(k, (pc + c, ps + s))
      }
      snap
    }
    // phase 2: label locally — rank and inclusive running total
    val labeled = rdd.mapPartitionsWithIndex { case (i, it) =>
      val acc = scala.collection.mutable.Map.empty[String, (Long, Long)]
      offsets(i).foreach { case (k, v) => acc.update(k, v) }
      it.map { r =>
        val k = String.valueOf(r.get(kIdx))
        val (c, s) = acc.getOrElse(k, (0L, 0L))
        val v = r.getLong(vIdx)
        acc.update(k, (c + 1L, s + v))
        Row.fromSeq(r.toSeq :+ (c + 1L) :+ (s + v))
      }
    }
    spark.createDataFrame(labeled, schema)
  }
}
