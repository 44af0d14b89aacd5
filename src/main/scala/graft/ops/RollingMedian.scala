package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.DoubleType

import graft.core.Pins

/** Distributed exact rolling median over a fixed trailing row frame —
  * the scalable replacement for
  * `percentile(v, 0.5) OVER (PARTITION BY key ORDER BY ... ROWS BETWEEN
  * F-1 PRECEDING AND CURRENT ROW)`.
  *
  * The window form has two independent scale problems (guide §1.2/§2):
  *
  *   1. `WindowExec` evaluates a non-invertible aggregate over a SLIDING
  *      frame by re-building the aggregation buffer from scratch for
  *      every row — O(frame) hash inserts + a sort per OUTPUT row (for
  *      `percentile`, an OpenHashMap build + key sort each time). At
  *      F = 100 that is ~100× the per-row work the computation needs.
  *   2. `PARTITION BY key` puts each key's whole slice on ONE task; with
  *      a low-cardinality key (event types here) the stage runs ~|keys|
  *      tasks at any scale factor — one task per key over 100 TB.
  *
  * This runs the same computation as two jobs over ONE range-sort
  * shuffle (the same exchange+sort the window needed), in the
  * [[GlobalIndex]] two-phase discipline:
  *
  *   - range-sort by (key, sortCols) across `numPartitions` input-sized
  *     tasks and persist, so both jobs observe the identical
  *     partitioning;
  *   - phase 1 collects each partition's trailing `frame-1` (key, value)
  *     rows — ≤ 99 tiny rows per partition to the driver;
  *   - phase 2 re-walks each partition with an order-statistics buffer
  *     (sorted array ≤ frame values, binary-search insert/evict —
  *     O(log F + F·copy) per row with memcpy constants), seeding the
  *     partition's first key run from the predecessor tails, so every
  *     row's frame is complete without any duplicated data shuffle.
  *
  * The median itself replicates `Percentile.getPercentile` bit-for-bit:
  * position p = 0.5·(n−1) over the sorted non-null multiset;
  * lower/higher = floor/ceil; equal keys short-circuit; otherwise
  * `(higher−p)·lowerKey + (p−lower)·higherKey`. Nulls are counted by the
  * row frame but excluded from the multiset (the aggregate's null
  * discipline); an all-null frame yields null. `RollingMedianSpec` pins
  * equality against the window form on real data.
  */
object RollingMedian {

  /** The range-sorted RDD both phases read is pinned in `pins`. Release
    * them only once no further consumption of the result's LINEAGE can
    * happen (e.g. when the consumer that [[graft.core.QueryDef.run]]
    * handed the result to has returned): a post-release recompute would
    * re-sample the range-partitioner bounds and re-pair phase 2 with
    * phase 1's stale tails. Before r18 the RDD was left pinned for the
    * session and only the bench/verify sweep released it — a stranded
    * input-sized MEMORY_AND_DISK block per invocation in any long-lived
    * session (guide §5).
    */
  def withRollingMedian(df: DataFrame, keyCol: String, sortCols: Seq[Column],
      valueCol: String, frame: Int, out: String, numPartitions: Int,
      pins: Pins): DataFrame = {
    require(frame >= 1, s"frame must be >= 1, got $frame")
    val spark = df.sparkSession
    val keyed = (org.apache.spark.sql.functions.col(keyCol) +: sortCols)
    val sorted = df.repartitionByRange(numPartitions, keyed: _*)
      .sortWithinPartitions(keyed: _*)
    val kIdx = sorted.schema.fieldIndex(keyCol)
    val vIdx = sorted.schema.fieldIndex(valueCol)
    val schema = sorted.schema.add(out, DoubleType, nullable = true)
    // two-job pinning (see GlobalIndex.withRunningTotal): the tails
    // collected in phase 1 are only valid against the exact partition
    // contents phase 2 walks; a recompute could re-sample range bounds
    val rdd = pins.persist(sorted.rdd)
    val ctxLen = frame - 1
    // phase 1: per partition, the last `frame-1` (key, value) rows —
    // value boxed so a null row still occupies its frame slot. Keys are
    // carried TYPED (the row value itself, compared with null-safe
    // equals): stringifying them mapped a NULL key and the literal
    // string "null" to the same run — harmless for this catalog's
    // non-null event_type but a real collision for a general key.
    val tails: Array[Array[(Any, java.lang.Double)]] =
      rdd.mapPartitionsWithIndex { case (i, it) =>
        val ring = new Array[(Any, java.lang.Double)](math.max(ctxLen, 1))
        var n = 0L
        it.foreach { r =>
          if (ctxLen > 0) {
            val v: java.lang.Double =
              if (r.isNullAt(vIdx)) null else Double.box(r.getDouble(vIdx))
            ring((n % ctxLen).toInt) = (r.get(kIdx), v)
          }
          n += 1L
        }
        val take = math.min(n, ctxLen.toLong).toInt
        val outArr = new Array[(Any, java.lang.Double)](take)
        var j = 0
        while (j < take) {
          outArr(j) = ring(((n - take + j) % ctxLen).toInt)
          j += 1
        }
        Iterator.single(i -> outArr)
      }.collect().sortBy(_._1).map(_._2)
    // phase 2: walk each partition; the first key run seeds its frame
    // from predecessor tails (trailing same-key runs, newest first)
    val labeled = rdd.mapPartitionsWithIndex { case (pi, it) =>
      new Iterator[Row] {
        private val rows = it
        // order-statistics state for the current key run
        private val ringK = new Array[java.lang.Double](math.max(frame, 1))
        private var ringStart = 0 // index of oldest frame slot
        private var ringN = 0 // rows currently in frame (≤ frame)
        private val sortedVals = new Array[Double](frame)
        private var nVals = 0 // non-null values in frame
        private var curKey: Any = null
        private var started = false

        private def resetRun(key: Any): Unit = {
          curKey = key; ringStart = 0; ringN = 0; nVals = 0
        }
        private def insertVal(v: Double): Unit = {
          var lo = 0; var hi = nVals
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (sortedVals(mid) < v) lo = mid + 1 else hi = mid
          }
          System.arraycopy(sortedVals, lo, sortedVals, lo + 1, nVals - lo)
          sortedVals(lo) = v; nVals += 1
        }
        private def removeVal(v: Double): Unit = {
          var lo = 0; var hi = nVals
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (sortedVals(mid) < v) lo = mid + 1 else hi = mid
          }
          // lo = first index with value >= v; v is present by invariant
          System.arraycopy(sortedVals, lo + 1, sortedVals, lo, nVals - lo - 1)
          nVals -= 1
        }
        private def push(v: java.lang.Double): Unit = {
          if (ringN == frame) { // evict oldest
            val old = ringK(ringStart)
            if (old != null) removeVal(old.doubleValue())
            ringK(ringStart) = v
            ringStart = (ringStart + 1) % frame
          } else {
            ringK((ringStart + ringN) % frame) = v
            ringN += 1
          }
          if (v != null) insertVal(v.doubleValue())
        }
        /** Percentile.getPercentile for p = 0.5, bit-identical. */
        private def median(): java.lang.Double = {
          if (nVals == 0) return null
          val position = 0.5 * (nVals - 1)
          val lower = math.floor(position).toInt
          val higher = math.ceil(position).toInt
          val lowerKey = sortedVals(lower)
          if (higher == lower) return Double.box(lowerKey)
          val higherKey = sortedVals(higher)
          if (higherKey == lowerKey) return Double.box(lowerKey)
          Double.box((higher - position) * lowerKey +
            (position - lower) * higherKey)
        }
        private def seedFromTails(key: Any): Unit = {
          // gather up to frame-1 preceding same-key values, oldest first
          var need = ctxLen
          var j = pi - 1
          val acc = scala.collection.mutable.ArrayBuffer
            .empty[java.lang.Double]
          var more = true
          while (more && need > 0 && j >= 0) {
            val t = tails(j)
            // trailing run of rows with this key
            var s = t.length
            while (s > 0 && t(s - 1)._1 == key) s -= 1
            val runLen = t.length - s
            val take = math.min(runLen, need)
            // prepend the NEWEST `take` of the run (keep global order)
            var q = t.length - take
            val chunk = new Array[java.lang.Double](take)
            var c = 0
            while (q < t.length) { chunk(c) = t(q)._2; c += 1; q += 1 }
            acc.prependAll(chunk)
            need -= take
            if (t.isEmpty) j -= 1 // empty partition: look further back
            // a different-key row precedes the run: no same-key rows
            // exist before it, stop
            else if (runLen < t.length) more = false
            // the whole tail is this key: either the partition was
            // smaller than the tail budget (fully consumed — continue)
            // or it was full-length ctxLen, in which case take == need
            // already drained `need` and the loop exits on its own
            else j -= 1
          }
          acc.foreach(push)
        }
        override def hasNext: Boolean = rows.hasNext
        override def next(): Row = {
          val r = rows.next()
          val k = r.get(kIdx)
          if (!started) {
            started = true
            resetRun(k)
            seedFromTails(k)
          } else if (k != curKey) {
            resetRun(k)
            // non-first runs start inside this partition: no seeding
          }
          val v: java.lang.Double =
            if (r.isNullAt(vIdx)) null else Double.box(r.getDouble(vIdx))
          push(v)
          Row.fromSeq(r.toSeq :+ (median(): Any))
        }
      }
    }
    spark.createDataFrame(labeled, schema)
  }
}
