package graft.core

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The pins one build holds: every `persist` or `localCheckpoint` it
  * makes to reuse an intermediate goes through here, and [[release]]
  * unpersists exactly those, never another query's. A builder gets its
  * `Pins` from [[Spill.scoped]]; a helper that pins on its caller's
  * behalf takes the caller's `Pins`. [[graft.replay.Replay.run]] holds
  * a wire frame it publishes more than once in its own `Pins` and
  * releases it when the publish returns.
  */
final class Pins {
  private val held = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  private def hold(release: () => Unit): Unit = synchronized { held += release }

  /** `df.persist()` (MEMORY_AND_DISK), released with the scope. */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist()
    hold(() => p.unpersist(blocking = false))
    p
  }

  /** `df.localCheckpoint()`: eager, lineage cut. The checkpointed RDD
    * is the `LogicalRDD` under the returned frame; that RDD is what is
    * released.
    */
  def checkpoint(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint()
    c.queryExecution.logical.foreach {
      case r: LogicalRDD => hold(() => r.rdd.unpersist(blocking = false))
      case _ =>
    }
    c
  }

  /** `rdd.persist(MEMORY_AND_DISK)`, released with the scope. */
  def persist[T](rdd: RDD[T]): RDD[T] = {
    val p = rdd.persist(StorageLevel.MEMORY_AND_DISK)
    hold(() => p.unpersist(blocking = false))
    p
  }

  /** Unpersist every recorded pin (non-blocking). Idempotent. */
  def release(): Unit = synchronized {
    held.foreach(_())
    held.clear()
  }
}

/** Materialize a result WITHOUT collecting it to the driver.
  *
  * Iterative catalog queries (connected components, PageRank, the
  * minhash self-joins) persist/localCheckpoint intermediates; those
  * pins must be released before the query returns, because queries
  * share one long-lived session (Bench and Verify run the whole
  * catalog in one, `ServeMain` runs requests side by side on one).
  * Releasing them while the result still references their lineage
  * would force a recompute, or fail outright for a checkpoint, so
  * [[scoped]] first writes the result to a temporary parquet (a
  * distributed write: each partition writes its own file, nothing
  * funnels through the driver), then releases exactly the build's own
  * [[Pins]], and returns a fresh scan of the spill. The pins are
  * released when the build or the write throws too. At 100 TB the
  * result of e.g. PageRank is one row per node — cluster-sized — and
  * this path never materializes it on any single node, unlike a
  * `collect()`.
  *
  * Result-lifetime pins do not go through a scope: the returned frame
  * itself reads the pinned RDD, so the pin cannot be dropped before
  * the consumer has read the result. They are `GlobalIndex`'s three
  * methods (q_global_rownum, q_shard_balance, q_pack_sequences,
  * q_token_budget; q_training_export spills its result, so its
  * running-total pin goes with its scope), the assignments `KMeans.fit`
  * returns (q_kmeans_fit, q_semantic_dedup), `bpeMergeStep`'s
  * checkpoint (q_bpe_merge_round, q_bpe_merge_round2) and
  * q_perplexity_buckets' bucket checkpoint. [[graft.Session.sweep]]
  * releases those between queries; elsewhere ContextCleaner does once
  * the result is unreachable.
  *
  * Spill root: `spark.graft.spill.dir` if set, else a per-JVM temp dir.
  * On a multi-host cluster the conf MUST point at storage every executor
  * can write (HDFS/S3/NFS scratch URI) — the temp-dir default is a
  * driver-local `file:/` path and only works in local mode, where driver
  * and executors share one filesystem. Every spill dir is tracked and
  * recursively deleted (data files included) by [[cleanup]], which a JVM
  * shutdown hook also runs, so repeated bench/verify runs don't
  * accumulate orphaned parquet under the spill root.
  *
  * Row order is not preserved by the rescan; the driver's parity check
  * sorts rows before hashing (tools/check_parity.py:27), so ordering is
  * cosmetic for catalog results.
  */
object Spill {

  private val seq = new AtomicLong(0L)
  // conf-rooted spills get a per-JVM token: two concurrent JVMs pointed
  // at the same spark.graft.spill.dir must not both write $root/spill-1
  // (mode overwrite would clobber the other's live spill data)
  private val jvmToken = java.util.UUID.randomUUID().toString.take(8)
  private val tracked =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())
  @volatile private var localRootPath: String = _

  private def localRoot: String = synchronized {
    if (localRootPath == null) {
      localRootPath =
        java.nio.file.Files.createTempDirectory("graft-spill-").toString
      tracked.add(localRootPath)
    }
    localRootPath
  }

  sys.addShutdownHook(cleanup())

  /** Run `build` with a fresh [[Pins]], spill its result, release the
    * pins (also when the build or the write throws), and return a scan
    * of the spill.
    */
  def scoped(build: Pins => DataFrame): DataFrame = {
    val pins = new Pins
    try materialize(build(pins))
    finally pins.release()
  }

  /** Write `result` to a spill parquet and return a scan of it. */
  def materialize(result: DataFrame): DataFrame = {
    val s = result.sparkSession
    val root = s.conf.getOption("spark.graft.spill.dir").getOrElse(localRoot)
    val dir = s"$root/spill-$jvmToken-${seq.incrementAndGet()}"
    tracked.add(dir)
    result.write.mode("overwrite").parquet(dir)
    s.read.parquet(dir)
  }

  /** Register an externally written scratch dir so [[cleanup]] (and the
    * shutdown hook) delete it with the spills — for catalog queries that
    * need a side-channel write (e.g. a source-format round-trip).
    */
  def track(dir: String): Unit = tracked.add(dir)

  /** Recursively delete every spill written by this JVM (Hadoop FS API,
    * so conf-rooted shared-FS spills are deleted too). Safe to call
    * repeatedly; [[graft.Session.run]] calls it before stopping a
    * session it built (never on a borrowed one), and a shutdown hook
    * covers everything else.
    */
  def cleanup(): Unit = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val it = tracked.iterator()
    while (it.hasNext) {
      val dir = it.next()
      try {
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(conf).delete(p, true)
      } catch { case _: Exception => () } // best-effort on teardown
      it.remove()
    }
  }
}
