package graft.core

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The pins one build holds: every `persist` or `localCheckpoint` it
  * makes to reuse an intermediate goes through here, and [[release]]
  * unpersists exactly those, never another query's. A query gets its
  * `Pins` from [[QueryDef.run]], which releases them once the query's
  * consumer has returned, so a pin may outlive the build and be read by
  * the result itself. A helper that pins on its caller's behalf takes
  * the caller's `Pins`. A local scope that outlives no caller holds its
  * own, through [[Pins.using]] (`KMeans.fit`'s corpus, `cli.ScaleGen`,
  * `cli.SemDedupAudit`) or its own `finally`
  * ([[graft.replay.Replay.run]]).
  */
final class Pins {
  private val held = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
  private val checkpoints = scala.collection.mutable.LinkedHashMap.empty[Int, RDD[_]]

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
      case r: LogicalRDD => synchronized(checkpoints(r.rdd.id) = r.rdd)
      case _ =>
    }
    c
  }

  /** Release now, before the scope ends, this scope's checkpoints that
    * `df` reads: for an iteration whose next eager [[checkpoint]] of
    * `df` has cut the lineage to them.
    */
  def releaseCheckpoints(df: DataFrame): Unit = synchronized {
    df.queryExecution.logical.foreach {
      case r: LogicalRDD => checkpoints.remove(r.rdd.id).foreach(_.unpersist(blocking = false))
      case _ =>
    }
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
    checkpoints.values.foreach(_.unpersist(blocking = false))
    checkpoints.clear()
  }
}

object Pins {
  /** Run `f` with a fresh [[Pins]], released when `f` returns or throws. */
  def using[A](f: Pins => A): A = {
    val pins = new Pins
    try f(pins) finally pins.release()
  }
}

/** Write a result to a temporary parquet and scan it back, WITHOUT
  * collecting it to the driver (a distributed write: each partition
  * writes its own file, nothing funnels through the driver).
  *
  * A query's own pins need no spill: [[QueryDef.run]] holds them until
  * the consumer is done. A spill is for a result that outlives its
  * inputs, where the consumer would otherwise read what is already
  * gone:
  *  - the streaming queries, whose broker or Elasticsearch stand-in
  *    stops when `Service.using` returns, before the consumer reads;
  *  - q_bucketed_join, which drops its bucketed tables;
  *  - three intermediates, each for the reason its comment gives: the
  *    containment per-doc shingle arrays (reused without heap
  *    residency), q_decontaminate's dropped ids (a known tiny size for
  *    the anti join) and q_ann_topk_refine's candidates (the session
  *    store).
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
