package graft.core

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame

/** Materialize a result WITHOUT collecting it to the driver.
  *
  * Iterative catalog queries (connected components, PageRank, the
  * minhash self-joins) persist/localCheckpoint intermediates; those
  * cached blocks must be released before the query returns because the
  * bench runs the whole catalog in one session. Releasing them while the
  * result still references their lineage would force a recompute — so
  * the result is first written to a temporary parquet (a distributed
  * write: each partition writes its own file, nothing funnels through
  * the driver), the caches are dropped, and a fresh scan of the spill is
  * returned. At 100 TB the result of e.g. PageRank is one row per node —
  * cluster-sized — and this path never materializes it on any single
  * node, unlike a `collect()`.
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

  /** Write `result` to a spill parquet, run `release` (drop caches /
    * checkpoints the result was built from), return a scan of the spill.
    */
  def materialize(result: DataFrame)(release: => Unit): DataFrame = {
    val s = result.sparkSession
    val root = s.conf.getOption("spark.graft.spill.dir").getOrElse(localRoot)
    val dir = s"$root/spill-$jvmToken-${seq.incrementAndGet()}"
    tracked.add(dir)
    result.write.mode("overwrite").parquet(dir)
    release
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
