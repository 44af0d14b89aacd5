package graft

import org.apache.spark.sql.SparkSession

/** The one session every main runs on.
  *
  * A session built here runs `local[cpus]` (unless spark-submit
  * `--master` or `-Dspark.master` already named a master) with `cpus`
  * shuffle partitions, a UTC session time zone, [[GraftExtensions]], no
  * UI, and `SPARK_GRAFT_LOGLEVEL` (default WARN) logging. Adaptive
  * execution and its partition coalescing are Spark's defaults and are
  * not restated.
  */
object Session {

  /** Local cores: `SPARK_GRAFT_CPUS` if set, else this JVM's processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Run `f` on a session. A live session (a test harness's, or one the
    * caller built) is used as it is: `Builder.getOrCreate` would apply
    * this config to it and never restore it, so nothing is set, cleaned
    * up or stopped. Only a session this call builds is torn down: its
    * spills are deleted ([[core.Spill.cleanup]]), then it is stopped.
    */
  def run[A](app: String, cpus: Int = Session.cpus)(f: SparkSession => A): A =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case Some(live) => f(live)
      case None =>
        val b = SparkSession.builder()
          .appName(app)
          .config("spark.sql.shuffle.partitions", cpus.toLong)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.sql.extensions", "graft.GraftExtensions")
          .config("spark.ui.enabled", "false")
        if (!sys.props.contains("spark.master")) b.master(s"local[$cpus]")
        val spark = b.getOrCreate()
        spark.sparkContext.setLogLevel(sys.env.getOrElse("SPARK_GRAFT_LOGLEVEL", "WARN"))
        try f(spark)
        finally {
          core.Spill.cleanup()
          spark.stop()
        }
    }

  /** Let a GC run between queries, outside any timed region, so each
    * query pays for its own garbage only, as in a per-job deployment.
    * The round-10 full bench showed two queries 3.8x slower in-session
    * than isolated on the same boot (BENCH_AB_r11.json:
    * q_approx_quantiles_bound 2.27 s in the 260-query session against
    * 0.60 s alone). Nothing is left to unpersist: [[core.QueryDef.run]]
    * releases a query's pins once its consumer returns.
    */
  def sweep(): Unit = System.gc()
}
