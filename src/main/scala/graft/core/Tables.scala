package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Always load through here: plain `spark.read.parquet` keeps the scan
  * declarative so Catalyst pushes filters/column pruning into the parquet
  * reader (verify with `.explain("formatted")` → `PushedFilters`,
  * `ReadSchema`). At 100 TB the same call reads a partitioned directory
  * tree; nothing here assumes single-file layout.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Partition count scaled to a table's on-disk footprint — for
    * CPU-bound per-row stages (regex tokenize, per-doc sorts/windows)
    * whose per-task volume must stay CONSTANT as the corpus grows.
    * A fixed `spark.sql.shuffle.partitions` makes per-task sort volume
    * ∝ input, and once it crosses the in-memory sort budget the
    * external-merge tier engages and the fixed-box scale curve bends
    * superlinear (measured ~n^1.2 on four text queries at the sf10
    * second decade, BENCH_SCALE_SF10.json). On a real cluster executors
    * scale with data; on the fixed box this keeps each task's slice at
    * `perTaskBytes` of compressed parquet regardless of SF. Floor =
    * defaultParallelism, so small-SF plans (and their bench baselines
    * and oracle hashes) are unchanged — the knob binds only once the
    * table outgrows ~8 MB.
    */
  def scaledPartitions(spark: SparkSession, sfDir: String, name: String,
      perTaskBytes: Long = 256L << 10): Int = {
    val p = new org.apache.hadoop.fs.Path(s"$sfDir/$name.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    math.max(spark.sparkContext.defaultParallelism,
      math.ceil(bytes.toDouble / perTaskBytes).toInt)
  }

  /** Normalize the events `ts` column to a microsecond TimestampType
    * regardless of how the generator wrote it — testdata generations
    * have shipped it as parquet TIMESTAMP(NANOS) (which Spark 4 refuses
    * outright; read nanos as LONG, floor-divide to micros — matches
    * DuckDB's ns→us truncation for the post-1970 data) and as
    * TIMESTAMP(MICROS) without UTC adjustment (which Spark reads as
    * TIMESTAMP_NTZ; cast — session tz is UTC so the instant is
    * unchanged). Downstream code and oracles see one stable type.
    * The nanos-as-long runtime conf is set only when the file needs it,
    * so reading a MICROS generation leaves the caller's conf as it was.
    */
  private def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    val df =
      try load(spark, dir, "events")
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "PARQUET_TYPE_ILLEGAL" =>
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          load(spark, dir, "events")
      }
    import org.apache.spark.sql.types.{LongType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => // nanos-as-long generation
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case TimestampType => df
      case _ => // TIMESTAMP_NTZ generation
        df.withColumn("ts", df.col("ts").cast(TimestampType))
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame = eventsRaw(spark, dir)
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
