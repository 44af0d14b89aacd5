package graft.cli

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Scale-factor amplifier for the driver's synthetic testdata: reads a
  * source SF directory and writes a `factor`× larger one with the same
  * schemas, key-space shape, and per-replica statistics, for scale-proof
  * bench runs (BENCH_SCALE.json) — the driver only ships sf ≤ 0.1 and
  * its generator is not in this repo, so 10× data has to be derived.
  *
  * Replication model: every fact row is cloned once per replica
  * i ∈ [0, factor); replica 0 is the source data verbatim. Each cloned
  * key k becomes k + i·N (N = the source key-space size, dense 0..N−1
  * in this data), and every foreign key shifts by ITS parent's span —
  * so referential integrity holds within a replica and never crosses
  * replicas: joins fan out exactly like 10× organically-grown data, not
  * like 10 overlapping copies. `region`/`nation` stay fixed (bounded
  * dimensions, as in TPC-H at every SF).
  *
  * Two columns must NOT be cloned verbatim, because exact copies would
  * manufacture duplication statistics that real 10× data does not have
  * (every doc in a 10-clique of exact dups → quadratic pair blowup in
  * every dedup query — a scale-measurement artifact, not a workload):
  *
  *  - `documents.text`: replica i > 0 rewrites each token t → t·xi
  *    ("spark" → "sparkx3"). Within-replica n-gram/minhash/substring
  *    collision structure is IDENTICAL to the source corpus (the
  *    rewrite is a vocabulary bijection and every hash treats tokens
  *    opaquely), cross-replica overlap is ≈zero, and the global
  *    vocabulary grows with the corpus — which is how real web-scale
  *    text behaves. Dup counts therefore scale ×factor linearly.
  *    Two deliberate approximations in the rewrite: (1) the suffix
  *    alphabet overlaps the token alphabet, so a source token that
  *    happens to end in "x<i>" collides with replica i's rewrite of
  *    its stem — for this corpus (English-like words + digit runs)
  *    such tokens are rare enough that the cross-replica shingle
  *    overlap they admit is statistical noise, not a dup clique;
  *    (2) the regex rewrites per lowercase-alnum RUN, so a
  *    mixed-case token is suffixed per run rather than once — still
  *    a per-replica injective rewrite, which is all the dup-scaling
  *    argument needs. A non-alnum separator would make both exact
  *    at the cost of changing the token charset the quality/lang-id
  *    queries see; not worth it.
  *  - `embeddings.embedding`: replica i > 0 vectors are freshly drawn
  *    unit-norm 64-d gaussians (Box–Muller over xxhash64(vec_id, dim)
  *    — deterministic, seedless-rand-free), matching the source
  *    distribution (unit-norm, per-dim σ = 1/√64) without planting
  *    cosine≈1 cross-replica pairs.
  *
  * Usage: ScaleGen <srcSfDir> <destDir> [factor=10]
  * The output is a bench input, not a checked-in artifact — write it
  * under target/ (gitignored).
  */
object ScaleGen {
  private val Dim = 64

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dest = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    graft.Session.run("graft-scalegen")(generate(_, src, dest, factor))
  }

  /** Clone `df` once per replica with key columns shifted by their
    * span; `__i` is in scope for per-replica rewrites, dropped before
    * write. The explode runs inside the scan projection — one pass,
    * no shuffle.
    */
  private def replicated(df: DataFrame, factor: Int, spans: Map[String, Long]): DataFrame = {
    val rep = df.withColumn("__i", explode(sequence(lit(0), lit(factor - 1))))
    spans.foldLeft(rep) { case (d, (k, span)) =>
      d.withColumn(k, col(k) + col("__i").cast("long") * span)
    }
  }

  /** Deterministic uniform in (0, 1) from a salted row hash. */
  private def u(salt: Int, cols: Column*): Column =
    (pmod(xxhash64((lit(salt) +: cols): _*), lit(1000000000L)).cast("double") + 0.5) / 1e9

  def generate(spark: SparkSession, src: String, dest: String, factor: Int): Unit = {
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    // Each table must land as a single FILE named `<table>.parquet`,
    // not a Spark part-file directory: the driver's testdata ships
    // single files and the streaming sources glob LEAF file names
    // (`pathGlobFilter "events*.parquet"`), so a directory layout
    // makes every file-stream query read zero files. Parallelism at
    // the 10× scale comes from row-group granularity instead: an 8 MB
    // block size gives the scan ~8–16 splits per fact table, where the
    // single-row-group layout the one-task write would otherwise
    // produce serializes every scan.
    def write(df: DataFrame, t: String, parts: Int): Unit = {
      val tmp = s"$dest/_tmp_$t"
      // the repartition(1) SHUFFLE (not coalesce, which would collapse
      // the upstream stage into the single writer task) funnels to one
      // writer; the sort restores a deterministic row order the
      // shuffle destroyed — over ALL columns, since no single column
      // is unique in every table (l_orderkey repeats per line, so a
      // first-column sort would leave ties shuffle-ordered). Rows, row
      // order, schema and metadata are then reproducible across runs;
      // the bytes only within one JVM, because parquet-mr writes each
      // column chunk's `encodings` list in hash-set order. `parts`
      // sizes the upstream compute stage.
      val staged = df.repartition(parts).localCheckpoint()
      staged.repartition(1).sortWithinPartitions(df.columns.map(col): _*)
        .write.mode("overwrite")
        .option("parquet.block.size", (8 * 1024 * 1024).toString)
        .parquet(tmp)
      val dir = new java.io.File(tmp)
      val part = dir.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $tmp"))
      val target = new java.io.File(s"$dest/$t.parquet")
      if (target.isDirectory) {
        target.listFiles().foreach(_.delete()); target.delete()
      } else if (target.exists) target.delete()
      java.nio.file.Files.move(part.toPath, target.toPath)
      dir.listFiles().foreach(_.delete()); dir.delete()
      // localCheckpoint persisted the staged rows; release them
      staged.queryExecution.logical.foreach {
        case r: LogicalRDD => r.rdd.unpersist()
        case _ =>
      }
      println(s"[scalegen] $t -> $dest/$t.parquet")
    }

    // key-space spans come from the PARENT table (dense 0..N−1 in this
    // data), so a foreign key shifts by exactly its parent's span even
    // if the fact table happens not to reference the last parent key
    def span(t: String, k: String): Long =
      read(t).agg(max(col(k)).cast("long")).head().getLong(0) + 1
    val cSpan = span("customer", "c_custkey")
    val sSpan = span("supplier", "s_suppkey")
    val pSpan = span("part", "p_partkey")
    val oSpan = span("orders", "o_orderkey")

    // bounded dimensions: fixed at every SF, copied verbatim
    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)

    write(replicated(read("customer"), factor, Map("c_custkey" -> cSpan))
      .drop("__i"), "customer", 2)
    write(replicated(read("supplier"), factor, Map("s_suppkey" -> sSpan))
      .drop("__i"), "supplier", 1)
    write(replicated(read("part"), factor, Map("p_partkey" -> pSpan))
      .drop("__i"), "part", 2)
    write(replicated(read("orders"), factor,
        Map("o_orderkey" -> oSpan, "o_custkey" -> cSpan))
      .drop("__i"), "orders", 8)
    write(replicated(read("lineitem"), factor,
        Map("l_orderkey" -> oSpan, "l_partkey" -> pSpan, "l_suppkey" -> sSpan))
      .drop("__i"), "lineitem", 16)
    write(replicated(read("events"), factor,
        Map("event_id" -> span("events", "event_id"),
          "user_id" -> span("events", "user_id")))
      .drop("__i"), "events", 8)

    // documents: per-replica vocabulary bijection (see scaladoc). The
    // replacement string must reference the replica id, so the rewrite
    // goes through expr() — regexp_replace's Column overload takes the
    // replacement as a per-row column there.
    val docs = replicated(read("documents"), factor,
        Map("doc_id" -> span("documents", "doc_id")))
      .withColumn("text",
        when(col("__i") === 0, col("text"))
          .otherwise(expr("regexp_replace(text, '([a-z0-9]+)', concat('$1x', __i))")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("__i")
    write(docs, "documents", 4)

    // embeddings: replica 0 verbatim; replicas i > 0 fresh unit-norm
    // gaussians via Box–Muller over a salted (vec_id, dim) hash
    val rawVec = transform(sequence(lit(0), lit(Dim - 1)),
      jc => sqrt(lit(-2.0) * log(u(1, col("vec_id"), jc))) *
        cos(lit(2.0 * math.Pi) * u(2, col("vec_id"), jc)))
    val embOut = replicated(read("embeddings"), factor,
        Map("vec_id" -> span("embeddings", "vec_id")))
      .withColumn("__raw", rawVec)
      .withColumn("__nrm",
        sqrt(aggregate(col("__raw"), lit(0.0), (a, x) => a + x * x)))
      .withColumn("embedding",
        when(col("__i") === 0, col("embedding"))
          .otherwise(transform(col("__raw"),
            x => (x / col("__nrm")).cast("float"))))
      .drop("__i", "__raw", "__nrm")
    write(embOut, "embeddings", 2)
  }
}
