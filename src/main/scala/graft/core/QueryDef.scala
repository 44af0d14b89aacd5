package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog entry: a Spark query builder plus (when SQL-expressible)
  * the equivalent ANSI SQL the driver runs through DuckDB on the same
  * parquet tables. Column names/aliases MUST match between the two —
  * the driver's compare sorts columns by name before hashing values.
  *
  * `auditOnly` marks exact forms whose plan shape is deliberately NOT
  * the 100 TB path (e.g. a full-corpus single-partition NTILE): they
  * stay in the correctness catalog — Verify runs and oracle-gates them
  * at sf0.01 — but the default bench path runs their scale twin
  * instead, so the headline numbers measure the plan a deployment
  * would actually run.
  */
final case class QueryDef(
    name: String,
    body: (SparkSession, String, Pins) => DataFrame,
    oracle: Option[String],
    auditOnly: Boolean = false) {
  /** Mark this entry correctness-gated but excluded from default bench. */
  def audit: QueryDef = copy(auditOnly = true)

  /** Build with a fresh [[Pins]], hand the result to `use`, and release
    * the pins once `use` returns, also when the build or `use` throws.
    * The result may read what the build pinned, so `use` must finish
    * reading it (a write, a collect, a count) before it returns.
    */
  def run[A](s: SparkSession, dir: String)(use: DataFrame => A): A =
    Pins.using(pins => use(body(s, dir, pins)))

  /** The build alone, with [[Pins]] that nothing releases (the caller
    * sweeps them, or ContextCleaner does after a GC). Only the frozen
    * perfbench harness calls this; moving it onto [[run]] is a change
    * to the benchmark.
    */
  def build(s: SparkSession, dir: String): DataFrame = body(s, dir, new Pins)
}

object QueryDef {
  def sql(name: String)(oracle: String)(build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, (s, dir, _) => build(s, dir), Some(oracle))

  /** [[sql]] for a builder that pins intermediates in the [[Pins]] that
    * [[QueryDef.run]] releases after the consumer.
    */
  def pinned(name: String)(oracle: String)(
      build: (SparkSession, String, Pins) => DataFrame): QueryDef =
    QueryDef(name, build, Some(oracle))

  /** Rows-only check: no DuckDB-expressible oracle. */
  def rowsOnly(name: String)(build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, (s, dir, _) => build(s, dir), None)
}
