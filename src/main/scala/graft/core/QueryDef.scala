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
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    auditOnly: Boolean = false) {
  /** Mark this entry correctness-gated but excluded from default bench. */
  def audit: QueryDef = copy(auditOnly = true)
}

object QueryDef {
  def sql(name: String)(oracle: String)(build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, build, Some(oracle))

  /** [[sql]] for a builder that pins intermediates: it runs in
    * [[Spill.scoped]], so its result is spilled and its own pins are
    * released before the frame is returned.
    */
  def pinned(name: String)(oracle: String)(
      build: (SparkSession, String, Pins) => DataFrame): QueryDef =
    sql(name)(oracle)((s, dir) => Spill.scoped(build(s, dir, _)))

  /** Rows-only check: no DuckDB-expressible oracle. */
  def rowsOnly(name: String)(build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, build, None)
}
