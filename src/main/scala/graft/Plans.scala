package graft

/** Plan-audit main: prints `.explain("formatted")` for representative
  * catalog queries so scan pushdown, join strategies, partial
  * aggregation, and codegen spans can be reviewed (see PLANS.md).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSet
      else Set("q_scan_filter_project", "q_multiway_join", "q_group_avg_minute",
        "q_dedup_exact", "q_minhash_pairs", "q_embed_topk", "q_ann_ivf",
        "q_upsert_last_wins", "q_semi_join",
        // round-2 additions worth auditing
        "q_simhash60", "q_hash_split", "q_range_join_bucketed",
        "q_contamination", "q_grouping_sets", "q_gap_fill")
    Session.run("graft-plans") { spark =>
      // Many builders materialize intermediates (Spill.materialize, CC
      // rounds), so the RETURNED DataFrame's plan is just a spill scan.
      // SPARK_GRAFT_PLANS_EXEC=1 additionally prints every plan the
      // builder executed, via a listener — the real evidence for those.
      val dumpExecuted = sys.env.get("SPARK_GRAFT_PLANS_EXEC").contains("1")
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          println(s"\n-------- executed ($funcName) --------")
          println(qe.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      }
      if (dumpExecuted) spark.listenerManager.register(listener)
      try SparkEntry.catalog.filter(q => names.contains(q.name)).foreach { q =>
        println(s"\n======== ${q.name} ========")
        val df = q.build(spark, sfDir)
        // listener events are async; settle before the final explain so
        // executed plans stay inside this query's banner
        if (dumpExecuted) Thread.sleep(1500)
        df.explain("formatted")
        if (dumpExecuted) Thread.sleep(1500)
      } finally spark.listenerManager.unregister(listener)
    }
  }
}
