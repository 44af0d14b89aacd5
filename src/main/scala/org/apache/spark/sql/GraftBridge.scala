package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` constructors needed to hand a custom
  * LogicalPlan back to the public Dataset API (the standard extension
  * technique — the planner strategy itself is injected through the
  * public `spark.experimental.extraStrategies` / SparkSessionExtensions
  * surfaces).
  */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** Unregister `session`'s streaming listener bus from the
    * SparkContext. Spark adds one such bus per session, on its first
    * `streams` use, and keeps it for the context's life; a session that
    * runs no more queries needs it no longer. Events still queued for
    * the bus are then not delivered to its listeners.
    */
  def dropStreamingListenerBus(session: SparkSession): Unit =
    session.sparkContext.removeSparkListener(streamsListenerBus.get(session.streams)
      .asInstanceOf[org.apache.spark.scheduler.SparkListenerInterface])

  // a Scala-private field of the session's StreamingQueryManager
  private lazy val streamsListenerBus = {
    val f = classOf[classic.StreamingQueryManager].getDeclaredField("listenerBus")
    f.setAccessible(true)
    f
  }
}
