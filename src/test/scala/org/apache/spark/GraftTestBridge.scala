package org.apache.spark

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
import org.apache.spark.storage.RDDBlockId

/** Test access to `private[spark]` state of a local SparkContext. */
object GraftTestBridge {

  /** Ids of the RDDs any block manager still holds blocks of. */
  def rddIdsWithBlocks(sc: SparkContext): Set[Int] =
    sc.env.blockManager.master
      .getMatchingBlockIds(_.isRDD, askStorageEndpoints = true)
      .collect { case RDDBlockId(id, _) => id }.toSet

  /** Wait until every event posted so far has reached the listeners. */
  def awaitListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Streaming listener buses registered on the context (one per session
    * that has used `streams`, until it is unregistered).
    */
  def streamingListenerBuses(sc: SparkContext): Int =
    sc.listenerBus.listeners.asScala.count(_.isInstanceOf[StreamingQueryListenerBus])
}
