package graft.kafka

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.replay.Replay.{Exchange, ReplayConfig}

/** The Kafka-backed [[graft.replay.Replay.Exchange]]: real record-batch
  * bytes over real TCP, produced and consumed through the `kafka-wire`
  * DataSource ([[KafkaWireSourceProvider]]) — the executed form of
  * S5/K2 that `FileExchange` only stands in for.
  *
  * Scale shape: the producer is the connector's writer (one producer
  * socket per Spark task, rows placed by the default partitioner —
  * murmur2 of the key, the contract `dataframe_to_kafka.py:94-100`
  * relies on for per-key ordering — so no data crosses the driver);
  * the consumer is the connector's batch scan, split into offset-range
  * slices so the decode after it is not pinned to the partition count.
  *
  * Delivery is at-least-once, exactly like the reference's producer:
  * a re-run appends again (no file-marker idempotence — that is the
  * FileExchange twin's exactly-once variant). `idempotent` and
  * `transactionalId` swap in the two KIP-98 fault models instead
  * (see [[publishFenced]]).
  */
final class KafkaWireExchange(host: String, port: Int,
    idempotent: Boolean = false,
    transactionalId: Option[String] = None) extends Exchange {

  /** Producer: `cfg.repeat` at-least-once passes of a `kafka-wire`
    * write, each followed by the `afterWrite` seam, a progress line and
    * the `batchSleepMs` pacing — unless a fault model is configured.
    */
  override def publish(wire: DataFrame, cfg: ReplayConfig,
      afterWrite: Int => Unit = _ => ()): Unit =
    if (idempotent || transactionalId.isDefined) publishFenced(wire, cfg, afterWrite)
    else {
      val t0 = System.nanoTime()
      (1 to cfg.repeat).foreach { r =>
        // CreateTime 0L (no timestamp column): the wire carries event
        // time in the payload (ts_us), not the broker timestamp
        wire.write.format("kafka-wire")
          .option("host", host).option("port", port.toString)
          .option("topic", cfg.topic)
          .mode("append").save()
        afterWrite(r)
        val elapsed = (System.nanoTime() - t0) / 1e9
        val eta = elapsed / r * (cfg.repeat - r)
        // progress, not an error: stdout so sbt tags it [info], not [error]
        println(
          f"[replay-kafka] batch $r/${cfg.repeat} (${100.0 * r / cfg.repeat}%.0f%%) eta ${eta}%.1fs")
        if (cfg.batchSleepMs > 0 && r < cfg.repeat) Thread.sleep(cfg.batchSleepMs)
      }
    }

  /** The KIP-98 fault models, one per-task loop. Each task is ONE
    * producer session — one InitProducerId handshake, monotone
    * per-partition sequences stamped in each batch header — and
    * `cfg.repeat` plays the fault:
    *
    *  - idempotent (`enable.idempotence=true`): the RETRY loop at BATCH
    *    granularity — every batch is sent repeat times back-to-back with
    *    byte-identical (pid, sequence), the broker re-acks the
    *    duplicates and appends exactly once. Retrying per batch (not the
    *    whole task) is the protocol's own constraint: the broker's
    *    producer-state window holds the last 5 sequence ranges per
    *    (pid, partition) — the very reason Kafka caps max.in.flight at 5
    *    when idempotence is on — so a duplicate must arrive while its
    *    range is still cached. `afterWrite` fires once, for the single
    *    logical pass.
    *  - transactional: repeat ATTEMPTS of the whole publish under a
    *    STABLE per-task id (`<transactionalId>-p<sparkPartition>`, not
    *    the attempt). Attempts 1..repeat-1 are KILLED after producing
    *    (no EndTxn — the crash a task dies from between its last produce
    *    and its commit), the final attempt commits. Every attempt's
    *    InitProducerId returns the same pid with a bumped epoch, FENCING
    *    the previous attempt and aborting whatever it left open, so a
    *    read_committed consumer sees EXACTLY ONE copy with zero
    *    consumer-side dedup. `afterWrite` fires after each attempt.
    *
    * Null keys fall back to the task's partition index (sticky
    * round-robin, the modern default partitioner's behavior per batch).
    */
  private def publishFenced(wire: DataFrame, cfg: ReplayConfig,
      afterWrite: Int => Unit): Unit = {
    val (h, p, topic, txn) = (host, port, cfg.topic, transactionalId)
    val nParts = partitionCount(topic)
    val (attempts, sends) = if (txn.isDefined) (cfg.repeat, 1) else (1, cfg.repeat)
    val pairs = wire.select(col("key").cast("binary"), col("value").cast("binary"))
    (1 to attempts).foreach { attempt =>
      val commit = attempt == attempts
      pairs.foreachPartition { (rows: Iterator[Row]) =>
        if (rows.hasNext) {
          val task = TaskContext.getPartitionId()
          val taskTxn = txn.map(base => s"$base-p$task").orNull
          val c = new KafkaWireClient(h, p)
          try {
            val (pid, epoch) = c.initProducerId(taskTxn)
            val nextSeq = scala.collection.mutable.Map.empty[Int, Int]
            val added = scala.collection.mutable.Set.empty[Int]
            rows.grouped(500).foreach { chunk =>
              chunk
                .map { row =>
                  val k = row.getAs[Array[Byte]](0)
                  val part = if (k == null) task % nParts else KafkaCodec.partitionFor(k, nParts)
                  (part, k, row.getAs[Array[Byte]](1))
                }
                .groupBy(_._1)
                .foreach { case (part, rs) =>
                  if (taskTxn != null && added.add(part))
                    c.addPartitionsToTxn(taskTxn, pid, epoch, topic, Seq(part))
                  val recs = rs.map { case (_, k, v) => (0L, k, v) }
                  val seq = nextSeq.getOrElse(part, 0)
                  (1 to sends).foreach { _ =>
                    c.produce(topic, part, recs, gzip = false, pid, epoch, seq,
                      transactionalId = taskTxn)
                  }
                  nextSeq(part) = seq + recs.size
                }
            }
            // the kill: attempts before the last never commit — their
            // open transaction is aborted by the next attempt's init
            if (commit && added.nonEmpty) c.endTxn(taskTxn, pid, epoch, commit = true)
          } finally c.close()
        }
      }
      afterWrite(attempt)
    }
  }

  // metadata auto-creates the topic, fixing its partition count before
  // any executor produces or the scan plans
  private def partitionCount(topic: String): Int = {
    val c = new KafkaWireClient(host, port)
    try c.metadata(Seq(topic)).head.partitions.size finally c.close()
  }

  /** Consumer: the whole log (earliest → high watermark) as the
    * FileExchange-compatible (key, value) STRING frame plus the Kafka
    * coordinates (partition, offset), so ordering assertions are
    * expressible downstream.
    */
  override def read(spark: SparkSession, topic: String): DataFrame =
    readIsolation(spark, topic, "read_uncommitted")

  /** The read_committed twin of [[read]]: only records of COMMITTED
    * transactions (plus plain non-transactional records) come back —
    * aborted attempts' records and control markers are skipped at the
    * protocol level, not deduplicated afterwards.
    */
  def readCommitted(spark: SparkSession, topic: String): DataFrame =
    readIsolation(spark, topic, "read_committed")

  private def readIsolation(spark: SparkSession, topic: String,
      isolation: String): DataFrame = {
    val nParts = partitionCount(topic)
    spark.read.format("kafka-wire")
      .option("host", host).option("port", port.toString)
      .option("topic", topic)
      .option("isolation.level", isolation)
      // 4 offset slices per topic-partition, capped at the stage's core
      // count: enough that the downstream projection (JSON decode) is no
      // longer pinned to partition-count tasks, without putting every
      // core into contention on the same few broker partition locks
      // (measured: 32 readers over 3 partitions ran SLOWER than 3 — lock
      // convoy on the per-partition log)
      .option("minPartitions",
        math.min(spark.sparkContext.defaultParallelism, 4 * nParts).toString)
      .load()
      .select(col("key").cast("string").as("key"),
        col("value").cast("string").as("value"), col("partition"), col("offset"))
  }
}
