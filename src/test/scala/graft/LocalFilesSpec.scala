package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.kafka.{KafkaStubBroker, KafkaWireClient}
import graft.streaming.Service

/** `file:` I/O forks no process (`graft.core.LocalFiles`, registered by
  * `core-site.xml`), and the checkpoint files keep their integrity: each
  * commit still has its `.crc`, a corrupted one fails the restart, and a
  * checkpoint written by Spark's default manager resumes.
  */
class LocalFilesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val SparkDefaultManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"

  private def tmp(prefix: String): File = {
    val root = Paths.get("target", "stores")
    Files.createDirectories(root)
    Files.createTempDirectory(root, prefix).toAbsolutePath.toFile
  }

  /** Append `n` records, ids from `from`, spread over the topic's partitions. */
  private def produce(broker: KafkaStubBroker, from: Int, n: Int): Unit = {
    val c = new KafkaWireClient("127.0.0.1", broker.port)
    try {
      val parts = c.metadata(Seq("t")).head.partitions.size
      (from until from + n).groupBy(_ % parts).foreach { case (p, ids) =>
        c.produce("t", p, ids.map(i => (0L, s"k$i".getBytes(UTF_8), s"""{"id":$i}""".getBytes(UTF_8))))
      }
    } finally c.close()
  }

  /** AvailableNow drain of topic `t` at most 100 records a trigger to
    * the `file:` checkpoint `chk`; returns the rows this run read.
    */
  private def drain(s: SparkSession, broker: KafkaStubBroker, chk: File): Long = {
    val rows = new AtomicLong
    s.readStream.format("kafka-wire")
      .option("host", "127.0.0.1").option("port", broker.port.toString)
      .option("topic", "t").option("maxOffsetsPerTrigger", "100")
      .load()
      .writeStream
      .foreachBatch { (b: Dataset[Row], _: Long) => rows.addAndGet(b.count()); () }
      .option("checkpointLocation", chk.toURI.toString)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    rows.get
  }

  /** Commands of the processes started while `body` ran whose stack
    * has a Hadoop frame.
    */
  private def hadoopForks(body: => Unit): Seq[String] = {
    val jfr = Files.createTempFile(Paths.get("target"), "forks-", ".jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.setDestination(jfr)
      rec.start()
      try body finally rec.stop()
      RecordingFile.readAllEvents(jfr).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
          .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop"))))
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(jfr)
    }
  }

  private def batchFiles(dir: File): Seq[File] =
    dir.listFiles().toSeq.filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)

  test("a 4-trigger drain to a file: checkpoint and a parquet write fork no process from Hadoop") {
    // Hadoop's Shell forks once, when it loads, to probe for setsid
    Class.forName("org.apache.hadoop.util.Shell")
    Service.using(new KafkaStubBroker(3)) { broker =>
      produce(broker, 0, 400)
      val chk = tmp("chk_nofork_")
      var rows = 0L
      val forks = hadoopForks {
        rows = drain(spark, broker, chk)
        spark.range(1000).write.parquet(new File(tmp("pq_nofork_"), "out").toURI.toString)
      }
      assert(rows == 400)
      assert(forks.isEmpty, s"${forks.size} forks, e.g. ${forks.take(3).mkString("; ")}")
      // every offset and commit file keeps its checksum sidecar
      Seq("offsets", "commits").foreach { d =>
        val files = batchFiles(new File(chk, d))
        assert(files.map(_.getName) == (0 to 3).map(_.toString), d)
        files.foreach(f => assert(new File(f.getParentFile, s".${f.getName}.crc").isFile, s"$d/${f.getName}"))
      }
    }
  }

  test("one flipped byte in offsets/0 fails the restart with a checksum error") {
    Service.using(new KafkaStubBroker(3)) { broker =>
      produce(broker, 0, 50)
      val chk = tmp("chk_crc_")
      assert(drain(spark, broker, chk) == 50)
      // a digit of the last partition offset: read without its
      // checksum, the restart would resume from a wrong offset
      val f = new File(chk, "offsets/0").toPath
      val bytes = Files.readAllBytes(f)
      val i = bytes.lastIndexWhere(b => b >= '0' && b <= '9')
      bytes(i) = (bytes(i) ^ 1).toByte
      Files.write(f, bytes)
      produce(broker, 50, 50)
      val e = intercept[Exception](drain(spark, broker, chk))
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(_.isInstanceOf[org.apache.hadoop.fs.ChecksumException]),
        chain.map(_.toString).mkString(" <- "))
    }
  }

  test("a checkpoint written by Spark's default manager resumes under the FileSystem-API one") {
    Service.using(new KafkaStubBroker(3)) { broker =>
      val chk = tmp("chk_resume_")
      produce(broker, 0, 200)
      val child = spark.newSession()
      child.conf.set(ManagerKey, SparkDefaultManager)
      var first = 0L
      // the recording sees what it is there for: the default manager forks
      assert(hadoopForks { first = drain(child, broker, chk) }.nonEmpty)
      assert(first == 200)
      produce(broker, 200, 150)
      assert(spark.conf.getOption(ManagerKey).isEmpty)
      assert(drain(spark, broker, chk) == 150)
      assert(batchFiles(new File(chk, "commits")).size == 4)
    }
  }
}
