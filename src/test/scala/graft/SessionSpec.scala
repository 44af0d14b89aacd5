package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** The shared session contract of every main: a live session is used as
  * it is (not reconfigured, not cleaned up, not stopped).
  */
class SessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def stdout(body: => Unit): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(buf, true, "UTF-8"))(body)
    buf.toString("UTF-8")
  }

  test("mains run on a live session leave it running, with its conf and spills") {
    val conf0 = spark.conf.getAll
    val spill = Files.createTempDirectory(Paths.get("target"), "session_spill_")
    core.Spill.track(spill.toString)
    stdout {
      Plans.main(Array(sf, "q_scan_filter_project"))
      cli.QueryProfile.main(Array(sf, "q_scan_filter_project", "1"))
    }
    assert(!spark.sparkContext.isStopped)
    assert(spark.conf.getAll == conf0)
    assert(Files.exists(spill))
    assert(spark.range(3).count() == 3)
  }

  test("QueryProfile prints a bucket line and its stage lines per pass") {
    val lines = stdout(cli.QueryProfile.main(Array(sf, "q_scan_filter_project", "2")))
      .linesIterator.toVector
    val passes = lines.indices.filter(i => lines(i).startsWith("{\"pass\":"))
    assert(passes.size == 2, lines.mkString("\n"))
    passes.zipWithIndex.foreach { case (i, p) =>
      val line = lines(i)
      def num(k: String): Double = {
        val m = ("\"" + k + "\":(-?[0-9.]+)[,}]").r.findFirstMatchIn(line)
        assert(m.isDefined, s"$k missing in $line")
        m.get.group(1).toDouble
      }
      assert(num("pass") == p + 1)
      assert(line.contains("\"query\":\"q_scan_filter_project\""))
      assert(line.contains(s""""sf":"$sf""""))
      Seq("build_ms", "pre_post_ms", "job_ms", "gap_ms", "task_ms",
        "codegen_ms", "n_jobs", "n_stages", "n_tasks").foreach(num)
      assert(num("n_jobs") >= 1)
      assert(num("job_ms") <= num("wall_ms"))
      assert(num("pre_post_ms") >= 0 && num("gap_ms") >= 0, line)
      assert(lines.lift(i + 1).exists(_.startsWith("  stage ")), line)
    }
  }

  test("the builder leaves adaptive execution to Spark's defaults, which are on") {
    assert(SQLConf.ADAPTIVE_EXECUTION_ENABLED.defaultValue.contains(true))
    assert(SQLConf.COALESCE_PARTITIONS_ENABLED.defaultValue.contains(true))
  }

  test("Tables.events sets nanos-as-long only for a TIMESTAMP(NANOS) file") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getAll.get(key)
    try {
      spark.conf.unset(key)
      assert(core.Tables.events(spark, sf).count() > 0)
      assert(!spark.conf.getAll.contains(key))

      val dir = Files.createTempDirectory(Paths.get("target"), "nanos_events_")
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
      val w = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
        .withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", 1L).append("ts", 1500000000123456789L))
      finally w.close()
      val micros = core.Tables.events(spark, dir.toString)
        .select(unix_micros(col("ts"))).head().getLong(0)
      assert(micros == 1500000000123456L)
      assert(spark.conf.getAll.get(key).contains("true"))
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
