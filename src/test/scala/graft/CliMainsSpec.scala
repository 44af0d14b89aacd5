package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The three CLI entry points run end-to-end in-process (their
  * getOrCreate picks up the shared test session): collector tree → CSV;
  * replay flags → file-exchange wire; wire → streaming upsert store.
  */
class CliMainsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(p: String) =
    Files.createTempDirectory(Paths.get("target"), p).toString

  test("CollectorMain: sensor tree to grouped CSV") {
    val root = tmp("cli_keti_")
    def write(room: String, file: String, rows: Seq[(Long, Double)]): Unit = {
      val d = Paths.get(root, room)
      Files.createDirectories(d)
      Files.writeString(d.resolve(file),
        rows.map { case (t, v) => s"$t,$v" }.mkString("\n"))
    }
    val t = 1377299041L
    Seq("co2.csv", "light.csv", "temperature.csv", "humidity.csv", "pir.csv")
      .foreach(f => write("413", f, Seq(t -> 1.0)))
    val out = tmp("cli_collector_out_")
    graft.cli.CollectorMain.main(Array(root, out))
    val csv = spark.read.option("header", "true").csv(out)
    assert(csv.count() == 1)
    assert(csv.columns.contains("room"))
  }

  test("ReplayMain flags -> wire; StreamMain -> upsert store") {
    val exchange = tmp("cli_exchange_")
    graft.cli.ReplayMain.main(Array(
      "-i", "/root/testdata/sf0.001/events.parquet", "-e", "parquet",
      "-t", "events", "-r", "2", "-k", "event_id", "-x", exchange))
    // 2 repeats of the full table landed on the wire. (Count the source
    // through the Tables loader — Replay.run restores the nanos-as-long
    // conf on exit, so a raw spark.read.parquet of the NANOS table here
    // would rightly fail.)
    val wire = spark.read.parquet(s"$exchange/topic=events")
    val nEvents = graft.core.Tables.events(spark, "/root/testdata/sf0.001").count()
    assert(wire.count() == 2 * nEvents)

    // the COMPOSED pipeline, exactly as a reference user runs it:
    // producer (-wf json) -> wire -> streaming consumer -> K3 upsert
    val jsonExchange = tmp("cli_exchange_json_")
    graft.cli.ReplayMain.main(Array(
      "-i", "/root/testdata/sf0.001/events.parquet", "-e", "parquet",
      "-t", "events", "-k", "event_id", "-wf", "json", "-x", jsonExchange))
    val store = tmp("cli_store_")
    graft.cli.StreamMain.main(Array(
      s"$jsonExchange/topic=events", store, "user_id", "json"))
    val events = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
    val stored = new graft.streaming.DeltaUpsertStore(store, "user_id",
      Seq("ts", "event_id")).read(spark)
    // last-write-wins: exactly one row per user, none of them null-keyed
    // (a producer/consumer wire-format mismatch PERMISSIVE-nulls rows)
    assert(stored.count() == events.select("user_id").distinct().count())
    assert(stored.filter(org.apache.spark.sql.functions.col("user_id").isNull).isEmpty)

    // same composed pipeline, ES-wire sink: an http store root routes the
    // consumer through the _bulk protocol (external version = wire ts)
    val stub = new graft.streaming.EsStub()
    stub.start()
    try {
      graft.cli.StreamMain.main(Array(
        s"$jsonExchange/topic=events", stub.baseUrl, "user_id", "json"))
      assert(stub.snapshot("events").size ==
        events.select("user_id").distinct().count())
    } finally stub.stop()

    // -kw host:port: the producer speaks the REAL Kafka protocol to the
    // in-process broker instead of writing exchange files
    val broker = new graft.kafka.KafkaStubBroker(3)
    broker.start()
    try {
      graft.cli.ReplayMain.main(Array(
        "-i", "/root/testdata/sf0.001/events.parquet", "-e", "parquet",
        "-t", "events", "-k", "event_id", "-wf", "json",
        "-kw", s"127.0.0.1:${broker.port}"))
      val consumed = new graft.kafka.KafkaWireExchange("127.0.0.1", broker.port)
        .read(spark, "events")
      assert(consumed.count() == nEvents)
    } finally broker.stop()
  }

  test("CurateMain: corpus in, deduplicated corpus + report out") {
    val out = tmp("cli_curate_")
    graft.cli.CurateMain.main(Array("/root/testdata/sf0.001", out))
    val kept = spark.read.parquet(s"$out/kept")
    val nIn = graft.core.Tables.documents(spark, "/root/testdata/sf0.001").count()
    val nKept = kept.count()
    // dedup never grows the corpus, and the report agrees with the data
    assert(nKept <= nIn && nKept > 0)
    val report = new String(
      Files.readAllBytes(Paths.get(out, "report.json")), "UTF-8")
    assert(report.contains(s""""n_in":$nIn""") &&
      report.contains(s""""n_kept":$nKept"""))
    // surviving docs are unique per cluster: every cluster_id appears once
    assert(kept.groupBy("cluster_id").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1).isEmpty)
  }

  test("ProfileMain: schema-driven profile of an arbitrary parquet table") {
    val out = tmp("cli_profile_")
    graft.cli.ProfileMain.main(
      Array("/root/testdata/sf0.001/orders.parquet", out))
    val prof = spark.read.parquet(s"$out/profile")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.isNullAt(3))).toMap
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    // one row per column, numeric/timestamp columns carry a range,
    // string columns do not, and NDV agrees with a direct count
    assert(prof.keySet == orders.columns.toSet)
    assert(!prof("o_orderkey")._3 && !prof("o_orderdate")._3)
    assert(prof("o_orderstatus")._3)
    val ndv = orders.select("o_orderstatus").distinct().count()
    assert(prof("o_orderstatus")._2 == ndv)
    assert(prof.values.forall(_._1 == 0L)) // no nulls in the test data
  }

  test("Profiler: dotted and duplicate column names, zero-row tables") {
    import spark.implicits._
    // "ANY parquet table": a dotted name is NOT struct access, and two
    // columns may share a name — both must profile by position
    val weird = Seq((1, 2.0, "x"), (4, 5.5, "y"))
      .toDF("a.b", "v", "v")
    val p = graft.ops.Profiler.profile(weird)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    assert(p.map(_._1).sorted == Seq("a.b", "v", "v"))
    val ab = p.find(_._1 == "a.b").get
    assert(ab._2 == 0L && ab._3 == 2L && ab._4 == Some(1.0))
    // the two "v" columns profile independently: one numeric with a
    // range, one string without
    assert(p.filter(_._1 == "v").map(_._4.isDefined).sorted == Seq(false, true))
    // zero-row table: null count reports 0, not a NULL-driven NPE
    val empty = graft.ops.Profiler.profile(
      Seq.empty[(Int, Double, String)].toDF("a", "b", "c"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.isNullAt(3)))
    assert(empty.toSeq == Seq((0L, 0L, true), (0L, 0L, true), (0L, 0L, true)))
  }

  test("ScaleGen.generate leaves no persisted RDD behind on a live session") {
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    graft.cli.ScaleGen.generate(spark, "/root/testdata/sf0.001", tmp("scalegen_p_"), 1)
    // each table's localCheckpoint is released once its file is written
    assert(spark.sparkContext.getPersistentRDDs.keySet == pinned)
  }

  test("ScaleGen output is byte-reproducible across runs") {
    // the single-file writer sorts on ALL columns before the one-task
    // write (no single column is unique in every table), so two
    // amplifications of the same source in ONE JVM produce identical
    // bytes. Across JVMs only rows, row order, schema and metadata
    // match: parquet-mr writes each column chunk's `encodings` list in
    // hash-set order, which changes from JVM to JVM.
    val (a, b) = (tmp("scalegen_a_"), tmp("scalegen_b_"))
    graft.cli.ScaleGen.generate(spark, "/root/testdata/sf0.001", a, 2)
    graft.cli.ScaleGen.generate(spark, "/root/testdata/sf0.001", b, 2)
    val tables = new java.io.File(a).list().toSeq.sorted
    assert(tables.nonEmpty && tables.forall(_.endsWith(".parquet")))
    tables.foreach { t =>
      val ba = Files.readAllBytes(Paths.get(a, t))
      val bb = Files.readAllBytes(Paths.get(b, t))
      assert(java.util.Arrays.equals(ba, bb), s"$t differs across runs")
    }
  }
}
