package graft.cli

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.Trigger

import graft.Session
import graft.batch.Collector
import graft.replay.Replay
import graft.replay.Replay.{FileExchange, ReplayConfig}
import graft.streaming.{DeltaUpsertStore, Ingest}

// The reference's three executable entry points (SURVEY.md §3), as thin
// CLIs over the library; a user who ran the reference's scripts runs
// these instead:
//
//  - `data_collector.py`        -> CollectorMain
//  - `dataframe_to_kafka.py`    -> ReplayMain (same flag surface)
//  - `spark_streaming_kafka.py` -> StreamMain
//
// Where each reference script built its own SparkSession, these run on
// `graft.Session.run`: the shared session config, or the caller's live
// session as it is. All logic lives in the library objects they call.

/** `data_collector.py` (SURVEY §3.1): merge per-room sensor trees,
  * minute-floor group-average, write one CSV.
  *
  * Usage: CollectorMain <sensorRoot> <outCsvDir> [--per-dir]
  * (default scan strategy is the globbed single pass; `--per-dir`
  * switches to the reference's room-at-a-time iteration)
  */
object CollectorMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: CollectorMain <sensorRoot> <outCsvDir> [--per-dir]")
    Session.run("graft-collector") { spark =>
      val merged =
        if (args.contains("--per-dir")) Collector.mergeRoomsPerDir(spark, args(0))
        else Collector.mergeRoomsGlob(spark, args(0))
      Collector.writeMergedCsv(Collector.groupAverage(merged), args(1))
    }
  }
}

/** `dataframe_to_kafka.py` (SURVEY §3.2) — same flags:
  * -i input, -s sep, -e csv|parquet, -ks kafkaSep, -rst rowSleepSec
  * (applied per batch), -t topic, -b bootstrap, -r repeat, -shf,
  * -k keyCol, -exc col1,col2,...
  * plus `-x exchangeRoot` for the zero-egress file transport (omit to
  * write through the Kafka connector at `-b`).
  */
object ReplayMain {
  private val Usage = "usage: ReplayMain -i <input> [-s ,] [-e csv] " +
    "[-ks ,] [-rst 0.5] [-t topic] [-b host:9092] [-r 1] [-shf true] " +
    "[-k keyCol] [-exc c1,c2] [-x exchangeRoot] [-kw host:port] [-wf dsv|json]"
  private val Flags = Set("-i", "-s", "-e", "-ks", "-rst", "-t", "-b", "-r",
    "-shf", "-k", "-exc", "-x", "-kw", "-wf")

  def main(args: Array[String]): Unit = {
    // every flag takes a value (matching the reference CLI); validate
    // arity and flag names so a valueless flag can't silently misalign
    // the rest of the pairs
    require(args.length % 2 == 0, s"odd argument count — every flag takes a value\n$Usage")
    val a = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val unknown = a.keySet.diff(Flags)
    require(unknown.isEmpty, s"unknown flag(s): ${unknown.mkString(", ")}\n$Usage")
    require(a.contains("-i"), Usage)
    val cfg = ReplayConfig(
      input = a("-i"),
      sep = a.getOrElse("-s", ","),
      extension = a.getOrElse("-e", "csv"),
      kafkaSep = a.getOrElse("-ks", ","),
      batchSleepMs = (a.getOrElse("-rst", "0").toDouble * 1000).toLong,
      topic = a.getOrElse("-t", "test1"),
      bootstrap = a.getOrElse("-b", "localhost:9092"),
      repeat = a.getOrElse("-r", "1").toInt,
      shuffle = a.get("-shf").exists(_.toBoolean),
      keyCol = a.get("-k"),
      excluded = a.get("-exc").map(_.split(",").toSeq).getOrElse(Nil),
      wireFormat = a.getOrElse("-wf", "dsv"))
    Session.run("graft-replay") { spark =>
      (a.get("-x"), a.get("-kw")) match {
        case (Some(root), _) => Replay.run(spark, cfg, new FileExchange(root))
        // -kw host:port: graft's own wire-protocol producer — real
        // Kafka bytes with no connector jar on the classpath
        case (None, Some(hp)) =>
          val (host, port) = hp.span(_ != ':')
          Replay.run(spark, cfg,
            new graft.kafka.KafkaWireExchange(host, port.drop(1).toInt))
        case (None, None) =>
          val wire = Replay.encode(Replay.transform(Replay.readSource(spark, cfg), cfg), cfg)
          Replay.toKafka(wire, cfg)
      }
    }
  }
}

/** `spark_streaming_kafka.py` (SURVEY §3.3): streaming decode of the
  * wire into the K3 upsert store (last write per key wins; the parquet
  * store is compacted to one base segment after the drain), with the
  * K5 health preflight. SCHEMA-ON-READ like the reference consumer: the
  * CLI declares the wire schema (DDL) and format instead of assuming
  * one — a JSON consumer pointed at a DSV wire would PERMISSIVE-null
  * every row, exactly as with a misconfigured reference deployment.
  *
  * Usage: StreamMain <wireDir> <storeRoot> [keyCol] [json|dsv] [ddl]
  * — `wireDir` is a FileExchange topic dir (or any (key, value)
  * parquet directory). Defaults decode ReplayMain's events wire
  * (`-wf json`, ts as raw nanos).
  */
object StreamMain {
  private val EventsDdl = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
    "event_type STRING, value DOUBLE, props STRING"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: StreamMain <wireDir> <storeRoot|http(s)://es-host> [keyCol] [json|dsv] [ddl]")
    val keyCol = if (args.length > 2) args(2) else "user_id"
    val format = if (args.length > 3) args(3) else "json"
    val ddl = if (args.length > 4) args(4) else EventsDdl
    val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    Session.run("graft-stream") { spark =>
      // an http(s) store root selects the Elasticsearch _bulk wire path
      // (the reference consumer's actual sink, spark_streaming_kafka
      // .py:37-44) with external versioning on the event time; any
      // other root is the local parquet upsert store
      val store: Either[graft.streaming.EsHttpStore, DeltaUpsertStore] =
        if (args(1).startsWith("http://") || args(1).startsWith("https://"))
          Left(new graft.streaming.EsHttpStore(args(1), "events", keyCol,
            Seq("ts", "event_id"), "__ver", schema))
        else Right(new DeltaUpsertStore(args(1), keyCol, Seq("ts", "event_id")))
      require(store.fold(_.healthCheck(), _.healthCheck()),
        "sink preflight failed")  // K5
      val wire = spark.readStream
        .schema("key STRING, value STRING")
        // plain nested listing: the exchange's batch=<r> dirs are
        // transport framing, not a partition column of the wire
        .option("recursiveFileLookup", "true")
        .parquet(args(0))
      val decoded = format match {
        case "json" =>
          wire.selectExpr("CAST(value AS STRING) AS payload")
            .select(org.apache.spark.sql.functions.from_json(
              org.apache.spark.sql.functions.col("payload"), schema).as("data"))
            .select("data.*")
        case "dsv" =>
          wire.selectExpr("CAST(value AS STRING) AS payload")
            .select(org.apache.spark.sql.functions.from_csv(
              org.apache.spark.sql.functions.col("payload"), schema,
              Map("sep" -> ",")).as("data"))
            .select("data.*")
        case other => throw new IllegalArgumentException(s"unsupported format: $other")
      }
      val q = decoded.writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[Row], id: Long) =>
          store.fold(
            // the wire ts's epoch micros double as the external
            // version — monotone per key, so replays and concurrent
            // partitions converge. Micro-grain ts leaves no clean
            // 64-bit headroom to pack the (ts, event_id) tie-break
            // the parquet store orders by, so the ES path REQUIRES
            // tie-free (key, ts) feeds — enforced here per batch
            // rather than silently converging first-arrival-wins
            es => {
              import org.apache.spark.sql.functions.{col, min, max, unix_micros}
              val df = b.toDF()
              val tie = df.groupBy(col(keyCol), col("ts"))
                .agg(min(col("event_id")).as("lo"), max(col("event_id")).as("hi"))
                .filter(col("lo") =!= col("hi")).take(1)
              require(tie.isEmpty, s"ES sink contract violated: batch $id has " +
                s"distinct event_ids sharing ($keyCol, ts)=${tie.headOption}; " +
                "the external-version wire cannot order such ties — dedupe upstream")
              es.upsert(df.withColumn("__ver", unix_micros(col("ts"))), id)
            },
            parquet => parquet.upsert(b.toDF(), id)))
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("chk_stream_").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // fold the drain's per-batch delta segments into one base segment
      store.foreach(_.compact(spark))
    }
  }
}

/** The training-data entry point the reference never had but this
  * library's north-star surface is for: run the end-to-end corpus dedup
  * (MinHash-LSH candidates → exact-Jaccard verify → connected
  * components → canonical survivors, `q_corpus_dedup`'s exact pipeline)
  * over a table directory and write the SURVIVING corpus plus a
  * one-line JSON report.
  *
  * Usage: CurateMain <sfDir> <outDir> — `sfDir` holds
  * `documents.parquet`; kept docs land in `<outDir>/kept` (parquet),
  * the report in `<outDir>/report.json`.
  */
object CurateMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: CurateMain <sfDir> <outDir>")
    val (inDir, outDir) = (args(0), args(1))
    Session.run("graft-curate") { spark =>
      val nIn = graft.core.Tables.documents(spark, inDir).count()
      val kept = graft.catalog.Curation.corpusDedup.build(spark, inDir)
      kept.write.mode("overwrite").parquet(s"$outDir/kept")
      val out = spark.read.parquet(s"$outDir/kept")
      val nKept = out.count()
      val nCanonical = out.filter(org.apache.spark.sql.functions
        .col("had_dups") === 1).count()
      val report =
        s"""{"n_in":$nIn,"n_kept":$nKept,"n_dropped":${nIn - nKept},"n_dup_clusters":$nCanonical}"""
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, "report.json"), report.getBytes("UTF-8"))
      println(report)
    }
  }
}

/** Table profiler CLI: one-scan per-column null/NDV/range report for
  * ANY parquet table — the `DESCRIBE`-on-steroids a data engineer runs
  * first against an unfamiliar dataset. Logic lives in
  * [[graft.ops.Profiler]] (shared with the `q_column_profile` catalog
  * query, so CLI and library cannot drift).
  *
  * Usage: ProfileMain <parquetPath> [outDir]
  * Prints one JSON line per column; with outDir also writes the profile
  * as parquet.
  */
object ProfileMain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileMain <parquetPath> [outDir]")
    Session.run("graft-profile") { spark =>
      val prof = graft.ops.Profiler.profile(spark.read.parquet(args(0)))
      val rows = prof.collect() // one row per COLUMN — driver-safe
      rows.foreach { r =>
        def num(i: Int) = if (r.isNullAt(i)) "null" else r.getDouble(i).toString
        println(s"""{"col":"${r.getString(0)}","n_nulls":${r.getLong(1)},""" +
          s""""n_distinct":${r.getLong(2)},"min":${num(3)},"max":${num(4)}}""")
      }
      args.lift(1).foreach(out =>
        prof.write.mode("overwrite").parquet(s"$out/profile"))
    }
  }
}
