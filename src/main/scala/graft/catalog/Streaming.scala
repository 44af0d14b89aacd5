package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.core.QueryDef
import graft.kafka.{KafkaStubBroker, KafkaStubCluster, SchemaRegistryStub}
import graft.streaming.{DeltaUpsertStore, EsHttpStore, EsStub, Ingest,
  RoutedAppendStore, Service}

/** End-to-end Structured Streaming queries: each runs a REAL streaming
  * query (file-stream source standing in for the Kafka topic →
  * micro-batch execution → sink) to completion inside the builder, then
  * returns the sunk result as a batch DataFrame. The oracle is the
  * batch-SQL equivalent — proving the streaming pipeline's exactly-once
  * result semantics match batch execution.
  */
object Streaming {

  private def uniqueDir(prefix: String): String = {
    val p = java.nio.file.Paths.get("target", "stores")
    java.nio.file.Files.createDirectories(p)
    java.nio.file.Files.createTempDirectory(p, prefix).toString
  }

  // The ingest oracle every wire variant of q_stream_ingest_json
  // shares: the codec, broker layout or failure drill must be invisible
  // in the decoded rows.
  private val IngestOracle =
    """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value,
      |  CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS INTEGER) AS prop_k
      |FROM events ORDER BY event_id""".stripMargin

  /** The consumer-side decode matching [[IngestOracle]]: the JSON wire
    * flattened, with `prop_k` parsed out of `props`.
    */
  private def decodeIngest(wire: DataFrame): DataFrame =
    Ingest.decodeJsonWire(wire)
      .select(col("event_id"), col("ts_us"), col("user_id"), col("event_type"),
        col("value"),
        from_json(col("props"), StructType.fromDDL("k INT")).getField("k")
          .as("prop_k"))

  // Last write per user wins: the oracle every keyed-upsert sink
  // shares, whatever its storage or wire.
  private val LatestPerUserOracle =
    """SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
      |  value AS last_value
      |FROM (SELECT *, row_number() OVER
      |        (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events) t
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // LatestPerUserOracle after the GDPR delete of every 7th user at the
  // 2024-01-20 cutoff (users with a later event survive).
  private val LatestAfterDeleteOracle =
    """SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
      |  value AS last_value
      |FROM (SELECT *, row_number() OVER
      |        (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events) t
      |WHERE rn = 1
      |  AND NOT (user_id % 7 = 0 AND ts <= TIMESTAMP '2024-01-20 00:00:00')
      |ORDER BY user_id""".stripMargin

  /** Land `waves` one at a time as parquet files of a fresh directory
    * and, after each lands, call `pass` with a file stream (schema
    * `ddl`) over the directory: a scheduled job that finds the files
    * added since its last run. `pass` resumes one shared checkpoint.
    */
  private def inWaves(s: SparkSession, ddl: String, waves: DataFrame*)(
      pass: DataFrame => Unit): Unit = {
    val root = uniqueDir("waves_")
    waves.zipWithIndex.foreach { case (wave, i) =>
      val stage = s"$root/stage_b$i"
      wave.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(root, s"b$i.parquet"))
      pass(s.readStream.schema(StructType.fromDDL(ddl))
        .option("pathGlobFilter", "b*.parquet").parquet(root))
    }
  }

  /** A keyed store's rows in the shape of [[LatestPerUserOracle]]. */
  private def lastPerUser(store: DataFrame): DataFrame =
    store.select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_event_type"), col("value").as("last_value"))
      .orderBy("user_id")

  // T1-T3 + F5/F6/P4: the reference's core streaming query — wire
  // encode (producer, F7) → Kafka-style (key, value) → CAST → from_json
  // → flatten (consumer) — through real micro-batch execution.
  val streamIngestJson: QueryDef = QueryDef.sql("q_stream_ingest_json")(IngestOracle) { (s, dir) =>
    val wire = Ingest.toJsonWire(Ingest.eventsStream(s, dir), "event_id")
    Ingest.runToMemory(decodeIngest(wire)).orderBy("event_id")
  }

  // DSV codec round-trip through the stream (F4 + from_csv), with the
  // props column excluded (P1) since it embeds the delimiter's quote
  // characters — matching the producer's `-exc` column exclusion.
  val streamIngestDsv: QueryDef = QueryDef.sql("q_stream_ingest_dsv")(
    """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    val src = Ingest.eventsStream(s, dir).drop("props")
    val wire = Ingest.toDsvWire(src, "event_id", "|")
    val decoded = Ingest.decodeDsvWire(wire, "|")
      .select("event_id", "ts_us", "user_id", "event_type", "value")
    Ingest.runToMemory(decoded).orderBy("event_id")
  }

  // A2 + T4/T5: stateful event-time windowed aggregation with a
  // watermark — complete mode, so the collected state equals the batch
  // answer exactly.
  val streamWindowHourly: QueryDef = QueryDef.sql("q_stream_window_hourly")(
    """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val agg = Ingest.eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
    Ingest.runToMemory(agg, mode = "complete")
      .select(unix_timestamp(col("window.start")).as("hour_epoch"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("hour_epoch", "event_type")
  }

  // K3 + K5: upsert-by-key sink semantics (`es.mapping.id`, last write
  // per key wins) — the stream drains into the keyed store with no
  // maintenance (one delta segment per micro-batch, merged on read),
  // and the final store contents must equal the batch last-write-wins
  // answer.
  val sinkUpsert: QueryDef = QueryDef.sql("q_sink_upsert")(LatestPerUserOracle) { (s, dir) =>
    val store = new DeltaUpsertStore(uniqueDir("upsert_"), "user_id", Seq("ts", "event_id"))
    require(store.healthCheck(), "sink preflight failed")  // K5
    Ingest.drainBatches(Ingest.eventsStream(s, dir))(store.upsert)
    lastPerUser(store.read(s))
  }

  // K3 maintenance at scale: the MINOR-compaction twin of
  // q_sink_upsert_delta. The stream takes one full compaction early
  // (establishing a large base), then every subsequent maintenance pass
  // is compactDeltas — the LSM L0→L1 fold that rewrites O(delta bytes)
  // and leaves the base untouched, the shape a 100 TB store runs per
  // few micro-batches where a full fold would be a full-store rewrite.
  // Deletes interleave so the fold must carry live tombstones (hiding
  // base keys) without erasing them. Same oracle as the full-compaction
  // twin restricted to surviving keys: maintenance policy must be
  // invisible in the rows.
  val deltaCompactMinor: QueryDef = QueryDef.sql("q_delta_compact_minor")(
    """SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
      |  value AS last_value
      |FROM (SELECT *, row_number() OVER
      |        (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events) t
      |WHERE rn = 1 AND user_id % 10 <> 3 ORDER BY user_id""".stripMargin) { (s, dir) =>
    val store = new DeltaUpsertStore(uniqueDir("delta_minor_"), "user_id",
      Seq("ts", "event_id"))
    require(store.healthCheck(), "sink preflight failed") // K5
    var first = true
    Ingest.drainBatches(Ingest.eventsStream(s, dir)) { (b, id) =>
      store.upsert(b, id)
      if (first) { store.compact(b.sparkSession); first = false }
      else store.compactDeltas(b.sparkSession)
    }
    // delete one key band AS OF after the feed, then fold the deltas:
    // the tombstones must survive the fold and keep hiding base rows
    val doomed = store.read(s).filter(col("user_id") % 10 === 3)
      .select(col("user_id"),
        (col("ts") + expr("INTERVAL 1 DAY")).as("ts"),
        (col("event_id") + 1).as("event_id"))
    store.delete(doomed, 999L)
    store.compactDeltas(s)
    lastPerUser(store.read(s))
  }

  // K3 maintenance: q_sink_upsert's drain with compaction interleaved —
  // mid-stream (every odd batch) and at the end — must converge to the
  // same last-write-wins state, so it shares q_sink_upsert's oracle.
  // Readers see an equivalent merged view at any compaction boundary.
  val sinkUpsertDelta: QueryDef = QueryDef.sql("q_sink_upsert_delta")(
    LatestPerUserOracle) { (s, dir) =>
    val store = new DeltaUpsertStore(uniqueDir("upsert_delta_"), "user_id",
      Seq("ts", "event_id"))
    require(store.healthCheck(), "sink preflight failed")  // K5
    Ingest.drainBatches(Ingest.eventsStream(s, dir)) { (b, id) =>
      store.upsert(b, id)
      if (id % 2 == 1) store.compact(b.sparkSession)
    }
    store.compact(s)
    lastPerUser(store.read(s))
  }

  // Time travel over the log-structured upsert store: two upsert
  // commits (the even-event_id half of the feed, then the odd half),
  // then READ AS OF version 1 — the state the store held after the
  // first commit, reconstructed from its immutable MANIFEST.v1 twin.
  // The oracle is latest-per-key over the even half only: a time-travel
  // read that leaked any second-commit row (or lost a first-commit one)
  // breaks the hash.
  val sinkUpsertDeltaAsof: QueryDef = QueryDef.sql("q_sink_upsert_delta_asof")(
    """SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
      |  value AS last_value
      |FROM (SELECT *, row_number() OVER
      |        (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events WHERE event_id % 2 = 0) t
      |WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
    val store = new DeltaUpsertStore(uniqueDir("upsert_asof_"), "user_id",
      Seq("ts", "event_id"))
    require(store.healthCheck(), "sink preflight failed")  // K5
    val ev = graft.core.Tables.events(s, dir)
    store.upsert(ev.filter(col("event_id") % 2 === 0), 0)
    store.upsert(ev.filter(col("event_id") % 2 =!= 0), 1)
    lastPerUser(store.readAt(s, 1))
  }

  // Data skipping over the log-structured store: three range-batched
  // upserts (a monotone-id ingest, the natural arrival order of
  // assigned ids) leave three segments with disjoint key ranges, each
  // carrying Iceberg-style per-file key min/max stats collected at
  // write time. A point lookup of {min, min+1, max} must then read
  // ONLY the first and last segments — candidateSegments proving the
  // middle one pruned is required in-line, because at 100 TB this is
  // the difference between "fetch these ids" touching O(matching
  // segments) and O(store). The residual IN filter still pushes
  // through the merge window to the kept segments' parquet scans, so
  // row-group stats prune a second time within them.
  val deltaPointLookup: QueryDef = QueryDef.sql("q_delta_point_lookup")(
    """SELECT event_id, user_id, event_type, value FROM events
      |WHERE event_id IN (SELECT min(event_id) FROM events)
      |   OR event_id IN (SELECT min(event_id) + 1 FROM events)
      |   OR event_id IN (SELECT max(event_id) FROM events)
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val store = new DeltaUpsertStore(uniqueDir("lookup_"), "event_id", Seq("ts"))
    require(store.healthCheck(), "sink preflight failed")  // K5
    val ev = graft.core.Tables.events(s, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val r = ev.agg(min("event_id"), max("event_id")).head
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val cut1 = lo + (hi - lo) / 3
    val cut2 = lo + 2 * (hi - lo) / 3
    store.upsert(ev.filter(col("event_id") <= cut1), 0)
    store.upsert(ev.filter(col("event_id") > cut1 && col("event_id") <= cut2), 1)
    store.upsert(ev.filter(col("event_id") > cut2), 2)
    val keys = Seq(lo, lo + 1, hi)
    val hit = store.candidateSegments(keys)
    require(hit.size == 2,
      s"stats must prune the middle segment (kept: ${hit.mkString(",")})")
    store.lookup(s, keys)
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  // Delete-by-key over the log-structured store (the GDPR
  // right-to-be-forgotten path): upsert the full feed, then append ONE
  // tombstone segment for every 7th user positioned at an event-time
  // cutoff — O(keys) appended, no store rewrite — and compact, which
  // physically erases the tombstoned rows from disk. The event-time
  // contract matches the store's upsert merge: a tombstone removes a
  // key only while it is the key's orderCols maximum, so users whose
  // LAST event is newer than the cutoff survive (they "came back"),
  // and the oracle encodes exactly that predicate. At 100 TB this is
  // the delete shape that works: tombstone append + deferred compaction,
  // never a synchronous scan-and-rewrite of the corpus.
  val sinkUpsertDeltaDelete: QueryDef = QueryDef.sql("q_sink_upsert_delta_delete")(
    LatestAfterDeleteOracle) { (s, dir) =>
    val store = new DeltaUpsertStore(uniqueDir("upsert_del_"), "user_id",
      Seq("ts", "event_id"))
    require(store.healthCheck(), "sink preflight failed")  // K5
    val ev = graft.core.Tables.events(s, dir)
    store.upsert(ev, 0)
    val cutoff = lit("2024-01-20 00:00:00").cast("timestamp")
    store.delete(ev.select("user_id").distinct()
      .filter(col("user_id") % 7 === 0)
      .withColumn("ts", cutoff)
      // tombstone out-orders any event at the cutoff instant itself
      .withColumn("event_id", lit(Long.MaxValue)), 1)
    store.compact(s)
    lastPerUser(store.read(s))
  }

  // Streaming windowed TOP-K: the "trending event types per hour"
  // dashboard tile. The unbounded side runs as a real watermarked
  // streaming aggregation (hour window × type — state bounded by the
  // watermark); the top-3-per-hour rank is a BATCH window over the
  // tiny emitted rollup (|hours|·|types| rows), the standard
  // stream-to-serving split: rank-over-aggregate isn't expressible as
  // incremental streaming state, so it runs where the data is already
  // small. Ties break by event_type — deterministic on both engines.
  val streamTopkTypes: QueryDef = QueryDef.sql("q_stream_topk_types")(
    """WITH agg AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
      |    event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |ranked AS (SELECT *, ROW_NUMBER() OVER
      |  (PARTITION BY hour_epoch ORDER BY n DESC, event_type) AS rnk FROM agg)
      |SELECT hour_epoch, event_type, n, rnk FROM ranked
      |WHERE rnk <= 3 ORDER BY hour_epoch, rnk""".stripMargin) { (s, dir) =>
    val agg = Ingest.eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val emitted = Ingest.runToMemory(agg, mode = "complete")
      .select(unix_timestamp(col("window.start")).as("hour_epoch"),
        col("event_type"), col("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("hour_epoch").orderBy(col("n").desc, col("event_type"))
    emitted.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .orderBy("hour_epoch", "rnk")
  }

  // K3 + K5 over the REAL wire: the same upsert contract as
  // q_sink_upsert, but spoken as the Elasticsearch `_bulk` protocol —
  // executor partitions POST chunked NDJSON index actions (codegen'd
  // to_json docs) to an in-process HTTP stand-in that implements the
  // engine's external-versioning rule. version = epoch-micros of the
  // event time, so the store's highest-version-wins merge IS the
  // oracle's latest-per-(ts) row regardless of batch arrival order or
  // concurrent partition writers; within a micro-batch the map-side
  // latest-per-key reduction bounds what crosses the wire to O(keys).
  // (The feed has no (user, ts_us) ties; a tie would 409 the later
  // event_id, the real engine's strictly-greater rule.)
  val sinkUpsertEs: QueryDef = QueryDef.sql("q_sink_upsert_es")(LatestPerUserOracle) { (s, dir) =>
    Service.using(new EsStub()) { stub =>
      val docSchema = StructType.fromDDL(
        "user_id BIGINT, event_id BIGINT, event_type STRING, value DOUBLE")
      val store = new EsHttpStore(stub.baseUrl, "events", "user_id",
        Seq("ts", "event_id"), "_ver", docSchema)
      require(store.healthCheck(), "sink preflight failed") // K5 over the wire
      Ingest.drainBatches(Ingest.eventsStream(s, dir)
        .withColumn("_ver", unix_micros(col("ts"))))(store.upsert)
      val out = lastPerUser(store.read(s))
      graft.core.Spill.materialize(out)
    }
  }

  // The GDPR delete over the REAL wire: external-versioned `_bulk`
  // delete actions against the ES store — the `_bulk` twin of
  // q_sink_upsert_delta_delete, sharing its oracle. Upsert the full
  // feed (version = event-time micros), then delete every 7th user at
  // the cutoff instant's version: users whose last event out-versions
  // the tombstone survive as 409 stale deletes, everyone else is
  // tombstoned — the same event-time predicate, enforced by the
  // engine's optimistic concurrency rule instead of a merge window.
  // O(keys) delete actions cross the wire from the executors.
  val sinkUpsertEsDelete: QueryDef = QueryDef.sql("q_sink_upsert_es_delete")(
    LatestAfterDeleteOracle) { (s, dir) =>
    Service.using(new EsStub()) { stub =>
      val docSchema = StructType.fromDDL(
        "user_id BIGINT, event_id BIGINT, event_type STRING, value DOUBLE")
      val store = new EsHttpStore(stub.baseUrl, "events", "user_id",
        Seq("_ver"), "_ver", docSchema)
      require(store.healthCheck(), "sink preflight failed") // K5 over the wire
      val ev = graft.core.Tables.events(s, dir)
        .withColumn("_ver", unix_micros(col("ts")))
      store.upsert(ev, 0)
      val cutoff = lit("2024-01-20 00:00:00").cast("timestamp")
      store.delete(ev.select("user_id").distinct()
        .filter(col("user_id") % 7 === 0)
        .withColumn("_ver", unix_micros(cutoff)), 1)
      val out = lastPerUser(store.read(s))
      graft.core.Spill.materialize(out)
    }
  }

  // K4 over the REAL wire: dynamic per-row index routing
  // (`room-{room}` → `type-{event_type}`) as auto-id `_bulk` appends
  // from the executors — the reference's per-row `es.index(...)` loop
  // (`kafka_to_es.py:55-71`) re-expressed as bulk batches.
  // At-least-once by contract; the AvailableNow run has no retries, so
  // counts are exact.
  val sinkRouteEs: QueryDef = QueryDef.sql("q_sink_route_es")(
    """SELECT 'type-' || event_type AS idx, COUNT(*) AS n
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Service.using(new EsStub()) { stub =>
      val docSchema = StructType.fromDDL(
        "event_id BIGINT, user_id BIGINT, value DOUBLE")
      val store = new EsHttpStore(stub.baseUrl, "", "event_id", Seq("event_id"),
        "event_id", docSchema)
      require(store.healthCheck(), "sink preflight failed") // K5
      val routed = Ingest.eventsStream(s, dir)
        .withColumn("route", concat(lit("type-"), col("event_type")))
      Ingest.drainBatches(routed)((b, _) => store.appendRouted(b, "route"))
      val out = store.readRouted(s)
        .groupBy(col("es_index").as("idx"))
        .agg(count(lit(1)).as("n"))
        .orderBy("idx")
      graft.core.Spill.materialize(out)
    }
  }

  // K4: append sink with dynamic per-key index routing
  // (`room-{room}` → `type-{event_type}`), bulk partitioned writes.
  val sinkRoute: QueryDef = QueryDef.sql("q_sink_route")(
    """SELECT 'type-' || event_type AS idx, COUNT(*) AS n
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val store = new RoutedAppendStore(uniqueDir("route_"))
    require(store.healthCheck(), "sink preflight failed")  // K5
    val routed = Ingest.eventsStream(s, dir)
      .withColumn("route", concat(lit("type-"), col("event_type")))
    Ingest.drainBatches(routed)((b, _) => store.append(b, "route"))
    store.read(s)
      .groupBy(col("index").cast("string").as("idx"))
      .agg(count(lit(1)).as("n"))
      .orderBy("idx")
  }

  // Stream-stream inner join with event-time bounds: each purchase
  // joined to the same user's clicks in the preceding hour. Both sides
  // watermarked — the state store can expire click state once the
  // watermark passes the join window, which is what makes this viable
  // on an unbounded 100 TB stream. Oracle = the identical batch join.
  val streamStreamJoin: QueryDef = QueryDef.sql("q_stream_stream_join")(
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
      |ORDER BY purchase_id, click_id""".stripMargin) { (s, dir) =>
    val src = Ingest.eventsStream(s, dir)
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = src.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val joined = purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
    Ingest.runToMemory(joined.select("purchase_id", "click_id", "user_id"))
      .orderBy("purchase_id", "click_id")
  }

  // Streaming deduplication with a watermark: the exactly-once repair
  // for the reference's at-least-once K4 sink — replayed records are
  // dropped by key while the watermark bounds the dedup state. The
  // duplicate feed is the stream unioned with itself (every record
  // delivered twice); the oracle is simply the distinct batch.
  val streamDedup: QueryDef = QueryDef.sql("q_stream_dedup")(
    """SELECT event_id, user_id, event_type, value FROM events
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    def side = Ingest.eventsStream(s, dir)
      .select("event_id", "user_id", "event_type", "value", "ts")
    val duplicated = side.unionByName(side)
    // dropDuplicatesWithinWatermark (not dropDuplicates) so the watermark
    // actually evicts dedup state: plain dropDuplicates("event_id") keeps
    // every key forever unless the event-time column is part of the key.
    val deduped = duplicated
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .drop("ts")
    Ingest.runToMemory(deduped).orderBy("event_id")
  }

  // T4/T5 beyond parity: session windows in a REAL streaming query —
  // per-user sessions close after a 30-minute silence, state merges
  // session fragments across (here: within) micro-batches, and append
  // mode emits a session only once the watermark passes its end. The
  // oracle encodes the full emission contract: the 30-minute gap rule
  // (`>=`: an event at exactly session end opens a NEW session — Spark
  // session windows are [start, end)) AND the watermark gate
  // (session_end <= max event time − 1h, with Spark's ms-precision
  // watermark), so streaming state semantics — not just the aggregation
  // — are what the hash check verifies.
  val streamSessionWindow: QueryDef = QueryDef.sql("q_stream_session_window")(
    """WITH g AS (
      |  SELECT user_id, ts,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
      |         OR lag(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (
      |  SELECT user_id, ts, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM g),
      |agg AS (
      |  SELECT user_id, sid, MIN(epoch_us(ts)) AS start_us,
      |    MAX(epoch_us(ts)) + 1800000000 AS end_us, COUNT(*) AS n_events
      |  FROM s GROUP BY 1, 2),
      |wm AS (SELECT (MAX(epoch_us(ts)) // 1000 - 3600000) * 1000 AS wm_us FROM events)
      |SELECT user_id, start_us // 1000000 AS session_start,
      |  end_us // 1000000 AS session_end, n_events
      |FROM agg, wm WHERE end_us <= wm_us
      |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
    val agg = Ingest.eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start"),
        unix_timestamp(col("session_window.end")).as("session_end"),
        col("n_events"))
    Ingest.runToMemory(agg).orderBy("user_id", "session_start")
  }

  // T5 via Spark 4's transformWithState (arbitrary-state v2: typed
  // per-key state variables, TTL, timers) — runs on the RocksDB state
  // store it requires, which is also the large-state deployment choice.
  // Per-user running summary (count, max, latest event id); every
  // in-batch reduction is order-insensitive, so streaming equals batch.
  val streamTwsSummary: QueryDef = QueryDef.sql("q_stream_tws_summary")(
    """SELECT s.user_id, s.n_events, s.max_value, l.event_id AS last_event_id
      |FROM (SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
      |      FROM events GROUP BY 1) s
      |JOIN (SELECT user_id, event_id FROM (
      |        SELECT user_id, event_id, ROW_NUMBER() OVER
      |          (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |        FROM events) t WHERE rn = 1) l
      |  ON s.user_id = l.user_id
      |ORDER BY s.user_id""".stripMargin) { (s, dir) =>
    val out = Ingest.runToMemory(
      graft.streaming.Stateful.userSummaries(Ingest.eventsStream(s, dir)).toDF(),
      mode = "update", rocksDb = true)
    // update-mode memory sink APPENDS each batch's emissions; under a
    // paced multi-batch source a key re-emits per touching batch.
    // n_events is strictly monotone per key, so the struct max IS the
    // final emission — batching-invariant, like q_stream_mapstate_counts.
    out.groupBy("user_id")
      .agg(max(struct(col("n_events"), col("max_value"), col("last_event_id"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        col("m.max_value").as("max_value"),
        col("m.last_event_id").as("last_event_id"))
      .orderBy("user_id")
  }

  // Stream-stream LEFT OUTER join: matches emit eagerly like the inner
  // join, but a null-padded row for an unmatched purchase can emit only
  // once the watermark proves no future click can still match it
  // (clicks arrive with event time >= watermark, and a match needs
  // c_ts <= p_ts, so a purchase closes when the GLOBAL watermark passes
  // p_ts). The global watermark is the MIN across inputs, and each
  // input's watermark tracks the max event time IT has seen — the
  // purchase stream's max purchase ts − 1h vs the click stream's max
  // click ts − 2h, NOT the raw table max (empirically pinned: one
  // boundary purchase separates the two definitions at sf0.01). The
  // oracle encodes exactly that, ms-truncated like Spark's watermark.
  val streamLeftOuter: QueryDef = QueryDef.sql("q_stream_left_outer")(
    """WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
      |           WHERE event_type = 'purchase'),
      |c AS (SELECT event_id AS click_id, user_id, ts FROM events
      |      WHERE event_type = 'click'),
      |m AS (SELECT p.purchase_id, c.click_id, p.user_id
      |      FROM p JOIN c ON p.user_id = c.user_id
      |       AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts),
      |wm AS (SELECT LEAST(
      |    (SELECT (MAX(epoch_us(ts)) // 1000 - 3600000) * 1000 FROM p),
      |    (SELECT (MAX(epoch_us(ts)) // 1000 - 7200000) * 1000 FROM c)) AS wm_us),
      |unmatched AS (
      |  SELECT p.purchase_id, CAST(NULL AS BIGINT) AS click_id, p.user_id
      |  FROM p, wm
      |  WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.purchase_id = p.purchase_id)
      |    AND epoch_us(p.ts) < wm_us)
      |SELECT purchase_id, click_id, user_id FROM m
      |UNION ALL SELECT purchase_id, click_id, user_id FROM unmatched
      |ORDER BY purchase_id, click_id NULLS FIRST""".stripMargin) { (s, dir) =>
    val src = Ingest.eventsStream(s, dir)
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = src.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val joined = purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"),
      "left_outer")
    Ingest.runToMemory(joined.select("purchase_id", "click_id", "user_id"))
      .orderBy(col("purchase_id"), col("click_id").asc_nulls_first)
  }

  // Stream-stream FULL OUTER join — completes the streaming join family
  // (inner / left outer / left semi live above). Null-padding now works
  // BOTH ways, each gated by its own state eviction: an unmatched
  // purchase closes when the global watermark passes p_ts (as in the
  // left outer), and an unmatched click closes when the watermark
  // passes c_ts + 1h — the condition p_ts <= c_ts + 1h means a click
  // stays joinable until every purchase that could still reach it is
  // provably in the past. The oracle encodes both eviction boundaries
  // against the same min-across-inputs ms-truncated watermark.
  val streamFullOuter: QueryDef = QueryDef.sql("q_stream_full_outer")(
    """WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
      |           WHERE event_type = 'purchase'),
      |c AS (SELECT event_id AS click_id, user_id, ts FROM events
      |      WHERE event_type = 'click'),
      |m AS (SELECT p.purchase_id, c.click_id, p.user_id
      |      FROM p JOIN c ON p.user_id = c.user_id
      |       AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts),
      |wm AS (SELECT LEAST(
      |    (SELECT (MAX(epoch_us(ts)) // 1000 - 3600000) * 1000 FROM p),
      |    (SELECT (MAX(epoch_us(ts)) // 1000 - 7200000) * 1000 FROM c)) AS wm_us),
      |up AS (
      |  SELECT p.purchase_id, CAST(NULL AS BIGINT) AS click_id, p.user_id
      |  FROM p, wm
      |  WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.purchase_id = p.purchase_id)
      |    AND epoch_us(p.ts) < wm_us),
      |uc AS (
      |  SELECT CAST(NULL AS BIGINT) AS purchase_id, c.click_id, c.user_id
      |  FROM c, wm
      |  WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.click_id)
      |    AND epoch_us(c.ts) < wm_us - 3600000000)
      |SELECT purchase_id, click_id, user_id FROM m
      |UNION ALL SELECT purchase_id, click_id, user_id FROM up
      |UNION ALL SELECT purchase_id, click_id, user_id FROM uc
      |ORDER BY purchase_id NULLS LAST, click_id NULLS FIRST""".stripMargin) { (s, dir) =>
    val src = Ingest.eventsStream(s, dir)
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = src.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val joined = purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"),
      "full_outer")
    Ingest.runToMemory(joined.select(col("purchase_id"), col("click_id"),
        coalesce(col("user_id"), col("c_user")).as("user_id")))
      .orderBy(col("purchase_id").asc_nulls_last, col("click_id").asc_nulls_first)
  }

  // Chained stateful aggregations (Spark 3.4+ allows windowed agg over
  // a windowed agg in append mode): hourly per-user counts feed a daily
  // per-user rollup via window(window, '1 day') — the hourly window
  // struct IS the second agg's event time. A daily window emits once
  // the watermark (max event time − 1h) passes its end; every hourly
  // window inside it has closed by then, so the oracle is the full
  // two-level batch rollup gated on closed days.
  val streamChainedAgg: QueryDef = QueryDef.sql("q_stream_chained_agg")(
    """WITH h AS (
      |  SELECT user_id, epoch_us(ts) // 3600000000 AS hour_b, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |d AS (
      |  SELECT user_id, hour_b // 24 AS day_b, MAX(n) AS max_hourly,
      |    CAST(SUM(n) AS BIGINT) AS n_events, COUNT(*) AS n_active_hours
      |  FROM h GROUP BY 1, 2),
      |wm AS (SELECT (MAX(epoch_us(ts)) // 1000 - 3600000) * 1000 AS wm_us
      |       FROM events)
      |SELECT user_id, day_b * 86400 AS day_start, max_hourly, n_events,
      |  n_active_hours
      |FROM d, wm WHERE (day_b + 1) * 86400000000 <= wm_us
      |ORDER BY user_id, day_start""".stripMargin) { (s, dir) =>
    val hourly = Ingest.eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    val daily = hourly
      .groupBy(col("user_id"), window(col("window"), "1 day"))
      .agg(max(col("n")).as("max_hourly"), sum(col("n")).as("n_events"),
        count(lit(1)).as("n_active_hours"))
      .select(col("user_id"), unix_timestamp(col("window.start")).as("day_start"),
        col("max_hourly"), col("n_events"), col("n_active_hours"))
    Ingest.runToMemory(daily).orderBy("user_id", "day_start")
  }

  // T4 beyond the happy path: the oracle ENCODES WATERMARK EVICTION.
  // The feed is delivered in two deterministic waves via two sequential
  // AvailableNow runs SHARING ONE CHECKPOINT (the watermark persists
  // across restarts, exactly like a resumed production job): run 1 sees
  // only the on-time file — including the max-timestamp event, so it
  // commits with the watermark at max − 1h; run 2 finds the late file
  // (all rows ≥3h older than the max, so their hourly windows closed
  // when the watermark advanced) and Spark must DROP every row of it.
  // The oracle aggregates only the on-time rows and gates emission on
  // window_end <= watermark — a runtime that fails to drop late rows
  // (or drops the wrong boundary) hash-mismatches.
  val streamLateDrop: QueryDef = QueryDef.sql("q_stream_late_drop")(
    """WITH mx AS (SELECT MAX(epoch_us(ts)) AS max_us FROM events),
      |ontime AS (SELECT e.* FROM events e, mx
      |  WHERE NOT (epoch_us(ts) < max_us - 10800000000 AND event_id % 7 = 0)),
      |wm AS (SELECT (MAX(epoch_us(ts)) // 1000 - 3600000) * 1000 AS wm_us
      |       FROM ontime),
      |w AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start,
      |        event_type, COUNT(*) AS n
      |      FROM ontime GROUP BY 1, 2)
      |SELECT win_start, event_type, n FROM w, wm
      |WHERE win_start * 1000000 + 3600000000 <= wm_us
      |ORDER BY win_start, event_type""".stripMargin) { (s, dir) =>
    val ev = graft.core.Tables.events(s, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val maxUs = ev.agg(max(unix_micros(col("ts")))).head.getLong(0)
    val isLate = unix_micros(col("ts")) < maxUs - 3L * 3600000000L &&
      col("event_id") % 7 === 0
    val outDir = uniqueDir("late_out_")
    val chk = uniqueDir("late_chk_")
    // pass 1 commits with watermark = max - 1h and closed windows emit;
    // pass 2 must drop every late row and emit nothing new
    inWaves(s, "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE",
        ev.filter(!isLate), ev.filter(isLate)) { src =>
      val agg = src.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("n"))
      Ingest.drainBatches(agg, checkpoint = chk, statePartitions = true)(
        (b, _) => b.write.mode("append").parquet(outDir))
    }
    s.read.parquet(outDir).orderBy("win_start", "event_type")
  }

  // Stream-static enrichment join — the standard "decorate the event
  // stream with a dimension table" production pattern: the static side
  // (customer) is broadcast per micro-batch, so the stream never
  // shuffles and no join state accrues (unlike a stream-stream join,
  // there is nothing to watermark — the static side is re-resolved
  // each batch, which is also what picks up dimension updates).
  val streamStaticJoin: QueryDef = QueryDef.sql("q_stream_static_join")(
    """SELECT e.event_id, e.user_id, c.c_name, c.c_nationkey, e.value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |ORDER BY e.event_id""".stripMargin) { (s, dir) =>
    val dim = graft.core.Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val enriched = Ingest.eventsStream(s, dir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .select("event_id", "user_id", "c_name", "c_nationkey", "value")
    Ingest.runToMemory(enriched).orderBy("event_id")
  }

  // The SAME session windows through Spark 4 event-time TIMERS
  // (transformWithState: ValueState open session + ListState finished
  // sessions + one timer at the earliest pending end, emission on
  // watermark crossing). Shares q_stream_session_window's oracle, so
  // the hand-built state machine is proven to reproduce the built-in
  // operator's gap rule AND append-mode emission contract — the
  // two-algorithms-one-oracle pattern from the CC dedup pair.
  val streamSessionTimers: QueryDef =
    QueryDef.sql("q_stream_session_timers")(streamSessionWindow.oracle.get) { (s, dir) =>
      Ingest.runToMemory(
        graft.streaming.Stateful.sessionsViaTimers(Ingest.eventsStream(s, dir)).toDF(),
        rocksDb = true)
        .orderBy("user_id", "session_start")
    }

  // Streaming AS-OF join — the temporal join Structured Streaming lacks
  // as a built-in: each purchase pairs with the user's latest click
  // at-or-before its event time, via transformWithState event-time
  // timers (emission only once the watermark passes the purchase, when
  // the match is provably final). The oracle is the batch as-of
  // semantics gated on the final watermark — purchases past it stay
  // pending forever, clicks match through a correlated latest-preceding
  // lookup, and 143 of 1978 purchases at sf0.01 have NO preceding click
  // (the None branch is genuinely exercised).
  val streamAsofJoin: QueryDef = QueryDef.sql("q_stream_asof_join")(
    """WITH pc AS (SELECT * FROM events WHERE event_type IN ('purchase', 'click')),
      |wm AS (SELECT (MAX(epoch_us(ts)) // 1000 - 3600000) * 1000 AS wm_us FROM pc),
      |p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us
      |      FROM pc WHERE event_type = 'purchase'),
      |c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us
      |      FROM pc WHERE event_type = 'click')
      |SELECT p.purchase_id, p.user_id, p.p_us // 1000000 AS p_sec,
      |  (SELECT c.click_id FROM c
      |   WHERE c.user_id = p.user_id AND c.c_us <= p.p_us
      |   ORDER BY c.c_us DESC, c.click_id DESC LIMIT 1) AS click_id
      |FROM p, wm WHERE p.p_us <= wm.wm_us
      |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
    Ingest.runToMemory(
      graft.streaming.Stateful.asOfViaTimers(Ingest.eventsStream(s, dir)).toDF(),
      rocksDb = true)
      .orderBy("purchase_id")
  }

  // MapState (third typed-state kind, completing the
  // transformWithState surface next to ValueState/ListState/timers):
  // per-user event-type distribution with point lookups per input row.
  val streamMapStateCounts: QueryDef =
    QueryDef.sql("q_stream_mapstate_counts")(
      """SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      // update-mode memory sink APPENDS each batch's emissions; with
      // more than one micro-batch (maxFilesPerTrigger, a second file
      // matching the glob) intermediate counts land as extra rows. The
      // counts are monotone per key, so last-emission == max(n) —
      // reduce to it instead of assuming a single-batch source.
      Ingest.runToMemory(
        graft.streaming.Stateful.userTypeCounts(Ingest.eventsStream(s, dir)).toDF(),
        mode = "update", rocksDb = true)
        .groupBy("user_id", "event_type")
        .agg(max(col("n")).as("n"))
        .orderBy("user_id", "event_type")
    }

  // Incremental processing across RUNS — the production cadence of a
  // 100 TB pipeline: each scheduled run wakes up, processes ONLY the
  // files that arrived since the last checkpoint, and upserts the
  // updated aggregate rows into a keyed store. Two AvailableNow passes
  // share one checkpoint: pass 1 sees the history (ts before the 2/3
  // split), pass 2 sees only the delta file. The store is
  // last-write-wins by (key, batch_id); `updated_in_delta` exposes
  // WHICH keys the second run rewrote — the oracle pins it to "key has
  // an event past the split", proving the delta run touched exactly
  // the delta's keys and the merged state still equals the full batch
  // recompute. (State here is unwatermarked because the grouping key is
  // calendar day — a production MV bounds it by retention/partition
  // drop, not by watermark.)
  val streamIncremental: QueryDef = QueryDef.sql("q_stream_incremental")(
    """WITH b AS (SELECT (min(epoch_us(ts)) + 2 * max(epoch_us(ts))) // 3
      |             AS split FROM events)
      |SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
      |  CAST(MAX(CASE WHEN epoch_us(ts) >= (SELECT split FROM b)
      |    THEN 1 ELSE 0 END) AS INT) AS updated_in_delta
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val ev = graft.core.Tables.events(s, dir)
      .select("event_id", "ts", "event_type", "value")
    val split = ev
      .agg(expr("(min(unix_micros(ts)) + 2 * max(unix_micros(ts))) div 3"))
      .first().getLong(0)
    val store = uniqueDir("incr_store_")
    val chk = uniqueDir("incr_chk_")
    // history (batch 0 from a fresh checkpoint), then the delta, whose
    // strictly later batch ids upsert over batch 0
    inWaves(s, "event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE",
        ev.filter(unix_micros(col("ts")) < split),
        ev.filter(unix_micros(col("ts")) >= split)) { src =>
      val agg = src
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).as("sum_dec"))
      Ingest.drainBatches(agg, "update", chk, statePartitions = true) { (b, id) =>
        // update mode emits only the keys this batch changed; the
        // store append is the upsert journal (last batch id wins)
        if (!b.isEmpty)
          b.withColumn("bid", lit(id)).write.mode("append").parquet(store)
      }
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type", "day")
    s.read.parquet(store)
      .withColumn("last_bid", max(col("bid")).over(w))
      .filter(col("bid") === col("last_bid"))
      .select(col("event_type"), col("day"), col("n"),
        col("sum_dec").cast("double").as("sum_v"),
        (col("last_bid") > 0).cast("int").as("updated_in_delta"))
      .orderBy("event_type", "day")
  }

  // Stream-stream LEFT SEMI join — the remaining join type Structured
  // Streaming supports (inner/left outer live above; left anti is not a
  // streaming-supported type). "Purchases preceded by a click within an
  // hour": a purchase emits AT MOST ONCE, as soon as any qualifying
  // click is seen, and the matched-state marker prevents re-emission on
  // later matches; both sides are watermarked with an event-time bound
  // so join state evicts. The oracle is EXISTS — exactly the at-most-
  // once emission semantics — so the hash verifies the join type, not
  // just the pairing.
  val streamSemiJoin: QueryDef = QueryDef.sql("q_stream_semi_join")(
    """SELECT p.event_id AS purchase_id, p.user_id
      |FROM events p WHERE p.event_type = 'purchase' AND EXISTS (
      |  SELECT 1 FROM events c
      |  WHERE c.event_type = 'click' AND c.user_id = p.user_id
      |    AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts)
      |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
    val src = Ingest.eventsStream(s, dir)
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = src.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val joined = purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"),
      "left_semi")
    Ingest.runToMemory(joined.select("purchase_id", "user_id"))
      .orderBy("purchase_id")
  }

  // S5/K2 EXECUTED: the same producer→wire→consumer pipeline as
  // q_stream_ingest_json, but the wire is real Kafka protocol bytes —
  // record-batch v2 over TCP through the in-process stub broker
  // (`spark_streaming_kafka.py:13-18` / `dataframe_to_kafka.py:85-113`
  // with the connector jar replaced by graft.kafka's own client).
  // Executors produce key-partitioned batches and consume offset-range
  // slices, both through the kafka-wire connector; the result must
  // hash-match the same batch oracle as the file-wire twin.
  val kafkaWireIngest: QueryDef = QueryDef.sql("q_kafka_wire_ingest")(IngestOracle) { (s, dir) =>
    Service.using(new KafkaStubBroker(3)) { broker =>
      val exchange = new graft.kafka.KafkaWireExchange("127.0.0.1", broker.port)
      val wire = Ingest.toJsonWire(graft.core.Tables.events(s, dir), "event_id")
      exchange.publish(wire,
        graft.replay.Replay.ReplayConfig(input = "", topic = "events"))
      val decoded = decodeIngest(exchange.read(s, "events"))
        .orderBy("event_id")
      // materialize before the broker dies: the consumer scan is lazy
      graft.core.Spill.materialize(decoded)
    }
  }

  // The exactly-once produce leg: the SAME double-publish as
  // q_kafka_wire_redelivery, but with `enable.idempotence=true`
  // semantics spoken at the protocol level (KIP-98: InitProducerId
  // handshake, per-partition monotone sequences stamped in the record
  // batch header, broker-side producer-state fencing) — so the retry
  // never lands in the log and the consumer needs NO dedup. This is
  // the modern Kafka producer's default; the redelivery twin keeps the
  // legacy at-least-once + consumer-dedup discipline. A broker that
  // failed to fence would double every row and break rows_match.
  val kafkaWireIdempotent: QueryDef = QueryDef.sql("q_kafka_wire_idempotent")(
    """SELECT event_id, user_id, event_type, value
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    Service.using(new KafkaStubBroker(3)) { broker =>
      val exchange = new graft.kafka.KafkaWireExchange("127.0.0.1", broker.port,
        idempotent = true)
      val wire = Ingest.toJsonWire(graft.core.Tables.events(s, dir), "event_id")
      exchange.publish(wire,
        graft.replay.Replay.ReplayConfig(input = "", topic = "events-idem",
          repeat = 2))
      val decoded = Ingest.decodeJsonWire(exchange.read(s, "events-idem"))
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
      graft.core.Spill.materialize(decoded)
    }
  }

  // The TRANSACTIONAL produce leg (KIP-98 EOS half, beyond-parity —
  // the reference producer is at-least-once): the publish runs TWICE,
  // with the first attempt KILLED between its last produce and its
  // commit (no EndTxn), exactly the crash window that makes
  // at-least-once duplicate. The retry re-initializes the same
  // transactional.id — same pid, bumped epoch — which FENCES the dead
  // attempt and aborts its open transaction, then produces and
  // commits. A read_committed consumer therefore sees EXACTLY ONE copy
  // with zero consumer-side dedup (contrast: q_kafka_wire_redelivery
  // dedups in the consumer, q_kafka_wire_idempotent fences duplicate
  // batches but not whole-attempt replays). The builder also pins the
  // isolation contrast in-line: the read_uncommitted view of the same
  // log holds BOTH attempts' records.
  val kafkaWireTxn: QueryDef = QueryDef.sql("q_kafka_wire_txn")(
    """SELECT event_id, user_id, event_type, value
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    Service.using(new KafkaStubBroker(3)) { broker =>
      val exchange = new graft.kafka.KafkaWireExchange("127.0.0.1", broker.port,
        transactionalId = Some("graft-eos"))
      val wire = Ingest.toJsonWire(graft.core.Tables.events(s, dir), "event_id")
      exchange.publish(wire,
        graft.replay.Replay.ReplayConfig(input = "", topic = "events-txn",
          repeat = 2))
      // isolation contrast: both attempts' records are ON the log...
      val uncommitted = exchange.read(s, "events-txn").count()
      val committed = exchange.readCommitted(s, "events-txn")
      val committedN = committed.count()
      require(uncommitted == 2 * committedN,
        s"read_uncommitted must see both attempts ($uncommitted vs $committedN)")
      // ...but committed-only visibility is the single-publish oracle
      val decoded = Ingest.decodeJsonWire(committed)
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
      graft.core.Spill.materialize(decoded)
    }
  }

  // The CONSUMER-GROUP leg of the wire (beyond-parity — the reference
  // relies on checkpoints alone): wave 1 drains the topic through the
  // DSv2 stream with `kafka.group.id` set, so each micro-batch the
  // engine marks durable ALSO commits its end offsets to the group
  // (OffsetCommit, simple-consumer mode — the mode Spark's own
  // consumers run in, since the stock connector assigns partitions
  // itself and never joins a rebalance). Wave 2 then starts with a
  // FRESH checkpoint and `startingOffsets=group`: its start resolves
  // from the group's committed positions (OffsetFetch), the
  // checkpoint-free handover path from ANY group-committing consumer.
  // The engine signals batch N durable only when constructing batch
  // N+1, so a drain-and-stop leaves exactly the final batch
  // uncommitted — the handover is AT-LEAST-ONCE (real Kafka's own
  // group-commit contract; a crashed consumer re-reads from its last
  // commit), asserted tightly in-line: wave 2 re-reads at most one
  // batch and never the committed prefix. The standard idempotent-
  // consumer key dedup then restores exactly-once, hash-matching the
  // single-publish oracle. Lag observability (the Burrow/
  // kafka-consumer-groups relation, from the same OffsetFetch +
  // ListOffsets pair) is asserted between the waves.
  val kafkaWireGroupResume: QueryDef = QueryDef.sql("q_kafka_wire_group_resume")(
    """SELECT event_id, user_id, event_type, value
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    Service.using(new KafkaStubBroker(3)) { broker =>
      val topic = "events-group"
      val group = "graft-handover"
      val exchange = new graft.kafka.KafkaWireExchange("127.0.0.1", broker.port)
      val events = graft.core.Tables.events(s, dir)
      val first = events.filter(col("event_id") % 2 === 0)
      val second = events.filter(col("event_id") % 2 =!= 0)
      val firstN = first.count()
      val secondN = second.count()
      // ~4 batches per drain: enough to exercise mid-run group commits
      // without paying per-trigger overhead hundreds of times
      val cap = math.max(1L, firstN / 4)
      def readWithGroup(): org.apache.spark.sql.DataFrame = {
        val stream = s.readStream.format("kafka-wire")
          .option("host", "127.0.0.1").option("port", broker.port.toString)
          .option("topic", topic)
          .option("kafka.group.id", group)
          .option("startingOffsets", "group")
          .option("maxOffsetsPerTrigger", cap.toString)
          .load()
        Ingest.runToMemory(Ingest.decodeJsonWire(stream)
          .select("event_id", "user_id", "event_type", "value"))
      }
      val admin = new graft.kafka.KafkaWireClient("127.0.0.1", broker.port)
      try {
        val parts = admin.metadata(Seq(topic)).head.partitions.map(_.partition)
        exchange.publish(Ingest.toJsonWire(first, "event_id"),
          graft.replay.Replay.ReplayConfig(input = "", topic = topic))
        val wave1 = readWithGroup()
        // all but the final (not-yet-signaled-durable) batch committed
        val tail = admin.groupLag(group, topic, parts).map(_._4).sum
        require(tail <= cap && tail < firstN,
          s"group must hold all but the final batch (tail=$tail, cap=$cap)")
        exchange.publish(Ingest.toJsonWire(second, "event_id"),
          graft.replay.Replay.ReplayConfig(input = "", topic = topic))
        val backlog = admin.groupLag(group, topic, parts).map(_._4).sum
        require(backlog == tail + secondN,
          s"lag must be the uncommitted tail + the new backlog, got $backlog")
        val wave2 = readWithGroup()
        val w2 = wave2.count()
        require(w2 >= secondN && w2 <= secondN + tail,
          s"handover must re-read at most the uncommitted tail ($w2 vs $secondN+$tail)")
        graft.core.Spill.materialize(
          wave1.union(wave2).dropDuplicates("event_id").orderBy("event_id"))
      } finally admin.close()
    }
  }

  // MULTI-TOPIC subscription over the wire (stock-connector parity:
  // `subscribe` takes a topic list and the checkpoint holds the nested
  // per-topic offset map): events are routed into one topic per event
  // type — the per-entity-topic layout real Kafka estates use — by two
  // DSv2 batch writes, then ONE stream subscribes to both topics and
  // drains them through a single checkpoint. The oracle is the plain
  // two-type filter: any cross-topic loss, duplication, or offset
  // mix-up between the interleaved partitions breaks the hash. The
  // `topic` column must also survive (it keys the union's provenance
  // check in-line).
  val kafkaWireMultiTopic: QueryDef = QueryDef.sql("q_kafka_wire_multi_topic")(
    """SELECT event_id, user_id, event_type, value
      |FROM events WHERE event_type IN ('click', 'purchase')
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    Service.using(new KafkaStubBroker(3)) { broker =>
      val events = graft.core.Tables.events(s, dir)
      Seq("click", "purchase").foreach { t =>
        Ingest.toJsonWire(events.filter(col("event_type") === t), "event_id")
          .write.format("kafka-wire")
          .option("host", "127.0.0.1").option("port", broker.port.toString)
          .option("topic", s"events-$t").mode("append").save()
      }
      val stream = s.readStream.format("kafka-wire")
        .option("host", "127.0.0.1").option("port", broker.port.toString)
        .option("subscribe", "events-click,events-purchase")
        .load()
      val out = Ingest.runToMemory(
        stream.select(col("topic").as("__topic"),
            from_json(col("value").cast("string"), Ingest.jsonWireSchema)
              .as("data"))
          .select(col("data.event_id").as("event_id"),
            col("data.user_id").as("user_id"),
            col("data.event_type").as("event_type"),
            col("data.value").as("value"), col("__topic")))
      // provenance: every row must sit in its type's topic
      require(out.filter(col("__topic") =!=
          concat(lit("events-"), col("event_type"))).isEmpty,
        "a row surfaced from the wrong topic")
      graft.core.Spill.materialize(
        out.drop("__topic").orderBy("event_id"))
    }
  }

  // TOPIC-COLUMN routing + PATTERN subscription, both under the oracle
  // gate: ONE batch write with NO topic option fans rows out to a
  // topic per event type from each row's `topic` column (the stock
  // sink's routing contract — the wire twin of the ES dynamic-index
  // sink K4), and the consumer subscribes by REGEX (`subscribePattern`
  // resolved against the broker's topic list at plan time). Same
  // oracle as the explicit-list twin: the routing + pattern round trip
  // must be invisible in the decoded result, and provenance is pinned
  // in-line (each row read back from exactly its type's topic).
  val kafkaWireTopicRouting: QueryDef = QueryDef.sql("q_kafka_wire_topic_routing")(
    """SELECT event_id, user_id, event_type, value
      |FROM events WHERE event_type IN ('click', 'purchase')
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    Service.using(new KafkaStubBroker(3)) { broker =>
      val routed = graft.core.Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
      val payload = routed.withColumn("ts_us", unix_micros(col("ts"))).drop("ts")
      payload.select(
          concat(lit("route-"), col("event_type")).as("topic"),
          graft.core.Codecs.kafkaKey(Some("event_id")).as("key"),
          graft.core.Codecs.jsonEncode(payload.drop("topic")).as("value"))
        .write.format("kafka-wire")
        .option("host", "127.0.0.1").option("port", broker.port.toString)
        .mode("append").save()
      val consumed = s.read.format("kafka-wire")
        .option("host", "127.0.0.1").option("port", broker.port.toString)
        .option("subscribePattern", "route-.*")
        .load()
      val decoded = consumed.select(col("topic").as("__topic"),
          from_json(col("value").cast("string"), Ingest.jsonWireSchema).as("data"))
        .select(col("data.event_id").as("event_id"),
          col("data.user_id").as("user_id"),
          col("data.event_type").as("event_type"),
          col("data.value").as("value"), col("__topic"))
      require(decoded.filter(col("__topic") =!=
          concat(lit("route-"), col("event_type"))).isEmpty,
        "a row surfaced from the wrong topic")
      graft.core.Spill.materialize(
        decoded.drop("__topic").orderBy("event_id"))
    }
  }

  // The MULTI-BROKER leg of the wire: the same produce→consume
  // pipeline over a 3-BROKER cluster — partition leadership split
  // p % 3, one bootstrap endpoint, the DSv2 writer flushing each
  // (topic, partition) to its LEADER and the planner handing every
  // read slice its leader's endpoint, so record bytes never funnel
  // through one broker (the bandwidth-scaling shape; single-broker is
  // the degenerate case). The physical split is asserted in-line —
  // each broker holds bytes ONLY for partitions it leads — and the
  // result must hash-match the same single-broker ingest oracle: the
  // cluster must be invisible in the rows.
  val kafkaWireCluster: QueryDef = QueryDef.sql("q_kafka_wire_cluster")(IngestOracle) { (s, dir) =>
    Service.using(new KafkaStubCluster(3, 3)) { cluster =>
      val wire = Ingest.toJsonWire(graft.core.Tables.events(s, dir), "event_id")
      wire.write.format("kafka-wire")
        .option("host", "127.0.0.1")
        .option("port", cluster.bootstrapPort.toString)
        .option("topic", "events-dist").mode("append").save()
      // leadership is physical: a broker stores only what it leads
      cluster.brokers.foreach { broker =>
        (0 until 3).foreach { p =>
          val owns = cluster.leaderOf(p) == broker.brokerId
          require((broker.highWatermark("events-dist", p) > 0) == owns,
            s"broker ${broker.brokerId} must hold partition $p iff it leads it")
        }
      }
      val consumed = s.read.format("kafka-wire")
        .option("host", "127.0.0.1")
        .option("port", cluster.bootstrapPort.toString)
        .option("topic", "events-dist")
        .load()
      val decoded = decodeIngest(consumed)
        .orderBy("event_id")
      graft.core.Spill.materialize(decoded)
    }
  }

  // The AUTHENTICATED leg of the wire: the same DSv2 produce→consume
  // pipeline over a broker whose listener requires SASL/PLAIN — the
  // SaslHandshake/SaslAuthenticate session setup (RFC 4616 token) runs
  // on EVERY socket the connector opens (driver metadata polls,
  // executor writers, executor readers), configured through the stock
  // connector's `kafka.sasl.mechanism` + `kafka.sasl.jaas.config`
  // options. Same single-broker ingest oracle: authentication must be
  // invisible in the rows. An unauthenticated socket on this listener
  // is disconnected at its first data request (pinned in
  // KafkaSaslSpec), so a hash-green result proves every hop authed.
  val kafkaWireSasl: QueryDef = QueryDef.sql("q_kafka_wire_sasl")(IngestOracle) { (s, dir) =>
    Service.using(new KafkaStubBroker(3,
        saslUsers = Map("pipeline" -> "s3cret"))) { broker =>
      val jaas = "org.apache.kafka.common.security.plain.PlainLoginModule " +
        "required username=\"pipeline\" password=\"s3cret\";"
      val wire = Ingest.toJsonWire(graft.core.Tables.events(s, dir), "event_id")
      wire.write.format("kafka-wire")
        .option("host", "127.0.0.1").option("port", broker.port.toString)
        .option("topic", "events-sasl")
        .option("kafka.sasl.mechanism", "PLAIN")
        .option("kafka.sasl.jaas.config", jaas)
        .mode("append").save()
      val consumed = s.read.format("kafka-wire")
        .option("host", "127.0.0.1").option("port", broker.port.toString)
        .option("topic", "events-sasl")
        .option("kafka.sasl.mechanism", "PLAIN")
        .option("kafka.sasl.jaas.config", jaas)
        .load()
      val decoded = decodeIngest(consumed)
        .orderBy("event_id")
      graft.core.Spill.materialize(decoded)
    }
  }

  // The FAILOVER leg of the wire — a full ROLLING-RESTART drill (r15,
  // extending the r14 single-kill form): wave 1 of the feed lands in a
  // 3-broker replicationFactor=2 cluster (every acked append mirrored
  // before the ack — acks=all); broker 0 — the original bootstrap
  // endpoint AND the leader of partition 0 — is KILLED, and wave 2 is
  // acked under the promoted leaders while it is down; broker 0 then
  // RESTARTS and catches up against the still-serving leaders
  // (snapshot point taken under the live append lock —
  // KafkaStubCluster.restartBroker); wave 3 is acked with the rejoined
  // broker back on follower duty; finally broker 1 — the replica that
  // took partition 0's leadership at the first kill — is killed too,
  // forcing promotion BACK ONTO THE RESTARTED BROKER. The read-back
  // through the DSv2 connector (bootstrap list still leading with two
  // dead endpoints) must hash-match the single-broker ingest oracle:
  // if restart catch-up missed one acked record from any wave, the
  // re-kill surfaces it as a hash break instead of leaving a silently
  // diverged replica in the ISR. This is the rolling-restart-under-
  // load contract a 1000-executor pipeline assumes of a real cluster.
  val kafkaWireFailover: QueryDef = QueryDef.sql("q_kafka_wire_failover")(
    IngestOracle) { (s, dir) =>
    Service.using(new KafkaStubCluster(3, 3, replicationFactor = 2)) { cluster =>
      val deadPort = cluster.brokers(0).port
      val events = graft.core.Tables.events(s, dir)
      def produceWave(which: Column, bootstrap: String): Unit =
        Ingest.toJsonWire(events.filter(which), "event_id")
          .write.format("kafka-wire")
          .option("kafka.bootstrap.servers", bootstrap)
          .option("topic", "events-fo").mode("append").save()
      val survivors =
        s"127.0.0.1:$deadPort,127.0.0.1:${cluster.brokers(2).port}"
      produceWave(pmod(col("event_id"), lit(3)) === 0, s"127.0.0.1:$deadPort")
      cluster.failBroker(0) // kill the bootstrap + partition-0 leader
      produceWave(pmod(col("event_id"), lit(3)) === 1, survivors)
      cluster.restartBroker(0) // live catch-up: leaders never quiesced
      produceWave(pmod(col("event_id"), lit(3)) === 2, survivors)
      cluster.failBroker(1) // re-kill: promotion onto the restarted broker
      require(cluster.leaderOf(0) == 0,
        s"expected partition 0 back on the restarted broker, got ${cluster.leaderOf(0)}")
      val consumed = s.read.format("kafka-wire")
        .option("kafka.bootstrap.servers",
          s"127.0.0.1:$deadPort,127.0.0.1:${cluster.brokers(1).port}," +
            s"127.0.0.1:${cluster.brokers(0).port}")
        .option("topic", "events-fo")
        .load()
      val decoded = decodeIngest(consumed)
        .orderBy("event_id")
      graft.core.Spill.materialize(decoded)
    }
  }

  // The REPLICATION-LAG leg of the wire: the full feed produced into a
  // 3-broker replicationFactor=3 cluster running ASYNC (follower-pull)
  // replication with one follower's chaser PAUSED — the laggard ages
  // past the replica.lag.time window, drops out of every ISR it
  // follows (verified over the real Metadata wire before reading),
  // and acks proceed without it instead of stalling the feed. Then
  // the follower RESUMES, drains its whole backlog in order, re-enters
  // the ISR — and the leader of partition 0 is KILLED, promoting the
  // previously-lagging follower. The read-back through the DSv2
  // connector (bootstrap list still leading with the dead endpoint)
  // must hash-match the same single-broker ingest oracle: a chased log
  // must be byte-equivalent to a synchronously-replicated one, or lag
  // tolerance silently becomes data loss at the first failover. This
  // is the ISR contract a 1000-executor pipeline assumes when a
  // follower falls behind under production load.
  val kafkaWireIsrLag: QueryDef = QueryDef.sql("q_kafka_wire_isr_lag")(IngestOracle) { (s, dir) =>
    Service.using(new KafkaStubCluster(3, 3,
        replicationFactor = 3, asyncLagMs = Some(250))) { cluster =>
      cluster.pauseReplication(1)
      val deadPort = cluster.brokers(0).port
      val wire = Ingest.toJsonWire(graft.core.Tables.events(s, dir), "event_id")
      wire.write.format("kafka-wire")
        .option("kafka.bootstrap.servers", s"127.0.0.1:$deadPort")
        .option("topic", "events-lag").mode("append").save()
      // the laggard genuinely trails and its eviction is visible on
      // the wire: partition 0's Metadata ISR no longer lists broker 1
      require(cluster.replicationLag(1) > 0, "paused follower has no lag")
      val wc = new graft.kafka.KafkaWireClient("127.0.0.1", deadPort)
      val isr0 = try wc.metadataFull(Seq("events-lag")).topics.head
        .partitions.find(_.partition == 0).get.isr.toSet
      finally wc.close()
      require(!isr0.contains(1), s"laggard still in ISR: $isr0")
      cluster.resumeReplication(1)
      require(cluster.awaitCaughtUp(1, 60000), "follower never caught up")
      cluster.failBroker(0) // promotes broker 1 — the chased follower
      val consumed = s.read.format("kafka-wire")
        .option("kafka.bootstrap.servers",
          s"127.0.0.1:$deadPort,127.0.0.1:${cluster.brokers(1).port}")
        .option("topic", "events-lag")
        .load()
      val decoded = decodeIngest(consumed)
        .orderBy("event_id")
      graft.core.Spill.materialize(decoded)
    }
  }

  // STREAMING failover MID-STREAM: q_kafka_wire_isr_lag proves a
  // chased log survives promotion for a BATCH read; this query proves
  // it for the composition a real pipeline actually exercises — a
  // CHECKPOINTED readStream whose leader dies BETWEEN micro-batches.
  // Wave 1 of the feed drains through the DSv2 source (offsets
  // committed to the checkpoint against the original leader). Then the
  // failure drill: follower 1's chaser PAUSES, wave 2 is produced (the
  // laggard ages past replica.lag.time and is evicted — acks proceed
  // without it), the follower resumes and chases its whole backlog,
  // and the leader is KILLED so the previously-lagging follower is
  // promoted. The SAME query resumes from the checkpoint against a
  // bootstrap list still leading with the dead endpoint: the
  // checkpointed offsets, the promoted replica's chased log, and the
  // min-LEO-over-ISR watermark must compose to deliver wave 2 exactly
  // once — a duplicate, a lost record, or an offset gap at promotion
  // all break the hash against the single-broker ingest oracle.
  val streamKafkaFailover: QueryDef = QueryDef.sql("q_stream_kafka_failover")(
    IngestOracle) { (s, dir) =>
    Service.using(new KafkaStubCluster(3, 3,
        replicationFactor = 3, asyncLagMs = Some(250))) { cluster =>
      val deadPort = cluster.brokers(0).port
      val events = graft.core.Tables.events(s, dir)
      def produce(wave: DataFrame): Unit =
        Ingest.toJsonWire(wave, "event_id").write.format("kafka-wire")
          .option("kafka.bootstrap.servers", s"127.0.0.1:$deadPort")
          .option("topic", "events-sfo").mode("append").save()
      val chk = uniqueDir("chk_kwsfo_")
      val outDir = uniqueDir("out_kwsfo_")
      def drain(bootstrap: String): Unit = {
        val wire = s.readStream.format("kafka-wire")
          .option("kafka.bootstrap.servers", bootstrap)
          .option("topic", "events-sfo")
          .option("minPartitions", "12")
          .load()
        Ingest.drainBatches(wire, checkpoint = chk)(
          (b, _) => b.write.mode("append").parquet(outDir))
      }
      produce(events.filter(col("event_id") % 2 === 0))
      drain(s"127.0.0.1:$deadPort")
      // between micro-batches: lag, evict, chase, promote
      cluster.pauseReplication(1)
      produce(events.filter(col("event_id") % 2 === 1))
      require(cluster.replicationLag(1) > 0, "paused follower has no lag")
      cluster.resumeReplication(1)
      require(cluster.awaitCaughtUp(1, 60000), "follower never caught up")
      cluster.failBroker(0) // promotes broker 1 — the chased follower
      drain(s"127.0.0.1:$deadPort,127.0.0.1:${cluster.brokers(1).port}")
      val decoded = decodeIngest(s.read.parquet(outDir))
        .orderBy("event_id")
      graft.core.Spill.materialize(decoded)
    }
  }

  // The REBALANCE-PROTOCOL leg of the wire (round 13 — the last wire
  // non-goal, now a goal): the feed consumed by a real consumer GROUP.
  // Two members run the classic eager protocol against the group's
  // coordinator (FindCoordinator-discovered on a 3-broker cluster):
  // concurrent JoinGroups folded into ONE generation by the
  // initial-rebalance delay, the elected leader computing the range
  // assignment CLIENT-side exactly like Kafka's RangeAssignor (the
  // coordinator only relays opaque bytes), SyncGroup parking the
  // follower until the leader's assignments land. Each member then
  // reads ONLY its assigned partitions through the DSv2 `assign` mode
  // and commits its positions under generation+member fencing — with a
  // BACKGROUND HEARTBEAT THREAD per member (GroupHeartbeat) keeping
  // the realistic 10 s session alive while the scan runs, exactly the
  // real consumer's two-channel liveness design. Member B LEAVES; A's
  // heartbeat reports the rebalance, A rejoins at the next generation
  // owning every partition, and the zombie fence is proven live (A's
  // stale prior-generation commit is rejected, its new commit lands).
  // The union of the two members' partition slices must hash-match the
  // single-consumer ingest oracle: the protocol's split must cover the
  // topic exactly once, or the hash breaks.
  val kafkaWireRebalance: QueryDef = QueryDef.sql("q_kafka_wire_rebalance")(
    IngestOracle) { (s, dir) =>
    import graft.kafka.{KafkaCodec, KafkaWireClient}
    Service.using(new KafkaStubCluster(3, 3, replicationFactor = 2)) { cluster =>
      val bootstrap = s"127.0.0.1:${cluster.bootstrapPort}"
      val topic = "events-reb"
      val group = "grp-reb"
      Ingest.toJsonWire(graft.core.Tables.events(s, dir), "event_id")
        .write.format("kafka-wire")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic).mode("append").save()
      // coordinator discovery, then the group dance on its socket(s)
      val seed = new KafkaWireClient("127.0.0.1", cluster.bootstrapPort)
      val (_, chost, cport) = try seed.findCoordinator(group)
        finally seed.close()
      val a = new KafkaWireClient(chost, cport, clientId = "ga")
      val b = new KafkaWireClient(chost, cport, clientId = "gb")
      try {
        // the 10 s session timeout a production consumer actually
        // ships with: each member's GroupHeartbeat thread (below)
        // keeps its session alive through the scan, so no crutch
        // timeout is needed even when the materialize between sync
        // and commit runs ~17 s at sf1.0
        val sessionMs = 10000
        def clientOf(memberId: String): KafkaWireClient =
          if (memberId.startsWith("ga-")) a else b
        // concurrent joins usually fold into ONE generation via the
        // coordinator's initial-rebalance delay, but that window is a
        // heuristic, not a guarantee (a GC pause splits the cohort) —
        // so the dance RETRIES until both members land in the same
        // generation, the real client's rejoin-on-REBALANCE loop
        def joinBoth(ids: Map[String, String])
            : Seq[KafkaWireClient.JoinResult] = {
          val results = new java.util.concurrent
            .ConcurrentLinkedQueue[KafkaWireClient.JoinResult]
          def join(c: KafkaWireClient, prefix: String): Unit = results.add(
            try c.joinGroup(group, memberId = ids.getOrElse(prefix, ""),
              sessionTimeoutMs = sessionMs)
            catch {
              // dropped as a straggler from a prior attempt: the old
              // id is fenced; start over with a fresh one
              case e: KafkaCodec.KafkaWireException
                  if e.code == KafkaCodec.Err.UnknownMemberId =>
                c.joinGroup(group, sessionTimeoutMs = sessionMs)
            })
          val ta = new Thread(() => join(a, "ga"))
          val tb = new Thread(() => { Thread.sleep(10); join(b, "gb") })
          ta.start(); tb.start(); ta.join(30000); tb.join(30000)
          results.toArray(Array.empty[KafkaWireClient.JoinResult]).toSeq
        }
        var rs = joinBoth(Map.empty)
        var attempts = 0
        while (rs.length == 2 && rs.map(_.generation).toSet.size != 1 &&
            attempts < 5) {
          attempts += 1
          // key the retry map by the actual clientId (member ids are
          // "<clientId>-<uuid>"), not a fixed-width prefix that would
          // collide for clientIds longer than two characters
          rs = joinBoth(rs.map(r =>
            (if (r.memberId.startsWith("ga-")) "ga" else "gb") ->
              r.memberId).toMap)
        }
        require(rs.length == 2 && rs.map(_.generation).toSet.size == 1,
          s"joins did not converge on one generation: $rs")
        val gen = rs.head.generation
        val leader = rs.find(_.isLeader).get
        val follower = rs.find(!_.isLeader).get
        val split = KafkaWireClient.rangeAssign(leader.members.map(_._1), 0 until 3)
        val assignments = split.map { case (m, ps) =>
          m -> KafkaWireClient.encodeAssignment(topic, ps) }
        @volatile var followerAssign: Seq[Int] = null
        val tf = new Thread(() => {
          val (err, bytes) = clientOf(follower.memberId)
            .syncGroup(group, gen, follower.memberId)
          if (err == 0)
            followerAssign = KafkaWireClient.decodeAssignment(bytes)._2
        })
        tf.start()
        val (errL, bytesL) = clientOf(leader.memberId)
          .syncGroup(group, gen, leader.memberId, assignments)
        tf.join(15000)
        require(errL == 0 && followerAssign != null, "sync did not complete")
        val leaderAssign = KafkaWireClient.decodeAssignment(bytesL)._2
        require((leaderAssign ++ followerAssign).sorted == (0 until 3),
          s"assignment does not cover the topic: $leaderAssign / $followerAssign")
        // group is Stable: start each member's background heartbeat —
        // from here the members are "slow consumers" whose processing
        // (two distributed scans + commits) far exceeds sessionMs, and
        // only the heartbeat channel keeps them in the generation
        // 250 ms cadence (heartbeat.interval.ms is 1/3 of the session
        // timeout in real configs; here it also bounds how long the
        // rebalance-signal assertion below waits for a tick)
        val hbs = rs.map(r => r.memberId -> new graft.kafka.GroupHeartbeat(
          chost, cport, group, r.memberId, gen, intervalMs = 250,
          clientId = s"hb-${r.memberId}")).toMap
        try {
          // each member scans its OWN slice via DSv2 assign mode
          def readAssigned(ps: Seq[Int]): DataFrame = s.read.format("kafka-wire")
            .option("kafka.bootstrap.servers", bootstrap)
            .option("assign", s"""{"$topic": [${ps.mkString(", ")}]}""")
            .load()
          val union = readAssigned(leaderAssign).unionAll(readAssigned(followerAssign))
          val decoded = decodeIngest(union)
            .orderBy("event_id")
          val out = graft.core.Spill.materialize(decoded)
          // members commit their end positions under the live generation
          val ends = union.groupBy("partition")
            .agg(org.apache.spark.sql.functions.max("offset").as("mx"))
            .collect().map(r => r.getInt(0) -> (r.getLong(1) + 1)).toMap
          Seq((leader, leaderAssign), (follower, followerAssign)).foreach {
            case (m, ps) =>
              val mine = ends.filter { case (p, _) => ps.contains(p) }
              clientOf(m.memberId).commitOffsetsAs(group, topic, mine, gen,
                m.memberId)
          }
          // B departs; A learns via heartbeat, rejoins next gen, owns all
          hbs(follower.memberId).close()
          clientOf(follower.memberId).leaveGroup(group, follower.memberId)
          val aId = rs.find(_.memberId.startsWith("ga-")).get.memberId
          require(a.heartbeat(group, gen, aId) == KafkaCodec.Err.RebalanceInProgress,
            "survivor was not told to rejoin after the leave")
          // the BACKGROUND thread sees the same signal within a tick
          val hbA = hbs(aId)
          val hbDeadline = System.nanoTime() + 5L * 1000000000L
          while (!hbA.rebalanceSignalled && System.nanoTime() < hbDeadline)
            Thread.sleep(20)
          require(hbA.rebalanceSignalled,
            "background heartbeat missed the rebalance signal")
          val r2 = a.joinGroup(group, memberId = aId, sessionTimeoutMs = sessionMs)
          require(r2.generation == gen + 1 && r2.isLeader &&
            r2.members.map(_._1) == Seq(aId), s"next-gen rejoin wrong: $r2")
          hbA.generationIs(r2.generation)
          val (e2, bytes2) = a.syncGroup(group, r2.generation, aId,
            Map(aId -> KafkaWireClient.encodeAssignment(topic, 0 until 3)))
          require(e2 == 0 &&
            KafkaWireClient.decodeAssignment(bytes2)._2 == (0 until 3),
            "next-gen sync wrong")
          // the zombie fence is live: a prior-gen commit is rejected now
          val fenced =
            try { a.commitOffsetsAs(group, topic, Map(0 -> 1L), gen, aId); false }
            catch {
              case e: KafkaCodec.KafkaWireException
                if e.code == KafkaCodec.Err.IllegalGeneration => true
            }
          require(fenced, "stale-generation commit was not fenced")
          a.commitOffsetsAs(group, topic, ends, r2.generation, aId)
          require(hbs.valuesIterator.forall(_.failure.isEmpty),
            s"heartbeat thread died: ${hbs.valuesIterator.flatMap(_.failure).toSeq}")
          out
        } finally hbs.values.foreach(_.close())
      } finally { a.close(); b.close() }
    }
  }

  // The SECURED-CLUSTER capstone: every wire feature composed in ONE
  // pipeline — a 3-broker cluster with replicationFactor=2 whose TLS
  // listeners require SASL/PLAIN INSIDE the encrypted session
  // (security.protocol=SASL_SSL, the only form a production secured
  // cluster permits for PLAIN — the credentials never cross the wire
  // in clear), a TRANSACTIONAL DSv2 write (per-task KIP-98 txns, so
  // the feed is exactly-once to read_committed consumers), then a
  // broker KILLED (the bootstrap + a partition leader), then a
  // read_committed batch read through a bootstrap list that still
  // leads with the dead endpoint. The TLS handshake (with HTTPS-style
  // endpoint identification against the certificate SAN) and SASL auth
  // must hold on every re-routed socket, replication must carry both
  // the data AND the commit markers to the promoted leaders, and the
  // same single-broker ingest oracle must hash-match — features proven
  // one-by-one elsewhere must also compose, which is where real
  // systems break.
  val kafkaWireSecuredE2e: QueryDef = QueryDef.sql("q_kafka_wire_secured_e2e")(
    IngestOracle) { (s, dir) =>
    val (ks, ts, pw) = graft.kafka.Tls.ensureKeyMaterial()
    Service.using(new KafkaStubCluster(3, 3,
        saslUsers = Map("svc" -> "pw"), replicationFactor = 2,
        tlsKeystore = Some((ks, pw)))) { cluster =>
      val jaas = "org.apache.kafka.common.security.plain.PlainLoginModule " +
        "required username=\"svc\" password=\"pw\";"
      val deadPort = cluster.brokers(0).port
      val wire = Ingest.toJsonWire(graft.core.Tables.events(s, dir), "event_id")
      wire.write.format("kafka-wire")
        .option("kafka.bootstrap.servers", s"127.0.0.1:$deadPort")
        .option("topic", "events-sec")
        .option("kafka.security.protocol", "SASL_SSL")
        .option("kafka.ssl.truststore.location", ts)
        .option("kafka.ssl.truststore.password", pw)
        .option("kafka.sasl.mechanism", "PLAIN")
        .option("kafka.sasl.jaas.config", jaas)
        .option("kafka.transactional.id", "sec-e2e")
        .mode("append").save()
      cluster.failBroker(0)
      val consumed = s.read.format("kafka-wire")
        .option("kafka.bootstrap.servers",
          s"127.0.0.1:$deadPort,127.0.0.1:${cluster.brokers(1).port}")
        .option("topic", "events-sec")
        .option("kafka.security.protocol", "SASL_SSL")
        .option("kafka.ssl.truststore.location", ts)
        .option("kafka.ssl.truststore.password", pw)
        .option("kafka.sasl.mechanism", "PLAIN")
        .option("kafka.sasl.jaas.config", jaas)
        .option("kafka.isolation.level", "read_committed")
        .load()
      val decoded = decodeIngest(consumed)
        .orderBy("event_id")
      graft.core.Spill.materialize(decoded)
    }
  }

  // The SCHEMA-REGISTRY leg of the wire: one topic carrying records
  // written under TWO schema versions — the evens produced in the "v1
  // era" (no prop_k field on the wire at all), the odds under v2 —
  // each value framed with the Confluent 5-byte prefix (magic 0x00 +
  // int32 schema id). The registry stub enforces real BACKWARD
  // compatibility at registration (Avro's own resolution verdict); the
  // consumer decodes under the v2 READER schema with executors
  // resolving each unseen writer-schema id from the registry directly
  // (lazy per-partition cache — the real consumer's shape: no extra
  // census pass over the data, O(ids × partitions) tiny HTTP calls) —
  // Avro schema resolution fills prop_k's null default for the
  // v1-era records.
  // The oracle pins exactly that: prop_k IS NULL for evens, the
  // payload value for odds — schema evolution must be visible ONLY as
  // the documented default, never as corruption or loss.
  val kafkaWireSchemaRegistry: QueryDef = QueryDef.sql("q_kafka_wire_schema_registry")(
    """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value,
      |  CASE WHEN event_id % 2 = 0 THEN NULL
      |       ELSE CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS INTEGER)
      |  END AS prop_k
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    Service.using(new SchemaRegistryStub, new KafkaStubBroker(3)) { (registry, broker) =>
      val client = new graft.kafka.SchemaRegistryClient(registry.baseUrl)
      val events = graft.core.Tables.events(s, dir)
      val id1 = client.register("events-value",
        graft.kafka.RegistryAvro.EventSchemaV1Json)
      val id2 = client.register("events-value",
        graft.kafka.RegistryAvro.EventSchemaV2Json)
      def produce(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("kafka-wire")
          .option("host", "127.0.0.1").option("port", broker.port.toString)
          .option("topic", "events-sr").mode("append").save()
      produce(graft.kafka.RegistryAvro.encodeEvents(
        events.filter(col("event_id") % 2 === 0),
        graft.kafka.RegistryAvro.EventSchemaV1Json, id1))
      produce(graft.kafka.RegistryAvro.encodeEvents(
        events.filter(col("event_id") % 2 === 1),
        graft.kafka.RegistryAvro.EventSchemaV2Json, id2))
      val consumed = s.read.format("kafka-wire")
        .option("host", "127.0.0.1").option("port", broker.port.toString)
        .option("topic", "events-sr")
        .load()
      val decoded = graft.kafka.RegistryAvro
        .decodeEventsResolving(consumed,
          graft.kafka.RegistryAvro.EventSchemaV2Json, registry.baseUrl)
        .orderBy("event_id")
      graft.core.Spill.materialize(decoded)
    }
  }

  // The BINARY codec leg of the wire: Avro-encoded values (the
  // schema-registry serialization a production Kafka feed carries,
  // where the reference ships JSON strings) produced through the real
  // protocol client and consumed back via the DSv2 connector's
  // standard binary `value` column — proving the wire, the broker, and
  // the connector surface are all 8-bit clean, not UTF-8-string-typed.
  // Same oracle as the JSON twin: the codec swap must be invisible in
  // the decoded result.
  val kafkaWireAvro: QueryDef = QueryDef.sql("q_kafka_wire_avro")(IngestOracle) { (s, dir) =>
    Service.using(new KafkaStubBroker(3)) { broker =>
      val exchange = new graft.kafka.KafkaWireExchange("127.0.0.1", broker.port)
      val wire = graft.core.AvroCodec.encodeEvents(graft.core.Tables.events(s, dir))
      exchange.publish(wire,
        graft.replay.Replay.ReplayConfig(input = "", topic = "events-avro"))
      val consumed = s.read.format("kafka-wire")
        .option("host", "127.0.0.1").option("port", broker.port.toString)
        .option("topic", "events-avro")
        .load()
      val decoded = graft.core.AvroCodec.decodeEvents(consumed)
        .orderBy("event_id")
      // materialize before the broker dies: the consumer scan is lazy
      graft.core.Spill.materialize(decoded)
    }
  }

  // At-least-once replay discipline over the real wire: publish TWICE
  // (the reference producer re-run / retry case), then restore
  // exactly-once downstream with the standard consumer-side dedup on
  // the event key — converging to the same oracle as a single publish.
  val kafkaWireRedelivery: QueryDef = QueryDef.sql("q_kafka_wire_redelivery")(
    """SELECT event_id, user_id, event_type, value
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    Service.using(new KafkaStubBroker(3)) { broker =>
      val exchange = new graft.kafka.KafkaWireExchange("127.0.0.1", broker.port)
      val wire = Ingest.toJsonWire(graft.core.Tables.events(s, dir), "event_id")
      exchange.publish(wire,
        graft.replay.Replay.ReplayConfig(input = "", topic = "events", repeat = 2))
      val consumed = exchange.read(s, "events")
      val decoded = Ingest.decodeJsonWire(consumed)
        .dropDuplicates("event_id")
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
      graft.core.Spill.materialize(decoded)
    }
  }

  // S5 as a REAL Structured Streaming source: the DSv2 micro-batch
  // connector (`format("kafka-wire")`, graft.kafka.KafkaWireSource)
  // reading protocol bytes from the stub broker through planInput-
  // Partitions/PartitionReader — offset tracking, checkpointing and
  // Trigger.AvailableNow admission control all engaged, where
  // q_kafka_wire_ingest's consumer is the same connector's batch scan
  // (`spark.read`, through KafkaWireExchange.read). Same decode
  // chain, same oracle: the reference's `readStream.format("kafka")`
  // pipeline with only the wire implementation swapped.
  val streamKafkaWire: QueryDef = QueryDef.sql("q_stream_kafka_wire")(IngestOracle) { (s, dir) =>
    Service.using(new KafkaStubBroker(3)) { broker =>
      val exchange = new graft.kafka.KafkaWireExchange("127.0.0.1", broker.port)
      val wire = Ingest.toJsonWire(graft.core.Tables.events(s, dir), "event_id")
      exchange.publish(wire,
        graft.replay.Replay.ReplayConfig(input = "", topic = "events"))
      val stream = s.readStream.format("kafka-wire")
        .option("host", "127.0.0.1").option("port", broker.port.toString)
        .option("topic", "events")
        // decouple decode parallelism from the 3-partition topic: plan
        // ~4 offset slices per partition (more slices convoy on the
        // stub's per-partition log locks; on a real cluster this is
        // sized to the executor core count, not the topic layout)
        .option("minPartitions", "12")
        .load()
      val out = Ingest.runToMemory(decodeIngest(stream)).orderBy("event_id")
      // materialize before the broker dies: the memory-sink table read
      // is eager, but keep the same discipline as the batch wire twins
      graft.core.Spill.materialize(out)
    }
  }

  // K2 as a REAL writeStream sink: the reference producer's role
  // (`dataframe_to_kafka.py:85-113`) through the DSv2 StreamingWrite —
  // micro-batched rows buffered per Kafka partition (murmur2 key
  // placement) and produced as record batches from the executors, then
  // consumed back over the same wire and decoded to the shared ingest
  // oracle. The write is at-least-once (non-transactional, like the
  // stock connector); this single-run pipeline is duplicate-free by
  // construction, and q_kafka_wire_redelivery pins the replay story.
  val streamKafkaSink: QueryDef = QueryDef.sql("q_stream_kafka_sink")(IngestOracle) { (s, dir) =>
    Service.using(new KafkaStubBroker(3)) { broker =>
      val wire = Ingest.toJsonWire(Ingest.eventsStream(s, dir), "event_id")
      Ingest.drain(wire)(_.format("kafka-wire")
        .option("host", "127.0.0.1").option("port", broker.port.toString)
        .option("topic", "events"))
      val consumed = s.read.format("kafka-wire")
        .option("host", "127.0.0.1").option("port", broker.port.toString)
        .option("topic", "events")
        .load()
      val decoded = decodeIngest(consumed).orderBy("event_id")
      // materialize before the broker dies: the batch wire scan is lazy
      graft.core.Spill.materialize(decoded)
    }
  }

  // The gzip wire under the correctness gate: same pipeline as
  // q_stream_kafka_sink but with compression on BOTH directions —
  // the producer's compression.type=gzip deflates every record batch,
  // and the broker (compression.type=gzip topic config) recompresses
  // fetch responses so the consumer must inflate from the batch
  // attribute bits. Shares the ingest oracle: identical rows through
  // compressed bytes or the hash breaks.
  val streamKafkaGzip: QueryDef = QueryDef.sql("q_stream_kafka_gzip")(IngestOracle) { (s, dir) =>
    Service.using(new KafkaStubBroker(3, compressionType = "gzip")) { broker =>
      val wire = Ingest.toJsonWire(Ingest.eventsStream(s, dir), "event_id")
      Ingest.drain(wire)(_.format("kafka-wire")
        .option("host", "127.0.0.1").option("port", broker.port.toString)
        .option("topic", "events")
        .option("compression.type", "gzip"))
      val consumed = s.read.format("kafka-wire")
        .option("host", "127.0.0.1").option("port", broker.port.toString)
        .option("topic", "events")
        .load()
      graft.core.Spill.materialize(decodeIngest(consumed).orderBy("event_id"))
    }
  }

  // CAPSTONE — the reference's entire topology in ONE executed chain
  // with BOTH wires real: producer encodes events as JSON onto Kafka
  // protocol bytes (`dataframe_to_kafka.py` → DSv2 batch write, murmur2
  // key placement), Structured Streaming consumes them through the
  // kafka-wire connector WITH backpressure (maxOffsetsPerTrigger caps
  // each micro-batch, so the preloaded backlog drains as ~6 bounded
  // batches — `spark_streaming_kafka.py:13-18` plus the scale knob the
  // reference never had), a watermarked hourly window aggregates in
  // update mode, and each batch's changed windows upsert into the ES
  // `_bulk` wire (`kafka_to_es.py` / es.mapping.id) with the window's
  // own count as the external version — strictly monotone per key (a
  // window only re-emits when new rows landed in it, and every new row
  // increments n), so replayed batches converge instead of colliding.
  // Final store state must equal the one-shot batch aggregate.
  //
  // The watermark here is wider than the corpus' 30-day span, because
  // wire order is key-partitioned, not time-ordered — so no row can
  // ever be late relative to it and the result is deterministic under
  // any partition interleaving. Eviction-under-lateness semantics are
  // pinned separately by q_stream_window_hourly / q_stream_late_drop;
  // THIS query pins the end-to-end composition.
  val e2eKafkaEs: QueryDef = QueryDef.sql("q_e2e_kafka_es")(
    """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    Service.using(new KafkaStubBroker(3), new EsStub()) { (broker, stub) =>
      val events = graft.core.Tables.events(s, dir)
      // parquet footer count (metadata-only): size the cap for ~6
      // capped micro-batches at ANY scale factor
      val cap = math.max(1L, events.count() / 6L + 1L)
      Ingest.toJsonWire(events, "event_id")
        .write.format("kafka-wire")
        .option("host", "127.0.0.1").option("port", broker.port.toString)
        .option("topic", "events").mode("append").save()

      val stream = s.readStream.format("kafka-wire")
        .option("host", "127.0.0.1").option("port", broker.port.toString)
        .option("topic", "events")
        .option("maxOffsetsPerTrigger", cap.toString)
        // see q_stream_kafka_wire: decode parallelism above topic width
        .option("minPartitions", "12")
        .load()
      val agg = Ingest.decodeJsonWire(stream)
        .withWatermark("ts", "35 days")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("hour_epoch"),
          col("event_type"), col("n"), col("sum_value"))
        .withColumn("doc_key",
          concat(col("hour_epoch"), lit(":"), col("event_type")))

      val docSchema = StructType.fromDDL(
        "hour_epoch BIGINT, event_type STRING, n BIGINT, sum_value DOUBLE")
      val store = new EsHttpStore(stub.baseUrl, "hourly", "doc_key",
        Seq("n"), "n", docSchema)
      require(store.healthCheck(), "sink preflight failed") // K5
      // state-sized shuffle partitions (see Ingest.drain): with the
      // batch partition count the windowed aggregation pays 32
      // state-store opens/commits per micro-batch for hours×types of
      // state (the r17 profile put the residual wall here). The batch
      // upserts inside foreachBatch plan at the same count, which is the
      // right shape for their per-batch row volume too.
      Ingest.drainBatches(agg, mode = "update", statePartitions = true)(store.upsert)
      val out = store.read(s)
        .select("hour_epoch", "event_type", "n", "sum_value")
        .orderBy("hour_epoch", "event_type")
      graft.core.Spill.materialize(out)
    }
  }

  // Topic-to-topic streaming transform — the "Kafka Streams" topology:
  // ONE streaming query whose source AND sink are both the kafka-wire
  // connector. Raw events stream in from `raw`, a curation filter keeps
  // the conversion types, rows are RE-KEYED by user (murmur2 placement
  // on the output topic now groups a user's events on one partition —
  // the repartition-by-key a downstream per-user consumer needs), and
  // the re-encoded JSON is produced to `curated`. A batch wire read of
  // the output topic must decode to the plain filtered table. Scale
  // shape: stateless row transform — no shuffle anywhere; bytes flow
  // broker→executor→broker, bounded per micro-batch by the source cap.
  //
  // Since round 9 the sink runs TRANSACTIONAL (kafka.transactional.id):
  // each task's micro-batch output commits atomically under a stable
  // per-task transactional identity, so a task retried mid-produce
  // leaves only aborted ranges behind and the read_committed output
  // read sees each row exactly once — the Kafka Streams EOS contract
  // (epoch replays past a checkpoint commit remain at-least-once,
  // as they do there; KafkaTxnSpec pins the retry/fencing mechanics).
  val kafkaTopicTransform: QueryDef = QueryDef.sql("q_kafka_topic_transform")(
    """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
      |FROM events WHERE event_type IN ('purchase', 'signup')
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    Service.using(new KafkaStubBroker(3)) { broker =>
      val events = graft.core.Tables.events(s, dir)
      val cap = math.max(1L, events.count() / 4L + 1L)
      Ingest.toJsonWire(events, "event_id")
        .write.format("kafka-wire")
        .option("host", "127.0.0.1").option("port", broker.port.toString)
        .option("topic", "raw").mode("append").save()

      val transformed = Ingest.decodeJsonWire(
          s.readStream.format("kafka-wire")
            .option("host", "127.0.0.1").option("port", broker.port.toString)
            .option("topic", "raw")
            .option("maxOffsetsPerTrigger", cap.toString)
            .load())
        .filter(col("event_type").isin("purchase", "signup"))
        .select(col("user_id").cast("string").as("key"),
          to_json(struct(col("event_id"), col("ts_us"), col("user_id"),
            col("event_type"), col("value"))).as("value"))
      Ingest.drain(transformed)(_.format("kafka-wire")
        .option("host", "127.0.0.1").option("port", broker.port.toString)
        .option("topic", "curated")
        .option("kafka.transactional.id", "t2t"))

      val out = s.read.format("kafka-wire")
        .option("host", "127.0.0.1").option("port", broker.port.toString)
        .option("topic", "curated")
        .option("isolation.level", "read_committed")
        .load()
        .selectExpr("CAST(value AS STRING) AS json")
        .select(from_json(col("json"),
          StructType.fromDDL(
            "event_id BIGINT, ts_us BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"))
          .as("d"))
        .select(col("d.*"))
        .orderBy("event_id")
      graft.core.Spill.materialize(out)
    }
  }

  // Conditional MERGE INTO over the log-structured store (the Delta/
  // Iceberg MERGE statement, the lakehouse CDC-apply primitive): upsert
  // the full feed, then merge one corrections source carrying all three
  // clause kinds — delete every 7th user, rewrite every 5th (surviving)
  // user's latest row (value doubled, re-typed 'corrected', stamped 1h
  // after their last event so it out-orders the stored row), and import
  // clones of every 11th user under a fresh key space. Both new segments
  // (upserts + tombstones) land in ONE manifest commit — a reader sees
  // the merge entirely or not at all — and the oracle is the three-way
  // partition of the batch latest-per-key state, so a wrong clause
  // precedence (delete vs update on a user divisible by 35) or a
  // half-applied commit breaks the hash. Scale: one key-partitioned
  // equi-join of source vs snapshot + O(source) segment appends; the
  // store is never rewritten.
  val deltaMerge: QueryDef = QueryDef.sql("q_delta_merge")(
    """WITH latest AS (
      |  SELECT * FROM (SELECT *, row_number() OVER
      |      (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events) t WHERE rn = 1)
      |SELECT user_id, last_event_id, last_event_type, last_value FROM (
      |  SELECT user_id, event_id AS last_event_id,
      |    event_type AS last_event_type, value AS last_value
      |  FROM latest WHERE user_id % 7 <> 0 AND user_id % 5 <> 0
      |  UNION ALL
      |  SELECT user_id, event_id, 'corrected', value * 2
      |  FROM latest WHERE user_id % 7 <> 0 AND user_id % 5 = 0
      |  UNION ALL
      |  SELECT user_id + 1000000, event_id, 'imported', 0.0
      |  FROM latest WHERE user_id % 11 = 0
      |) u ORDER BY user_id""".stripMargin) { (s, dir) =>
    val store = new DeltaUpsertStore(uniqueDir("merge_"), "user_id",
      Seq("ts", "event_id"))
    require(store.healthCheck(), "sink preflight failed")  // K5
    val ev = graft.core.Tables.events(s, dir)
    store.upsert(ev, 0)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val latest = ev.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val updatesSrc = latest
      .filter(col("user_id") % 7 =!= 0 && col("user_id") % 5 === 0)
      .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
      .withColumn("event_type", lit("corrected"))
      .withColumn("value", col("value") * 2)
    val deletesSrc = latest.filter(col("user_id") % 7 === 0)
    val insertsSrc = latest.filter(col("user_id") % 11 === 0)
      .withColumn("user_id", col("user_id") + 1000000)
      .withColumn("event_type", lit("imported"))
      .withColumn("value", lit(0.0))
    store.merge(updatesSrc.unionByName(deletesSrc).unionByName(insertsSrc),
      whenMatchedDelete = Some(col("user_id") % 7 === 0),
      whenMatchedUpdate = Some(col("user_id") % 5 === 0),
      whenNotMatchedInsert = Some(lit(true)))
    lastPerUser(store.read(s))
  }

  // Change data feed over the log-structured store (Delta CDF): three
  // commits — a partial first load (even events from users not divisible
  // by 4), the complementary remainder, then a delete of every 9th user
  // — and `changes(v1, v3)` must emit exactly the per-key diff: 'insert'
  // for users absent from v1, 'update' for users whose winning row moved,
  // 'delete' (null post-image) for tombstoned users, and NOTHING for
  // users whose v1 row still wins (they re-appear in commit 2's segment,
  // so a naive new-segment scan would over-report them) or for users
  // inserted then deleted inside the window. Scale: candidate keys come
  // from the ADDED segments only, then two semi-join-pruned snapshot
  // reads and one key-partitioned full-outer join — O(changed keys), not
  // O(store).
  val deltaCdf: QueryDef = QueryDef.sql("q_delta_cdf")(
    """WITH v1 AS (
      |  SELECT * FROM (SELECT *, row_number() OVER
      |      (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE event_id % 2 = 0 AND user_id % 4 <> 0) t
      |  WHERE rn = 1),
      |v3 AS (
      |  SELECT * FROM (SELECT *, row_number() OVER
      |      (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events) t WHERE rn = 1 AND user_id % 9 <> 0)
      |SELECT user_id, op, event_id, event_type, value FROM (
      |  SELECT v1.user_id AS user_id, 'delete' AS op,
      |    CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS VARCHAR) AS event_type,
      |    CAST(NULL AS DOUBLE) AS value
      |  FROM v1 WHERE v1.user_id % 9 = 0
      |  UNION ALL
      |  SELECT v3.user_id, 'insert', v3.event_id, v3.event_type, v3.value
      |  FROM v3 LEFT JOIN v1 ON v3.user_id = v1.user_id
      |  WHERE v1.user_id IS NULL
      |  UNION ALL
      |  SELECT v3.user_id, 'update', v3.event_id, v3.event_type, v3.value
      |  FROM v3 JOIN v1 ON v3.user_id = v1.user_id
      |  WHERE v3.event_id <> v1.event_id
      |) u ORDER BY user_id""".stripMargin) { (s, dir) =>
    val store = new DeltaUpsertStore(uniqueDir("cdf_"), "user_id",
      Seq("ts", "event_id"))
    require(store.healthCheck(), "sink preflight failed")  // K5
    val ev = graft.core.Tables.events(s, dir)
    val firstLoad = col("event_id") % 2 === 0 && col("user_id") % 4 =!= 0
    store.upsert(ev.filter(firstLoad), 0)   // → version 1
    store.upsert(ev.filter(!firstLoad), 1)  // → version 2
    store.delete(ev.select("user_id").distinct()
      .filter(col("user_id") % 9 === 0)
      // tombstone out-orders every stored event
      .withColumn("ts", lit("2030-01-01 00:00:00").cast("timestamp"))
      .withColumn("event_id", lit(Long.MaxValue)), 2)  // → version 3
    store.changes(s, 1, 3)
      .select(col("user_id"), col("op"), col("event_id"), col("event_type"),
        col("value"))
      .orderBy("user_id")
  }

  // MERGE as the streaming CDC-apply step — the pattern the merge()
  // scaladoc promises: each micro-batch folds into the store through the
  // conditional MERGE with a strictly-newer guard that reads the matched
  // TARGET row ((ts, event_id) must advance), so stale/replayed change
  // rows never even land in a segment — the store's segments hold only
  // rows that actually won, and the final state is the batch
  // last-write-wins answer (q_sink_upsert's oracle). This is the
  // foreachBatch + MERGE idiom every Delta/Iceberg CDC pipeline runs;
  // per batch it costs one key-partitioned join against the merged view
  // plus an O(batch) append.
  val streamCdcApply: QueryDef = QueryDef.sql("q_stream_cdc_apply")(
    LatestPerUserOracle) { (s, dir) =>
    val store = new DeltaUpsertStore(uniqueDir("cdc_"), "user_id",
      Seq("ts", "event_id"))
    require(store.healthCheck(), "sink preflight failed")  // K5
    Ingest.drainBatches(Ingest.eventsStream(s, dir)) { (b, _) =>
      store.merge(b,
        whenMatchedUpdate = Some(
          struct(col("ts"), col("event_id")) >
            struct(col("__target.ts"), col("__target.event_id"))),
        whenNotMatchedInsert = Some(lit(true)))
    }
    lastPerUser(store.read(s))
  }

  // Compacted topic (cleanup.policy=compact) — the state-topic
  // bootstrap pattern: every event is produced keyed by user_id, the
  // broker's log cleaner retains only the latest record per key
  // (offsets preserved → the log is GAPPY, and the consumer iterates
  // the gaps), and a full replay of the cleaned topic must equal the
  // per-key latest of the uncompacted ledger. Per-key produce order is
  // pinned by repartitioning on the key and sorting by event_id inside
  // each task (one key never splits across tasks, and key-hash routing
  // sends it to one Kafka partition), so "latest" is deterministic:
  // max event_id per user.
  val kafkaWireCompacted: QueryDef = QueryDef.sql("q_kafka_wire_compacted")(
    """WITH latest AS (
      |  SELECT user_id, event_id, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id, event_id, event_type, value
      |FROM latest WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
    Service.using(new KafkaStubBroker(3)) { broker =>
      val exchange = new graft.kafka.KafkaWireExchange("127.0.0.1", broker.port)
      val ev = graft.core.Tables.events(s, dir)
        .repartition(6, col("user_id"))
        .sortWithinPartitions("user_id", "event_id")
      exchange.publish(Ingest.toJsonWire(ev, "user_id"),
        graft.replay.Replay.ReplayConfig(input = "", topic = "user-state"))
      broker.compactTopic("user-state")
      val decoded = Ingest.decodeJsonWire(exchange.read(s, "user-state"))
        .select("user_id", "event_id", "event_type", "value")
        .orderBy("user_id")
      // materialize before the broker dies: the consumer scan is lazy
      graft.core.Spill.materialize(decoded)
    }
  }

  val all: Seq[QueryDef] = Seq(
    kafkaWireCompacted,
    streamIngestJson, streamIngestDsv, streamWindowHourly, sinkUpsert,
    sinkUpsertDelta, sinkRoute, streamStreamJoin, streamDedup,
    streamSessionWindow, streamTwsSummary, streamLeftOuter, streamFullOuter,
    streamChainedAgg,
    streamLateDrop, streamStaticJoin, streamSessionTimers, streamMapStateCounts,
    streamIncremental, streamSemiJoin, sinkUpsertDeltaAsof, deltaPointLookup,
    sinkUpsertDeltaDelete, streamAsofJoin,
    sinkUpsertEs, sinkUpsertEsDelete, sinkRouteEs, streamTopkTypes,
    kafkaWireIngest, kafkaWireRedelivery, streamKafkaWire, streamKafkaSink,
    streamKafkaGzip, kafkaWireAvro, kafkaWireIdempotent, kafkaWireTxn,
    kafkaWireGroupResume, kafkaWireMultiTopic, kafkaWireTopicRouting,
    kafkaWireCluster, kafkaWireSasl, kafkaWireFailover, kafkaWireIsrLag,
    streamKafkaFailover, kafkaWireRebalance, kafkaWireSecuredE2e,
    kafkaWireSchemaRegistry,
    e2eKafkaEs, kafkaTopicTransform, deltaMerge, deltaCdf, streamCdcApply,
    deltaCompactMinor)
}
