package graft

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

import graft.kafka.{KafkaCodec, KafkaStubBroker, KafkaWireClient, KafkaWireExchange}
import graft.kafka.KafkaCodec.WireRecord
import graft.replay.Replay
import graft.replay.Replay.ReplayConfig

/** The executed Kafka path (S5/K2): real record-batch-v2 bytes over
  * real TCP between the wire client and the stub broker, plus the
  * partition/key-ordering contract the reference producer
  * (`dataframe_to_kafka.py:94-100`) depends on.
  */
class KafkaWireSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def b(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)
  private def s(a: Array[Byte]): String = new String(a, StandardCharsets.UTF_8)

  private def withBroker[A](numPartitions: Int = 3)(f: KafkaStubBroker => A): A = {
    val broker = new KafkaStubBroker(numPartitions)
    broker.start()
    try f(broker) finally broker.stop()
  }

  private def withClient[A](broker: KafkaStubBroker)(f: KafkaWireClient => A): A = {
    val c = new KafkaWireClient("127.0.0.1", broker.port)
    try f(c) finally c.close()
  }

  test("a max_bytes near Int.MaxValue over tiny gzip'd records does not overflow the fetch cap") {
    // the record-count cap is estimated from the record at the fetch
    // offset; gzip'd tiny records floor the estimate at 2 bytes, so a
    // huge client budget used to overflow the Int arithmetic into a
    // NEGATIVE cap — an empty slice below the high watermark, i.e. a
    // permanently stalled consumer. The cap is now computed in Long
    // and clamped to the records actually left.
    val broker = new KafkaStubBroker(1, "gzip")
    broker.start()
    try withClient(broker) { c =>
      c.produce("tiny", 0, (0 until 100).map(i => (1L + i, null, b("x"))))
      val r = c.fetch("tiny", 0, 0L, maxBytes = Int.MaxValue)
      assert(r.errorCode == 0)
      assert(r.records.nonEmpty, "negative cap produced an empty slice below hw")
      assert(c.fetchAll("tiny", 0).size == 100)
    } finally broker.stop()
  }

  // ---- codec ----

  test("record batch v2 round-trips keys, values, nulls, timestamps, offsets") {
    val records = Seq(
      (1000L, b("k1"), b("v1")),
      (999L, null, b("v2")),            // null key
      (1002L, b("k3"), null),           // tombstone
      (1001L, b(""), b("")),            // empty ≠ null
      (1000L, b("k5"), b("payload with β unicode and \n newline")))
    val encoded = KafkaCodec.encodeBatch(42L, records)
    val decoded = KafkaCodec.decodeBatches(encoded)
    assert(decoded.size == 5)
    decoded.zipWithIndex.foreach { case (r, i) =>
      assert(r.offset == 42L + i)
      assert(r.timestampMs == records(i)._1)
      assert((r.key == null) == (records(i)._2 == null))
      if (r.key != null) assert(r.key.sameElements(records(i)._2))
      assert((r.value == null) == (records(i)._3 == null))
      if (r.value != null) assert(r.value.sameElements(records(i)._3))
    }
    // concatenated batches decode as one stream (a fetch response shape)
    val two = encoded ++ KafkaCodec.encodeBatch(47L, Seq((5L, b("x"), b("y"))))
    assert(KafkaCodec.decodeBatches(two).map(_.offset) == Seq(42L, 43L, 44L, 45L, 46L, 47L))
  }

  test("gzip batches round-trip, set the codec bits, and actually shrink") {
    val records = (0 until 200).map(i =>
      (1000L + i, b(s"k$i"), b("repetitive payload text " * 10)))
    val plain = KafkaCodec.encodeBatch(7L, records)
    val gz = KafkaCodec.encodeBatch(7L, records, gzip = true)
    // attributes int16 big-endian at batch offset 21-22: codec bits 0-2
    assert((gz(22) & 0x07) == KafkaCodec.Codec.Gzip)
    assert((plain(22) & 0x07) == KafkaCodec.Codec.None)
    assert(gz.length < plain.length / 5,
      s"highly repetitive payload should deflate hard: ${gz.length} vs ${plain.length}")
    val decoded = KafkaCodec.decodeBatches(gz)
    assert(decoded.size == 200)
    decoded.zipWithIndex.foreach { case (r, i) =>
      assert(r.offset == 7L + i && r.timestampMs == 1000L + i)
      assert(s(r.key) == s"k$i" && r.value.sameElements(records(i)._3))
    }
    // null key / tombstone / empty survive compression too
    val edge = Seq((1L, null, b("v")), (2L, b("k"), null), (3L, b(""), b("")))
    val back = KafkaCodec.decodeBatches(KafkaCodec.encodeBatch(0L, edge, gzip = true))
    assert(back.map(r => (Option(r.key).map(s), Option(r.value).map(s))) ==
      Seq((None, Some("v")), (Some("k"), None), (Some(""), Some(""))))
    // a fetch response may concatenate batches of different codecs
    val mixed = gz ++ KafkaCodec.encodeBatch(207L, Seq((5L, b("x"), b("y"))))
    assert(KafkaCodec.decodeBatches(mixed).size == 201)
  }

  test("codec property: random batches round-trip under both codecs (seeded scalacheck)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val bytesGen: Gen[Array[Byte]] = Gen.frequency(
      1 -> Gen.const(null: Array[Byte]),
      1 -> Gen.const(Array.empty[Byte]),
      6 -> Gen.chooseNum(1, 300).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray)))
    val recGen = Gen.zip(Gen.chooseNum(0L, 1L << 41), bytesGen, bytesGen)
    val batchGen = Gen.nonEmptyListOf(recGen)
    (0 until 40).foreach { i =>
      val records = batchGen.apply(Gen.Parameters.default, Seed(i.toLong)).get
      val base = (i * 1000).toLong
      Seq(false, true).foreach { gz =>
        val decoded = KafkaCodec.decodeBatches(
          KafkaCodec.encodeBatch(base, records, gz))
        assert(decoded.size == records.size, s"seed $i gzip=$gz")
        decoded.zip(records).zipWithIndex.foreach { case ((r, (ts, k, v)), j) =>
          assert(r.offset == base + j && r.timestampMs == ts)
          assert(java.util.Arrays.equals(r.key, k), s"key mismatch seed $i rec $j")
          assert(java.util.Arrays.equals(r.value, v), s"value mismatch seed $i rec $j")
        }
      }
    }
  }

  test("a corrupted gzip batch fails CRC before inflate; unknown codec fails loudly") {
    val gz = KafkaCodec.encodeBatch(0L, Seq((1L, b("k"), b("v" * 100))), gzip = true)
    val torn = gz.clone()
    torn(torn.length - 1) = (torn(torn.length - 1) ^ 0x01).toByte
    assert(intercept[IllegalArgumentException](
      KafkaCodec.decodeBatches(torn)).getMessage.contains("CRC"))
    // flip codec bits to an unspoken codec (zstd=4) and re-CRC: the
    // decoder must refuse rather than misparse compressed bytes
    val zstd = gz.clone()
    zstd(22) = ((zstd(22) & ~0x07) | 4).toByte
    val crc = new java.util.zip.CRC32C
    crc.update(zstd, 21, zstd.length - 21)
    java.nio.ByteBuffer.wrap(zstd).putInt(17, crc.getValue.toInt)
    assert(intercept[IllegalArgumentException](
      KafkaCodec.decodeBatches(zstd)).getMessage.contains("codec"))
  }

  test("a corrupted batch fails CRC validation loudly") {
    val encoded = KafkaCodec.encodeBatch(0L, Seq((1L, b("k"), b("v"))))
    encoded(encoded.length - 1) = (encoded(encoded.length - 1) ^ 0x01).toByte
    val e = intercept[IllegalArgumentException](KafkaCodec.decodeBatches(encoded))
    assert(e.getMessage.contains("CRC"))
  }

  test("varint zigzag round-trips the full long range") {
    val cases = Seq(0L, 1L, -1L, 63L, 64L, -64L, -65L, 300L, Int.MaxValue.toLong,
      Int.MinValue.toLong, Long.MaxValue, Long.MinValue)
    val buf = java.nio.ByteBuffer.allocate(cases.size * 10)
    cases.foreach(KafkaCodec.writeVarLong(buf, _))
    buf.flip()
    cases.foreach(v => assert(KafkaCodec.readVarLong(buf) == v))
  }

  test("murmur2 matches Kafka's published test vectors") {
    // the values every Kafka client library pins (public test suite
    // vectors for the default partitioner's hash)
    assert(KafkaCodec.murmur2("21".getBytes) == -973932308)
    assert(KafkaCodec.murmur2("foobar".getBytes) == -790332482)
    assert(KafkaCodec.murmur2("a-little-bit-long-string".getBytes) == -985981536)
    assert(KafkaCodec.murmur2(
      "a-little-bit-longer-string".getBytes) == -1486304829)
    assert(KafkaCodec.murmur2(
      "lkjh234lh9fiuh90y23oiuhsafujhadof229phr9h19h89h8".getBytes) == -58897971)
    assert(KafkaCodec.murmur2(Array[Byte]('a', 'b', 'c')) == 479470107)
  }

  // ---- client ↔ broker over TCP ----

  test("ApiVersions advertises the seventeen spoken APIs") {
    withBroker() { broker =>
      withClient(broker) { c =>
        val v = c.apiVersions()
        // produce/fetch/listOffsets/metadata, the group-offset trio,
        // the rebalance quartet (r13: JoinGroup/Heartbeat/LeaveGroup/
        // SyncGroup), apiVersions, the SASL pair, and the KIP-98
        // idempotence+transactions trio
        assert(v.keySet ==
          Set(0, 1, 2, 3, 8, 9, 10, 11, 12, 13, 14, 17, 18, 22, 24, 26, 36))
        assert(v(0) == (3, 3) && v(1) == (4, 4))
        assert(v(8) == (2, 2) && v(9) == (1, 1) && v(10) == (0, 0))
        assert(v(11) == (0, 0) && v(12) == (0, 0) && v(13) == (0, 0) &&
          v(14) == (0, 0))
        assert(v(17) == (1, 1) && v(36) == (0, 0))
      }
    }
  }

  test("produce assigns dense offsets; fetch returns the same bytes") {
    withBroker() { broker =>
      withClient(broker) { c =>
        assert(c.metadata(Seq("t1")).head.partitions.map(_.partition) == Seq(0, 1, 2))
        val base0 = c.produce("t1", 0, Seq((10L, b("a"), b("v0")), (11L, b("a"), b("v1"))))
        val base1 = c.produce("t1", 0, Seq((12L, null, b("v2"))))
        assert(base0 == 0L && base1 == 2L)
        val r = c.fetch("t1", 0, 0L)
        assert(r.errorCode == 0 && r.highWatermark == 3L)
        assert(r.records.map(_.offset) == Seq(0L, 1L, 2L))
        assert(r.records.map(x => Option(x.value).map(s)) ==
          Seq(Some("v0"), Some("v1"), Some("v2")))
        assert(r.records.map(_.timestampMs) == Seq(10L, 11L, 12L))
      }
    }
  }

  test("offset semantics: mid-offset fetch, empty-at-hw, out-of-range beyond") {
    withBroker() { broker =>
      withClient(broker) { c =>
        c.metadata(Seq("t2"))
        c.produce("t2", 1, (0 until 10).map(i => (i.toLong, b(s"k$i"), b(s"v$i"))))
        val mid = c.fetch("t2", 1, 7L)
        assert(mid.records.map(_.offset) == Seq(7L, 8L, 9L))
        val atHw = c.fetch("t2", 1, 10L)
        assert(atHw.errorCode == 0 && atHw.records.isEmpty && atHw.highWatermark == 10L)
        val beyond = c.fetch("t2", 1, 11L)
        assert(beyond.errorCode == KafkaCodec.Err.OffsetOutOfRange)
        assert(c.listOffset("t2", 1, -2L) == 0L)  // earliest
        assert(c.listOffset("t2", 1, -1L) == 10L) // latest
        assert(c.listOffset("t2", 0, -1L) == 0L)  // untouched partition
      }
    }
  }

  test("fetchAll drains a partition across byte-limited multi-batch fetches") {
    withBroker() { broker =>
      withClient(broker) { c =>
        c.metadata(Seq("t3"))
        // two produces → two stored spans; small maxBytes forces the
        // broker's batch-budget path and the client's refetch loop
        c.produce("t3", 0, (0 until 600).map(i => (i.toLong, b(s"k$i"), b("x" * 50))))
        c.produce("t3", 0, (0 until 600).map(i => (i.toLong, b(s"k$i"), b("y" * 50))))
        val all = c.fetchAll("t3", 0)
        assert(all.size == 1200)
        assert(all.map(_.offset) == (0L until 1200L))
        val limited = c.fetch("t3", 0, 0L, maxBytes = 1)
        assert(limited.records.nonEmpty && limited.records.size < 1200,
          "at least one batch returns under any budget, but not the whole log")
      }
    }
  }

  test("compressed produce and broker-side compression.type=gzip round-trip over TCP") {
    // producer-side gzip into a plain broker
    withBroker() { broker =>
      withClient(broker) { c =>
        c.metadata(Seq("tz"))
        c.produce("tz", 0, (0 until 50).map(i => (i.toLong, b(s"k$i"), b(s"v$i"))),
          gzip = true)
        val r = c.fetch("tz", 0, 0L)
        assert(r.records.size == 50)
        assert(r.records.map(x => s(x.value)) == (0 until 50).map(i => s"v$i"))
      }
    }
    // broker-side recompression: every fetch response batch carries the
    // gzip codec bits; the consumer inflates from the attributes alone
    val gzBroker = new KafkaStubBroker(3, compressionType = "gzip")
    gzBroker.start()
    try {
      withClient(gzBroker) { c =>
        c.metadata(Seq("tz2"))
        c.produce("tz2", 1, (0 until 700).map(i => (i.toLong, b(s"k$i"), b("z" * 40))))
        val all = c.fetchAll("tz2", 1)
        assert(all.size == 700 && all.map(_.offset) == (0L until 700L))
      }
    } finally gzBroker.stop()
  }

  test("unknown partition errors instead of silently creating a log") {
    withBroker(numPartitions = 2) { broker =>
      withClient(broker) { c =>
        c.metadata(Seq("t4"))
        val e = intercept[IllegalArgumentException](
          c.produce("t4", 7, Seq((0L, b("k"), b("v")))))
        assert(e.getMessage.contains(s"error ${KafkaCodec.Err.UnknownTopicOrPartition}"))
        assert(c.fetch("t4", 7, 0L).errorCode == KafkaCodec.Err.UnknownTopicOrPartition)
      }
    }
  }

  // ---- the reference producer's partition/key ordering contract ----

  test("same key lands on the same partition and keeps produce order (F8/T6 contract)") {
    withBroker() { broker =>
      val exchange = new KafkaWireExchange("127.0.0.1", broker.port)
      import spark.implicits._
      // interleaved keys across many Spark partitions
      val wire = (0 until 500)
        .map(i => (s"user${i % 7}", s"seq$i"))
        .toDF("key", "value").repartition(8)
      exchange.publish(wire, ReplayConfig(input = "", topic = "keyed"))
      val got = exchange.read(spark, "keyed")
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3)))
      assert(got.length == 500)
      // same key → exactly one partition (murmur2 placement)
      val partsPerKey = got.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._3).toSet }
      assert(partsPerKey.values.forall(_.size == 1), s"key split across partitions: $partsPerKey")
      // placement equals the default partitioner's published algorithm
      partsPerKey.foreach { case (k, ps) =>
        assert(ps.head == KafkaCodec.partitionFor(b(k), 3))
      }
    }
  }

  test("a single producer task preserves per-key order end-to-end") {
    // concurrent tasks may legally interleave; the Kafka ordering
    // guarantee is per-producer per-partition — pin it with one task
    withBroker() { broker =>
      val exchange = new KafkaWireExchange("127.0.0.1", broker.port)
      import spark.implicits._
      val wire = (0 until 300)
        .map(i => (s"user${i % 5}", f"seq$i%05d"))
        .toDF("key", "value").coalesce(1)
      exchange.publish(wire, ReplayConfig(input = "", topic = "ordered"))
      val got = exchange.read(spark, "ordered")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(3)))
      assert(got.length == 300)
      got.groupBy(_._1).foreach { case (k, rs) =>
        val seqsByOffset = rs.sortBy(_._3).map(_._2).toSeq
        assert(seqsByOffset == seqsByOffset.sorted,
          s"offsets reordered key $k: $seqsByOffset")
      }
    }
  }

  // ---- end-to-end through Replay's transport seam ----

  test("Replay over the Kafka wire matches the FileExchange result") {
    withBroker() { broker =>
      val tmp = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("target"), "kwire_").toString
      val csv = s"$tmp/in.csv"
      val rows = (0 until 100).map(i => s"$i,room${i % 4},${20.0 + i % 10}")
      java.nio.file.Files.write(java.nio.file.Paths.get(csv),
        (Seq("id,room,temp") ++ rows).mkString("\n").getBytes(StandardCharsets.UTF_8))
      val cfg = ReplayConfig(input = csv, topic = "replay", repeat = 2,
        keyCol = Some("room"), wireFormat = "dsv")
      val kafkaEx = new KafkaWireExchange("127.0.0.1", broker.port)
      Replay.run(spark, cfg, kafkaEx)
      val fileEx = new Replay.FileExchange(s"$tmp/exchange")
      Replay.run(spark, cfg, fileEx)
      val viaKafka = kafkaEx.read(spark, "replay")
        .select("key", "value").collect().map(r => (r.getString(0), r.getString(1)))
        .sorted.toSeq
      val viaFile = fileEx.read(spark, "replay")
        .select("key", "value").collect().map(r => (r.getString(0), r.getString(1)))
        .sorted.toSeq
      assert(viaKafka == viaFile)
      assert(viaKafka.size == 200) // repeat=2, at-least-once append
    }
  }

  test("a publish killed between passes leaves exactly one pass on the topic") {
    withBroker() { broker =>
      import spark.implicits._
      val wire = (0 until 1000).map(i => (s"k$i", s"v$i"))
        .toDF("key", "value").repartition(2)
      val ex = new KafkaWireExchange("127.0.0.1", broker.port)
      val e = intercept[RuntimeException] {
        ex.publish(wire, ReplayConfig(input = "", topic = "torn", repeat = 2),
          afterWrite = r => if (r == 1) throw new RuntimeException("kill"))
      }
      assert(e.getMessage == "kill")
      assert((0 until 3).map(broker.highWatermark("torn", _)).sum == 1000L)
      assert(ex.read(spark, "torn").select("key").distinct().count() == 1000L)
    }
  }

  // ---- KIP-98 idempotent producer ----

  test("idempotence: a retried (pid, sequence) batch re-acks without re-appending") {
    withBroker() { broker =>
      withClient(broker) { c =>
        c.metadata(Seq("idem"))
        val (pid, epoch) = c.initProducerId()
        val recs = Seq((1L, b("k"), b("v1")), (2L, b("k"), b("v2")))
        val base1 = c.produce("idem", 0, recs, gzip = false, pid, epoch, 0)
        // the retry: byte-identical batch, same sequence
        val base2 = c.produce("idem", 0, recs, gzip = false, pid, epoch, 0)
        assert(base1 == base2, "retry must re-ack the ORIGINAL base offset")
        assert(broker.highWatermark("idem", 0) == 2L, "retry must not append")
        // the next real batch continues the sequence and appends
        val base3 = c.produce("idem", 0, Seq((3L, b("k"), b("v3"))),
          gzip = false, pid, epoch, 2)
        assert(base3 == 2L && broker.highWatermark("idem", 0) == 3L)
      }
    }
  }

  test("idempotence: a sequence gap fails with OUT_OF_ORDER_SEQUENCE_NUMBER") {
    withBroker() { broker =>
      withClient(broker) { c =>
        c.metadata(Seq("gap"))
        val (pid, epoch) = c.initProducerId()
        c.produce("gap", 0, Seq((1L, b("k"), b("v1"))), gzip = false, pid, epoch, 0)
        val e = intercept[IllegalArgumentException] {
          c.produce("gap", 0, Seq((2L, b("k"), b("v2"))), gzip = false, pid, epoch, 5)
        }
        assert(e.getMessage.contains("45"), s"expected error 45, got: ${e.getMessage}")
        assert(broker.highWatermark("gap", 0) == 1L)
      }
    }
  }

  test("idempotence: distinct producers never fence each other; non-idempotent appends freely") {
    withBroker() { broker =>
      withClient(broker) { c =>
        c.metadata(Seq("multi"))
        val (pid1, e1) = c.initProducerId()
        val (pid2, e2) = c.initProducerId()
        assert(pid1 != pid2)
        c.produce("multi", 0, Seq((1L, b("a"), b("v"))), gzip = false, pid1, e1, 0)
        c.produce("multi", 0, Seq((1L, b("b"), b("v"))), gzip = false, pid2, e2, 0)
        // legacy producer (-1 pid) bypasses producer state entirely
        c.produce("multi", 0, Seq((1L, b("c"), b("v"))))
        c.produce("multi", 0, Seq((1L, b("c"), b("v"))))
        assert(broker.highWatermark("multi", 0) == 4L)
      }
    }
  }

  test("idempotent exchange: publish with repeat=2 converges to exactly-once on the log") {
    import org.apache.spark.sql.functions.col
    withBroker() { broker =>
      import spark.implicits._
      // > 500 rows per task partition forces multiple chunks → many
      // batches per (pid, partition), far past the broker's 5-range
      // producer-state window — pinning that retries happen at BATCH
      // granularity (a whole-task replay would trip error 45 here)
      val wire = (0 until 3000).map(i => (s"k$i", s"v$i"))
        .toDF("key", "value").repartition(2)
      val ex = new KafkaWireExchange("127.0.0.1", broker.port, idempotent = true)
      ex.publish(wire, ReplayConfig(input = "", topic = "once", repeat = 2))
      val consumed = ex.read(spark, "once")
      assert(consumed.count() == 3000, "broker must fence the repeat")
      assert(consumed.select(col("key")).distinct().count() == 3000)
    }
  }

  test("log cleaner keeps per-key latest at preserved offsets and the consumer iterates the gaps") {
    withBroker(1) { broker =>
      withClient(broker) { c =>
        // k0,k1,k2,k0,k1,k0 → latest: k2@2, k1@4, k0@5 (mid-log gaps)
        val keys = Seq("k0", "k1", "k2", "k0", "k1", "k0")
        c.produce("state", 0, keys.zipWithIndex.map { case (k, i) =>
          (100L + i, b(k), b(s"v$i")) })
        val hwBefore = broker.highWatermark("state", 0)
        broker.compactTopic("state")
        // LEO is pinned by the surviving final record — offsets never move
        assert(broker.highWatermark("state", 0) == hwBefore)
        val got = c.fetchAll("state", 0)
        assert(got.map(_.offset) == Seq(2L, 4L, 5L),
          "cleaner must keep the latest record per key AT its original offset")
        assert(got.map(r => s(r.key) -> s(r.value)) ==
          Seq("k2" -> "v2", "k1" -> "v4", "k0" -> "v5"))
        // earliest is the first RETAINED offset, not 0
        assert(c.listOffset("state", 0, -2L) == 2L)
        assert(c.listOffset("state", 0, -1L) == 6L)
        // a fetch at a cleaned-away offset serves the next retained record
        assert(c.fetch("state", 0, 0L).records.head.offset == 2L)
        assert(c.fetch("state", 0, 3L).records.head.offset == 4L)
      }
    }
  }

  test("tombstones survive compaction by default and expire on request") {
    withBroker(1) { broker =>
      withClient(broker) { c =>
        c.produce("state", 0, Seq(
          (1L, b("k1"), b("v1")), (2L, b("k2"), b("v2")),
          (3L, b("k1"), null),    // delete k1
          (4L, b("k2"), b("v2b"))))
        broker.compactTopic("state")
        val kept = c.fetchAll("state", 0)
        assert(kept.map(_.offset) == Seq(2L, 3L))
        assert(kept.find(r => s(r.key) == "k1").exists(_.value == null),
          "a bootstrapping consumer needs the tombstone to delete its state")
        // delete.retention expiry: the tombstone goes, the live key stays
        broker.compactTopic("state", retainTombstones = false)
        assert(c.fetchAll("state", 0).map(r => s(r.key)) == Seq("k2"))
      }
    }
  }

  test("the final record survives the cleaner even as an expired tombstone") {
    withBroker(1) { broker =>
      withClient(broker) { c =>
        c.produce("solo", 0, Seq((1L, b("k"), null)))
        broker.compactTopic("solo", retainTombstones = false)
        // the active-segment rule: cleaning the last record would move
        // LEO and diverge replication base checks
        assert(broker.highWatermark("solo", 0) == 1L)
        assert(c.fetchAll("solo", 0).size == 1)
      }
    }
  }
}
