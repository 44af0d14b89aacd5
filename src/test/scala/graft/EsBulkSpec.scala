package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.streaming.{EsBulkClient, EsBulkStats, EsDoc, EsHttpStore, EsStub}

/** The Elasticsearch `_bulk` wire path (FIXTURES.md §4, K3/K4/K5 over
  * HTTP): chunked NDJSON bulks from executor partitions, external
  * versioning as the deterministic last-write-wins rule, 429 retry, and
  * semantic parity with the parquet upsert store on the same feed.
  */
class EsBulkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withStub(f: EsStub => Unit): Unit = {
    val stub = new EsStub()
    stub.start()
    try f(stub) finally stub.stop()
  }

  private val docSchema = StructType.fromDDL("k BIGINT, v STRING")

  test("K5: health preflight passes against a live endpoint, fails on a dead one") {
    withStub { stub =>
      assert(new EsBulkClient(stub.baseUrl).health())
    }
    // ephemeral port that was just released — nothing listens there
    assert(!new EsBulkClient("http://127.0.0.1:1").health())
  }

  test("external versioning: highest version wins regardless of arrival order; stale and replayed writes 409") {
    withStub { stub =>
      val c = new EsBulkClient(stub.baseUrl)
      val s1 = c.bulk(Iterator(
        EsDoc("t", Some("a"), Some(5L), """{"k":1,"v":"new"}"""),
        EsDoc("t", Some("b"), Some(1L), """{"k":2,"v":"x"}""")))
      assert(s1 == EsBulkStats(2, 0, 1))
      // older version arrives later (out-of-order batch) → conflict, not clobber
      val s2 = c.bulk(Iterator(EsDoc("t", Some("a"), Some(3L), """{"k":1,"v":"stale"}""")))
      assert(s2 == EsBulkStats(0, 1, 1))
      // exact replay of an applied write (at-least-once) → also a conflict
      val s3 = c.bulk(Iterator(EsDoc("t", Some("a"), Some(5L), """{"k":1,"v":"new"}""")))
      assert(s3 == EsBulkStats(0, 1, 1))
      val docs = stub.snapshot("t").sortBy(_._2)
      assert(docs.map(_._2) == Seq("a", "b"))
      assert(docs.head._3.contains("\"new\""))
    }
  }

  test("versioned delete actions: hide, gate stale writes via the tombstone, resurrect, 404 on absent") {
    withStub { stub =>
      val c = new EsBulkClient(stub.baseUrl)
      c.bulk(Iterator(
        EsDoc("t", Some("a"), Some(5L), """{"k":1,"v":"secret"}"""),
        EsDoc("t", Some("b"), Some(3L), """{"k":2,"v":"keep"}""")))
      // delete a at version 7 (> 5): gone from search
      val d1 = c.bulk(Iterator(EsDoc("t", Some("a"), Some(7L), null, delete = true)))
      assert(d1 == EsBulkStats(1, 0, 1))
      assert(stub.snapshot("t").map(_._2) == Seq("b"))
      // a stale write older than the tombstone must NOT resurrect (the
      // gc_deletes version gate)
      val s1 = c.bulk(Iterator(EsDoc("t", Some("a"), Some(6L), """{"k":1,"v":"late"}""")))
      assert(s1 == EsBulkStats(0, 1, 1))
      assert(stub.snapshot("t").map(_._2) == Seq("b"))
      // a write NEWER than the tombstone resurrects
      val s2 = c.bulk(Iterator(EsDoc("t", Some("a"), Some(9L), """{"k":1,"v":"back"}""")))
      assert(s2 == EsBulkStats(1, 0, 1))
      assert(stub.snapshot("t").sortBy(_._2).map(_._2) == Seq("a", "b"))
      // a stale DELETE older than the live doc is a conflict, not a delete
      val d2 = c.bulk(Iterator(EsDoc("t", Some("a"), Some(8L), null, delete = true)))
      assert(d2 == EsBulkStats(0, 1, 1))
      assert(stub.snapshot("t").sortBy(_._2).map(_._2) == Seq("a", "b"))
      // deleting an absent id reports not_found (treated as success) and
      // still plants the version gate
      val d3 = c.bulk(Iterator(EsDoc("t", Some("ghost"), Some(10L), null, delete = true)))
      assert(d3 == EsBulkStats(1, 0, 1))
      val s3 = c.bulk(Iterator(EsDoc("t", Some("ghost"), Some(4L), """{"k":9,"v":"no"}""")))
      assert(s3 == EsBulkStats(0, 1, 1))
      assert(stub.snapshot("t").sortBy(_._2).map(_._2) == Seq("a", "b"))
    }
  }

  test("EsHttpStore.delete matches the delta store's tombstone semantics on the same feed") {
    withStub { stub =>
      val store = new EsHttpStore(stub.baseUrl, "t", "k", Seq("ver"), "ver", docSchema)
      val batch = Seq((1L, "one", 10L), (2L, "two", 10L), (3L, "three", 30L))
        .toDF("k", "v", "ver")
      store.upsert(batch, 0)
      // delete keys 1 and 3 at version 20: 1 is older (goes), 3 newer (survives)
      store.delete(Seq((1L, 20L), (3L, 20L)).toDF("k", "ver"), 1)
      val out = store.read(spark).orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
      assert(out.toSeq == Seq((2L, "two"), (3L, "three")))
    }
  }

  test("bulk requests chunk by doc count and retry transparently on 429") {
    withStub { stub =>
      val c = new EsBulkClient(stub.baseUrl, maxDocsPerRequest = 100)
      stub.failNextBulks = 1
      val docs = (1 to 250).iterator.map(i =>
        EsDoc("chunks", Some(i.toString), Some(i.toLong), s"""{"k":$i,"v":"d$i"}"""))
      val stats = c.bulk(docs)
      assert(stats.indexed == 250 && stats.conflicts == 0)
      // 3 accepted chunks (100+100+50); the 429'd attempt is not counted
      // as a request but as a retry
      assert(stub.bulkRequests.get() == 3)
      assert(stats.requests == 3 && stats.retries == 1)
      assert(stub.snapshot("chunks").size == 250)
    }
  }

  private def docs(index: String, n: Int)(source: Int => String): Iterator[EsDoc] =
    (1 to n).iterator.map(i => EsDoc(index, Some(i.toString), None, source(i)))

  test("bulk pulls the next chunk while the previous request is in flight") {
    withStub { stub =>
      val c = new EsBulkClient(stub.baseUrl, maxDocsPerRequest = 10)
      // the stub holds every bulk until chunk 2's first doc is pulled: a
      // client that waits for chunk 1's response before pulling never
      // gets there
      val release = new java.util.concurrent.CountDownLatch(1)
      stub.holdBulks = release
      val feed = docs("overlap", 30)(i => s"""{"k":$i}""").map { d =>
        if (d.id.contains("11")) release.countDown()
        d
      }
      val run = new java.util.concurrent.FutureTask(() => c.bulk(feed))
      new Thread(run).start()
      try {
        val stats = run.get(5, java.util.concurrent.TimeUnit.SECONDS)
        assert(stats == EsBulkStats(30, 0, 3))
        assert(stub.snapshot("overlap").size == 30)
      } finally release.countDown()
    }
  }

  test("one request in flight keeps arrival order: the last chunk's write of an id wins") {
    withStub { stub =>
      val c = new EsBulkClient(stub.baseUrl, maxDocsPerRequest = 10)
      // unversioned writes of ids 1..10 in each of 5 chunks
      val feed = (0 until 5).iterator.flatMap(chunk =>
        docs("order", 10)(i => s"""{"k":$i,"chunk":$chunk}"""))
      assert(c.bulk(feed) == EsBulkStats(50, 0, 5))
      val fin = stub.snapshot("order")
      assert(fin.size == 10)
      assert(fin.forall(_._3.endsWith(""""chunk":4}""")), fin)
    }
  }

  test("retries under one request in flight: exact stats, every doc once") {
    withStub { stub =>
      val c = new EsBulkClient(stub.baseUrl, maxDocsPerRequest = 10)
      stub.failNextBulks = 2
      val stats = c.bulk(docs("retry", 35)(i => s"""{"k":$i}"""))
      assert(stats == EsBulkStats(35, 0, 4, 2))
      assert(stub.bulkRequests.get() == 4)
      assert(stub.snapshot("retry").map(_._2.toInt).sorted == (1 to 35))
    }
  }

  test("an upstream failure propagates from bulk with no request left outstanding") {
    withStub { stub =>
      val c = new EsBulkClient(stub.baseUrl, maxDocsPerRequest = 10)
      // chunk 1 is held on the server until shortly after the feed fails
      val release = new java.util.concurrent.CountDownLatch(1)
      stub.holdBulks = release
      val boom = new IllegalStateException("upstream failed")
      val feed = docs("broken", 30)(i => s"""{"k":$i}""").map { d =>
        if (d.id.contains("11")) {
          new Thread(() => { Thread.sleep(300); release.countDown() }).start()
          throw boom
        }
        d
      }
      val thrown = intercept[IllegalStateException](c.bulk(feed))
      assert(thrown eq boom)
      // chunk 1 was applied and answered before bulk() returned
      assert(stub.bulkRequests.get() == 1)
      assert(stub.snapshot("broken").size == 10)
    }
  }

  test("K3 over the wire matches the parquet upsert store on the same batches") {
    withStub { stub =>
      val store = new EsHttpStore(stub.baseUrl, "events", "k", Seq("ver"),
        "ver", docSchema)
      assert(store.healthCheck())
      val b0 = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c")).toDF("k", "ver", "v")
      val b1 = Seq((1L, 15L, "late"), (2L, 9L, "d"), (3L, 1L, "e")).toDF("k", "ver", "v")
      store.upsert(b0, 0)
      store.upsert(b1, 1) // k=1 ver 15 < stored 20 → 409, store keeps "b"
      val out = store.read(spark).orderBy("k")
        .select("k", "v").as[(Long, String)].collect().toSeq
      assert(out == Seq((1L, "b"), (2L, "d"), (3L, "e")))
      val parquet = new graft.streaming.DeltaUpsertStore(
        java.nio.file.Files.createTempDirectory(
          java.nio.file.Paths.get("target"), "es_parity_").toString, "k", Seq("ver"))
      parquet.upsert(b0, 0)
      parquet.upsert(b1, 1)
      assert(parquet.read(spark).orderBy("k")
        .select("k", "v").as[(Long, String)].collect().toSeq == out)
    }
  }

  test("concurrent writers converge: external versioning is arrival-order independent") {
    withStub { stub =>
      // two writers race interleaved version sequences for the same keys;
      // whoever loses a round 409s, and the store must end at the global
      // max version per key no matter the interleaving
      val url = stub.baseUrl
      val writers = (0 until 2).map { w =>
        new Thread(() => {
          val c = new EsBulkClient(url, maxDocsPerRequest = 7)
          (1 to 50).foreach { v =>
            c.bulk(Iterator(
              EsDoc("race", Some((v % 5).toString), Some(v.toLong * 2 + w),
                s"""{"k":${v % 5},"v":"w$w-$v"}""")))
          }
        })
      }
      writers.foreach(_.start())
      writers.foreach(_.join())
      // per key k∈0..4 the max version written is for v = 46..50: the
      // winner is version 2v+1 (writer 1), i.e. source "w1-<v>"
      val fin = stub.snapshot("race").map { case (_, id, src) => id -> src }.toMap
      assert(fin.keySet == Set("0", "1", "2", "3", "4"))
      (46 to 50).foreach { v =>
        assert(fin((v % 5).toString).contains(s""""v":"w1-$v""""),
          s"key ${v % 5} did not converge to the max-version write: ${fin((v % 5).toString)}")
      }
    }
  }

  test("retry-storm property: random duplicate batches + conflicts + injected 429s always converge") {
    // 100 seeded scenarios: a feed with deliberate version conflicts is
    // split into batches, random batches are DUPLICATED (at-least-once
    // redelivery), batch order is shuffled across 1-3 concurrent
    // writers, and 429s are injected mid-stream. Under external
    // versioning the store must always converge to the q_sink_upsert
    // oracle semantics: per key, the doc with the highest version —
    // independent of interleaving, duplication, or retries.
    (0 until 100).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      withStub { stub =>
        val url = stub.baseUrl
        val writes = (0 until 40).map { _ =>
          val k = rnd.nextInt(6)
          val ver = rnd.nextInt(20).toLong
          // payload is a function of (key, version): duplicated
          // redeliveries are bit-identical, as a replayed wire would be
          EsDoc("storm", Some(s"k$k"), Some(ver), s"""{"k":$k,"v":"k$k-$ver"}""")
        }
        val expected = writes.groupBy(_.id.get)
          .map { case (id, ds) => id -> ds.maxBy(_.version.get) }
        val once = writes.grouped(1 + rnd.nextInt(7)).toSeq
        val batches = rnd.shuffle(once ++ once.filter(_ => rnd.nextDouble() < 0.3))
        val nWriters = 1 + rnd.nextInt(3)
        val perWriter = batches.zipWithIndex.groupMap(_._2 % nWriters)(_._1)
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val threads = perWriter.values.toSeq.map { bs =>
          new Thread(() => {
            try {
              // deep retry budget: concurrent injections can hit one
              // chunk repeatedly and must still drain, never flake
              val c = new EsBulkClient(url, maxDocsPerRequest = 5, maxRetries = 10)
              bs.foreach { b =>
                if (rnd.nextDouble() < 0.25) stub.failNextBulks = 1
                c.bulk(b.iterator)
                ()
              }
            } catch { case t: Throwable => errs.add(t) }
          })
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
        assert(errs.isEmpty, s"seed $seed writer failed: ${errs.peek()}")
        val fin = stub.snapshot("storm").map { case (_, id, src) => id -> src }.toMap
        assert(fin.keySet == expected.keySet, s"seed $seed key drift")
        expected.foreach { case (id, winner) =>
          assert(fin(id) == winner.source,
            s"seed $seed key $id: ${fin(id)} != ${winner.source}")
        }
      }
    }
  }

  test("K4 over the wire: per-row index routing with auto ids keeps duplicates") {
    withStub { stub =>
      val store = new EsHttpStore(stub.baseUrl, "", "k", Seq("k"), "k", docSchema)
      val batch = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
        .withColumn("route", concat(lit("room-"), col("k")))
      store.appendRouted(batch, "route")
      store.appendRouted(batch, "route") // retry replay → at-least-once dupes
      val out = store.readRouted(spark)
        .groupBy("es_index").count().orderBy("es_index")
        .as[(String, Long)].collect().toSeq
      assert(out == Seq(("room-1", 2L), ("room-2", 2L)))
    }
  }

  test("reads page through the scroll API past max_result_window; a plain search caps at the window") {
    withStub { stub =>
      // 25,003 docs: 2.5 scroll pages at the 10k window — the r14 sf10
      // run caught the one-page read collapsing on a 10M-doc corpus
      // (a single 1.07 GB response), so the export path must page.
      val c = new EsBulkClient(stub.baseUrl, maxDocsPerRequest = 5000)
      c.bulk((1 to 25003).iterator.map(i =>
        EsDoc("big", Some(i.toString), None, s"""{"k":$i}""")))
      val hits = c.searchHits("big")
      assert(hits.size == 25003, s"scroll export lost docs: ${hits.size}")
      assert(hits.forall(_._1 == "big"))
      // the stub never serialized more than one window per response
      assert(stub.MaxResultWindow == 10000)
      // a plain (non-scroll) one-page search returns at most the window
      val http = java.net.http.HttpClient.newHttpClient()
      val resp = http.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"${stub.baseUrl}/big/_search?size=20000")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      val n = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(resp.body()).path("hits").path("hits").size()
      assert(n == 10000, s"one-page search exceeded max_result_window: $n")
    }
  }
}
