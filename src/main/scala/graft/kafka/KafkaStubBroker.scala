package graft.kafka

import java.io.{DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.ByteBuffer
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import KafkaCodec._
import KafkaStubBroker.TxnProducer

/** In-process Kafka broker speaking the real binary protocol over TCP —
  * the test-double for S5/K2's executed path, mirroring round 7's
  * [[graft.streaming.EsStub]] playbook: no external jar, but the bytes
  * on the socket are the ones a real broker would accept/emit.
  *
  * Speaks (non-flexible versions, header v1 in / v0 out):
  *   - ApiVersions v0
  *   - Metadata v1 (auto-creates topics with [[numPartitions]])
  *   - Produce v3 (record batch v2, CRC-checked on ingest; KIP-98
  *     idempotent AND transactional batches validated/fenced)
  *   - Fetch v4 (earliest..high-watermark, OFFSET_OUT_OF_RANGE beyond;
  *     isolation_level=read_committed caps at the last stable offset
  *     and reports aborted-transaction ranges)
  *   - ListOffsets v1 (-2 earliest / -1 latest)
  *   - InitProducerId v0 (idempotent pid allocation; transactional.id
  *     epoch bump + fencing + auto-abort of the stale open txn)
  *   - AddPartitionsToTxn v0 / EndTxn v0 (commit/abort control
  *     markers written per registered partition)
  *   - FindCoordinator v0 / OffsetCommit v2 / OffsetFetch v1 (the
  *     group-offset surface: simple-consumer commits stored per
  *     (group, topic, partition); commits into a group with active
  *     protocol members are generation/member fenced)
  *   - JoinGroup/SyncGroup/Heartbeat/LeaveGroup v0 (the classic eager
  *     rebalance protocol: real state machine, session-timeout
  *     eviction, leader-relayed opaque assignments — see the group
  *     coordinator section below)
  *
  * Offset semantics enforced (what `spark_streaming_kafka.py:13-18`'s
  * `startingOffsets=earliest` consumer depends on):
  *   - produce appends atomically per partition; base offset = log end
  *   - offsets are dense and immutable once assigned
  *   - fetch(o) returns [o, hw); fetch(hw) is empty-not-error;
  *     fetch(>hw) errors OFFSET_OUT_OF_RANGE
  *
  * `compressionType` models the broker-side `compression.type` topic
  * config: `"gzip"` re-encodes every fetch response batch with the
  * gzip codec bits (consumers must inflate), `"none"` (default) sends
  * plain batches. Produce accepts either codec regardless — the log
  * stores decoded records, so this stub always recompresses on fetch
  * rather than keeping producer batches byte-identical (a real broker
  * with `compression.type=producer` would; documented divergence,
  * irrelevant to consumers, which see only records).
  */
final class KafkaStubBroker(val numPartitions: Int = 3,
    val compressionType: String = "none",
    val brokerId: Int = 0,
    cluster: KafkaStubCluster = null,
    saslUsers: Map[String, String] = Map.empty,
    tlsKeystore: Option[(String, String)] = None)
    extends graft.streaming.Service {
  require(compressionType == "none" || compressionType == "gzip",
    s"unsupported compression.type '$compressionType' (none|gzip)")
  private val fetchGzip = compressionType == "gzip"

  // ---- multi-broker roles (single-broker mode: this broker is all) ----
  private def clusterOpt: Option[KafkaStubCluster] = Option(cluster)
  /** Does THIS broker lead `partition`? Real brokers answer data APIs
    * only for partitions they lead; everything else is
    * NOT_LEADER_FOR_PARTITION and the client must refresh metadata and
    * re-route — the error/retry loop that makes bandwidth scale with
    * brokers instead of funneling through one endpoint.
    */
  private def leads(partition: Int): Boolean =
    clusterOpt.forall(_.leaderOf(partition) == brokerId)
  /** Does THIS broker coordinate `key` (a group id or transactional.id)? */
  private def coordinates(key: String): Boolean =
    clusterOpt.forall(_.coordinatorOf(key) == brokerId)

  import KafkaStubBroker.{PartitionSnapshot, PidState, SeqRange, StoredRecord}

  // partition log: append-only; all access synchronized on the buffer
  private val logs = new ConcurrentHashMap[(String, Int), ArrayBuffer[StoredRecord]]()

  // KIP-98 idempotence: PID allocation (InitProducerId) plus per
  // (topic, partition, pid) producer state — the last 5 accepted batch
  // sequence ranges with their assigned base offsets, exactly the
  // window a real broker's ProducerStateManager keeps. A duplicate
  // range re-acks the original offset WITHOUT appending; a sequence
  // gap fails with OUT_OF_ORDER_SEQUENCE_NUMBER.
  // pid namespace disjoint per broker, so two coordinators can never
  // hand out the same producer id
  private val basePid = 1000L + brokerId * 1000000L
  private val nextPid = new java.util.concurrent.atomic.AtomicLong(basePid)
  // per-partition producer state is EPOCH-aware: a bumped epoch resets
  // the sequence space (the retried transactional producer starts at
  // seq 0 again), a stale epoch is fenced — real ProducerStateManager
  // semantics
  private val producerState =
    new ConcurrentHashMap[(String, Int, Long), PidState]()

  // KIP-98 transactions (the coordinator's durable state, in-memory):
  //  - txnProducers: transactional.id -> (pid, epoch). Re-initializing
  //    the same id returns the SAME pid with epoch+1 — the fencing
  //    handshake — and ABORTS any transaction the old epoch left open
  //    (exactly what a real coordinator does on InitProducerId).
  //  - txnPartitions: transactional.id -> partitions registered via
  //    AddPartitionsToTxn for the CURRENT transaction.
  //  - openTxns: per partition, pid -> first offset of its open
  //    transaction (feeds the last-stable-offset: read_committed
  //    consumers cannot see past min(open first offsets)).
  //  - abortedTxns: per partition, completed ABORTED ranges
  //    (pid, firstOffset, markerOffset) a read_committed fetch reports
  //    so consumers drop those records.
  private val txnProducers = new ConcurrentHashMap[String, TxnProducer]()

  /** Coordinator-state lookups for a partition leader's transactional
    * produce validation (in-process coordinator→leader visibility).
    */
  private[kafka] def txnProducerOf(txnId: String): Option[TxnProducer] =
    Option(txnProducers.get(txnId))
  private[kafka] def txnHasPartition(txnId: String, tp: (String, Int)): Boolean =
    txnPartitions.getOrDefault(txnId, Set.empty).contains(tp)

  // Consumer-group OFFSET state (the __consumer_offsets role): committed
  // position + metadata per (group, topic, partition). Only the simple-
  // consumer commit path exists — generation -1 / empty member id, the
  // manual-assignment mode Spark itself uses (the stock connector calls
  // consumer.assign(), never subscribe(), so it never joins a group) —
  // and a member-protocol commit (generation >= 0) is rejected with
  // ILLEGAL_GENERATION exactly as a real broker rejects it for a group
  // with no active members.
  private val groupOffsets =
    new ConcurrentHashMap[(String, String, Int), (Long, String)]()
  private val txnPartitions = new ConcurrentHashMap[String, Set[(String, Int)]]()
  private val openTxns = new ConcurrentHashMap[(String, Int), Map[Long, Long]]()
  private val abortedTxns =
    new ConcurrentHashMap[(String, Int), List[(Long, Long, Long)]]()
  private val running = new AtomicBoolean(false)
  @volatile private var server: ServerSocket = _
  @volatile private var acceptor: Thread = _
  // live accepted sockets: a FAILED broker must kill in-flight
  // connections too (clients see a reset mid-request, the real crash
  // signature), not just refuse new ones
  private val liveConns = ConcurrentHashMap.newKeySet[Socket]()

  /** Total produce requests served (test hook, chunking assertions). */
  val produceRequests = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Producer sessions handed out by InitProducerId (test hook). */
  def producersInitialized: Long = nextPid.get() - basePid

  def port: Int = server.getLocalPort
  def bootstrap: String = s"127.0.0.1:$port"

  def start(): Unit = {
    // TLS listener (security.protocol=SSL / SASL_SSL): the accept
    // socket comes from the keystore's SSLContext, so every accepted
    // connection handshakes before the Kafka framing below ever runs —
    // a plaintext dial fails its first request with a reset/EOF, the
    // real secured listener's behavior. The request-serving code is
    // identical either way: TLS lives entirely below the framing.
    server = tlsKeystore match {
      case None => new ServerSocket()
      case Some((ks, pw)) =>
        Tls.serverContext(ks, pw).getServerSocketFactory.createServerSocket()
    }
    server.bind(new InetSocketAddress("127.0.0.1", 0))
    running.set(true)
    acceptor = daemon("kafka-stub-accept") {
      while (running.get()) {
        try {
          val sock = server.accept()
          daemon(s"kafka-stub-conn-${sock.getPort}")(serve(sock)).start()
        } catch { case _: Exception if !running.get() => /* closing */ }
      }
    }
    acceptor.start()
  }

  def stop(): Unit = {
    running.set(false)
    if (server != null) server.close()
    liveConns.forEach(s => try s.close() catch { case _: Exception => () })
    liveConns.clear()
  }

  /** Partition high watermark (test hook). */
  def highWatermark(topic: String, partition: Int): Long = {
    val log = logs.get((topic, partition))
    if (log == null) 0L else log.synchronized(leo(log))
  }

  def topics: Set[String] = logs.keySet.asScala.map(_._1).toSet

  private def daemon(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t
  }

  private def logFor(topic: String, partition: Int): ArrayBuffer[StoredRecord] =
    logs.computeIfAbsent((topic, partition), _ => new ArrayBuffer[StoredRecord]())

  /** Log end offset, under the log lock: offsets survive compaction, so
    * LEO derives from the last record, not the array length (the two
    * are equal while a log has never been cleaned).
    */
  private def leo(log: ArrayBuffer[StoredRecord]): Long =
    if (log.isEmpty) 0L else log.last.offset + 1L

  /** Index of the first record with offset >= target (binary search —
    * the log is offset-sorted; equals `target` while the log is dense).
    * Post-compaction fetches land here: asking for a cleaned-away
    * offset serves the next retained record, exactly how a real broker
    * reads a cleaned segment.
    */
  private def idxAtOrAfter(log: ArrayBuffer[StoredRecord], target: Long): Int = {
    var lo = 0; var hi = log.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (log(mid).offset < target) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Log cleaner (`cleanup.policy=compact`): retain, per key, only the
    * LATEST record — the state-topic bootstrap semantics. Offsets are
    * PRESERVED (the log becomes gappy; offset gaps are legal and the
    * consumer advances past them), so LEO, producer dedup ranges and
    * replication base checks are untouched. Control records and
    * null-key records always survive, as does the final record (the
    * active-segment rule — it also pins LEO). Tombstones (null value)
    * survive by default — a bootstrapping consumer needs the delete —
    * and are dropped with `retainTombstones = false` (the
    * delete.retention.ms expiry). Runs under the partition append lock
    * like the real cleaner thread; in a cluster each replica cleans
    * independently and stays convergent because offsets never move.
    *
    * Uncleanable floor: cleaning stops BELOW the partition's
    * first-uncleanable offset — the min first-offset of any OPEN
    * transaction (the same quantity the fetch path's LSO uses). Records
    * at/above the floor are retained verbatim AND excluded from the
    * latest-per-key scan: an open transaction's record may still be
    * aborted, so letting it shadow (and clean away) a committed value
    * below the floor would make a read_committed bootstrap miss that
    * key's committed state. Real Kafka's cleaner enforces exactly this
    * bound (firstUncleanableOffset <= LSO).
    */
  def compactTopic(topic: String, retainTombstones: Boolean = true): Unit =
    (0 until numPartitions).foreach { p =>
      val log = logFor(topic, p)
      log.synchronized {
        if (log.nonEmpty) {
          val open = openTxns.getOrDefault((topic, p), Map.empty)
          val floor = if (open.isEmpty) Long.MaxValue else open.values.min
          val lastIdx = scala.collection.mutable.HashMap.empty[ByteBuffer, Int]
          log.zipWithIndex.foreach { case (r, i) =>
            if (!r.control && r.key != null && r.offset < floor)
              lastIdx.update(ByteBuffer.wrap(r.key), i)
          }
          val kept = log.zipWithIndex.collect {
            case (r, i) if i == log.length - 1 || r.control || r.key == null ||
                r.offset >= floor ||
                (lastIdx(ByteBuffer.wrap(r.key)) == i &&
                  (retainTombstones || r.value != null)) => r
          }
          log.clear()
          log ++= kept
        }
      }
    }

  private def serve(sock: Socket): Unit = {
    liveConns.add(sock)
    try {
      // mirror the client's TCP_NODELAY: without it the kernel's
      // Nagle/delayed-ACK interaction stalls each request-response
      // round-trip ~40ms, which dominates a multi-hundred-round-trip
      // produce/fetch session
      sock.setTcpNoDelay(true)
      val in = new DataInputStream(sock.getInputStream)
      val out = new DataOutputStream(sock.getOutputStream)
      // SASL listener state machine, per connection: with credentials
      // configured, the session must complete SaslHandshake then
      // SaslAuthenticate before anything but ApiVersions (the one API a
      // real broker answers pre-auth, so clients can discover the
      // handshake version). Any other early request, or a failed
      // authentication, closes the connection — the real listener's
      // response to a client that skips or flunks auth.
      var handshakenMech: Option[String] = None
      var scramSession: Scram.Server = null
      var authenticated = saslUsers.isEmpty
      while (running.get()) {
        val size = in.readInt()
        val req = new Array[Byte](size)
        in.readFully(req)
        val buf = ByteBuffer.wrap(req)
        val apiKey = buf.getShort.toInt
        val apiVersion = buf.getShort.toInt
        val correlationId = buf.getInt
        val clientId = readNullableString(buf)
        var closeAfterResponse = false
        val body = apiKey match {
          case Api.ApiVersions => apiVersionsResponse()
          case Api.SaslHandshake =>
            val (resp, mech) = saslHandshakeResponse(buf)
            handshakenMech = mech
            resp
          case Api.SaslAuthenticate if handshakenMech.contains("SCRAM-SHA-256") =>
            // two-round challenge-response: round 1 answers with the
            // server-first challenge and the connection stays
            // UNAUTHENTICATED; only a verified client-final proof flips
            // the bit (and the server-final carries the v= signature
            // that proves the broker back to the client)
            if (scramSession == null)
              scramSession = new Scram.Server(scramCredentials.get)
            val token = readNullableBytes(buf)
            val msg = new String(
              Option(token).getOrElse(Array.empty[Byte]),
              java.nio.charset.StandardCharsets.UTF_8)
            val step =
              try scramSession.handle(msg)
              catch { case e: Exception => Scram.Failed(s"malformed SCRAM message: ${e.getMessage}") }
            step match {
              case Scram.Continue(challenge) =>
                saslAuthBytes(Err.None, null, challenge)
              case Scram.Done(serverFinal, _) =>
                authenticated = true
                saslAuthBytes(Err.None, null, serverFinal)
              case Scram.Failed(m) =>
                closeAfterResponse = true
                saslAuthBytes(Err.SaslAuthenticationFailed, m, "")
            }
          case Api.SaslAuthenticate =>
            val (resp, ok) =
              saslAuthenticateResponse(buf, handshakenMech.contains("PLAIN"))
            authenticated = ok
            closeAfterResponse = !ok
            resp
          case _ if !authenticated =>
            // pre-auth data request on a SASL listener: disconnect
            throw new java.io.EOFException("unauthenticated request")
          case Api.Metadata    => metadataResponse(buf)
          case Api.Produce     => produceResponse(buf)
          case Api.Fetch       => fetchResponse(buf)
          case Api.ListOffsets => listOffsetsResponse(buf)
          case Api.InitProducerId => initProducerIdResponse(buf)
          case Api.AddPartitionsToTxn => addPartitionsToTxnResponse(buf)
          case Api.EndTxn => endTxnResponse(buf)
          case Api.FindCoordinator => findCoordinatorResponse(buf)
          case Api.OffsetCommit => offsetCommitResponse(buf)
          case Api.OffsetFetch => offsetFetchResponse(buf)
          case Api.JoinGroup =>
            joinGroupResponse(buf, Option(clientId).getOrElse("member"))
          case Api.SyncGroup => syncGroupResponse(buf)
          case Api.Heartbeat => heartbeatResponse(buf)
          case Api.LeaveGroup => leaveGroupResponse(buf)
          case other =>
            throw new IllegalArgumentException(s"unsupported api key $other v$apiVersion")
        }
        out.writeInt(4 + body.length)
        out.writeInt(correlationId)
        out.write(body)
        out.flush()
        if (closeAfterResponse) return
      }
    } catch {
      case _: java.io.EOFException => // client closed
      case _: java.net.SocketException => // client/server closed
      case e: Exception =>
        System.err.println(s"[KafkaStub] ${e.getClass.getName}: ${e.getMessage}")
    } finally {
      liveConns.remove(sock)
      sock.close()
    }
  }

  /** SaslHandshake v1: agree on a mechanism. PLAIN and SCRAM-SHA-256
    * are enabled (only on a listener with configured credentials);
    * anything else is UNSUPPORTED_SASL_MECHANISM with the enabled list
    * in the response — exactly what lets a real client print
    * "mechanism X not enabled, broker offers [PLAIN, SCRAM-SHA-256]".
    * Returns the agreed mechanism so the connection's SaslAuthenticate
    * routing follows the negotiation.
    */
  private def saslHandshakeResponse(req: ByteBuffer): (Array[Byte], Option[String]) = {
    val mechanism = readString(req)
    val enabled = if (saslUsers.isEmpty) Nil else Seq("PLAIN", "SCRAM-SHA-256")
    val ok = enabled.contains(mechanism)
    val buf = ByteBuffer.allocate(16 + enabled.map(_.length + 2).sum)
    buf.putShort((if (ok) Err.None else Err.UnsupportedSaslMechanism).toShort)
    buf.putInt(enabled.size)
    enabled.foreach(writeString(buf, _))
    buf.flip()
    val arr = new Array[Byte](buf.remaining()); buf.get(arr)
    (arr, if (ok) Some(mechanism) else None)
  }

  /** Per-user SCRAM-SHA-256 stored credentials, derived once from the
    * configured passwords — what `kafka-configs --add-config
    * SCRAM-SHA-256=[...]` provisions on a real broker: (salt, i,
    * StoredKey, ServerKey), never the password itself. Salt is
    * per-user deterministic (md5 of the principal) — a stub
    * convenience; the protocol carries it to the client either way.
    */
  private lazy val scramCredentials: Map[String, Scram.ServerCredential] =
    saslUsers.map { case (user, password) =>
      user -> Scram.serverCredential(password,
        java.security.MessageDigest.getInstance("MD5")
          .digest(user.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
        4096)
    }

  /** SaslAuthenticate v0 response with a challenge/signature payload in
    * auth_bytes — the field the SCRAM rounds ride in.
    */
  private def saslAuthBytes(err: Int, msg: String, payload: String): Array[Byte] = {
    val p = payload.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val buf = ByteBuffer.allocate(
      64 + (if (msg == null) 0 else msg.length * 4) + p.length)
    buf.putShort(err.toShort)
    writeNullableString(buf, msg)
    writeNullableBytes(buf, p)
    buf.flip()
    val arr = new Array[Byte](buf.remaining()); buf.get(arr)
    arr
  }

  /** SaslAuthenticate v0 carrying the RFC 4616 PLAIN token
    * (`authzid NUL authcid NUL passwd`). Out-of-sequence (no handshake
    * first) is ILLEGAL_SASL_STATE; bad credentials are
    * SASL_AUTHENTICATION_FAILED and the caller closes the connection
    * after the response goes out, like a real listener.
    */
  private def saslAuthenticateResponse(req: ByteBuffer,
      handshaken: Boolean): (Array[Byte], Boolean) = {
    val token = readNullableBytes(req)
    val (err, msg) =
      if (!handshaken) (Err.IllegalSaslState, "SaslHandshake must precede SaslAuthenticate")
      else if (token == null)
        (Err.SaslAuthenticationFailed, "null PLAIN token")
      else {
        val parts = new String(token, java.nio.charset.StandardCharsets.UTF_8)
          .split("\u0000", -1)
        if (parts.length != 3) (Err.SaslAuthenticationFailed, "malformed PLAIN token")
        else if (saslUsers.get(parts(1)).contains(parts(2))) (Err.None, null)
        else (Err.SaslAuthenticationFailed,
          s"authentication failed for user '${parts(1)}'")
      }
    val buf = ByteBuffer.allocate(64 + (if (msg == null) 0 else msg.length * 4))
    buf.putShort(err.toShort)
    writeNullableString(buf, msg)
    writeNullableBytes(buf, Array.empty[Byte]) // auth_bytes (PLAIN: no server token)
    buf.flip()
    val arr = new Array[Byte](buf.remaining()); buf.get(arr)
    (arr, err == Err.None)
  }

  private def apiVersionsResponse(): Array[Byte] = {
    val apis = Seq(
      (Api.Produce, 3, 3), (Api.Fetch, 4, 4), (Api.ListOffsets, 1, 1),
      (Api.Metadata, 1, 1), (Api.ApiVersions, 0, 0),
      (Api.SaslHandshake, 1, 1), (Api.SaslAuthenticate, 0, 0),
      (Api.InitProducerId, 0, 0), (Api.AddPartitionsToTxn, 0, 0),
      (Api.EndTxn, 0, 0), (Api.FindCoordinator, 0, 0),
      (Api.OffsetCommit, 2, 2), (Api.OffsetFetch, 1, 1),
      (Api.JoinGroup, 0, 0), (Api.SyncGroup, 0, 0),
      (Api.Heartbeat, 0, 0), (Api.LeaveGroup, 0, 0))
    val buf = ByteBuffer.allocate(2 + 4 + apis.size * 6)
    buf.putShort(Err.None.toShort)
    buf.putInt(apis.size)
    apis.foreach { case (k, lo, hi) =>
      buf.putShort(k.toShort); buf.putShort(lo.toShort); buf.putShort(hi.toShort)
    }
    buf.array()
  }

  private def metadataResponse(req: ByteBuffer): Array[Byte] = {
    val nTopics = req.getInt
    val requested =
      if (nTopics < 0) topics.toSeq.sorted
      else (0 until nTopics).map(_ => readString(req))
    // auto-create: metadata for an unseen topic materializes its
    // partitions, like a broker with auto.create.topics.enable=true
    requested.foreach(t => (0 until numPartitions).foreach(p => logFor(t, p)))
    val buf = ByteBuffer.allocate(64 * 1024)
    // brokers: the ALIVE cluster members (any alive broker serves full
    // metadata — that is what makes one bootstrap endpoint enough; a
    // failed broker drops out of the list, so routing clients stop
    // dialing it after one refresh)
    val nodes = clusterOpt
      .map(_.aliveBrokers.map(b => (b.brokerId, "127.0.0.1", b.port)))
      .getOrElse(Seq((brokerId, "127.0.0.1", port)))
    buf.putInt(nodes.size)
    nodes.foreach { case (id, host, p) =>
      buf.putInt(id)
      writeString(buf, host)
      buf.putInt(p)
      writeNullableString(buf, null) // rack
    }
    buf.putInt(nodes.head._1) // controller_id
    buf.putInt(requested.size)
    requested.foreach { t =>
      buf.putShort(Err.None.toShort)
      writeString(buf, t)
      buf.put(0.toByte) // is_internal
      buf.putInt(numPartitions)
      (0 until numPartitions).foreach { p =>
        val leader = clusterOpt.map(_.leaderOf(p)).getOrElse(brokerId)
        // replicas = the ASSIGNMENT (dead members included, like real
        // metadata); isr = the leader plus every alive follower still
        // in sync (in async-lag mode a follower whose oldest unapplied
        // batch is past the grace window is OUT — the observable
        // shrink; it re-enters once its chaser catches up)
        val replicas = clusterOpt.map(_.replicasOf(p)).getOrElse(Seq(brokerId))
        val isr = clusterOpt
          .map(c => replicas.filter(r =>
            r == c.leaderOf(p) || c.inSyncFollower(r, t, p)))
          .getOrElse(replicas)
        buf.putShort(Err.None.toShort)
        buf.putInt(p)
        buf.putInt(leader)
        buf.putInt(replicas.size); replicas.foreach(buf.putInt)
        buf.putInt(isr.size); isr.foreach(buf.putInt)
      }
    }
    buf.flip()
    val arr = new Array[Byte](buf.remaining()); buf.get(arr); arr
  }

  private def produceResponse(req: ByteBuffer): Array[Byte] = {
    produceRequests.incrementAndGet()
    val txnId = readNullableString(req)
    req.getShort // acks
    req.getInt // timeout_ms
    val nTopics = req.getInt
    val results = (0 until nTopics).flatMap { _ =>
      val topic = readString(req)
      val nParts = req.getInt
      (0 until nParts).map { _ =>
        val partition = req.getInt
        val recordSet = readNullableBytes(req)
        if (partition < 0 || partition >= numPartitions)
          (topic, partition, Err.UnknownTopicOrPartition, -1L)
        else if (!leads(partition))
          (topic, partition, Err.NotLeaderForPartition, -1L)
        else {
          try {
            val batches = decodeBatchesWithMeta(recordSet) // CRC-validated
            val log = logFor(topic, partition)
            // synchronized over the log so the sequence check and the
            // append are one atomic step even under concurrent
            // producers — the same single-writer-per-partition section
            // a real broker's log append runs in. Two-phase: every
            // batch in the request validates against a SIMULATED
            // producer state first, and nothing is appended unless all
            // of them pass — a later batch tripping
            // OUT_OF_ORDER_SEQUENCE_NUMBER must not leave an earlier
            // batch's append behind (partial application within one
            // request would be unrecoverable for the producer, which
            // retries the whole request).
            // async-lag mode: barriers enqueued under the log lock are
            // awaited AFTER it is released (purgatory, not a lock hold
            // — concurrent fetches must not block on a lagging
            // follower's grace window). The LAST barrier per partition
            // suffices: channels are per-follower FIFO, so the final
            // batch applied implies every earlier one was.
            var ackBarrier: Option[KafkaStubCluster#AckBarrier] = None
            val result = log.synchronized {
              var firstBase = -1L
              var err = Err.None
              var simLen = leo(log)
              var simState = Map.empty[Long, PidState]
              // planned effects: Left(base) = dup re-ack, Right = append
              val plan = ArrayBuffer
                .empty[Either[Long, (BatchMeta, Vector[WireRecord], Long)]]
              batches.foreach { case (meta, records) =>
                if (err == Err.None) {
                  val stateKey = (topic, partition, meta.producerId)
                  // transactional validation: only the coordinator
                  // writes control batches; a transactional data batch
                  // must carry the CURRENT (pid, epoch) of its
                  // transactional.id (stale epoch = fenced, error 47)
                  // and target a partition registered via
                  // AddPartitionsToTxn (error 48 otherwise)
                  if (meta.control) err = Err.InvalidTxnState
                  else if (meta.transactional) {
                    // transactional state lives on the txn COORDINATOR —
                    // a different broker than this leader in cluster
                    // mode; consult it in-process (a real leader learns
                    // the epoch from the batch and the coordinator's
                    // AddPartitionsToTxn; checking the coordinator's
                    // state directly is strictly stricter)
                    val coordB =
                      if (txnId == null) this
                      else clusterOpt
                        .map(c => c.brokerAt(c.coordinatorOf(txnId)))
                        .getOrElse(this)
                    val current =
                      if (txnId == null) None else coordB.txnProducerOf(txnId)
                    if (!current.exists(p =>
                        p.pid == meta.producerId && p.epoch == meta.producerEpoch))
                      err = Err.InvalidProducerEpoch
                    else if (!coordB.txnHasPartition(txnId, (topic, partition)))
                      err = Err.InvalidTxnState
                  }
                  val st =
                    if (meta.idempotent)
                      simState.getOrElse(meta.producerId,
                        producerState.getOrDefault(stateKey,
                          PidState((-1).toShort, Nil)))
                    else PidState((-1).toShort, Nil)
                  // epoch rules: newer epoch RESETS the sequence space
                  // (a fenced-and-retried transactional producer starts
                  // at 0 again); a stale epoch is fenced
                  val ranges =
                    if (!meta.idempotent) Nil
                    else if (meta.producerEpoch > st.epoch) Nil
                    else if (meta.producerEpoch < st.epoch) {
                      if (err == Err.None) err = Err.InvalidProducerEpoch
                      Nil
                    } else st.ranges
                  val dup = if (meta.idempotent)
                    ranges.find(r => r.baseSeq == meta.baseSequence &&
                      r.count == meta.numRecords)
                  else None
                  if (err != Err.None) () else dup match {
                    case Some(r) => // retry of an accepted batch: re-ack
                      plan += Left(r.baseOffset)
                    case None =>
                      val lastSeqEnd = ranges.headOption
                        .map(r => r.baseSeq + r.count).getOrElse(0)
                      if (meta.idempotent && meta.baseSequence != lastSeqEnd)
                        err = Err.OutOfOrderSequenceNumber
                      else {
                        plan += Right((meta, records.toVector, simLen))
                        if (meta.idempotent)
                          simState += meta.producerId -> PidState(
                            meta.producerEpoch,
                            (SeqRange(meta.baseSequence, meta.numRecords, simLen) ::
                              ranges).take(5))
                        simLen += records.size
                      }
                  }
                }
              }
              if (err == Err.None) plan.foreach {
                case Left(base) =>
                  if (firstBase < 0) firstBase = base
                case Right((meta, records, base)) =>
                  records.zipWithIndex.foreach { case (r, i) =>
                    log += StoredRecord(base + i, r.timestampMs, r.key, r.value,
                      meta.producerId, meta.producerEpoch, meta.transactional)
                  }
                  if (meta.idempotent)
                    producerState.put((topic, partition, meta.producerId),
                      simState(meta.producerId))
                  if (meta.transactional) {
                    // first transactional append opens the txn on this
                    // partition: its base offset pins the LSO until the
                    // marker lands
                    val key = (topic, partition)
                    val open = openTxns.getOrDefault(key, Map.empty)
                    if (!open.contains(meta.producerId))
                      openTxns.put(key, open + (meta.producerId -> base))
                  }
                  // acks=all: forward the committed append to every
                  // alive follower BEFORE the ack leaves (synchronous
                  // inside the leader's log section, so per-partition
                  // replication order equals append order; in the
                  // cluster's asyncLagMs mode this enqueues on the
                  // follower chasers and the ISR wait happens after
                  // the lock). Lock order is always leader-log →
                  // follower-log for one partition, and a partition
                  // has exactly one leader — no cycle.
                  clusterOpt.flatMap(_.replicate(topic, partition, brokerId,
                    leo(log))(
                    _.applyReplicatedData(topic, partition, meta, records, base)))
                    .foreach(b => ackBarrier = Some(b))
                  if (firstBase < 0) firstBase = base
              }
              (err, firstBase)
            }
            ackBarrier.foreach(_.await())
            (topic, partition, result._1, result._2)
          } catch {
            case _: IllegalArgumentException =>
              (topic, partition, Err.CorruptMessage, -1L)
          }
        }
      }
    }
    val buf = ByteBuffer.allocate(64 * 1024)
    val byTopic = results.groupBy(_._1)
    buf.putInt(byTopic.size)
    byTopic.foreach { case (topic, parts) =>
      writeString(buf, topic)
      buf.putInt(parts.size)
      parts.foreach { case (_, p, err, base) =>
        buf.putInt(p)
        buf.putShort(err.toShort)
        buf.putLong(base)
        buf.putLong(-1L) // log_append_time (CreateTime in use)
      }
    }
    buf.putInt(0) // throttle_time_ms
    buf.flip()
    val arr = new Array[Byte](buf.remaining()); buf.get(arr); arr
  }

  private final case class FetchPart(topic: String, partition: Int, err: Int,
      hw: Long, lso: Long, aborted: Seq[(Long, Long)], recordSet: Array[Byte])

  private def fetchResponse(req: ByteBuffer): Array[Byte] = {
    req.getInt // replica_id
    req.getInt // max_wait_ms
    req.getInt // min_bytes
    req.getInt // max_bytes
    val readCommitted = req.get() == 1 // isolation_level
    val nTopics = req.getInt
    val parts = (0 until nTopics).flatMap { _ =>
      val topic = readString(req)
      val nParts = req.getInt
      (0 until nParts).map { _ =>
        val partition = req.getInt
        val fetchOffset = req.getLong
        val partMaxBytes = req.getInt
        (topic, partition, fetchOffset, partMaxBytes)
      }
    }
    val responses = parts.map { case (topic, partition, fetchOffset, partMaxBytes) =>
      if (partition < 0 || partition >= numPartitions)
        FetchPart(topic, partition, Err.UnknownTopicOrPartition, 0L, 0L, Nil, null)
      else if (!leads(partition))
        FetchPart(topic, partition, Err.NotLeaderForPartition, 0L, 0L, Nil, null)
      else {
        val log = logFor(topic, partition)
        // read_committed: records are visible only up to the last
        // stable offset (min first-offset of any OPEN transaction) —
        // plus the completed aborted ranges overlapping the slice, so
        // the consumer can drop them
        val (hw, lso, slice, aborted) = log.synchronized {
          // consumer-visible watermark: in the cluster's async-lag
          // mode this is min LEO over the ISR — records an in-grace
          // follower has not applied yet are not readable yet (an
          // EVICTED laggard stops holding it back). Single-broker /
          // sync mode: the local log end, unchanged.
          val hwL = clusterOpt
            .map(_.visibleWatermark(topic, partition, brokerId, leo(log)))
            .getOrElse(leo(log))
          val open = openTxns.getOrDefault((topic, partition), Map.empty)
          val lsoL = if (open.isEmpty) hwL else math.min(hwL, open.values.min)
          val limit = if (readCommitted) lsoL else hwL
          // copy out roughly what the byte budget will encode, not the
          // whole remaining log: an uncapped slice here is
          // O(log end − fetch offset) per fetch, which turns a full
          // consumption into O(n²) total copy work — the measured
          // superlinear term on the 10× scale run. The record count a
          // budget covers is estimated from the record AT the fetch
          // offset (batch framing ≈ 12 bytes + key + value; gzip'd
          // batches assumed ≥ 8× compressible), padded 1.5× plus one
          // full 500-record chunk so ordinary size variance still
          // fills the response. A shorter-than-budget response is
          // protocol-legal regardless — the consumer resumes at
          // last offset + 1, and hw/lso advertise the rest.
          // slice bounds live in INDEX space, not offset space: a
          // compacted log has offset gaps, so the fetch offset (and the
          // visibility limit) map to array positions by binary search —
          // a fetch at a cleaned-away offset serves the next retained
          // record, the real cleaned-segment read behavior
          val startIdx = idxAtOrAfter(log, fetchOffset)
          val limitIdx = idxAtOrAfter(log, limit)
          val cap = if (limitIdx <= startIdx) 0 else {
            val probe = log(startIdx)
            val sz = 12 + (if (probe.key == null) 0 else probe.key.length) +
              (if (probe.value == null) 0 else probe.value.length)
            val est = math.max(2, if (fetchGzip) sz / 8 else sz)
            // Long arithmetic, clamped to the records actually left:
            // a client max_bytes near Int.MaxValue over est=2 would
            // overflow an Int cap into a negative slice (empty
            // response below the high watermark = stalled consumer).
            val capL = math.max(partMaxBytes, 1).toLong / est * 3 / 2 + 501
            math.min(capL, (limitIdx - startIdx).toLong).toInt
          }
          val sl = log.slice(startIdx, startIdx + cap).toVector
          val ab = if (readCommitted)
            abortedTxns.getOrDefault((topic, partition), Nil)
              .collect { case (pid, first, marker)
                  if marker >= fetchOffset && first < limit => (pid, first) }
          else Nil
          (hwL, lsoL, sl, ab)
        }
        if (fetchOffset > hw)
          FetchPart(topic, partition, Err.OffsetOutOfRange, hw, lso, Nil, null)
        else if (slice.isEmpty)
          FetchPart(topic, partition, Err.None, hw, lso, aborted, Array.empty[Byte])
        else {
          // honor the per-partition byte budget batch-wise: at least
          // one batch is always returned (Kafka's own guarantee so a
          // consumer never starves on a large first record). Runs are
          // split where the producer identity or the control/
          // transactional bits change, so re-encoded batches preserve
          // the (pid, epoch, txn, control) header a read_committed
          // consumer filters on.
          var budget = math.max(partMaxBytes, 1)
          val batches = ArrayBuffer.empty[Array[Byte]]
          var i = 0
          while (i < slice.length && budget > 0) {
            val head = slice(i)
            var j = i + 1
            while (j < slice.length && j - i < 500 &&
                slice(j).pid == head.pid && slice(j).epoch == head.epoch &&
                slice(j).transactional == head.transactional &&
                slice(j).control == head.control &&
                // encodeBatch writes dense offset deltas, so a batch
                // must also split at compaction gaps
                slice(j).offset == head.offset + (j - i)) j += 1
            val chunk = slice.slice(i, j)
            val encoded = encodeBatch(head.offset,
              chunk.map(r => (r.timestampMs, r.key, r.value)),
              fetchGzip && !head.control, head.pid, head.epoch, -1,
              transactional = head.transactional, control = head.control)
            batches += encoded
            budget -= encoded.length
            i = j
          }
          // one presized bulk copy; a generic `flatten` boxes every byte
          val joined = ByteBuffer.allocate(batches.map(_.length).sum)
          batches.foreach(b => joined.put(b))
          FetchPart(topic, partition, Err.None, hw, lso, aborted, joined.array())
        }
      }
    }
    val totalBytes = responses.map { r =>
      if (r.recordSet == null) 0 else r.recordSet.length
    }.sum
    val buf = ByteBuffer.allocate(64 * 1024 + totalBytes)
    buf.putInt(0) // throttle_time_ms
    val byTopic = responses.groupBy(_.topic)
    buf.putInt(byTopic.size)
    byTopic.foreach { case (topic, ps) =>
      writeString(buf, topic)
      buf.putInt(ps.size)
      ps.foreach { r =>
        buf.putInt(r.partition)
        buf.putShort(r.err.toShort)
        buf.putLong(r.hw)
        buf.putLong(r.lso) // last_stable_offset
        buf.putInt(r.aborted.size)
        r.aborted.foreach { case (pid, firstOffset) =>
          buf.putLong(pid); buf.putLong(firstOffset)
        }
        writeNullableBytes(buf, r.recordSet)
      }
    }
    buf.flip()
    val arr = new Array[Byte](buf.remaining()); buf.get(arr); arr
  }

  /** InitProducerId v0: the KIP-98 handshake. A null transactional.id
    * allocates a fresh (pid, epoch 0) — the `enable.idempotence=true`
    * producer session. A non-null transactional.id is the TRANSACTIONS
    * half: the first init allocates (pid, epoch 0); re-initializing
    * the SAME id returns the same pid with epoch+1 — fencing every
    * in-flight producer of the old epoch — and aborts any transaction
    * the old epoch left open (abort markers written to its
    * partitions), which is exactly how a crashed transactional
    * producer's retry cleans up after itself.
    */
  private def initProducerIdResponse(req: ByteBuffer): Array[Byte] = {
    val txnId = readNullableString(req)
    req.getInt // transaction_timeout_ms
    if (txnId != null && !coordinates(txnId)) {
      val buf = ByteBuffer.allocate(16)
      buf.putInt(0) // throttle_time_ms
      buf.putShort(Err.NotCoordinator.toShort)
      buf.putLong(-1L)
      buf.putShort(-1)
      buf.flip()
      val arr = new Array[Byte](buf.remaining()); buf.get(arr); return arr
    }
    val TxnProducer(pid, epoch) =
      if (txnId == null) TxnProducer(nextPid.getAndIncrement(), 0)
      else txnProducers.synchronized {
        val next = Option(txnProducers.get(txnId)) match {
          case None => TxnProducer(nextPid.getAndIncrement(), 0)
          case Some(prev) =>
            // fence the old epoch; abort whatever it left open
            completeTxn(txnId, prev, commit = false)
            TxnProducer(prev.pid, (prev.epoch + 1).toShort)
        }
        txnProducers.put(txnId, next)
        next
      }
    if (txnId != null) replicateTxnState(txnId)
    val buf = ByteBuffer.allocate(16)
    buf.putInt(0) // throttle_time_ms
    buf.putShort(Err.None.toShort)
    buf.putLong(pid)
    buf.putShort(epoch)
    buf.flip()
    val arr = new Array[Byte](buf.remaining()); buf.get(arr); arr
  }

  /** Write COMMIT/ABORT control markers for every partition registered
    * in `txnId`'s current transaction and retire its open-txn state.
    * No-op for partitions with nothing produced (a marker is only
    * meaningful after a first transactional append).
    */
  private def completeTxn(txnId: String, producer: TxnProducer,
      commit: Boolean): Unit = {
    val parts = txnPartitions.getOrDefault(txnId, Set.empty)
    parts.foreach { case (topic, partition) =>
      // the marker lands on the partition's LEADER (the coordinator→
      // leader WriteTxnMarkers hop; self in single-broker mode)
      val leader = clusterOpt
        .map(c => c.brokerAt(c.leaderOf(partition))).getOrElse(this)
      leader.appendControlMarker(topic, partition,
        producer.pid, producer.epoch, commit)
    }
    txnPartitions.remove(txnId)
  }

  /** Replicate `txnId`'s coordinator state across its standby set
    * after every mutation (init / add-partitions / end) — the
    * __transaction_state replication, collapsed exactly like the
    * group-offset mirror. Synchronous: the mutation is not acked to
    * the client before the standbys hold it, the same barrier the
    * acks=all data path uses.
    */
  private def replicateTxnState(txnId: String): Unit =
    clusterOpt.foreach { c =>
      Option(txnProducers.get(txnId)).foreach { p =>
        val parts = txnPartitions.getOrDefault(txnId, Set.empty)
        c.coordinatorReplicas(txnId).foreach { id =>
          if (id != brokerId && c.isAlive(id))
            c.brokerAt(id).mirrorTxnState(txnId, p, parts)
        }
      }
    }

  /** AddPartitionsToTxn v0: register the partitions the producer will
    * write in this transaction — the coordinator must know them so
    * EndTxn can place a marker in each. A stale epoch is fenced with
    * INVALID_PRODUCER_EPOCH per partition.
    */
  private def addPartitionsToTxnResponse(req: ByteBuffer): Array[Byte] = {
    val txnId = readString(req)
    val pid = req.getLong
    val epoch = req.getShort
    val nTopics = req.getInt
    val parts = (0 until nTopics).flatMap { _ =>
      val topic = readString(req)
      val n = req.getInt
      (0 until n).map(_ => (topic, req.getInt))
    }
    val current = Option(txnProducers.get(txnId))
    val err =
      if (!coordinates(txnId)) Err.NotCoordinator
      else if (!current.exists(p => p.pid == pid && p.epoch == epoch))
        Err.InvalidProducerEpoch
      else {
        txnPartitions.merge(txnId, parts.toSet, (a, b) => a ++ b)
        replicateTxnState(txnId)
        Err.None
      }
    val buf = ByteBuffer.allocate(64 * 1024)
    buf.putInt(0) // throttle_time_ms
    val byTopic = parts.groupBy(_._1)
    buf.putInt(byTopic.size)
    byTopic.foreach { case (topic, ps) =>
      writeString(buf, topic)
      buf.putInt(ps.size)
      ps.foreach { case (_, p) =>
        buf.putInt(p)
        buf.putShort(err.toShort)
      }
    }
    buf.flip()
    val arr = new Array[Byte](buf.remaining()); buf.get(arr); arr
  }

  /** EndTxn v0: commit or abort the current transaction — writes the
    * control markers and (on abort) records the aborted range every
    * read_committed fetch will report.
    */
  private def endTxnResponse(req: ByteBuffer): Array[Byte] = {
    val txnId = readString(req)
    val pid = req.getLong
    val epoch = req.getShort
    val commit = req.get() != 0
    val err =
      if (!coordinates(txnId)) Err.NotCoordinator
      else txnProducers.synchronized {
        Option(txnProducers.get(txnId)) match {
          case Some(p) if p.pid == pid && p.epoch == epoch =>
            completeTxn(txnId, p, commit)
            replicateTxnState(txnId)
            Err.None
          case _ => Err.InvalidProducerEpoch
        }
      }
    val buf = ByteBuffer.allocate(8)
    buf.putInt(0) // throttle_time_ms
    buf.putShort(err.toShort)
    buf.flip()
    val arr = new Array[Byte](buf.remaining()); buf.get(arr); arr
  }

  /** Committed group offset (test hook). */
  def committedOffset(group: String, topic: String, partition: Int): Option[Long] =
    Option(groupOffsets.get((group, topic, partition))).map(_._1)

  /** FindCoordinator v0: the group-coordinator discovery handshake a
    * real consumer runs before any OffsetCommit/OffsetFetch. This
    * single-node stub is every group's coordinator (the same collapse
    * as its transaction-coordinator role), so the answer is itself.
    */
  private def findCoordinatorResponse(req: ByteBuffer): Array[Byte] = {
    val key = readString(req) // coordinator_key (group / transactional id)
    val coord = clusterOpt
      .map(c => c.brokerAt(c.coordinatorOf(key))).getOrElse(this)
    val buf = ByteBuffer.allocate(32)
    buf.putShort(Err.None.toShort)
    buf.putInt(coord.brokerId)
    writeString(buf, "127.0.0.1")
    buf.putInt(coord.port)
    buf.flip()
    val arr = new Array[Byte](buf.remaining()); buf.get(arr); arr
  }

  /** OffsetCommit v2: store the committed position per (group, topic,
    * partition). Generation fencing follows the group's PROTOCOL state:
    * a group with active rebalance-protocol members accepts commits
    * only from a known member at the current generation (the classic
    * zombie-commit fence — a consumer that missed a rebalance cannot
    * clobber its successor's position); a memberless group keeps the
    * simple-consumer contract (generation -1 stores — Spark's manual-
    * assignment mode — and a claimed generation >= 0 is
    * ILLEGAL_GENERATION, the real broker's answer for a group with no
    * active generation). Offsets for unknown partitions fail
    * per-partition with UNKNOWN_TOPIC_OR_PARTITION; the rest of the
    * request still commits (per-partition error contract).
    */
  private def offsetCommitResponse(req: ByteBuffer): Array[Byte] = {
    val group = readString(req)
    val generation = req.getInt
    val memberId = readString(req) // empty for simple consumers
    req.getLong // retention_time_ms (-1 = broker default)
    val fence =
      if (coordinates(group)) commitFenceErr(group, generation, memberId)
      else Err.None // NotCoordinator reported below, per partition
    val nTopics = req.getInt
    val results = (0 until nTopics).flatMap { _ =>
      val topic = readString(req)
      val nParts = req.getInt
      (0 until nParts).map { _ =>
        val partition = req.getInt
        val offset = req.getLong
        val metadata = readNullableString(req)
        val err =
          if (!coordinates(group)) Err.NotCoordinator
          else if (fence != Err.None) fence
          else if (partition < 0 || partition >= numPartitions)
            Err.UnknownTopicOrPartition
          else {
            val stored = (offset, if (metadata == null) "" else metadata)
            groupOffsets.put((group, topic, partition), stored)
            // replicate across the group's standby coordinators so a
            // coordinator loss doesn't lose committed positions (the
            // __consumer_offsets topic's replication, collapsed)
            clusterOpt.foreach { c =>
              c.coordinatorReplicas(group).foreach { id =>
                if (id != brokerId && c.isAlive(id))
                  c.brokerAt(id).mirrorGroupOffset(group, topic, partition,
                    stored._1, stored._2)
              }
            }
            Err.None
          }
        (topic, partition, err)
      }
    }
    val buf = ByteBuffer.allocate(64 * 1024)
    val byTopic = results.groupBy(_._1)
    buf.putInt(byTopic.size)
    byTopic.foreach { case (topic, ps) =>
      writeString(buf, topic)
      buf.putInt(ps.size)
      ps.foreach { case (_, p, err) =>
        buf.putInt(p)
        buf.putShort(err.toShort)
      }
    }
    buf.flip()
    val arr = new Array[Byte](buf.remaining()); buf.get(arr); arr
  }

  /** OffsetFetch v1: read back the group's committed positions. An
    * uncommitted partition answers offset -1 with empty metadata and no
    * error — the "no committed offset" sentinel consumers translate to
    * their auto.offset.reset policy (this source's: earliest).
    */
  private def offsetFetchResponse(req: ByteBuffer): Array[Byte] = {
    val group = readString(req)
    val nTopics = req.getInt
    val results = (0 until nTopics).flatMap { _ =>
      val topic = readString(req)
      val nParts = req.getInt
      (0 until nParts).map { _ =>
        val partition = req.getInt
        val (offset, metadata) =
          groupOffsets.getOrDefault((group, topic, partition), (-1L, ""))
        (topic, partition, offset, metadata)
      }
    }
    val err =
      if (coordinates(group)) Err.None else Err.NotCoordinator
    val buf = ByteBuffer.allocate(64 * 1024)
    val byTopic = results.groupBy(_._1)
    buf.putInt(byTopic.size)
    byTopic.foreach { case (topic, ps) =>
      writeString(buf, topic)
      buf.putInt(ps.size)
      ps.foreach { case (_, p, offset, metadata) =>
        buf.putInt(p)
        buf.putLong(offset)
        writeNullableString(buf, metadata)
        buf.putShort(err.toShort)
      }
    }
    buf.flip()
    val arr = new Array[Byte](buf.remaining()); buf.get(arr); arr
  }

  // ---- consumer-group rebalance protocol (classic, eager) ----
  // JoinGroup/SyncGroup/Heartbeat/LeaveGroup v0 with the real state
  // machine: Empty -> PreparingRebalance -> CompletingRebalance ->
  // Stable, generation bumped per rebalance, the longest-lived member
  // elected leader, assignment bytes OPAQUE to the broker (the
  // assignor runs client-side in real Kafka too — the leader computes,
  // the coordinator relays), members evicted on session timeout, and
  // every group op generation/member fenced. Membership is
  // coordinator-LOCAL (not standby-mirrored): real group membership is
  // ephemeral — on coordinator failover clients rediscover and rejoin
  // at a fresh generation, which is exactly what this models.

  /** One joined member; mutation under the owning group's monitor. */
  private final class GroupMember(val memberId: String,
      val sessionTimeoutMs: Int) {
    var lastSeenNanos: Long = System.nanoTime()
    /** (protocol name, subscription metadata) as sent — relayed to the
      * leader verbatim; the broker never parses subscription bytes. */
    var protocols: Seq[(String, Array[Byte])] = Nil
  }

  /** Coordinator state for one group; all access synchronized on the
    * instance — blocked joins/syncs `wait()` on it, the completing
    * thread `notifyAll()`s.
    */
  private final class GroupCoordState {
    var state: String = "Empty" // Empty|PreparingRebalance|CompletingRebalance|Stable
    var generation = 0
    var protocolName = ""
    var leaderId = ""
    var memberSeq = 0
    // insertion-ordered so the leader (head) is the longest-lived member
    val members = scala.collection.mutable.LinkedHashMap[String, GroupMember]()
    val rejoined = scala.collection.mutable.Set[String]()
    var assignments: Map[String, Array[Byte]] = Map.empty
    // group.initial.rebalance.delay.ms, collapsed: the first join into
    // an Empty group holds completion briefly so a cohort of consumers
    // starting together lands in ONE generation, not a join storm
    var completeNotBeforeNanos = 0L

    /** Evict members silent past their session timeout. Returns true
      * if any were removed (a Stable group must then rebalance).
      */
    def evictExpired(): Boolean = {
      val now = System.nanoTime()
      val dead = members.values.filter(m =>
        now - m.lastSeenNanos > m.sessionTimeoutMs * 1000000L).map(_.memberId).toSeq
      dead.foreach { id => members.remove(id); rejoined.remove(id) }
      if (dead.nonEmpty) {
        if (members.isEmpty) { state = "Empty"; rejoined.clear() }
        else if (state == "Stable" || state == "CompletingRebalance") {
          state = "PreparingRebalance"; rejoined.clear()
        }
        notifyAll()
      }
      dead.nonEmpty
    }
  }

  private val groupCoord = new ConcurrentHashMap[String, GroupCoordState]()

  /** Group-protocol fencing for an OffsetCommit: a group with ACTIVE
    * members accepts commits only from a known member at the current
    * generation (stale generation = the classic zombie-commit fence); a
    * memberless group keeps the simple-consumer contract (generation
    * -1 stores, >= 0 is ILLEGAL_GENERATION).
    */
  private def commitFenceErr(group: String, generation: Int,
      memberId: String): Int = {
    val g = groupCoord.get(group)
    if (g == null) { if (generation >= 0) Err.IllegalGeneration else Err.None }
    else g.synchronized {
      g.evictExpired()
      if (g.members.isEmpty) {
        if (generation >= 0) Err.IllegalGeneration else Err.None
      } else if (!g.members.contains(memberId)) Err.UnknownMemberId
      else if (generation != g.generation) Err.IllegalGeneration
      else { g.members(memberId).lastSeenNanos = System.nanoTime(); Err.None }
    }
  }

  private def joinGroupResponse(req: ByteBuffer, clientId: String): Array[Byte] = {
    val group = readString(req)
    val sessionTimeoutMs = req.getInt
    val reqMemberId = readString(req)
    readString(req) // protocol_type ("consumer")
    val nProtocols = req.getInt
    val protocols = (0 until nProtocols).map { _ =>
      val name = readString(req)
      val meta = readNullableBytes(req)
      (name, if (meta == null) Array.empty[Byte] else meta)
    }
    def errResp(err: Int): Array[Byte] = {
      val buf = ByteBuffer.allocate(64)
      buf.putShort(err.toShort)
      buf.putInt(-1)
      writeString(buf, ""); writeString(buf, ""); writeString(buf, "")
      buf.putInt(0)
      buf.flip()
      val arr = new Array[Byte](buf.remaining()); buf.get(arr); arr
    }
    if (!coordinates(group)) return errResp(Err.NotCoordinator)
    val g = groupCoord.computeIfAbsent(group, _ => new GroupCoordState)
    g.synchronized {
      g.evictExpired()
      if (reqMemberId.nonEmpty && !g.members.contains(reqMemberId))
        return errResp(Err.UnknownMemberId)
      // group.supportsProtocols: a joiner whose protocol list shares
      // nothing with every OTHER member's list is rejected at admission
      // (real Kafka's GroupCoordinator check) — otherwise the leader
      // could hand a member an assignment under a protocol it never
      // offered. Checked against the others only: a rejoin REPLACES
      // this member's own list.
      val others = g.members.valuesIterator
        .filter(_.memberId != reqMemberId).toSeq
      if (others.nonEmpty && !protocols.exists(p =>
          others.forall(_.protocols.exists(_._1 == p._1))))
        return errResp(Err.InconsistentGroupProtocol)
      val memberId = if (reqMemberId.nonEmpty) reqMemberId else {
        g.memberSeq += 1
        val id = s"$clientId-${g.memberSeq}"
        g.members.put(id, new GroupMember(id, sessionTimeoutMs))
        id
      }
      val m = g.members(memberId)
      m.lastSeenNanos = System.nanoTime()
      m.protocols = protocols
      if (g.state != "PreparingRebalance") {
        if (g.state == "Empty")
          g.completeNotBeforeNanos = System.nanoTime() + 50L * 1000000L
        g.state = "PreparingRebalance"
        g.rejoined.clear()
        g.notifyAll() // stable members learn via heartbeat, but wake waiters
      }
      g.rejoined.add(memberId)
      // block until every CURRENT member has rejoined (the eager
      // rebalance barrier), the initial-join delay has passed, or this
      // member's session timeout expires the stragglers
      val deadline = System.nanoTime() + sessionTimeoutMs * 1000000L
      def allRejoined = g.members.keysIterator.forall(g.rejoined.contains)
      while (g.state == "PreparingRebalance" &&
          (!allRejoined || System.nanoTime() < g.completeNotBeforeNanos) &&
          System.nanoTime() < deadline) {
        g.wait(10)
        g.evictExpired()
      }
      // the wait loop's evictExpired shares the session-timeout horizon
      // with this waiter's own deadline, so at deadline the waiter
      // itself may have been evicted — it must NOT complete a
      // generation it is no longer part of
      if (!g.members.contains(memberId)) return errResp(Err.UnknownMemberId)
      if (g.state == "PreparingRebalance") {
        // this thread completes the rebalance: stragglers past the
        // barrier deadline are dropped from the generation. Never
        // self: the completer IS rejoining — its `rejoined` entry can
        // only have been erased by bookkeeping, not by silence.
        if (!allRejoined) {
          val stale = g.members.keysIterator.filterNot(id =>
            g.rejoined.contains(id) || id == memberId).toSeq
          stale.foreach(g.members.remove)
        }
        // invariant (documented, not branched): the contains(memberId)
        // gate above plus the self-excluding straggler drop guarantee
        // the completing member is still in the map, so the new
        // generation can never be empty here
        assert(g.members.contains(memberId),
          s"rebalance completer $memberId vanished from the member map")
        g.generation += 1
        // the group's protocol must be one EVERY member of the new
        // generation offered (admission keeps the intersection
        // nonempty); preference order is the completing member's
        g.protocolName = m.protocols.map(_._1)
          .find(p => g.members.valuesIterator.forall(
            _.protocols.exists(_._1 == p)))
          .orElse(m.protocols.headOption.map(_._1)).getOrElse("")
        g.leaderId = g.members.keysIterator.next()
        g.assignments = Map.empty
        g.state = "CompletingRebalance"
        g.notifyAll()
      }
      val buf = ByteBuffer.allocate(4096 + g.members.size * 256)
      buf.putShort(Err.None.toShort)
      buf.putInt(g.generation)
      writeString(buf, g.protocolName)
      writeString(buf, g.leaderId)
      writeString(buf, memberId)
      if (memberId == g.leaderId) {
        buf.putInt(g.members.size)
        g.members.foreach { case (id, mem) =>
          writeString(buf, id)
          val meta = mem.protocols.find(_._1 == g.protocolName)
            .map(_._2).getOrElse(Array.empty[Byte])
          writeNullableBytes(buf, meta)
        }
      } else buf.putInt(0)
      buf.flip()
      val arr = new Array[Byte](buf.remaining()); buf.get(arr); arr
    }
  }

  private def syncGroupResponse(req: ByteBuffer): Array[Byte] = {
    val group = readString(req)
    val generation = req.getInt
    val memberId = readString(req)
    val nAssign = req.getInt
    val assigns = (0 until nAssign).map { _ =>
      val id = readString(req)
      val bytes = readNullableBytes(req)
      id -> (if (bytes == null) Array.empty[Byte] else bytes)
    }.toMap
    def resp(err: Int, assignment: Array[Byte]): Array[Byte] = {
      val buf = ByteBuffer.allocate(8 + assignment.length)
      buf.putShort(err.toShort)
      writeNullableBytes(buf, assignment)
      buf.flip()
      val arr = new Array[Byte](buf.remaining()); buf.get(arr); arr
    }
    if (!coordinates(group)) return resp(Err.NotCoordinator, Array.empty)
    val g = groupCoord.get(group)
    if (g == null) return resp(Err.UnknownMemberId, Array.empty)
    g.synchronized {
      g.evictExpired()
      if (!g.members.contains(memberId))
        return resp(Err.UnknownMemberId, Array.empty)
      if (generation != g.generation)
        return resp(Err.IllegalGeneration, Array.empty)
      g.members(memberId).lastSeenNanos = System.nanoTime()
      g.state match {
        case "PreparingRebalance" =>
          resp(Err.RebalanceInProgress, Array.empty)
        case "CompletingRebalance" =>
          if (memberId == g.leaderId) {
            g.assignments = assigns
            g.state = "Stable"
            g.notifyAll()
            resp(Err.None, g.assignments.getOrElse(memberId, Array.empty))
          } else {
            // follower parks until the leader's assignments land (the
            // coordinator's sync purgatory) or the rebalance restarts
            val deadline = System.nanoTime() +
              g.members(memberId).sessionTimeoutMs * 1000000L
            while (g.state == "CompletingRebalance" &&
                System.nanoTime() < deadline) g.wait(10)
            if (g.state == "Stable")
              resp(Err.None, g.assignments.getOrElse(memberId, Array.empty))
            else resp(Err.RebalanceInProgress, Array.empty)
          }
        case "Stable" =>
          resp(Err.None, g.assignments.getOrElse(memberId, Array.empty))
        case _ =>
          resp(Err.UnknownMemberId, Array.empty)
      }
    }
  }

  private def heartbeatResponse(req: ByteBuffer): Array[Byte] = {
    val group = readString(req)
    val generation = req.getInt
    val memberId = readString(req)
    def resp(err: Int): Array[Byte] = {
      val buf = ByteBuffer.allocate(2)
      buf.putShort(err.toShort)
      buf.flip()
      val arr = new Array[Byte](buf.remaining()); buf.get(arr); arr
    }
    if (!coordinates(group)) return resp(Err.NotCoordinator)
    val g = groupCoord.get(group)
    if (g == null) return resp(Err.UnknownMemberId)
    g.synchronized {
      g.evictExpired()
      if (!g.members.contains(memberId)) return resp(Err.UnknownMemberId)
      if (generation != g.generation) return resp(Err.IllegalGeneration)
      g.members(memberId).lastSeenNanos = System.nanoTime()
      g.state match {
        case "Stable" => resp(Err.None)
        // both rebalance phases tell the member to rejoin now — the
        // classic coordinator's signal that a new generation is forming
        case _ => resp(Err.RebalanceInProgress)
      }
    }
  }

  private def leaveGroupResponse(req: ByteBuffer): Array[Byte] = {
    val group = readString(req)
    val memberId = readString(req)
    def resp(err: Int): Array[Byte] = {
      val buf = ByteBuffer.allocate(2)
      buf.putShort(err.toShort)
      buf.flip()
      val arr = new Array[Byte](buf.remaining()); buf.get(arr); arr
    }
    if (!coordinates(group)) return resp(Err.NotCoordinator)
    val g = groupCoord.get(group)
    if (g == null) return resp(Err.UnknownMemberId)
    g.synchronized {
      if (!g.members.contains(memberId)) return resp(Err.UnknownMemberId)
      g.members.remove(memberId)
      g.rejoined.remove(memberId)
      if (g.members.isEmpty) { g.state = "Empty"; g.rejoined.clear() }
      else if (g.state != "PreparingRebalance") {
        g.state = "PreparingRebalance"; g.rejoined.clear()
      }
      // a leave DURING an in-flight rebalance only shrinks the
      // barrier: members already waiting keep their rejoin status
      // (clearing it made them look like stragglers to the completer,
      // which could drop every live waiter and empty the group)
      g.notifyAll()
      resp(Err.None)
    }
  }

  private def listOffsetsResponse(req: ByteBuffer): Array[Byte] = {
    req.getInt // replica_id
    val nTopics = req.getInt
    val parts = (0 until nTopics).flatMap { _ =>
      val topic = readString(req)
      val nParts = req.getInt
      (0 until nParts).map { _ =>
        val partition = req.getInt
        val ts = req.getLong
        (topic, partition, ts)
      }
    }
    val buf = ByteBuffer.allocate(64 * 1024)
    val byTopic = parts.groupBy(_._1)
    buf.putInt(byTopic.size)
    byTopic.foreach { case (topic, ps) =>
      writeString(buf, topic)
      buf.putInt(ps.size)
      ps.foreach { case (_, p, ts) =>
        if (p < 0 || p >= numPartitions) {
          buf.putInt(p)
          buf.putShort(Err.UnknownTopicOrPartition.toShort)
          buf.putLong(-1L)
          buf.putLong(-1L)
        } else if (!leads(p)) {
          buf.putInt(p)
          buf.putShort(Err.NotLeaderForPartition.toShort)
          buf.putLong(-1L)
          buf.putLong(-1L)
        } else {
        // "latest" is the consumer-VISIBLE watermark, not the local
        // LEO: in async-lag mode a planner must not plan offset ranges
        // past what the ISR has replicated (fetch would cut them off)
        val hw = clusterOpt
          .map(_.visibleWatermark(topic, p, brokerId, highWatermark(topic, p)))
          .getOrElse(highWatermark(topic, p))
        // real ListOffsets semantics: a non-negative timestamp resolves
        // to the FIRST offset whose record timestamp is >= it. When no
        // record qualifies this resolves to the log end ("start from
        // new data only") — i.e. the stock connector's
        // startingOffsetsByTimestampStrategy=latest, chosen over its
        // default (error) deliberately; a strategy option would be the
        // parity path if stricter behavior is ever needed.
        val (offset, matchedTs) = ts match {
          case -2L => // earliest = first RETAINED offset (compaction
            // can clean the head of the log away)
            val log = logFor(topic, p)
            (log.synchronized(if (log.isEmpty) 0L else log.head.offset), 0L)
          case -1L => (hw, -1L) // latest
          case t =>
            val log = logFor(topic, p)
            log.synchronized(log.find(_.timestampMs >= t)) match {
              case Some(r) => (r.offset, r.timestampMs)
              case None    => (hw, -1L)
            }
        }
        buf.putInt(p)
        buf.putShort(Err.None.toShort)
        buf.putLong(matchedTs)
        buf.putLong(offset)
        }
      }
    }
    buf.flip()
    val arr = new Array[Byte](buf.remaining()); buf.get(arr); arr
  }

  /** Append a transaction control marker to a partition THIS broker
    * leads, retiring the producer's open-txn state — the internal
    * coordinator→leader WriteTxnMarkers hop (in-process here; a real
    * cluster sends it broker-to-broker) — then replicate the marker to
    * the partition's alive followers (who hold the same open-txn state
    * from replicated data batches, so they derive the same
    * aborted-range bookkeeping). Package-private: only the transaction
    * coordinator calls it.
    */
  private[kafka] def appendControlMarker(topic: String, partition: Int,
      pid: Long, epoch: Short, commit: Boolean): Unit = {
    // hold the LEADER's log lock across local append + follower
    // fan-out, exactly like the produce path: a produce interleaving
    // between the two would land at the marker's offset on the
    // follower and diverge the replicas (appendMarkerLocal re-takes
    // the same lock — reentrant on the leader, fresh on followers)
    val log = logFor(topic, partition)
    val barrier = log.synchronized {
      appendMarkerLocal(topic, partition, pid, epoch, commit)
      clusterOpt.flatMap(_.replicate(topic, partition, brokerId,
        leo(log))(
        _.appendMarkerLocal(topic, partition, pid, epoch, commit)))
    }
    // async-lag mode: the marker's ISR wait runs outside the log lock
    // (purgatory), like the produce path
    barrier.foreach(_.await())
  }

  private def appendMarkerLocal(topic: String, partition: Int,
      pid: Long, epoch: Short, commit: Boolean): Unit = {
    val log = logFor(topic, partition)
    log.synchronized {
      val key = (topic, partition)
      val open = openTxns.getOrDefault(key, Map.empty)
      open.get(pid).foreach { firstOffset =>
        val markerOffset = leo(log)
        log += StoredRecord(markerOffset, 0L,
          ControlMarker.key(if (commit) ControlMarker.Commit else ControlMarker.Abort),
          ControlMarker.value(), pid, epoch,
          transactional = true, control = true)
        if (!commit)
          abortedTxns.merge(key, List((pid, firstOffset, markerOffset)),
            (a, b) => a ++ b)
        openTxns.put(key, open - pid)
      }
    }
  }

  /** Follower-side apply of a leader's committed append — the
    * replication hop behind acks=all (leader-push; a real follower
    * pulls). The log must be exactly at the leader's base offset
    * (per-partition replication is serialized inside the leader's
    * append section), and producer/transaction state is REBUILT from
    * the replicated batch the way a real follower's
    * ProducerStateManager rebuilds from its log — so a promoted leader
    * keeps fencing retried idempotent batches seamlessly.
    */
  private[kafka] def applyReplicatedData(topic: String, partition: Int,
      meta: BatchMeta, records: Vector[WireRecord], base: Long): Unit = {
    val log = logFor(topic, partition)
    log.synchronized {
      // IllegalStateException, NOT require/IllegalArgument: the produce
      // path maps IllegalArgumentException to CorruptMessage (decode
      // errors), which would silently mask divergence as a producer
      // error while the leader keeps the rows — divergence must stay
      // loud and fatal
      if (leo(log) != base)
        throw new IllegalStateException(
          s"replica divergence on $topic/$partition: follower log at " +
            s"${leo(log)}, leader appended at $base")
      records.zipWithIndex.foreach { case (r, i) =>
        log += StoredRecord(base + i, r.timestampMs, r.key, r.value,
          meta.producerId, meta.producerEpoch, meta.transactional)
      }
      if (meta.idempotent) {
        val stateKey = (topic, partition, meta.producerId)
        val st = producerState.getOrDefault(stateKey, PidState((-1).toShort, Nil))
        val ranges = if (meta.producerEpoch > st.epoch) Nil else st.ranges
        producerState.put(stateKey, PidState(meta.producerEpoch,
          (SeqRange(meta.baseSequence, meta.numRecords, base) :: ranges).take(5)))
      }
      if (meta.transactional) {
        val key = (topic, partition)
        val open = openTxns.getOrDefault(key, Map.empty)
        if (!open.contains(meta.producerId))
          openTxns.put(key, open + (meta.producerId -> base))
      }
    }
  }

  /** Standby-coordinator mirror of a group-offset commit (the
    * __consumer_offsets topic's replication, collapsed to a direct
    * put). Package-private: only the active coordinator calls it.
    */
  private[kafka] def mirrorGroupOffset(group: String, topic: String,
      partition: Int, offset: Long, metadata: String): Unit =
    groupOffsets.put((group, topic, partition), (offset, metadata))

  /** Standby-coordinator mirror of one transactional id's coordinator
    * state — (pid, epoch) plus the partitions registered in its
    * current transaction (the __transaction_state topic's replication,
    * collapsed to a direct put like [[mirrorGroupOffset]]). Only the
    * active coordinator calls it. With this mirrored, a coordinator
    * loss MID-TRANSACTION is recoverable instead of a stuck LSO: the
    * successor's InitProducerId finds the entry, aborts the dangling
    * transaction (markers to the alive partition leaders, so
    * read_committed consumers un-stick) and fences the old epoch — the
    * client sees one retriable failure, then a clean restart.
    */
  private[kafka] def mirrorTxnState(txnId: String, producer: TxnProducer,
      parts: Set[(String, Int)]): Unit = {
    txnProducers.put(txnId, producer)
    if (parts.isEmpty) txnPartitions.remove(txnId)
    else txnPartitions.put(txnId, parts)
  }

  /** Txn-coordinator entries this broker holds (restart catch-up input). */
  private[kafka] def txnStateEntries: Seq[(String, TxnProducer, Set[(String, Int)])] =
    txnProducers.asScala.toSeq.map { case (id, p) =>
      (id, p, txnPartitions.getOrDefault(id, Set.empty))
    }

  // ---- restart catch-up (cluster-internal state transfer) ----

  /** A consistent copy of one partition's full replica state — log,
    * producer state, open transactions, aborted ranges — taken under
    * the partition's append lock. The unit a restarted broker catches
    * up with ([[KafkaStubCluster.restartBroker]]).
    */
  /** `onLocked` runs INSIDE the partition's append lock, on the
    * just-taken copy — the hook [[KafkaStubCluster.restartBroker]] uses
    * to flip a recovering replica's live-replication gate (and, in sync
    * mode, install the baseline) atomically with the snapshot point, so
    * every leader append is either in the snapshot or replicated live,
    * never both and never neither.
    */
  private[kafka] def snapshotPartition(topic: String, partition: Int,
      onLocked: PartitionSnapshot => Unit = _ => ()): PartitionSnapshot = {
    val log = logFor(topic, partition)
    log.synchronized {
      val snap = mkSnapshot(topic, partition, log)
      onLocked(snap)
      snap
    }
  }

  private def mkSnapshot(topic: String, partition: Int,
      log: scala.collection.mutable.ArrayBuffer[StoredRecord]): PartitionSnapshot =
    PartitionSnapshot(
      log.toVector,
      producerState.asScala.collect {
        case ((t, p, pid), st) if t == topic && p == partition => pid -> st
      }.toMap,
      openTxns.getOrDefault((topic, partition), Map.empty),
      abortedTxns.getOrDefault((topic, partition), Nil))

  /** Replace this replica's state for one partition with a leader's
    * snapshot — idempotent full-state install (simpler than a suffix
    * copy and equivalent for a quiesced partition).
    */
  private[kafka] def installSnapshot(topic: String, partition: Int,
      snap: PartitionSnapshot): Unit = {
    val log = logFor(topic, partition)
    log.synchronized {
      log.clear()
      log ++= snap.records
      producerState.keySet.removeIf(k => k._1 == topic && k._2 == partition)
      snap.producers.foreach { case (pid, st) =>
        producerState.put((topic, partition, pid), st)
      }
      openTxns.put((topic, partition), snap.openTxns)
      if (snap.abortedTxns.nonEmpty)
        abortedTxns.put((topic, partition), snap.abortedTxns)
      else abortedTxns.remove((topic, partition))
    }
  }

  /** Group-offset entries this broker holds (restart catch-up input). */
  private[kafka] def groupOffsetEntries: Seq[((String, String, Int), (Long, String))] =
    groupOffsets.asScala.toSeq
}

object KafkaStubBroker {
  /** Coordinator-side producer identity for a transactional.id —
    * top-level (not a class inner) so standby mirroring can pass it
    * between broker instances.
    */
  private[kafka] final case class TxnProducer(pid: Long, epoch: Short)

  private[kafka] final case class StoredRecord(
      offset: Long, timestampMs: Long, key: Array[Byte], value: Array[Byte],
      pid: Long = -1L, epoch: Short = -1, transactional: Boolean = false,
      control: Boolean = false)

  private[kafka] final case class SeqRange(baseSeq: Int, count: Int,
      baseOffset: Long)

  private[kafka] final case class PidState(epoch: Short,
      ranges: List[SeqRange])

  /** One partition's full replica state, copied atomically for restart
    * catch-up.
    */
  private[kafka] final case class PartitionSnapshot(
      records: Vector[StoredRecord],
      producers: Map[Long, PidState],
      openTxns: Map[Long, Long],
      abortedTxns: List[(Long, Long, Long)])
}

/** An in-process multi-broker Kafka cluster: `nBrokers` stub brokers
  * sharing nothing but role assignment — partition `p` of every topic
  * is assigned the replica set `[p % n, (p+1) % n, ...]`
  * (`replicationFactor` entries, preferred leader first), and group /
  * transactional key `k` is coordinated by the first ALIVE broker of
  * `[floorMod(hash(k), n), +1, ...]`. Each broker stores only the
  * partitions it replicates and answers data APIs only for partitions
  * it LEADS — anything else is NOT_LEADER_FOR_PARTITION /
  * NOT_COORDINATOR, exactly the errors that drive a real client's
  * metadata-refresh-and-re-route loop. Any alive broker serves full
  * cluster metadata, so one bootstrap endpoint is enough — the
  * property `format("kafka-wire")`'s planner relies on.
  *
  * REPLICATION (`replicationFactor` > 1): a leader forwards every
  * committed append — data batches and transaction control markers —
  * synchronously to its alive followers before acking, the acks=all +
  * min.insync.replicas contract (leader-push here where a real
  * follower pulls; same durability, documented simplification).
  * Followers rebuild producer/transaction state from the replicated
  * log exactly like a real ProducerStateManager, so a promoted leader
  * keeps fencing retried idempotent batches. Group-offset commits
  * replicate across the coordinator's standby set (the
  * __consumer_offsets topic's own replication, collapsed).
  *
  * FAILOVER: [[failBroker]] kills a broker (server socket AND live
  * connections — clients see resets, not clean request errors),
  * promotes the next alive replica of every partition it led with a
  * bumped leader epoch, and re-routes coordination to each key's next
  * alive standby. Acked records survive the loss — the replication
  * guarantee a 1000-executor pipeline banks on.
  *
  * What this proves at scale: record bytes flow executor↔leader, so
  * aggregate produce/fetch bandwidth grows with the broker count
  * instead of funneling through a single endpoint, and a broker loss
  * moves traffic to promoted replicas without losing acked data.
  * Transaction-coordinator state (txnId → pid/epoch + registered
  * partitions) mirrors across each id's standby set on every mutation
  * — the __transaction_state replication, collapsed — so a
  * coordinator death mid-transaction is recoverable: the successor's
  * InitProducerId aborts the dangling transaction and fences the old
  * epoch (KafkaFailoverSpec drives it end to end).
  *
  * REPLICATION LAG / ISR (`asyncLagMs` = Some(t)): instead of the
  * synchronous leader-push above, every committed append — data batch
  * or control marker — is enqueued on a per-follower replication
  * channel and applied by that follower's own chaser thread, so a
  * follower genuinely TRAILS the leader and chases at its own pace
  * (the follower-pull fetch loop, with the wire hop collapsed to an
  * in-process queue). ISR semantics follow `replica.lag.time.max.ms`:
  * a follower whose oldest unapplied batch for a partition is older
  * than `t` ms drops out of that partition's ISR — observable in
  * Metadata responses, which report isr as {leader} ∪ {caught-up
  * followers} instead of the alive set. The consumer-visible high
  * watermark is min(LEO over the ISR), so records an in-grace
  * follower has not applied yet are not yet readable, and produce
  * acks wait for the ISR: a batch is acked once every in-sync
  * follower applied it OR the grace expired and the laggard was
  * evicted (at which point the watermark advances without it) —
  * exactly the acks=all + ISR-shrink contract. [[pauseReplication]] /
  * [[resumeReplication]] freeze and release one follower's chaser so
  * shrink→expand is drivable in tests; a resumed follower drains its
  * backlog in order and re-enters the ISR with a log byte-identical
  * to the leader's. With `asyncLagMs` = None (default) replication is
  * the synchronous push above and ISR = the alive set (lag never
  * observable — a zero-cost degenerate case of the same contract).
  * Group-offset and txn-coordinator mirrors stay synchronous in both
  * modes: they collapse the INTERNAL topics' replication, whose lag
  * none of the modeled client behavior can observe. Still NOT
  * modeled (COVERAGE.md non-goals): rack awareness.
  */
final class KafkaStubCluster(nBrokers: Int, numPartitions: Int = 3,
    compressionType: String = "none",
    saslUsers: Map[String, String] = Map.empty,
    replicationFactor: Int = 1,
    tlsKeystore: Option[(String, String)] = None,
    asyncLagMs: Option[Long] = None)
    extends graft.streaming.Service {
  require(nBrokers >= 1, s"nBrokers must be >= 1, got $nBrokers")
  require(replicationFactor >= 1 && replicationFactor <= nBrokers,
    s"replicationFactor must be in [1, $nBrokers], got $replicationFactor")

  val brokers: Seq[KafkaStubBroker] = (0 until nBrokers).map { id =>
    new KafkaStubBroker(numPartitions, compressionType, id, this, saslUsers,
      tlsKeystore)
  }

  private val aliveArr: Array[Boolean] = Array.fill(nBrokers)(true)
  // partition -> current leader (preferred initially) and leader epoch,
  // bumped on every promotion; transitions serialized by leaderLock
  private val leaderLock = new Object
  @volatile private var leaderMap: Map[Int, Int] =
    (0 until numPartitions).map(p => p -> math.floorMod(p, nBrokers)).toMap
  @volatile private var leaderEpochs: Map[Int, Int] =
    (0 until numPartitions).map(_ -> 0).toMap

  /** The partition's replica set, preferred leader first. */
  def replicasOf(partition: Int): Seq[Int] =
    (0 until replicationFactor)
      .map(i => math.floorMod(partition + i, nBrokers))

  def isAlive(id: Int): Boolean = aliveArr.synchronized(aliveArr(id))
  def aliveBrokers: Seq[KafkaStubBroker] =
    brokers.filter(b => isAlive(b.brokerId))

  def leaderOf(partition: Int): Int = leaderMap(partition)
  def leaderEpoch(partition: Int): Int = leaderEpochs(partition)

  /** The key's coordinator: first ALIVE broker of its standby set. */
  def coordinatorOf(key: String): Int =
    coordinatorReplicas(key).find(isAlive).getOrElse(
      throw new IllegalStateException(s"no alive coordinator replica for '$key'"))

  /** The standby set group-offset commits replicate across (the
    * __consumer_offsets replication, collapsed to a direct mirror).
    */
  def coordinatorReplicas(key: String): Seq[Int] =
    (0 until replicationFactor)
      .map(i => math.floorMod(key.hashCode + i, nBrokers))

  def brokerAt(id: Int): KafkaStubBroker = brokers(id)

  /** Leader-side replication fan-out: apply `f` to every ALIVE
    * follower replica of `partition`, synchronously — the acks=all
    * barrier. The caller is the leader, excluded by id.
    */
  private[kafka] def onFollowers(partition: Int, leaderId: Int)(
      f: KafkaStubBroker => Unit): Unit =
    replicasOf(partition).foreach { id =>
      if (id != leaderId && isAlive(id)) f(brokers(id))
    }

  // ----- async (follower-pull) replication: asyncLagMs = Some(t) -----

  /** One follower's replication channel: a FIFO of unapplied leader
    * appends drained by the follower's own chaser thread. Per-partition
    * enqueue timestamps back the ISR lag check (a deque head is the
    * OLDEST unapplied batch for that partition — `replica.lag.time`).
    * FIFO across partitions trivially preserves the per-partition apply
    * order [[KafkaStubBroker.applyReplicatedData]]'s divergence check
    * demands.
    */
  private final class ReplChannel(followerId: Int) {
    private final case class Pending(gen: Int, pGen: Int, topic: String,
        partition: Int, enqueuedNanos: Long, apply: () => Unit)
    private val queue =
      new java.util.concurrent.LinkedBlockingQueue[Pending]()
    private val pendingTimes =
      new java.util.concurrent.ConcurrentHashMap[(String, Int), java.util.ArrayDeque[Long]]()
    private val unapplied = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var paused = false
    @volatile private var stopped = false
    // bumped by clear(): a batch polled before the clear but not yet
    // applied (the head slot below) is stale and must be dropped, not
    // applied to a log the restart snapshot is about to re-baseline
    @volatile private var gen = 0
    // per-partition purge generation, bumped by purgePartition() at
    // leader promotion: the promoted replica (and, via epoch
    // truncation, its sibling followers) stop fetching from the dead
    // leader, so their pending batches for that partition are dropped
    @volatile private var failedWith: Throwable = null
    private val partGen =
      new java.util.concurrent.ConcurrentHashMap[(String, Int), Integer]()
    // makes gen-check-and-apply atomic with clear()/purgePartition()/
    // enqueue(): without it, clear() can run between the chaser's gen
    // check and its apply (landing a stale batch on a re-baselined
    // log), and an enqueue can slip in after the isAlive check but
    // past the clear, carrying the post-clear gen so the guard never
    // drops it
    private val applyLock = new Object

    private def pGenOf(topic: String, partition: Int): Int = {
      val g = partGen.get((topic, partition))
      if (g == null) 0 else g.intValue
    }

    private val chaser = new Thread(() => {
      // the head slot: a batch is polled once, then applied only when
      // NOT paused — re-checked after the blocking poll, because pause
      // can land while the poll is parked and the freshly-arrived
      // batch must lag, not sneak through
      var head: Pending = null
      while (!stopped) {
        if (head == null)
          head = queue.poll(5, java.util.concurrent.TimeUnit.MILLISECONDS)
        if (head != null) {
          val done = applyLock.synchronized {
            if (head.gen != gen) true // cleared while held; books reset
            else if (head.pGen != pGenOf(head.topic, head.partition)) {
              // purged while held (leader promotion): the purge reset
              // this partition's pending deque but could not see the
              // head slot, so settle its unapplied count here
              unapplied.decrementAndGet()
              true
            } else if (paused) false
            else {
              // a throwing apply (notably applyReplicatedData's
              // divergence IllegalStateException) must not die silently
              // in a daemon thread: record it, halt this follower's
              // replication, and let replicationLag/awaitCaughtUp/
              // AckBarrier rethrow it loudly
              try head.apply()
              catch {
                case t: Throwable =>
                  failedWith = t
                  stopped = true
                  System.err.println(
                    s"repl-chaser-$followerId died applying " +
                      s"${head.topic}/${head.partition}: $t")
              }
              val dq = pendingTimes.get((head.topic, head.partition))
              if (dq != null) dq.synchronized(dq.pollFirst())
              unapplied.decrementAndGet()
              true
            }
          }
          if (done) {
            head = null
            replMonitor.synchronized(replMonitor.notifyAll())
          } else Thread.sleep(1)
        }
      }
      replMonitor.synchronized(replMonitor.notifyAll())
    }, s"repl-chaser-$followerId")
    chaser.setDaemon(true)

    def startChaser(): Unit = if (!chaser.isAlive) chaser.start()
    def stopChaser(): Unit = { stopped = true }

    /** A chaser-thread apply failure, if one halted this channel. */
    def failure: Throwable = failedWith

    /** Enqueue one pending apply iff `alive` still holds under the
      * channel lock — re-checked there because a plain
      * check-then-enqueue races failBroker's clear(): the enqueue
      * could land after the clear carrying the post-clear gen, and
      * the gen guard would never drop it.
      */
    def enqueue(topic: String, partition: Int, nowNanos: Long,
        alive: => Boolean)(f: () => Unit): Unit = applyLock.synchronized {
      if (alive) {
        val dq = pendingTimes.computeIfAbsent((topic, partition),
          _ => new java.util.ArrayDeque[Long]())
        dq.synchronized(dq.addLast(nowNanos))
        unapplied.incrementAndGet()
        queue.put(Pending(gen, pGenOf(topic, partition), topic, partition,
          nowNanos, f))
      }
    }

    /** Oldest unapplied batch for the partition, if any. */
    def oldestPendingNanos(topic: String, partition: Int): Option[Long] = {
      val dq = pendingTimes.get((topic, partition))
      if (dq == null) None
      else dq.synchronized(Option(dq.peekFirst()).map(_.longValue))
    }

    /** Unapplied batches, INCLUDING one held in the chaser's head slot. */
    def lagBatches: Int = unapplied.get

    /** Drop every pending apply (broker death: the restart snapshot
      * supersedes them; applying a stale batch to a re-baselined log
      * would diverge it — the generation stamp drops a batch the
      * chaser polled but had not applied yet). Atomic with the
      * chaser's gen-check-and-apply via the channel lock.
      */
    def clear(): Unit = applyLock.synchronized {
      gen += 1
      queue.clear()
      pendingTimes.values().forEach(dq => dq.synchronized(dq.clear()))
      unapplied.set(0)
    }

    /** Drop the pending applies of ONE partition (leader promotion:
      * this replica stops fetching that partition from the dead
      * leader; its un-acked backlog there is discarded — those
      * records were never acked, because the ack barrier was still
      * waiting on this in-sync replica). Other partitions' pendings
      * are untouched. A head-slot batch for the partition is dropped
      * by the chaser via the bumped purge generation.
      */
    def purgePartition(topic: String, partition: Int): Unit =
      applyLock.synchronized {
        val key = (topic, partition)
        partGen.merge(key, 1, (a, b) => Integer.valueOf(a.intValue + b.intValue))
        var removed = 0
        val it = queue.iterator()
        while (it.hasNext) {
          val p = it.next()
          if (p.topic == topic && p.partition == partition) {
            it.remove()
            removed += 1
          }
        }
        val dq = pendingTimes.get(key)
        if (dq != null) dq.synchronized(dq.clear())
        if (removed > 0) unapplied.addAndGet(-removed)
        replMonitor.synchronized(replMonitor.notifyAll())
      }
  }

  /** Chasers signal here after each apply; ack barriers wait on it. */
  private val replMonitor = new Object
  private val channels: Array[ReplChannel] =
    if (asyncLagMs.isDefined) Array.tabulate(nBrokers)(new ReplChannel(_))
    else null

  /** The acks=all wait for one replicated append in async mode:
    * blocks until every follower still IN the ISR has applied it — a
    * laggard past the grace window is evicted rather than waited for,
    * so [[await]] terminates in at most `lagMs`. MUST be awaited
    * after the leader's partition log lock is released: a real broker
    * parks the produce in purgatory without blocking concurrent
    * fetches, and holding the log lock here would do exactly that for
    * the whole grace window.
    */
  private[kafka] final class AckBarrier(topic: String, partition: Int,
      leaderId: Int, endOffset: Long) {
    def await(): Unit = {
      var done = false
      while (!done) {
        // a dead chaser never applies again: without this, the ack
        // would spin forever waiting on a follower whose replication
        // halted on a recorded failure — rethrow it loudly instead
        checkReplicationFailure()
        done = replicasOf(partition).forall { id =>
          id == leaderId || !isAlive(id) ||
            brokers(id).highWatermark(topic, partition) >= endOffset ||
            // an ALREADY-EVICTED laggard is not waited for at all —
            // only in-grace followers hold the ack, and the in-grace
            // state expires on its own (the oldest pending batch ages
            // past the window), so this terminates in ≤ lagMs
            !inSyncFollower(id, topic, partition)
        }
        if (!done) replMonitor.synchronized(replMonitor.wait(1))
      }
    }
  }

  /** Replicate one committed leader append (data batch or control
    * marker) to the partition's alive followers. Sync mode: apply
    * inline (the acks=all push), no barrier. Async mode: enqueue on
    * each follower's channel and return the [[AckBarrier]] the caller
    * awaits AFTER releasing the partition log lock. Called with that
    * lock held (per-partition enqueue order = append order).
    */
  private[kafka] def replicate(topic: String, partition: Int, leaderId: Int,
      endOffset: Long)(f: KafkaStubBroker => Unit): Option[AckBarrier] =
    asyncLagMs match {
      case None =>
        // sync push, including to a recovering replica whose baseline
        // was installed at the snapshot point (under this same lock)
        replicasOf(partition).foreach { id =>
          if (id != leaderId && (isAlive(id) ||
              recoveringAccept.contains((id, topic, partition))))
            f(brokers(id))
        }
        None
      case Some(_) =>
        val now = System.nanoTime()
        replicasOf(partition).foreach { id =>
          if (id != leaderId)
            channels(id).enqueue(topic, partition, now,
              isAlive(id) || recoveringAccept.contains((id, topic, partition)))(
              () => f(brokers(id)))
        }
        Some(new AckBarrier(topic, partition, leaderId, endOffset))
    }

  /** Partitions a RECOVERING (restarting, not yet alive) broker already
    * receives live replication for: entries are added under the
    * leader's partition append lock at the restart snapshot point
    * ([[KafkaStubBroker.snapshotPartition]]'s `onLocked` hook) and
    * removed once the broker is back in the alive set, so during
    * catch-up the leader keeps accepting produce and every append lands
    * exactly once — in the snapshot if it preceded the point, on the
    * replica's channel if it followed it.
    */
  private val recoveringAccept =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, String, Int)]()

  /** Is follower `id` in `partition`'s ISR? Alive and, in async mode,
    * with no unapplied batch older than the lag grace (the
    * `replica.lag.time.max.ms` eviction rule). Sync mode: alive IS
    * in-sync (replication happened before the ack left).
    */
  private[kafka] def inSyncFollower(id: Int, topic: String,
      partition: Int): Boolean =
    isAlive(id) && (asyncLagMs match {
      case None => true
      case Some(lagMs) => channels(id).oldestPendingNanos(topic, partition)
        .forall(t => System.nanoTime() - t <= lagMs * 1000000L)
    })

  /** The consumer-visible high watermark: min LEO over {leader} ∪
    * {in-sync followers}. Sync mode: the leader's LEO (followers hold
    * every acked record already). An EVICTED laggard does not hold
    * the watermark back — that is the point of ISR shrink.
    */
  private[kafka] def visibleWatermark(topic: String, partition: Int,
      leaderId: Int, leaderLeo: Long): Long = asyncLagMs match {
    case None => leaderLeo
    case Some(_) =>
      replicasOf(partition).foldLeft(leaderLeo) { (hw, id) =>
        if (id == leaderId || !isAlive(id) ||
            !inSyncFollower(id, topic, partition)) hw
        else math.min(hw, brokers(id).highWatermark(topic, partition))
      }
  }

  /** Freeze follower `id`'s chaser: it stops applying (mid-apply
    * batches finish) and starts falling behind — past `asyncLagMs` it
    * drops out of every lagging partition's ISR. Async mode only.
    */
  def pauseReplication(id: Int): Unit = {
    require(channels != null, "pauseReplication needs asyncLagMs")
    channels(id).paused = true
  }

  /** Release follower `id`'s chaser: it drains its backlog in order
    * and re-enters the ISR once caught up (shrink → expand).
    */
  def resumeReplication(id: Int): Unit = {
    require(channels != null, "resumeReplication needs asyncLagMs")
    channels(id).paused = false
  }

  /** Rethrow a recorded chaser failure, so a halted follower's
    * replication surfaces at the next observation point instead of
    * hanging acks/awaits forever.
    */
  private def checkReplicationFailure(): Unit =
    if (channels != null) {
      var i = 0
      while (i < channels.length) {
        val f = channels(i).failure
        if (f != null) throw new IllegalStateException(
          s"replication chaser for broker $i died: ${f.getMessage}", f)
        i += 1
      }
    }

  /** Unapplied batches on follower `id`'s channel (its total lag). */
  def replicationLag(id: Int): Int =
    if (channels == null) 0
    else {
      val f = channels(id).failure
      if (f != null) throw new IllegalStateException(
        s"replication chaser for broker $id died: ${f.getMessage}", f)
      channels(id).lagBatches
    }

  /** Block until follower `id` has applied its whole backlog (or the
    * timeout passes); true iff caught up.
    */
  def awaitCaughtUp(id: Int, timeoutMs: Long = 5000): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (replicationLag(id) > 0 && System.nanoTime() < deadline)
      replMonitor.synchronized(replMonitor.wait(1))
    replicationLag(id) == 0
  }

  /** Kill broker `id`: its sockets die (live connections reset, not
    * polite errors), every partition it led promotes the next alive
    * IN-SYNC replica with a bumped leader epoch, coordination moves to
    * each key's next alive standby. Fails loudly if a led partition
    * would be left with NO alive replica (acked-data loss) or with
    * only EVICTED laggards alive — promoting a laggard whose log is
    * missing acked records would be an unclean leader election
    * silently turning lag tolerance into data loss; like a real
    * cluster with `unclean.leader.election.enable=false`, we refuse
    * (there the partition goes offline until an ISR member returns —
    * here, in a test harness, that is a test bug worth an exception).
    *
    * Async mode also runs the leader-epoch truncation step of a real
    * failover: the promoted replica stops fetching the partition (its
    * pending UN-acked backlog from the dead leader is purged — those
    * records were never acked, the barrier was still waiting on this
    * in-sync replica), and every other alive follower is re-baselined
    * to the new leader's log, since it may have applied un-acked
    * records the new leader dropped (or missed ones it kept). Unlike
    * [[restartBroker]]'s catch-up (live-leader chase since r15),
    * PROMOTION-TIME truncation still assumes a quiesced window for
    * the affected partitions — live fetch-protocol truncation during
    * an election is out of scope (COVERAGE.md); the election itself
    * already serializes produce via the leader epoch bump.
    */
  def failBroker(id: Int): Unit = leaderLock.synchronized {
    require(isAlive(id), s"broker $id already failed")
    val allTopics = brokers.flatMap(_.topics).toSet
    // compute every promotion BEFORE mutating any state, so a refused
    // election (exception below) leaves the cluster untouched
    val newLeaders = leaderMap.map { case (p, leader) =>
      if (leader != id) p -> leader
      else {
        val alive = replicasOf(p).filter(r => r != id && isAlive(r))
        if (alive.isEmpty) throw new IllegalStateException(
          s"partition $p lost its last replica (rf=$replicationFactor)")
        val promoted = alive
          .find(r => allTopics.forall(t => inSyncFollower(r, t, p)))
          .getOrElse(throw new IllegalStateException(
            s"partition $p has no in-sync replica to promote (alive " +
              s"laggards: ${alive.mkString(",")}) — refusing unclean " +
              "leader election: a laggard's log is missing acked records"))
        p -> promoted
      }
    }
    // epoch truncation (async mode), before publishing the new map
    if (channels != null) newLeaders.foreach { case (p, promoted) =>
      if (leaderMap(p) == id) allTopics.foreach { t =>
        channels(promoted).purgePartition(t, p)
        replicasOf(p).foreach { r =>
          if (r != id && r != promoted && isAlive(r)) {
            channels(r).purgePartition(t, p)
            brokers(r).installSnapshot(t, p,
              brokers(promoted).snapshotPartition(t, p))
          }
        }
      }
    }
    // publish the PROMOTED leader map FIRST, then flip alive and kill
    // sockets: metadataResponse reads both without this lock, and the
    // reverse order has a window where a survivor serves a broker list
    // without `id` but a leader map still naming it — a routing
    // client's refresh would then see a leader id absent from the
    // broker list mid-failover
    newLeaders.foreach { case (p, _) =>
      if (leaderMap(p) == id) leaderEpochs += p -> (leaderEpochs(p) + 1)
    }
    leaderMap = newLeaders
    aliveArr.synchronized { aliveArr(id) = false }
    if (channels != null) channels(id).clear()
    brokers(id).stop()
  }

  /** Restart a failed broker: it re-binds (on a fresh port — metadata
    * propagates the new endpoint, clients re-route on refresh), CATCHES
    * UP every partition it replicates against a LIVE leader, then
    * rejoins the alive set — resuming follower duty and, where it is
    * first in a standby list, coordination. Leadership does NOT move
    * back (no preferred-leader election, like a real cluster until one
    * is triggered).
    *
    * Live-leader catch-up (async mode): the leader keeps accepting
    * produce throughout. For each partition, the snapshot point is
    * taken under the leader's append lock and — in the same critical
    * section — the restarting replica's live-replication gate opens
    * ([[recoveringAccept]]), so appends before the point are in the
    * snapshot and appends after it queue on the replica's channel in
    * order; the channel is held PAUSED until every baseline is
    * installed, then released to drain the backlog — the follower-pull
    * fetch loop's restart-recovery shape, with the wire hop collapsed.
    * ISR re-entry follows the `replica.lag.time.max.ms` rule like any
    * laggard: the rejoined broker stays out of the ISR (holding no
    * acks, invisible to the watermark) until its oldest pending batch
    * is younger than the grace — shrink → chase → expand. Sync mode
    * has no observable lag: the snapshot under the append lock IS the
    * catch-up, and the alive flip below makes subsequent pushes land
    * directly.
    *
    * Coordinator state (group offsets, txn producers) still merges
    * from the alive holders as of the restart — a commit racing the
    * merge reaches the rejoined standby on its NEXT mutation (mirrors
    * are per-mutation), the same convergence a real __consumer_offsets
    * follower gets from its own fetch loop.
    */
  def restartBroker(id: Int): Unit = leaderLock.synchronized {
    require(!isAlive(id), s"broker $id is alive; nothing to restart")
    // async mode: anything enqueued while dead was skipped (enqueue
    // checks isAlive), but a batch the chaser was holding mid-death
    // must not outlive the snapshot baseline installed below; and the
    // chaser stays PAUSED through the install so a post-snapshot-point
    // append can never land on a log its baseline hasn't reached yet
    if (channels != null) {
      channels(id).clear()
      channels(id).paused = true
    }
    brokers(id).start()
    val topics = aliveBrokers.flatMap(_.topics).toSet
    for (p <- 0 until numPartitions if replicasOf(p).contains(id)) {
      val leader = brokers(leaderOf(p))
      topics.foreach { t =>
        val snap = leader.snapshotPartition(t, p, s0 => {
          // inside the leader's append lock: from this exact point the
          // live leader's appends flow to the recovering replica. Sync
          // mode must install the baseline HERE (the next push applies
          // the moment the lock releases); async installs after —
          // the paused chaser holds the queued backlog until then.
          if (channels == null) brokers(id).installSnapshot(t, p, s0)
          recoveringAccept.add((id, t, p)); ()
        })
        if (channels != null) brokers(id).installSnapshot(t, p, snap)
      }
    }
    // group offsets: merge every alive holder's entries for groups this
    // broker stands by for (the __consumer_offsets partitions it hosts)
    aliveBrokers.foreach { b =>
      b.groupOffsetEntries.foreach { case ((group, topic, partition), (off, meta)) =>
        if (coordinatorReplicas(group).contains(id))
          brokers(id).mirrorGroupOffset(group, topic, partition, off, meta)
      }
    }
    // transaction-coordinator state: same standby-mirror catch-up, so
    // the rejoined broker can fence/abort correctly if coordination
    // for a transactional id falls back to it later
    aliveBrokers.foreach { b =>
      b.txnStateEntries.foreach { case (txnId, p, parts) =>
        if (coordinatorReplicas(txnId).contains(id))
          brokers(id).mirrorTxnState(txnId, p, parts)
      }
    }
    aliveArr.synchronized { aliveArr(id) = true }
    // alive now gates enqueue on its own; drop the recovery gate and
    // release the chaser to drain the catch-up backlog in order
    recoveringAccept.removeIf(_._1 == id)
    if (channels != null) channels(id).paused = false
  }

  /** Preferred-leader election (`auto.leader.rebalance.enable` /
    * `kafka-leader-election.sh --election-type preferred` — the
    * controller's periodic imbalance check collapsed to an explicit
    * trigger): every partition whose current leader is not the FIRST
    * replica of its assignment moves leadership back to that preferred
    * replica with a bumped leader epoch, PROVIDED the preferred
    * replica is alive and in sync. Without this, [[restartBroker]]
    * never moves leadership back, so a rolling restart permanently
    * skews leader placement toward whichever brokers died last — the
    * exact imbalance the real controller's trigger exists to undo. A
    * partition whose preferred replica is dead or lagging is left
    * alone (the controller's rule: preferred election is never
    * unclean).
    *
    * Zero acked-record loss: in async mode the flip first waits for
    * the preferred replica to fully DRAIN its replication channel for
    * the partition — in-sync tolerates `replica.lag.time` of backlog,
    * but a handover needs log equality — so at the flip instant its
    * log holds every record the outgoing leader ever acked and no
    * truncation step is needed (unlike [[failBroker]] promotion).
    * Like the promotion path, the election assumes a quiesced window
    * for the affected partitions; produce serialization across the
    * flip is the epoch bump + NOT_LEADER re-route, same as failover.
    */
  def electPreferredLeaders(timeoutMs: Long = 5000): Unit =
    leaderLock.synchronized {
      val allTopics = brokers.flatMap(_.topics).toSet
      leaderMap.toSeq.sortBy(_._1).foreach { case (p, current) =>
        val preferred = replicasOf(p).head
        if (preferred != current && isAlive(preferred) &&
            allTopics.forall(t => inSyncFollower(preferred, t, p))) {
          if (channels != null) {
            val deadline = System.nanoTime() + timeoutMs * 1000000L
            while (allTopics.exists(t =>
                channels(preferred).oldestPendingNanos(t, p).nonEmpty)) {
              if (channels(preferred).failure != null)
                throw new IllegalStateException(
                  s"preferred election: replica $preferred's chaser died",
                  channels(preferred).failure)
              if (System.nanoTime() > deadline)
                throw new IllegalStateException(
                  s"preferred election: replica $preferred did not drain " +
                    s"partition $p within ${timeoutMs}ms")
              replMonitor.synchronized(replMonitor.wait(1))
            }
          }
          leaderEpochs += p -> (leaderEpochs(p) + 1)
          leaderMap += p -> preferred
        }
      }
    }

  /** Any ALIVE broker bootstraps the whole cluster; use the first. */
  def bootstrap: String = aliveBrokers.head.bootstrap
  def bootstrapPort: Int = aliveBrokers.head.port

  def start(): Unit = {
    brokers.foreach(_.start())
    if (channels != null) channels.foreach(_.startChaser())
  }
  def stop(): Unit = {
    if (channels != null) channels.foreach(_.stopChaser())
    aliveBrokers.foreach(_.stop())
  }
}
