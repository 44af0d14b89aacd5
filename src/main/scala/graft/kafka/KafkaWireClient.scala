package graft.kafka

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.ByteBuffer

import KafkaCodec._

/** Minimal blocking Kafka protocol client (plain TCP, no external jar)
  * — the producer/consumer half of the executed S5/K2 path. One socket,
  * correlation-id-checked request/response, the same APIs the stub
  * broker speaks; a real broker with these versions enabled would
  * accept the identical bytes.
  *
  * Not thread-safe: one client per task/thread (the `kafka-wire`
  * connector's readers and writers, and [[KafkaWireExchange]]'s
  * fault-model producers, each open their own).
  */
final class KafkaWireClient(host: String, port: Int,
    clientId: String = "graft",
    sasl: Option[KafkaWireClient.SaslPlain] = None,
    requestTimeoutMs: Int = 30000,
    tls: Option[Tls.ClientTls] = None)
    extends KafkaOffsetClient with AutoCloseable {

  // bound the DIAL as well as reads: a blackholed endpoint (SYN drops,
  // not refusals) would otherwise pin the constructor for the kernel's
  // multi-minute connect timeout, out of reach of any failover loop
  private val socket: Socket = {
    val plain = new Socket()
    plain.connect(new java.net.InetSocketAddress(host, port), requestTimeoutMs)
    plain.setTcpNoDelay(true)
    // a HUNG broker must surface as a loud SocketTimeoutException (an
    // IOException, so routing clients fail over), never as a task
    // pinned forever in readInt — the request.timeout.ms discipline.
    // Safe here because fetches poll with max_wait_ms=0 (no long poll).
    plain.setSoTimeout(requestTimeoutMs)
    // security.protocol=SSL/SASL_SSL: TLS layers over the bounded plain
    // dial, handshake runs eagerly (a wrong certificate — or dialing a
    // plaintext listener — fails the constructor loudly), and the SASL
    // exchange below then rides INSIDE the encrypted session, which is
    // the whole point: PLAIN credentials never cross the wire in clear
    tls match {
      case None => plain
      case Some(cfg) =>
        try Tls.wrap(plain, host, port, cfg)
        catch { case e: Throwable => plain.close(); throw e }
    }
  }
  private val out = new DataOutputStream(socket.getOutputStream)
  private val in = new DataInputStream(socket.getInputStream)
  private var correlation = 0

  // SASL/PLAIN session setup, before any other request: SaslHandshake
  // v1 names the mechanism, then the RFC 4616 token rides inside a
  // SaslAuthenticate request (the v1-handshake framing; v0 would send
  // the bare token as an opaque frame). An unauthenticated client on a
  // SASL listener gets its first data request answered with a closed
  // socket, so this runs in the constructor — the session either
  // authenticates or never exists.
  sasl.foreach(authenticate)

  override def close(): Unit = socket.close()

  private def authenticate(cred: KafkaWireClient.SaslPlain): Unit = {
    val mech = cred.mechanism
    val hs = ByteBuffer.allocate(2 + mech.length)
    writeString(hs, mech)
    val hsResp = send(Api.SaslHandshake, 1, hs)
    val hsErr = hsResp.getShort.toInt
    val nMechs = hsResp.getInt
    val enabled = (0 until math.max(nMechs, 0)).map(_ => readString(hsResp))
    if (hsErr != Err.None) {
      // every constructor-failure path must close the socket: the
      // instance is never returned, so nothing else ever can
      socket.close()
      throw new IllegalArgumentException(
        s"SaslHandshake error $hsErr (broker mechanisms: ${enabled.mkString(",")})")
    }
    mech match {
      case "PLAIN" => authenticatePlain(cred)
      case "SCRAM-SHA-256" => authenticateScram(cred)
      case other =>
        socket.close()
        throw new IllegalArgumentException(s"unsupported SASL mechanism '$other'")
    }
  }

  /** One SaslAuthenticate round trip: returns (error, message,
    * auth_bytes) — the challenge-carrying field SCRAM rides in.
    */
  private def saslRound(token: Array[Byte]): (Int, String, Array[Byte]) = {
    val auth = ByteBuffer.allocate(4 + token.length)
    writeNullableBytes(auth, token)
    val resp = send(Api.SaslAuthenticate, 0, auth)
    val err = resp.getShort.toInt
    val msg = readNullableString(resp)
    val bytes = if (resp.hasRemaining) readNullableBytes(resp) else Array.empty[Byte]
    (err, msg, if (bytes == null) Array.empty[Byte] else bytes)
  }

  private def failAuth(err: Int, msg: String): Nothing = {
    socket.close()
    throw new SecurityException(
      s"SASL authentication failed (error $err): ${Option(msg).getOrElse("")}")
  }

  private def authenticatePlain(cred: KafkaWireClient.SaslPlain): Unit = {
    val user = cred.username.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val pass = cred.password.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val token = new Array[Byte](2 + user.length + pass.length)
    System.arraycopy(user, 0, token, 1, user.length) // [0]=NUL authzid
    System.arraycopy(pass, 0, token, 2 + user.length, pass.length)
    val (err, msg, _) = saslRound(token)
    if (err != Err.None) failAuth(err, msg)
  }

  /** RFC 5802/7677 exchange in two SaslAuthenticate round trips, with
    * the server's `v=` signature VERIFIED — a broker that never knew
    * the password fails here even if it waves the exchange through
    * (the mutual-auth guarantee PLAIN cannot give).
    */
  private def authenticateScram(cred: KafkaWireClient.SaslPlain): Unit = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val session = new Scram.Client(cred.username, cred.password)
    val (e1, m1, serverFirst) = saslRound(session.firstMessage.getBytes(utf8))
    if (e1 != Err.None) failAuth(e1, m1)
    val (finalMsg, expectedSig) =
      try session.finalMessage(new String(serverFirst, utf8))
      catch { case e: Exception => socket.close(); throw e }
    val (e2, m2, serverFinal) = saslRound(finalMsg.getBytes(utf8))
    if (e2 != Err.None) failAuth(e2, m2)
    if (!session.verifyServerFinal(new String(serverFinal, utf8), expectedSig)) {
      socket.close()
      throw new SecurityException(
        "SCRAM server signature verification failed — the broker did not " +
          "prove knowledge of the credential (possible impostor)")
    }
  }

  private def send(apiKey: Int, apiVersion: Int, body: ByteBuffer): ByteBuffer = {
    correlation += 1
    val header = ByteBuffer.allocate(10 + clientId.length * 4)
    header.putShort(apiKey.toShort)
    header.putShort(apiVersion.toShort)
    header.putInt(correlation)
    writeNullableString(header, clientId)
    header.flip()
    body.flip()
    out.writeInt(header.remaining() + body.remaining())
    out.write(header.array(), header.arrayOffset(), header.remaining())
    out.write(body.array(), body.arrayOffset() + body.position(), body.remaining())
    out.flush()
    val size = in.readInt()
    val resp = new Array[Byte](size)
    in.readFully(resp)
    val buf = ByteBuffer.wrap(resp)
    val cid = buf.getInt
    require(cid == correlation, s"correlation mismatch: sent $correlation got $cid")
    buf
  }

  /** ApiVersions v0 → api key → (min, max) supported version. */
  def apiVersions(): Map[Int, (Int, Int)] = {
    val resp = send(Api.ApiVersions, 0, ByteBuffer.allocate(0))
    val err = resp.getShort.toInt
    require(err == Err.None, s"ApiVersions error $err")
    val n = resp.getInt
    (0 until n).map { _ =>
      (resp.getShort.toInt, (resp.getShort.toInt, resp.getShort.toInt))
    }.toMap
  }

  import KafkaWireClient.{FetchResult, PartitionMeta, TopicMeta}

  /** Metadata v1 for ALL broker topics (topic array length -1 — the
    * protocol's "everything" request a subscribePattern resolves
    * against). Does not auto-create anything.
    */
  def allTopics(): Seq[String] = {
    val body = ByteBuffer.allocate(4)
    body.putInt(-1)
    metadataFrom(send(Api.Metadata, 1, body)).topics.map(_.topic)
  }

  /** Metadata v1 for the given topics (auto-creates on the stub). */
  def metadata(topics: Seq[String]): Seq[TopicMeta] =
    metadataFull(topics).topics

  /** Metadata v1 including the BROKER list — what a cluster-aware
    * client routes leaders from.
    */
  def metadataFull(topics: Seq[String]): KafkaWireClient.ClusterMeta = {
    val body = ByteBuffer.allocate(4 + topics.map(_.length * 4 + 2).sum)
    body.putInt(topics.size)
    topics.foreach(writeString(body, _))
    metadataFrom(send(Api.Metadata, 1, body))
  }

  private def metadataFrom(resp: ByteBuffer): KafkaWireClient.ClusterMeta = {
    val nBrokers = resp.getInt
    val brokers = (0 until nBrokers).map { _ =>
      val id = resp.getInt
      val host = readString(resp)
      val port = resp.getInt
      readNullableString(resp) // rack
      KafkaWireClient.BrokerMeta(id, host, port)
    }
    resp.getInt // controller_id
    val nTopics = resp.getInt
    val topics = (0 until nTopics).map { _ =>
      val err = resp.getShort.toInt
      val name = readString(resp)
      require(err == Err.None, s"Metadata error $err for topic $name")
      resp.get() // is_internal
      val nParts = resp.getInt
      val parts = (0 until nParts).map { _ =>
        val pErr = resp.getShort.toInt
        val p = resp.getInt
        val leader = resp.getInt
        require(pErr == Err.None, s"Metadata partition error $pErr")
        val nReplicas = resp.getInt
        val replicas = (0 until nReplicas).map(_ => resp.getInt)
        val nIsr = resp.getInt
        val isr = (0 until nIsr).map(_ => resp.getInt)
        PartitionMeta(p, leader, replicas, isr)
      }
      TopicMeta(name, parts)
    }
    KafkaWireClient.ClusterMeta(brokers, topics)
  }

  /** InitProducerId v0: the `enable.idempotence=true` handshake —
    * returns the (producerId, epoch) this producer stamps on every
    * batch so the broker can fence retried duplicates. With a non-null
    * `transactionalId` this is the TRANSACTIONAL handshake (KIP-98):
    * the same id always maps to the same pid with a bumped epoch, so a
    * restarted producer fences its predecessor and the broker aborts
    * whatever the old epoch left open.
    */
  def initProducerId(transactionalId: String = null): (Long, Short) = {
    val body = ByteBuffer.allocate(
      8 + (if (transactionalId == null) 0 else transactionalId.length * 4))
    writeNullableString(body, transactionalId)
    body.putInt(60000) // transaction_timeout_ms
    val resp = send(Api.InitProducerId, 0, body)
    resp.getInt // throttle_time_ms
    val err = resp.getShort.toInt
    require(err == Err.None, s"InitProducerId error $err")
    (resp.getLong, resp.getShort)
  }

  /** AddPartitionsToTxn v0: register partitions in the current
    * transaction (required before any transactional produce to them —
    * the coordinator must know where to write markers at EndTxn).
    */
  def addPartitionsToTxn(transactionalId: String, pid: Long, epoch: Short,
      topic: String, partitions: Seq[Int]): Unit = {
    val body = ByteBuffer.allocate(
      64 + transactionalId.length * 4 + topic.length * 4 + partitions.size * 4)
    writeString(body, transactionalId)
    body.putLong(pid)
    body.putShort(epoch)
    body.putInt(1) // one topic
    writeString(body, topic)
    body.putInt(partitions.size)
    partitions.foreach(body.putInt)
    val resp = send(Api.AddPartitionsToTxn, 0, body)
    resp.getInt // throttle_time_ms
    val nTopics = resp.getInt
    (0 until nTopics).foreach { _ =>
      readString(resp)
      val n = resp.getInt
      (0 until n).foreach { _ =>
        resp.getInt // partition
        val err = resp.getShort.toInt
        require(err == Err.None, s"AddPartitionsToTxn error $err")
      }
    }
  }

  /** EndTxn v0: commit (`commit = true`) or abort the current
    * transaction. The broker writes a control marker to every
    * registered partition; on abort it also records the aborted range
    * read_committed fetches report.
    */
  def endTxn(transactionalId: String, pid: Long, epoch: Short,
      commit: Boolean): Unit = {
    val body = ByteBuffer.allocate(16 + transactionalId.length * 4)
    writeString(body, transactionalId)
    body.putLong(pid)
    body.putShort(epoch)
    body.put((if (commit) 1 else 0).toByte)
    val resp = send(Api.EndTxn, 0, body)
    resp.getInt // throttle_time_ms
    val err = resp.getShort.toInt
    require(err == Err.None, s"EndTxn error $err")
  }

  /** Produce v3 (acks=-1): one record batch to one partition. Returns
    * the assigned base offset. `gzip = true` sends the batch with the
    * gzip codec bits set (the producer `compression.type=gzip` config).
    * A non-negative `producerId` (from [[initProducerId]]) plus
    * `baseSequence` makes the batch idempotent: the broker accepts it
    * once and re-acks retries without re-appending.
    */
  def produce(topic: String, partition: Int,
      records: Seq[(Long, Array[Byte], Array[Byte])],
      gzip: Boolean = false,
      producerId: Long = -1L,
      producerEpoch: Short = -1,
      baseSequence: Int = -1,
      transactionalId: String = null): Long = {
    val recordSet = encodeBatch(0L, records, gzip, // broker assigns real base
      producerId, producerEpoch, baseSequence,
      transactional = transactionalId != null)
    val body = ByteBuffer.allocate(64 + topic.length * 4 + recordSet.length +
      (if (transactionalId == null) 0 else transactionalId.length * 4))
    writeNullableString(body, transactionalId)
    body.putShort(-1) // acks: all
    body.putInt(30000) // timeout_ms
    body.putInt(1) // one topic
    writeString(body, topic)
    body.putInt(1) // one partition
    body.putInt(partition)
    writeNullableBytes(body, recordSet)
    val resp = send(Api.Produce, 3, body)
    val nTopics = resp.getInt
    require(nTopics == 1, s"produce: expected 1 topic response, got $nTopics")
    readString(resp)
    val nParts = resp.getInt
    require(nParts == 1, s"produce: expected 1 partition response, got $nParts")
    resp.getInt // partition
    val err = resp.getShort.toInt
    val baseOffset = resp.getLong
    resp.getLong // log_append_time
    if (err != Err.None)
      throw new KafkaWireException(err, s"Produce error $err on $topic/$partition")
    baseOffset
  }

  /** Fetch v4 from one partition at the given offset.
    *
    * `readCommitted = true` sends isolation_level=1: the broker caps
    * the response at the last stable offset and reports aborted
    * transaction ranges, and this client drops the DATA records of
    * those ranges (from the range's first offset up to its ABORT
    * marker, or the end of the chunk when the marker is beyond it —
    * the standard consumer algorithm). Control (marker) records are
    * KEPT in the returned sequence, flagged `control = true`, so
    * callers can advance offsets past them; they are never data.
    */
  def fetch(topic: String, partition: Int, offset: Long,
      maxBytes: Int = 4 * 1024 * 1024,
      readCommitted: Boolean = false): FetchResult = {
    val body = ByteBuffer.allocate(64 + topic.length * 4)
    body.putInt(-1) // replica_id: consumer
    body.putInt(0) // max_wait_ms: don't block (AvailableNow-style poll)
    body.putInt(0) // min_bytes
    body.putInt(maxBytes)
    body.put((if (readCommitted) 1 else 0).toByte) // isolation_level
    body.putInt(1)
    writeString(body, topic)
    body.putInt(1)
    body.putInt(partition)
    body.putLong(offset)
    body.putInt(maxBytes)
    val resp = send(Api.Fetch, 4, body)
    resp.getInt // throttle
    val nTopics = resp.getInt
    require(nTopics == 1, s"fetch: expected 1 topic response, got $nTopics")
    readString(resp)
    val nParts = resp.getInt
    require(nParts == 1, s"fetch: expected 1 partition response, got $nParts")
    resp.getInt // partition
    val err = resp.getShort.toInt
    val hw = resp.getLong
    val lso = resp.getLong // last_stable_offset
    val nAborted = resp.getInt
    val aborted = (0 until nAborted).map(_ => (resp.getLong, resp.getLong))
    val recordSet = readNullableBytes(resp)
    val raw = if (err == Err.None) decodeBatches(recordSet) else Nil
    val records =
      if (!readCommitted || aborted.isEmpty) raw
      else {
        val abortMarkers: Map[Long, Seq[Long]] = raw
          .filter(r => r.control && ControlMarker.typeOf(r.key) == ControlMarker.Abort)
          .groupBy(_.producerId)
          .view.mapValues(_.map(_.offset).sorted).toMap
        raw.filter { r =>
          r.control || !aborted.exists { case (pid, first) =>
            pid == r.producerId && r.offset >= first &&
              abortMarkers.getOrElse(pid, Nil).find(_ >= first)
                .forall(marker => r.offset < marker)
          }
        }
      }
    FetchResult(hw, records, err, lso, aborted,
      raw.lastOption.map(_.offset + 1).getOrElse(-1L))
  }

  /** Consume a partition end-to-end: repeated fetches from `offset`
    * until the high watermark observed on the FIRST fetch is reached —
    * a bounded, AvailableNow-style drain. With `readCommitted` the
    * target is the first fetch's LAST STABLE offset instead, and only
    * committed data records come back. Control markers are consumed
    * for offset accounting but excluded from the result either way.
    */
  def fetchAll(topic: String, partition: Int, offset: Long = 0L,
      readCommitted: Boolean = false): Seq[WireRecord] = {
    val first = fetch(topic, partition, offset, readCommitted = readCommitted)
    if (first.errorCode != Err.None)
      throw new KafkaWireException(first.errorCode,
        s"fetch error ${first.errorCode} on $topic/$partition@$offset")
    val target = if (readCommitted) first.lastStableOffset else first.highWatermark
    val acc = Seq.newBuilder[WireRecord]
    acc ++= first.records
    var next = if (first.nextOffset >= 0) first.nextOffset else offset
    while (next < target) {
      val r = fetch(topic, partition, next, readCommitted = readCommitted)
      if (r.errorCode != Err.None)
        throw new KafkaWireException(r.errorCode, s"fetch error ${r.errorCode} at $next")
      require(r.nextOffset > next, s"stalled fetch at $next < target $target")
      acc ++= r.records
      next = r.nextOffset
    }
    acc.result().filterNot(_.control)
  }

  /** The partition's last stable offset (read_committed visibility
    * horizon). Probed AT the high watermark, where the fetch response
    * is header-only (empty-at-hw contract) — probing at offset 0 would
    * make the broker re-encode and ship a full batch from the log
    * head on every planning poll just to read one response field.
    */
  def lastStableOffset(topic: String, partition: Int): Long = {
    val hw = listOffset(topic, partition, -1L)
    val r = fetch(topic, partition, hw, maxBytes = 1, readCommitted = true)
    // an errored probe (stale leader between the two calls, unknown
    // partition) carries lso=0 — returning that would silently clamp a
    // read_committed plan's end offset to 0 and drop the partition's
    // data; surface the code so routing clients re-route instead
    if (r.errorCode != Err.None)
      throw new KafkaWireException(r.errorCode,
        s"LSO probe error ${r.errorCode} on $topic/$partition")
    r.lastStableOffset
  }

  /** ListOffsets v1: earliest (-2) or latest (-1) offset. */
  def listOffset(topic: String, partition: Int, timestamp: Long): Long = {
    val body = ByteBuffer.allocate(64 + topic.length * 4)
    body.putInt(-1) // replica_id
    body.putInt(1)
    writeString(body, topic)
    body.putInt(1)
    body.putInt(partition)
    body.putLong(timestamp)
    val resp = send(Api.ListOffsets, 1, body)
    val nTopics = resp.getInt
    require(nTopics == 1)
    readString(resp)
    val nParts = resp.getInt
    require(nParts == 1)
    resp.getInt // partition
    val err = resp.getShort.toInt
    if (err != Err.None)
      throw new KafkaWireException(err, s"ListOffsets error $err")
    resp.getLong // timestamp
    resp.getLong
  }

  /** FindCoordinator v0: discover the group coordinator — the broker a
    * consumer must address OffsetCommit/OffsetFetch to. Returns
    * (nodeId, host, port).
    */
  def findCoordinator(group: String): (Int, String, Int) = {
    val body = ByteBuffer.allocate(2 + group.length * 4)
    writeString(body, group)
    val resp = send(Api.FindCoordinator, 0, body)
    val err = resp.getShort.toInt
    if (err != Err.None)
      throw new KafkaWireException(err, s"FindCoordinator error $err for group $group")
    val nodeId = resp.getInt
    val host = readString(resp)
    val port = resp.getInt
    (nodeId, host, port)
  }

  /** OffsetCommit v2 in simple-consumer mode (generation -1, empty
    * member id — manual partition assignment, exactly the mode Spark's
    * stock connector runs its consumers in): store `offsets` (next
    * position to read, i.e. last processed + 1, the Kafka convention)
    * for `group`. Fails loudly on any per-partition error.
    */
  def commitOffsets(group: String, topic: String, offsets: Map[Int, Long],
      metadata: String = null, generation: Int = -1): Unit = {
    if (offsets.isEmpty) return
    val metaLen = if (metadata == null) 0 else metadata.length * 4
    val body = ByteBuffer.allocate(64 + group.length * 4 + topic.length * 4 +
      offsets.size * (16 + metaLen))
    writeString(body, group)
    body.putInt(generation) // -1 = simple consumer (manual assignment)
    writeString(body, "") // member_id
    body.putLong(-1L) // retention_time_ms: broker default
    body.putInt(1) // one topic
    writeString(body, topic)
    body.putInt(offsets.size)
    offsets.toSeq.sortBy(_._1).foreach { case (p, o) =>
      body.putInt(p)
      body.putLong(o)
      writeNullableString(body, metadata)
    }
    val resp = send(Api.OffsetCommit, 2, body)
    val nTopics = resp.getInt
    (0 until nTopics).foreach { _ =>
      readString(resp)
      val n = resp.getInt
      (0 until n).foreach { _ =>
        val p = resp.getInt
        val err = resp.getShort.toInt
        if (err != Err.None)
          throw new KafkaWireException(err, s"OffsetCommit error $err on $topic/$p")
      }
    }
  }

  /** OffsetFetch v1: the group's committed positions for `partitions`.
    * Partitions with no committed offset are ABSENT from the result
    * (the broker's -1 sentinel translated to "apply your reset
    * policy").
    */
  def committedOffsets(group: String, topic: String,
      partitions: Seq[Int]): Map[Int, Long] = {
    val body = ByteBuffer.allocate(
      64 + group.length * 4 + topic.length * 4 + partitions.size * 4)
    writeString(body, group)
    body.putInt(1)
    writeString(body, topic)
    body.putInt(partitions.size)
    partitions.foreach(body.putInt)
    val resp = send(Api.OffsetFetch, 1, body)
    val out = Map.newBuilder[Int, Long]
    val nTopics = resp.getInt
    (0 until nTopics).foreach { _ =>
      readString(resp)
      val n = resp.getInt
      (0 until n).foreach { _ =>
        val p = resp.getInt
        val offset = resp.getLong
        readNullableString(resp) // metadata
        val err = resp.getShort.toInt
        if (err != Err.None)
          throw new KafkaWireException(err, s"OffsetFetch error $err on $topic/$p")
        if (offset >= 0) out += p -> offset
      }
    }
    out.result()
  }

  // ---- classic consumer-group rebalance protocol (v0) ----

  /** JoinGroup v0. Pass an empty `memberId` on first join (the
    * coordinator assigns one); later rejoins reuse it. BLOCKS while
    * the coordinator completes the rebalance barrier (bounded by
    * `sessionTimeoutMs` server-side and `requestTimeoutMs` here).
    * Subscription `metadata` bytes are opaque to the broker — the
    * leader member interprets them when computing assignments, exactly
    * the real protocol's division of labor.
    */
  def joinGroup(group: String, memberId: String = "",
      sessionTimeoutMs: Int = 10000,
      protocols: Seq[(String, Array[Byte])] = Seq(("range", Array.empty[Byte])))
      : KafkaWireClient.JoinResult = {
    val body = ByteBuffer.allocate(256 + group.length * 4 +
      memberId.length * 4 + protocols.map(p => p._1.length * 4 + p._2.length + 8).sum)
    writeString(body, group)
    body.putInt(sessionTimeoutMs)
    writeString(body, memberId)
    writeString(body, "consumer")
    body.putInt(protocols.size)
    protocols.foreach { case (name, meta) =>
      writeString(body, name)
      writeNullableBytes(body, meta)
    }
    val resp = send(Api.JoinGroup, 0, body)
    val err = resp.getShort.toInt
    val generation = resp.getInt
    val protocol = readString(resp)
    val leaderId = readString(resp)
    val myId = readString(resp)
    val nMembers = resp.getInt
    val members = (0 until nMembers).map { _ =>
      val id = readString(resp)
      val meta = readNullableBytes(resp)
      (id, if (meta == null) Array.empty[Byte] else meta)
    }
    if (err != Err.None)
      throw new KafkaWireException(err, s"JoinGroup error $err for group $group")
    KafkaWireClient.JoinResult(generation, protocol, leaderId, myId, members)
  }

  /** SyncGroup v0: the leader passes the computed `assignments`
    * (member id -> opaque bytes), followers pass an empty map and
    * BLOCK until the leader's assignments land. Returns (error code,
    * this member's assignment bytes) — REBALANCE_IN_PROGRESS means
    * rejoin now; fencing errors (ILLEGAL_GENERATION /
    * UNKNOWN_MEMBER_ID) throw.
    */
  def syncGroup(group: String, generation: Int, memberId: String,
      assignments: Map[String, Array[Byte]] = Map.empty)
      : (Int, Array[Byte]) = {
    val body = ByteBuffer.allocate(256 + group.length * 4 +
      memberId.length * 4 +
      assignments.map(a => a._1.length * 4 + a._2.length + 8).sum)
    writeString(body, group)
    body.putInt(generation)
    writeString(body, memberId)
    body.putInt(assignments.size)
    assignments.toSeq.sortBy(_._1).foreach { case (id, bytes) =>
      writeString(body, id)
      writeNullableBytes(body, bytes)
    }
    val resp = send(Api.SyncGroup, 0, body)
    val err = resp.getShort.toInt
    val assignment = readNullableBytes(resp)
    if (err != Err.None && err != Err.RebalanceInProgress)
      throw new KafkaWireException(err, s"SyncGroup error $err for group $group")
    (err, if (assignment == null) Array.empty[Byte] else assignment)
  }

  /** Heartbeat v0. Returns the error code: NONE (still stable),
    * REBALANCE_IN_PROGRESS (rejoin now); fencing errors throw.
    */
  def heartbeat(group: String, generation: Int, memberId: String): Int = {
    val body = ByteBuffer.allocate(
      16 + group.length * 4 + memberId.length * 4)
    writeString(body, group)
    body.putInt(generation)
    writeString(body, memberId)
    val resp = send(Api.Heartbeat, 0, body)
    val err = resp.getShort.toInt
    if (err != Err.None && err != Err.RebalanceInProgress)
      throw new KafkaWireException(err, s"Heartbeat error $err for group $group")
    err
  }

  /** LeaveGroup v0: clean departure — the coordinator rebalances the
    * remaining members immediately instead of waiting out the session
    * timeout.
    */
  def leaveGroup(group: String, memberId: String): Unit = {
    val body = ByteBuffer.allocate(
      16 + group.length * 4 + memberId.length * 4)
    writeString(body, group)
    writeString(body, memberId)
    val resp = send(Api.LeaveGroup, 0, body)
    val err = resp.getShort.toInt
    if (err != Err.None)
      throw new KafkaWireException(err, s"LeaveGroup error $err for group $group")
  }

  /** OffsetCommit v2 as a GROUP MEMBER (generation + member id carried
    * for the coordinator's zombie fence) — the protocol-consumer twin
    * of [[commitOffsets]].
    */
  def commitOffsetsAs(group: String, topic: String, offsets: Map[Int, Long],
      generation: Int, memberId: String): Unit = {
    if (offsets.isEmpty) return
    val body = ByteBuffer.allocate(64 + group.length * 4 + topic.length * 4 +
      memberId.length * 4 + offsets.size * 20)
    writeString(body, group)
    body.putInt(generation)
    writeString(body, memberId)
    body.putLong(-1L)
    body.putInt(1)
    writeString(body, topic)
    body.putInt(offsets.size)
    offsets.toSeq.sortBy(_._1).foreach { case (p, o) =>
      body.putInt(p)
      body.putLong(o)
      writeNullableString(body, null)
    }
    val resp = send(Api.OffsetCommit, 2, body)
    val nTopics = resp.getInt
    (0 until nTopics).foreach { _ =>
      readString(resp)
      val n = resp.getInt
      (0 until n).foreach { _ =>
        val p = resp.getInt
        val err = resp.getShort.toInt
        if (err != Err.None)
          throw new KafkaWireException(err, s"OffsetCommit error $err on $topic/$p")
      }
    }
  }

}

/** The metadata/offset surface the DSv2 planner drives — implemented
  * by the single-socket [[KafkaWireClient]] (one broker is everything)
  * and the leader-routing [[KafkaClusterClient]] (each call lands on
  * the partition leader / group coordinator that owns it).
  */
trait KafkaOffsetClient extends AutoCloseable {
  def metadata(topics: Seq[String]): Seq[KafkaWireClient.TopicMeta]
  def allTopics(): Seq[String]
  def listOffset(topic: String, partition: Int, timestamp: Long): Long
  def lastStableOffset(topic: String, partition: Int): Long
  def commitOffsets(group: String, topic: String, offsets: Map[Int, Long],
      metadata: String, generation: Int): Unit
  def committedOffsets(group: String, topic: String,
      partitions: Seq[Int]): Map[Int, Long]

  /** Per-partition consumer lag for `group` on `topic`: committed
    * position (0 when none) vs the latest log offset — the relation a
    * lag monitor (Burrow, kafka-consumer-groups) derives from the same
    * two APIs. O(partitions) metadata round trips, no record reads;
    * on a cluster-routing client the commits read from the
    * coordinator and the ends from each leader.
    */
  final def groupLag(group: String, topic: String,
      partitions: Seq[Int]): Seq[(Int, Long, Long, Long)] = {
    val committed = committedOffsets(group, topic, partitions)
    partitions.sorted.map { p =>
      val c = committed.getOrElse(p, 0L)
      val end = listOffset(topic, p, -1L)
      (p, c, end, math.max(0L, end - c))
    }
  }
}

object KafkaWireClient {
  /** SASL credentials. Historically PLAIN-only (hence the name, kept
    * for source stability across the 12 conf/call sites that carry
    * it); since round 10 `mechanism` selects the exchange — "PLAIN"
    * (RFC 4616, the password crosses the wire, pair it with TLS) or
    * "SCRAM-SHA-256" (RFC 5802/7677 challenge-response, see [[Scram]]:
    * the password NEVER crosses the wire and the server proves itself
    * back). Carried in connector conf and task binaries exactly like
    * the stock `kafka.sasl.jaas.config` — a deployment secret.
    */
  final case class SaslPlain(username: String, password: String,
      mechanism: String = "PLAIN")

  object SaslPlain {
    private val JaasField = """(username|password)\s*=\s*"((?:[^"\\]|\\.)*)"""".r

    /** Parse the STOCK connector's `kafka.sasl.jaas.config` value —
      * `org.apache...PlainLoginModule required username="u" password="p";`
      * — accepting any login-module class name (only the two fields
      * matter to a PLAIN client) and JAAS's backslash escapes.
      */
    def fromJaas(config: String): SaslPlain = {
      val fields = JaasField.findAllMatchIn(config)
        .map(m => m.group(1) -> m.group(2).replaceAll("""\\(.)""", "$1")).toMap
      require(fields.contains("username") && fields.contains("password"),
        "sasl.jaas.config must carry username=\"...\" and password=\"...\"")
      SaslPlain(fields("username"), fields("password"))
    }
  }

  /** JoinGroup result: `members` (id -> subscription bytes) is
    * populated only for the elected leader, which computes the
    * assignment — the real protocol's contract.
    */
  final case class JoinResult(generation: Int, protocol: String,
      leaderId: String, memberId: String,
      members: Seq[(String, Array[Byte])]) {
    def isLeader: Boolean = memberId == leaderId
  }

  /** Client-side range assignor — the LEADER member's job in the real
    * protocol (the coordinator only relays bytes): members sorted,
    * contiguous partition ranges, the first `partitions % members`
    * members take one extra. Matches Kafka's RangeAssignor for a
    * single topic.
    */
  def rangeAssign(memberIds: Seq[String],
      partitions: Seq[Int]): Map[String, Seq[Int]] = {
    val ms = memberIds.sorted
    val ps = partitions.sorted
    val base = ps.size / ms.size
    val extra = ps.size % ms.size
    var idx = 0
    ms.zipWithIndex.map { case (m, i) =>
      val take = base + (if (i < extra) 1 else 0)
      val slice = ps.slice(idx, idx + take)
      idx += take
      m -> slice
    }.toMap
  }

  /** Assignment-bytes codec for [[rangeAssign]] results — opaque to
    * the broker (it relays them verbatim), shared by both ends of the
    * client: `topic:p1,p2,...` UTF-8.
    */
  def encodeAssignment(topic: String, partitions: Seq[Int]): Array[Byte] =
    s"$topic:${partitions.sorted.mkString(",")}"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  def decodeAssignment(bytes: Array[Byte]): (String, Seq[Int]) = {
    val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    val i = s.lastIndexOf(':')
    val ps = s.substring(i + 1)
    (s.substring(0, i),
      if (ps.isEmpty) Nil else ps.split(",").map(_.toInt).toSeq)
  }

  final case class PartitionMeta(partition: Int, leader: Int,
      replicas: Seq[Int] = Nil, isr: Seq[Int] = Nil)
  final case class TopicMeta(topic: String, partitions: Seq[PartitionMeta])
  final case class BrokerMeta(nodeId: Int, host: String, port: Int)
  final case class ClusterMeta(brokers: Seq[BrokerMeta], topics: Seq[TopicMeta])
  /** `nextOffset` is the advance cursor: one past the last RAW record
    * in the response (aborted-range records are dropped from `records`
    * under read_committed, so `records.last.offset` alone could stall
    * a consumer on a chunk that was entirely aborted data). -1 when the
    * response carried no records.
    */
  final case class FetchResult(highWatermark: Long,
      records: Seq[KafkaCodec.WireRecord], errorCode: Int,
      lastStableOffset: Long = -1L,
      abortedTxns: Seq[(Long, Long)] = Nil,
      nextOffset: Long = -1L)
}
