package graft.sources.replay

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException, IOException}
import java.net.{ServerSocket, Socket}

/** Wire-faithful single-node Kafka broker double for [[KafkaLogClient]]:
  * speaks the exact protocol subset the client consumes — Metadata v0 AND
  * the flexible (KIP-482) v9, ListOffsets v1/v2 AND the flexible v6,
  * Fetch v4 AND the flexible v12 with RecordBatch v2, ApiVersions v0 AND
  * the flexible v3, Produce v3 AND the flexible v9
  * (+CRC-32C verification and idempotent-producer sequence absorption,
  * shared verbatim between both Produce envelopes),
  * InitProducerId v0 — serving one
  * topic from a file-backed [[ReplayLog]] directory. Lives in MAIN scope
  * (like [[SocketLogServer]], the socket backend's double) so the declared
  * registry queries s56/s57 can run the kafka wire client and the produce
  * sink through the driver's DuckDB correctness gate, not just the specs;
  * the fault-injection knobs (truncateTail, forgeScramServerSig,
  * dropProduceResponses, apiVersionsError, legacyMagic) are all off by
  * default and only exercised from the test suites. Persistent connections
  * (the client's frame cursor issues sequential Fetch requests on one
  * socket). Batches are capped at [[batchRecords]] records so a ranged read
  * exercises the multi-batch and multi-fetch decode paths, and the tail of
  * each record_set can be truncated mid-batch via [[truncateTail]] to prove
  * the client's partial-batch handling (brokers cut at max_bytes).
  * `codec` (0 none, 1 gzip, 2 snappy, 3 lz4, 4 zstd) compresses each batch's
  * records section exactly as the official producers do, so the client's
  * decompression path is exercised against real codec framings.
  *
  * CRC is written as 0 — the consumer-side client does not verify it (as
  * documented on KafkaLogClient); everything else is encoded per the public
  * protocol spec. Timestamps are milliseconds on the wire, so the ReplayLog's
  * µs event times truncate to ms — exactly what a real broker round-trip
  * does.
  */
final class KafkaLogServer(dir: String, topic: String,
    batchRecords: Int = 200, truncateTail: Boolean = false,
    port: Int = 0, codec: Int = 0,
    sasl: Option[(String, String)] = None,
    oauthToken: Option[String] = None,
    tlsKeystore: Option[(String, String)] = None,
    forgeScramServerSig: Boolean = false,
    legacyMagic: Option[Int] = None,
    advertiseApis: Option[Seq[(Short, Short, Short)]] = None,
    apiVersionsError: Short = 0,
    explicitPartitions: Option[Seq[Int]] = None,
    requireCreate: Boolean = false,
    maxReauthMs: Long = 0L) extends AutoCloseable {
  import KafkaWire._

  require(legacyMagic.forall(m => m == 0 || m == 1),
    s"legacyMagic must be 0 or 1, got $legacyMagic")

  private val saslMechs =
    Seq("PLAIN", "SCRAM-SHA-256", "SCRAM-SHA-512", "OAUTHBEARER")
  private def saslEnabled = sasl.isDefined || oauthToken.isDefined

  /** ApiVersions advertisement: a modern broker's ranges for the APIs this
    * double serves (overridable per test to simulate a broker that dropped
    * the client's pinned versions). */
  private val apiRanges: Seq[(Short, Short, Short)] =
    advertiseApis.getOrElse(Seq[(Short, Short, Short)](
      (0, 0, 9), (1, 0, 13), (2, 0, 7), (3, 0, 12), (8, 0, 8), (9, 0, 8),
      (10, 0, 4), (11, 0, 9), (12, 0, 4), (13, 0, 5), (14, 0, 5), (17, 0, 1),
      (18, 0, 3), (19, 0, 7), (22, 0, 4), (24, 0, 3), (25, 0, 3), (26, 0, 3),
      (28, 0, 3), (36, 0, 2)))

  // TLS listener: keystore (path, password) holds the broker's key+cert —
  // the exact shape a real broker's ssl.keystore.location configures
  private val server: ServerSocket = tlsKeystore match {
    case None => new ServerSocket(port)
    case Some((loc, pw)) =>
      val ks = java.security.KeyStore.getInstance(
        new java.io.File(loc), pw.toCharArray)
      val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
        javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
      kmf.init(ks, pw.toCharArray)
      val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
      ctx.init(kmf.getKeyManagers, null, null)
      ctx.getServerSocketFactory.createServerSocket(port)
  }
  @volatile private var closed = false

  /** Low watermark per partition — the log-start offset a real broker
    * persists on truncation. Fetches below it answer OFFSET_OUT_OF_RANGE
    * and ListOffsets earliest returns it instead of 0; records themselves
    * stay in the double's storage (like segment files awaiting cleanup)
    * but are unreachable through the protocol. */
  private val logStart =
    new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private def logStartOffset(p: Int): Long =
    Option(logStart.get(p)).fold(0L)(_.longValue)

  /** Test seam: truncate partition p below `before`, the state a broker
    * reaches after retention or an operator's record deletion. The low
    * watermark only moves forward; a point past the log end is refused. */
  private[replay] def truncateLog(p: Int, before: Long): Unit = {
    require(before <= endOffset(p),
      s"truncation point $before is past the log end ${endOffset(p)} of p$p")
    logStart.put(p, math.max(logStartOffset(p), before))
  }

  /** A real broker's default `max.message.bytes`: a produced batch larger
    * than this answers MESSAGE_TOO_LARGE (10). */
  private val maxMessageBytes = 1048588

  /** (group, topic, partition) → committed offset — the coordinator state. */
  private val committedStore =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int), java.lang.Long]()

  /** Group-membership coordinator (JoinGroup/SyncGroup/Heartbeat/LeaveGroup
    * + OffsetCommit generation fencing) — see [[GroupCoordinator]]. */
  private[replay] val groupCoordinator = new GroupCoordinator

  /** One stored batch of the produced tail. Real broker logs are BATCH
    * sequences, not flat record lists — transaction semantics live on the
    * batch (producer identity, the transactional attribute bit, control
    * markers), so the tail preserves batch boundaries and Fetch re-serves
    * whole batches at their assigned base offsets (clients filter records
    * below the fetch offset, exactly as against a real broker).
    * `control` = Some(committed) makes this a one-record control marker. */
  private final class TailBatch(val base: Long,
      val recs: Seq[(Array[Byte], Array[Byte], Long)],
      val pid: Long, val epoch: Short, val baseSeq: Int,
      val transactional: Boolean, val control: Option[Boolean]) {
    // computed ONCE: recs may be a List, whose .size is O(n) — every
    // endOffset/fetch walks all entries, so a per-call size turned the
    // whole produce/consume path quadratic (caught by stack sampling at
    // the ×30 spot: 90% of samples inside List.length)
    val size: Int = recs.size
    val end: Long = base + size
  }

  /** Per-partition produced tail: batches appended via Produce (and txn
    * control markers) live here, logically after the file-backed base log,
    * and are served back through ListOffsets/Fetch like any broker log
    * segment. */
  private val produced = new java.util.concurrent.ConcurrentHashMap[
    Int, scala.collection.mutable.ArrayBuffer[TailBatch]]()

  /** Wire-created topic (CreateTopics, api 19): (name, partition ids).
    * `requireCreate = true` starts the broker TOPICLESS — every topic
    * request answers UNKNOWN_TOPIC_OR_PARTITION until an admin client
    * creates one, exactly the pre-harness state of a real test broker
    * (the reference creates its topics through rdkafka's AdminClient,
    * `tests/utils.rs:104-117`). The double stays single-topic by design:
    * creating a second distinct topic answers INVALID_REQUEST. */
  @volatile private var created: Option[(String, Seq[Int])] = None
  /** The topic this broker currently serves, if any. */
  private def activeTopic: Option[String] =
    created.map(_._1).orElse(if (requireCreate) None else Some(topic))
  private def partitionIds: Seq[Int] =
    created.map(_._2).getOrElse(
      if (requireCreate) Nil
      else explicitPartitions.getOrElse(ReplayLog.listPartitions(dir)))
  private def baseCount(p: Int): Long =
    if ((explicitPartitions.isDefined || requireCreate) &&
        !ReplayLog.logFile(dir, p).exists()) 0L
    else ReplayLog.safeRecordCount(dir, p)
  private def producedTail(p: Int) = produced.computeIfAbsent(p,
    _ => scala.collection.mutable.ArrayBuffer.empty)
  private def endOffset(p: Int): Long = baseCount(p) + producedCount(p).toLong

  /** Test-visible count of records appended to partition p via Produce,
    * INCLUDING transaction control markers (they occupy log offsets).
    * O(1): offsets are assigned contiguously, so the last entry's end IS
    * the count (summing per-entry sizes here made every wire request
    * O(#batches)). */
  def producedCount(p: Int): Int = {
    val tail = producedTail(p)
    tail.synchronized {
      tail.lastOption.fold(0L)(_.end - baseCount(p)).toInt
    }
  }

  // ---- transaction coordinator state ---------------------------------------
  /** transactional id → (producer id, CURRENT epoch). Re-registering a
    * known transactional id keeps the pid and bumps the epoch — the
    * fencing handshake: every in-flight request still carrying the old
    * epoch is a ZOMBIE and gets rejected, exactly how Kafka guarantees a
    * restarted exactly-once producer cannot be raced by its predecessor. */
  private val txnProducers =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Short)]()
  /** Open transaction per producer id: partitions added via
    * AddPartitionsToTxn, plus the first data offset written per partition
    * (the LSO floor and, on abort, the aborted-span start). */
  private final class OpenTxn(timeoutMs: Int) {
    val partitions = scala.collection.mutable.Set.empty[Int]
    val firstOffsets = scala.collection.mutable.Map.empty[Int, Long]
    /** Consumer offsets STAGED inside this transaction (TxnOffsetCommit,
      * api 28): (group, topic, partition) → offset. Real coordinators
      * write these to __consumer_offsets with the transactional marker —
      * they become visible ONLY when the commit marker lands; an abort
      * (including the timeout reaper's and the fencing abort) drops them.
      * The exactly-once consume-transform-produce contract. */
    val stagedOffsets =
      scala.collection.mutable.Map.empty[(String, String, Int), Long]
    /** transaction.timeout.ms deadline — crossed = reaped (abort + fence). */
    val deadline: Long = System.currentTimeMillis() + math.max(timeoutMs, 1)
  }
  /** pid → registered transaction timeout (from InitProducerId). */
  private val txnTimeouts =
    new java.util.concurrent.ConcurrentHashMap[Long, Integer]()
  private val openTxns =
    new java.util.concurrent.ConcurrentHashMap[Long, OpenTxn]()
  /** Per-partition ABORTED spans: (producer id, first offset, marker
    * offset). Fetch serves the (pid, firstOffset) pairs whose MARKER lies
    * at or beyond the fetch offset — a span whose marker the consumer has
    * already passed must NOT be re-served: the client's scan activates any
    * span with firstOffset <= batch base and only deactivates it when it
    * crosses the marker batch, so re-serving a closed span to a fetch that
    * starts after its marker would hide the same producer's LATER
    * COMMITTED data (exactly how a real broker's txn index filters). */
  private val abortedTxns = new java.util.concurrent.ConcurrentHashMap[
    Int, scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]]()
  private def abortedOf(p: Int) = abortedTxns.computeIfAbsent(p,
    _ => scala.collection.mutable.ArrayBuffer.empty)

  /** End pid's open transaction: one control marker per touched partition
    * (the coordinator's WriteTxnMarkers step); aborts also record the span
    * for Fetch's aborted_transactions list. No-op without an open txn.
    * ORDERING: markers + abort spans land BEFORE the txn leaves openTxns —
    * removing first would advance the LSO past still-unmarked aborted data
    * and a concurrent read_committed fetch in that window would serve it
    * as committed. */
  private def endOpenTxn(pid: Long, commit: Boolean): Unit = {
    val txn = openTxns.get(pid)
    if (txn != null) {
      val parts = txn.synchronized { txn.partitions.toSeq.sorted }
      parts.foreach { p =>
        val tail = producedTail(p)
        tail.synchronized {
          val markerOff = tail.lastOption.fold(baseCount(p))(_.end)
          tail += new TailBatch(markerOff, Seq((null, null,
            System.currentTimeMillis())), pid, 0, -1,
            transactional = true, control = Some(commit))
          if (!commit) {
            val first = txn.synchronized { txn.firstOffsets.get(p) }
            first.foreach { f =>
              abortedOf(p).synchronized {
                abortedOf(p) += ((pid, f, markerOff))
              }
            }
          }
        }
      }
      // staged consumer offsets (TxnOffsetCommit) land EXACTLY when the
      // transaction commits — an abort (incl. the reaper's and the
      // fencing abort) drops them, never partially
      if (commit) txn.synchronized {
        txn.stagedOffsets.foreach { case (k, off) =>
          committedStore.put(k, off)
        }
      }
      openTxns.remove(pid)
    }
  }

  /** Fencing abort: a re-registered transactional id aborts its
    * predecessor's open transaction. */
  private def abortOpenTxn(pid: Long): Unit = endOpenTxn(pid, commit = false)

  /** Last stable offset: everything below it is transactionally decided.
    * With open transactions on p, the LSO is the earliest still-undecided
    * data offset; otherwise the log end. Reaps expired transactions first
    * — the broker-side transaction.timeout.ms guarantee that a writer
    * which died without abort() cannot pin the LSO forever. */
  private def lastStable(p: Int): Long = {
    reapExpiredTxns()
    import scala.jdk.CollectionConverters._
    val floors = openTxns.values.asScala
      .flatMap(t => t.synchronized { t.firstOffsets.get(p) })
    if (floors.isEmpty) endOffset(p) else floors.min
  }

  /** Abort every open transaction past its timeout deadline and FENCE its
    * producer (epoch bump), exactly what a real coordinator's
    * transaction.timeout.ms reaper does: the dead writer's data becomes
    * permanently invisible, the LSO advances, and a zombie that wakes up
    * later is rejected rather than resumed. */
  private def reapExpiredTxns(): Unit = {
    import scala.jdk.CollectionConverters._
    val now = System.currentTimeMillis()
    openTxns.asScala.filter(_._2.deadline <= now).keys.toSeq.foreach { pid =>
      endOpenTxn(pid, commit = false)
      txnProducers.replaceAll((_, reg) =>
        if (reg._1 == pid) (reg._1, (reg._2 + 1).toShort) else reg)
    }
  }

  /** InitProducerId assignment counter + per-(pid, partition) last sequence
    * range and assigned base offset — the broker-side idempotence cache
    * (real brokers keep the last 5 ranges; one suffices for a retry-once
    * client). */
  private val pidCounter = new java.util.concurrent.atomic.AtomicLong(1000L)
  private val seqStore = new java.util.concurrent.ConcurrentHashMap[
    (Long, Int), (Int, Int, Long)]()

  /** Fault injection: when > 0, that many Produce requests are fully
    * PROCESSED (appended) but the response is withheld and the connection
    * killed — the ambiguous-failure window an idempotent producer's retry
    * must absorb. */
  @volatile var dropProduceResponses: Int = 0

  /** Test-visible view of a group's committed offsets for this topic. */
  def committed(group: String): Map[Int, Long] = {
    import scala.jdk.CollectionConverters._
    committedStore.asScala.collect {
      case ((g, t, p), off) if g == group && t == topic => p -> Long.unbox(off)
    }.toMap
  }

  def boundPort: Int = server.getLocalPort
  def address: String = s"127.0.0.1:$boundPort"
  /** value for the replay source's `path` option. */
  def clientPath: String = s"$address/$topic"

  private val acceptor = new Thread(() => {
    while (!closed) {
      try {
        val sock = server.accept()
        val t = new Thread(() => handle(sock), "fake-kafka-handler")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: IOException if closed =>
        case _: IOException =>
      }
    }
  }, "fake-kafka-acceptor")
  acceptor.setDaemon(true)
  acceptor.start()

  private def handle(sock: Socket): Unit = {
    try {
      sock.setTcpNoDelay(true)
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
      val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))
      // per-connection SASL session state — a real broker requires the
      // handshake + authenticate sequence on EVERY new connection of a
      // SASL listener before any other API is served
      var mechanism: String = null
      var authed = !saslEnabled
      // KIP-368 (connections.max.reauth.ms): a successful authentication
      // starts a session clock; v1+ SaslAuthenticate responses advertise
      // the lifetime, and a connection that keeps issuing data APIs past
      // it without re-authenticating is KILLED, like a real broker.
      var sessionExpiry = Long.MaxValue
      def markAuthed(): Unit = {
        authed = true
        if (maxReauthMs > 0)
          sessionExpiry = System.currentTimeMillis() + maxReauthMs
      }
      // OAUTHBEARER failure flow (RFC 7628 §3.2.3): after a bad token the
      // server sends the error JSON as a *challenge*, the client answers
      // with the dummy %x01 byte, and only then does the server fail the
      // authentication — this holds the JSON between those two legs
      var oauthErrJson: String = null
      // SCRAM server state between the two SaslAuthenticate legs:
      // (clientFirstBare, serverFirst, salt) — RFC 5802 server side
      var scramState: (String, String, Array[Byte]) = null
      // One SCRAM leg: (reply, authComplete, error). Real-credential
      // verification — the server recovers ClientKey from the proof and
      // checks H(ClientKey) == StoredKey, exactly like Kafka's
      // ScramSaslServer; `forgeScramServerSig` lets a test prove the
      // CLIENT verifies the server signature (mutual auth).
      def scramLeg(msg: String): (String, Boolean, String) = {
        val (user, pass) = sasl.get
        val shaAlgo = if (mechanism == "SCRAM-SHA-512") "SHA-512" else "SHA-256"
        val hmacAlgo = "Hmac" + shaAlgo.replace("-", "")
        def hmac(key: Array[Byte], data: String): Array[Byte] = {
          val m = javax.crypto.Mac.getInstance(hmacAlgo)
          m.init(new javax.crypto.spec.SecretKeySpec(key, hmacAlgo))
          m.doFinal(data.getBytes("UTF-8"))
        }
        def digest(d: Array[Byte]): Array[Byte] =
          java.security.MessageDigest.getInstance(shaAlgo).digest(d)
        def attrsOf(s: String): Map[String, String] = s.split(",").collect {
          case a if a.length >= 2 && a.charAt(1) == '=' =>
            a.substring(0, 1) -> a.substring(2)
        }.toMap
        val b64e = java.util.Base64.getEncoder
        val b64d = java.util.Base64.getDecoder
        if (scramState == null) {
          if (!msg.startsWith("n,,"))
            return (null, false, s"unsupported gs2 header in '$msg'")
          val bare = msg.substring(3)
          val attrs = attrsOf(bare)
          val u = attrs.getOrElse("n", "").replace("=2C", ",").replace("=3D", "=")
          if (u != user)
            return (null, false, "Authentication failed: unknown user")
          val rnd = new java.security.SecureRandom()
          val sn = new Array[Byte](18); rnd.nextBytes(sn)
          val salt = new Array[Byte](16); rnd.nextBytes(salt)
          val nonce = attrs.getOrElse("r", "") +
            b64e.withoutPadding.encodeToString(sn)
          val serverFirst =
            s"r=$nonce,s=${b64e.encodeToString(salt)},i=4096"
          scramState = (bare, serverFirst, salt)
          (serverFirst, false, null)
        } else {
          val (bare, serverFirst, salt) = scramState
          val attrs = attrsOf(msg)
          val expectedNonce = attrsOf(serverFirst)("r")
          if (attrs.getOrElse("r", "") != expectedNonce ||
              attrs.getOrElse("c", "") != "biws")
            return (null, false, "Authentication failed: nonce/binding mismatch")
          val pIdx = msg.lastIndexOf(",p=")
          if (pIdx < 0) return (null, false, "client-final missing proof")
          val authMessage = bare + "," + serverFirst + "," + msg.substring(0, pIdx)
          val keyBits = if (shaAlgo == "SHA-512") 512 else 256
          val salted = javax.crypto.SecretKeyFactory
            .getInstance("PBKDF2WithHmac" + shaAlgo.replace("-", ""))
            .generateSecret(new javax.crypto.spec.PBEKeySpec(
              pass.toCharArray, salt, 4096, keyBits))
            .getEncoded
          val storedKey = digest(hmac(salted, "Client Key"))
          val clientSig = hmac(storedKey, authMessage)
          val recovered = b64d.decode(attrs("p"))
            .zip(clientSig).map { case (a, b) => (a ^ b).toByte }
          if (!java.security.MessageDigest.isEqual(digest(recovered), storedKey))
            return (null, false, "Authentication failed: invalid credentials")
          val serverSig = hmac(hmac(salted, "Server Key"), authMessage)
          if (forgeScramServerSig) serverSig(0) = (serverSig(0) ^ 1).toByte
          (s"v=${b64e.encodeToString(serverSig)}", true, null)
        }
      }
      while (!closed) { // persistent connection: serve requests until EOF
        val size = in.readInt()
        val req = new Array[Byte](size)
        in.readFully(req)
        val r = new DataInputStream(new java.io.ByteArrayInputStream(req))
        val apiKey = r.readShort()
        val apiVersion = r.readShort()
        val correlationId = r.readInt()
        readString(r) // client id
        // flexible (KIP-482) requests use header v2: the tagged-field
        // buffer follows client_id
        val flex = isFlexible(apiKey, apiVersion)
        if (flex) skipTagged(r)
        // KIP-368 enforcement: past the session lifetime only the re-auth
        // sequence (and ApiVersions) is served; anything else kills the
        // connection, exactly a real broker with connections.max.reauth.ms
        if (authed && maxReauthMs > 0 &&
            System.currentTimeMillis() > sessionExpiry &&
            apiKey != ApiSaslHandshake && apiKey != ApiSaslAuthenticate &&
            apiKey != ApiApiVersions)
          throw new IOException("fake broker: SASL session lifetime " +
            "exceeded without re-authentication (KIP-368)")
        val body = apiKey match {
          case ApiSaslHandshake if apiVersion == 1 =>
            val mech = readString(r)
            val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
            val mechOk = saslMechs.contains(mech) &&
              (if (mech == "OAUTHBEARER") oauthToken.isDefined else sasl.isDefined)
            if (mechOk) {
              mechanism = mech
              o.writeShort(0)
            } else o.writeShort(33)     // UNSUPPORTED_SASL_MECHANISM
            o.writeInt(saslMechs.size); saslMechs.foreach(writeString(o, _))
            bo.toByteArray
          case ApiSaslAuthenticate if apiVersion == 0 || apiVersion == 1 =>
            if (mechanism == null)
              throw new IOException("fake broker: authenticate before handshake")
            val n = r.readInt()
            val tok = new Array[Byte](n); r.readFully(tok)
            val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
            if (mechanism == "PLAIN") {
              val parts = new String(tok, "UTF-8").split("\u0000", -1)
              val ok = parts.length == 3 &&
                sasl.contains((parts(1), parts(2)))
              if (ok) {
                markAuthed()
                o.writeShort(0); o.writeShort(-1)  // no error message
              } else {
                o.writeShort(58)        // SASL_AUTHENTICATION_FAILED
                writeString(o, "Authentication failed: invalid credentials")
              }
              o.writeInt(0)             // empty auth_bytes
            } else if (mechanism == "OAUTHBEARER") {
              val msg = new String(tok, "UTF-8")
              if (oauthErrJson != null) {
                // the post-challenge dummy %x01 leg → named failure
                o.writeShort(58)        // SASL_AUTHENTICATION_FAILED
                writeString(o, oauthErrJson)
                o.writeInt(0)
                oauthErrJson = null
              } else {
                val Bearer = "n,,\u0001auth=Bearer (.+)\u0001\u0001".r
                msg match {
                  case Bearer(t) if oauthToken.contains(t) =>
                    markAuthed()
                    o.writeShort(0); o.writeShort(-1)
                    o.writeInt(0)       // success: empty auth_bytes
                  case _ =>
                    // RFC 7628 error JSON rides as a CHALLENGE (error 0)
                    oauthErrJson = """{"status":"invalid_token"}"""
                    o.writeShort(0); o.writeShort(-1)
                    val eb = oauthErrJson.getBytes("UTF-8")
                    o.writeInt(eb.length); o.write(eb)
                }
              }
            } else {
              val (reply, done, err) =
                scramLeg(new String(tok, "UTF-8"))
              scramState = if (done || err != null) null else scramState
              if (err != null) {
                o.writeShort(58)        // SASL_AUTHENTICATION_FAILED
                writeString(o, err)
                o.writeInt(0)
              } else {
                if (done) markAuthed()
                o.writeShort(0); o.writeShort(-1)
                val rb = reply.getBytes("UTF-8")
                o.writeInt(rb.length); o.write(rb)
              }
            }
            // KIP-368: v1+ responses carry session_lifetime_ms (0 = the
            // broker does not require re-authentication)
            if (apiVersion >= 1) o.writeLong(maxReauthMs)
            bo.toByteArray
          case ApiApiVersions if apiVersion == 0 =>
            // served pre-auth, like real brokers (clients use it to
            // negotiate the SASL handshake version)
            val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
            o.writeShort(apiVersionsError)
            if (apiVersionsError == 0) {
              o.writeInt(apiRanges.size)
              apiRanges.foreach { case (k, lo, hi) =>
                o.writeShort(k); o.writeShort(lo); o.writeShort(hi)
              }
            } else o.writeInt(0)
            bo.toByteArray
          case ApiApiVersions if apiVersion == 3 =>
            // the flexible form (compact array + per-key and trailing
            // tagged buffers, throttle_time_ms after the array); request
            // body = client_software_name/version + tags
            readCompactString(r); readCompactString(r); skipTagged(r)
            val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
            o.writeShort(apiVersionsError)
            if (apiVersionsError == 0) {
              writeCompactArrayLen(o, apiRanges.size)
              apiRanges.foreach { case (k, lo, hi) =>
                o.writeShort(k); o.writeShort(lo); o.writeShort(hi)
                writeEmptyTagged(o)
              }
            } else writeCompactArrayLen(o, 0)
            o.writeInt(0)                  // throttle_time_ms
            writeEmptyTagged(o)
            bo.toByteArray
          case _ if !authed =>
            // real brokers kill the connection on pre-auth API use
            throw new IOException(
              s"fake broker: api $apiKey before SASL authentication")
          case ApiProduce if apiVersion == 3 =>
            val txnId = readString(r)   // transactional_id (nullable)
            r.readShort(); r.readInt()  // acks, timeout_ms
            val nTopics = r.readInt()
            val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
            o.writeInt(nTopics)
            (1 to nTopics).foreach { _ =>
              val name = readString(r)
              val nParts = r.readInt()
              writeString(o, name)
              o.writeInt(nParts)
              (1 to nParts).foreach { _ =>
                val p = r.readInt()
                val len = r.readInt()
                val rs = new Array[Byte](len); r.readFully(rs)
                val (err, baseOff) = produceAppend(txnId, name, p, rs)
                o.writeInt(p); o.writeShort(err); o.writeLong(baseOff)
                o.writeLong(-1L)        // log_append_time: create-time batch
              }
            }
            if (dropProduceResponses > 0) {
              // ambiguous-failure injection: the append above HAPPENED but
              // the producer never hears back — it must retry and the
              // sequence check must absorb the duplicate
              dropProduceResponses -= 1
              throw new EOFException("fake broker: produce response dropped")
            }
            o.writeInt(0)               // throttle_time_ms (tails Produce)
            bo.toByteArray
          case ApiProduce if apiVersion == 9 =>
            // flexible (KIP-482) v9 envelope; the append path (CRC check,
            // idempotence, txn gating, offset assignment) is IDENTICAL to
            // v3 — produceAppend is shared
            val txnId = readCompactString(r) // transactional_id (nullable)
            r.readShort(); r.readInt()  // acks, timeout_ms
            val nTopics = readCompactArrayLen(r)
            val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
            writeCompactArrayLen(o, nTopics)
            (1 to nTopics).foreach { _ =>
              val name = readCompactString(r)
              val nParts = readCompactArrayLen(r)
              writeCompactString(o, name)
              writeCompactArrayLen(o, nParts)
              (1 to nParts).foreach { _ =>
                val p = r.readInt()
                val rs = readCompactBytes(r)
                skipTagged(r)
                val (err, baseOff) = produceAppend(txnId, name, p, rs)
                o.writeInt(p); o.writeShort(err); o.writeLong(baseOff)
                o.writeLong(-1L)        // log_append_time: create-time batch
                o.writeLong(0L)         // log_start_offset
                writeCompactArrayLen(o, 0) // record_errors
                writeCompactString(o, null) // error_message
                writeEmptyTagged(o)
              }
              skipTagged(r)
              writeEmptyTagged(o)
            }
            skipTagged(r)
            if (dropProduceResponses > 0) {
              dropProduceResponses -= 1
              throw new EOFException("fake broker: produce response dropped")
            }
            o.writeInt(0)               // throttle_time_ms (tails Produce)
            writeEmptyTagged(o)
            bo.toByteArray
          case ApiInitProducerId if apiVersion == 0 || apiVersion == 2 =>
            // v2 = the flexible twin (KIP-482 compact framing), identical
            // assignment/fencing logic
            val txnId =
              if (apiVersion >= 2) readCompactString(r) else readString(r)
            val timeoutMs = r.readInt() // transaction_timeout_ms
            if (apiVersion >= 2) skipTagged(r)
            val (pid, epoch) =
              if (txnId == null) (pidCounter.getAndIncrement(), 0: Short)
              else txnProducers.compute(txnId, (_, prev) =>
                if (prev == null) (pidCounter.getAndIncrement(), 0: Short)
                else (prev._1, (prev._2 + 1).toShort)) // fence: epoch bump
            if (txnId != null) txnTimeouts.put(pid, timeoutMs)
            if (txnId != null && epoch > 0) {
              // a re-registration ABORTS the predecessor's open txn (the
              // coordinator's bumpEpoch path): zombie data must not hold
              // the LSO hostage or ever become visible
              abortOpenTxn(pid)
              // and its sequence expectations reset with the new epoch
              val it = seqStore.keySet.iterator()
              while (it.hasNext) if (it.next()._1 == pid) it.remove()
            }
            val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
            o.writeInt(0)               // throttle_time_ms
            o.writeShort(0)             // error
            o.writeLong(pid)
            o.writeShort(epoch)
            if (apiVersion >= 2) writeEmptyTagged(o)
            bo.toByteArray
          case ApiAddPartitionsToTxn if apiVersion == 0 || apiVersion == 3 =>
            val flexTxn = apiVersion >= 3
            val txnId = if (flexTxn) readCompactString(r) else readString(r)
            val pid = r.readLong(); val pepoch = r.readShort()
            val reg = Option(txnProducers.get(txnId))
            val fenced = reg.exists(t => t._1 == pid && pepoch < t._2)
            val registered = reg.exists(t => t._1 == pid && t._2 == pepoch)
            if (registered)
              openTxns.computeIfAbsent(pid, _ => new OpenTxn(
                Option(txnTimeouts.get(pid)).fold(60000)(_.intValue)))
            val nTopics = if (flexTxn) readCompactArrayLen(r) else r.readInt()
            val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
            o.writeInt(0)               // throttle_time_ms
            if (flexTxn) writeCompactArrayLen(o, nTopics) else o.writeInt(nTopics)
            (1 to nTopics).foreach { _ =>
              val name = if (flexTxn) readCompactString(r) else readString(r)
              val nParts = if (flexTxn) readCompactArrayLen(r) else r.readInt()
              if (flexTxn) writeCompactString(o, name) else writeString(o, name)
              if (flexTxn) writeCompactArrayLen(o, nParts) else o.writeInt(nParts)
              (1 to nParts).foreach { _ =>
                val p = r.readInt()
                val err =
                  if (fenced) 90        // PRODUCER_FENCED
                  else if (!registered) 48 // INVALID_TXN_STATE
                  else if (!activeTopic.contains(name) ||
                    !partitionIds.contains(p)) 3
                  else {
                    val txn = openTxns.get(pid)
                    txn.synchronized { txn.partitions += p }
                    0
                  }
                o.writeInt(p); o.writeShort(err)
                if (flexTxn) writeEmptyTagged(o)
              }
              if (flexTxn) { skipTagged(r); writeEmptyTagged(o) }
            }
            if (flexTxn) { skipTagged(r); writeEmptyTagged(o) }
            bo.toByteArray
          case ApiAddOffsetsToTxn if apiVersion == 0 || apiVersion == 3 =>
            // registers the consumer group's offsets with the open txn —
            // same fencing/registration rules as AddPartitionsToTxn; the
            // double needs no per-group marker partition (offsets stage
            // inside the OpenTxn), but the txn must exist from here on
            val flexAo = apiVersion >= 3
            val txnId = if (flexAo) readCompactString(r) else readString(r)
            val pid = r.readLong(); val pepoch = r.readShort()
            if (flexAo) readCompactString(r) else readString(r) // group_id
            if (flexAo) skipTagged(r)
            val reg = Option(txnProducers.get(txnId))
            val fenced = reg.exists(t => t._1 == pid && pepoch < t._2)
            val registered = reg.exists(t => t._1 == pid && t._2 == pepoch)
            if (registered && !fenced)
              openTxns.computeIfAbsent(pid, _ => new OpenTxn(
                Option(txnTimeouts.get(pid)).fold(60000)(_.intValue)))
            val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
            o.writeInt(0)               // throttle_time_ms
            o.writeShort(
              if (fenced) 90            // PRODUCER_FENCED
              else if (!registered) 48  // INVALID_TXN_STATE
              else 0)
            if (flexAo) writeEmptyTagged(o)
            bo.toByteArray
          case ApiTxnOffsetCommit if apiVersion == 0 || apiVersion == 3 =>
            // stage consumer offsets INSIDE the transaction: they land in
            // committedStore only when the COMMIT marker does (endOpenTxn)
            val flexTo = apiVersion >= 3
            val txnId = if (flexTo) readCompactString(r) else readString(r)
            val group = if (flexTo) readCompactString(r) else readString(r)
            val pid = r.readLong(); val pepoch = r.readShort()
            val (generation, member, instTo) =
              if (flexTo) {
                val g = r.readInt()
                val m = readCompactString(r)
                val i = readCompactString(r) // group_instance_id (KIP-345)
                (g, m, i)
              } else (-1, "", null)
            val reg = Option(txnProducers.get(txnId))
            val fenced = reg.exists(t => t._1 == pid && pepoch < t._2)
            val registered = reg.exists(t => t._1 == pid && t._2 == pepoch)
            val txn = openTxns.get(pid)
            // KIP-447: the v3 frame also carries the consumer's
            // (generation, member) — fenced-out consumers are rejected by
            // the group coordinator exactly like a plain OffsetCommit
            val groupFence =
              groupCoordinator.validateCommit(group, generation, member, instTo)
            val code: Int =
              if (fenced) 47            // INVALID_PRODUCER_EPOCH
              else if (!registered || txn == null) 48 // INVALID_TXN_STATE
              else groupFence
            val nTopics = if (flexTo) readCompactArrayLen(r) else r.readInt()
            val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
            o.writeInt(0)               // throttle_time_ms
            if (flexTo) writeCompactArrayLen(o, nTopics) else o.writeInt(nTopics)
            (1 to nTopics).foreach { _ =>
              val name = if (flexTo) readCompactString(r) else readString(r)
              val nParts = if (flexTo) readCompactArrayLen(r) else r.readInt()
              if (flexTo) writeCompactString(o, name) else writeString(o, name)
              if (flexTo) writeCompactArrayLen(o, nParts) else o.writeInt(nParts)
              (1 to nParts).foreach { _ =>
                val p = r.readInt(); val off = r.readLong()
                if (flexTo) {
                  r.readInt()           // committed_leader_epoch (v2+)
                  readCompactString(r); skipTagged(r)
                } else readString(r)    // metadata
                if (code == 0) txn.synchronized {
                  txn.stagedOffsets((group, name, p)) = off
                }
                o.writeInt(p); o.writeShort(code)
                if (flexTo) writeEmptyTagged(o)
              }
              if (flexTo) { skipTagged(r); writeEmptyTagged(o) }
            }
            if (flexTo) { skipTagged(r); writeEmptyTagged(o) }
            bo.toByteArray
          case ApiEndTxn if apiVersion == 0 || apiVersion == 3 =>
            val flexTxn = apiVersion >= 3
            val txnId = if (flexTxn) readCompactString(r) else readString(r)
            val pid = r.readLong(); val pepoch = r.readShort()
            val commit = r.readBoolean()
            if (flexTxn) skipTagged(r)
            val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
            o.writeInt(0)               // throttle_time_ms
            val reg = Option(txnProducers.get(txnId))
            if (reg.exists(t => t._1 == pid && pepoch < t._2))
              o.writeShort(90)          // PRODUCER_FENCED: zombie EndTxn
            else if (openTxns.get(pid) == null ||
                !reg.exists(t => t._1 == pid && t._2 == pepoch))
              o.writeShort(48)          // INVALID_TXN_STATE
            else {
              endOpenTxn(pid, commit)
              o.writeShort(0)
            }
            if (flexTxn) writeEmptyTagged(o)
            bo.toByteArray
          case ApiCreateTopics if apiVersion == 0 || apiVersion == 5 =>
            val flexCt = apiVersion >= 5
            val nTopics = if (flexCt) readCompactArrayLen(r) else r.readInt()
            val reqs = (1 to nTopics).map { _ =>
              if (flexCt) {
                val name = readCompactString(r)
                val nParts = r.readInt()
                val rf = r.readShort()
                val nAssign = readCompactArrayLen(r)
                (1 to math.max(nAssign, 0)).foreach { _ =>
                  r.readInt(); skipCompactIntArray(r); skipTagged(r)
                }
                val nConfigs = readCompactArrayLen(r)
                (1 to math.max(nConfigs, 0)).foreach { _ =>
                  readCompactString(r); readCompactString(r); skipTagged(r)
                }
                skipTagged(r)
                (name, nParts, rf)
              } else {
                val name = readString(r)
                val nParts = r.readInt()
                val rf = r.readShort()
                val nAssign = r.readInt()
                (1 to nAssign).foreach { _ => r.readInt(); skipIntArray(r) }
                val nConfigs = r.readInt()
                (1 to nConfigs).foreach { _ => readString(r); readString(r) }
                (name, nParts, rf)
              }
            }
            r.readInt()             // timeout_ms (in-process: instantaneous)
            val validateOnly = if (flexCt) r.readBoolean() else false
            if (flexCt) skipTagged(r)
            val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
            if (flexCt) o.writeInt(0)   // throttle_time_ms
            if (flexCt) writeCompactArrayLen(o, reqs.size)
            else o.writeInt(reqs.size)
            reqs.foreach { case (name, nParts, rf) =>
              val err: Int =
                if (activeTopic.contains(name)) 36 // TOPIC_ALREADY_EXISTS
                else if (activeTopic.isDefined) 42 // INVALID_REQUEST: the
                                                   // double is single-topic
                else if (nParts < 1) 37            // INVALID_PARTITIONS
                else if (rf != 1 && rf != -1) 38   // INVALID_REPLICATION_FACTOR
                else if (validateOnly) 0           // checked, not created
                else { created = Some((name, 0 until nParts)); 0 }
              if (flexCt) {
                writeCompactString(o, name); o.writeShort(err)
                writeCompactString(o, null)      // error_message
                o.writeInt(if (err == 0) nParts else -1)
                o.writeShort(if (err == 0) 1 else -1)
                writeCompactArrayLen(o, 0)       // configs
                writeEmptyTagged(o)
              } else { writeString(o, name); o.writeShort(err) }
            }
            if (flexCt) writeEmptyTagged(o)
            bo.toByteArray
          case ApiMetadata if apiVersion == 0 => metadata(r)
          case ApiMetadata if apiVersion == 9 => metadataV9(r)
          case ApiListOffsets if apiVersion == 1 || apiVersion == 2 =>
            listOffsets(r, apiVersion)
          case ApiListOffsets if apiVersion == 6 => listOffsetsV6(r)
          case ApiFetch if apiVersion == 4 => fetch(r)
          case ApiFetch if apiVersion == 12 => fetchV12(r)
          case ApiFindCoordinator if apiVersion == 0 || apiVersion == 3 =>
            val flexFc = apiVersion >= 3
            if (flexFc) { readCompactString(r); r.readByte(); skipTagged(r) }
            else readString(r)          // group id: single node = coordinator
            val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
            if (flexFc) {
              o.writeInt(0)             // throttle_time_ms
              o.writeShort(0)           // error
              writeCompactString(o, null) // error_message
              o.writeInt(0)             // node id
              writeCompactString(o, "127.0.0.1"); o.writeInt(boundPort)
              writeEmptyTagged(o)
            } else {
              o.writeShort(0); o.writeInt(0)
              writeString(o, "127.0.0.1"); o.writeInt(boundPort)
            }
            bo.toByteArray
          case ApiJoinGroup if apiVersion == 0 || apiVersion == 6 =>
            groupCoordinator.joinGroup(r, apiVersion)
          case ApiSyncGroup if apiVersion == 0 || apiVersion == 4 =>
            groupCoordinator.syncGroup(r, apiVersion)
          case ApiHeartbeat if apiVersion == 0 || apiVersion == 4 =>
            groupCoordinator.heartbeat(r, apiVersion)
          case ApiLeaveGroup if apiVersion == 0 || apiVersion == 4 =>
            groupCoordinator.leaveGroup(r, apiVersion)
          case ApiOffsetCommit if apiVersion == 2 || apiVersion == 8 =>
            val flexOc = apiVersion >= 8
            val group = if (flexOc) readCompactString(r) else readString(r)
            val generation = r.readInt()
            val member = if (flexOc) readCompactString(r) else readString(r)
            val instOc =
              if (flexOc) readCompactString(r) // group_instance_id (KIP-345)
              else { r.readLong(); null }      // retention (removed in v5+)
            // generation fencing: a member commit must carry the LIVE
            // generation; -1/"" is the simple consumer and always passes.
            // KIP-345: a replaced static incarnation is fenced (82) by its
            // instance id so it can never clobber its successor's offsets.
            val fence =
              groupCoordinator.validateCommit(group, generation, member, instOc)
            val nTopics = if (flexOc) readCompactArrayLen(r) else r.readInt()
            val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
            if (flexOc) o.writeInt(0)   // throttle_time_ms
            if (flexOc) writeCompactArrayLen(o, nTopics) else o.writeInt(nTopics)
            (1 to nTopics).foreach { _ =>
              val name = if (flexOc) readCompactString(r) else readString(r)
              val nParts = if (flexOc) readCompactArrayLen(r) else r.readInt()
              if (flexOc) writeCompactString(o, name) else writeString(o, name)
              if (flexOc) writeCompactArrayLen(o, nParts) else o.writeInt(nParts)
              (1 to nParts).foreach { _ =>
                val p = r.readInt(); val off = r.readLong()
                if (flexOc) {
                  r.readInt()           // committed_leader_epoch
                  readCompactString(r); skipTagged(r)
                } else readString(r)    // metadata
                if (fence == 0) committedStore.put((group, name, p), off)
                o.writeInt(p); o.writeShort(fence)
                if (flexOc) writeEmptyTagged(o)
              }
              if (flexOc) { skipTagged(r); writeEmptyTagged(o) }
            }
            if (flexOc) { skipTagged(r); writeEmptyTagged(o) }
            bo.toByteArray
          case ApiOffsetFetch if apiVersion == 1 || apiVersion == 6 =>
            val flexOf = apiVersion >= 6
            val group = if (flexOf) readCompactString(r) else readString(r)
            val nTopics = if (flexOf) readCompactArrayLen(r) else r.readInt()
            val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
            if (flexOf) o.writeInt(0)   // throttle_time_ms
            if (flexOf) writeCompactArrayLen(o, math.max(nTopics, 0))
            else o.writeInt(nTopics)
            (1 to math.max(nTopics, 0)).foreach { _ =>
              val name = if (flexOf) readCompactString(r) else readString(r)
              val nParts = if (flexOf) readCompactArrayLen(r) else r.readInt()
              if (flexOf) writeCompactString(o, name) else writeString(o, name)
              if (flexOf) writeCompactArrayLen(o, nParts) else o.writeInt(nParts)
              (1 to nParts).foreach { _ =>
                val p = r.readInt()
                val off = Option(committedStore.get((group, name, p)))
                  .map(Long.unbox).getOrElse(-1L)
                o.writeInt(p); o.writeLong(off)
                if (flexOf) {
                  o.writeInt(-1)        // committed_leader_epoch
                  writeCompactString(o, ""); o.writeShort(0)
                  writeEmptyTagged(o)
                } else { writeString(o, ""); o.writeShort(0) }
              }
              if (flexOf) { skipTagged(r); writeEmptyTagged(o) }
            }
            if (flexOf) {
              skipTagged(r)
              o.writeShort(0)           // top-level error_code
              writeEmptyTagged(o)
            }
            bo.toByteArray
          case other =>
            throw new IOException(s"fake broker: unsupported api $other v$apiVersion")
        }
        // flexible responses carry header v1 (correlation id + tagged
        // buffer) — EXCEPT ApiVersions, pinned at header v0 per KIP-511
        val flexHeader = flex && apiKey != ApiApiVersions
        out.writeInt(4 + (if (flexHeader) 1 else 0) + body.length)
        out.writeInt(correlationId)
        if (flexHeader) out.writeByte(0)   // empty tagged-field buffer
        out.write(body)
        out.flush()
      }
    } catch {
      // a client disconnect (EOF) or a bad frame drops the connection like
      // a real broker; any other failure reaches the thread's
      // uncaught-exception handler
      case _: IOException =>
    } finally sock.close()
  }

  private def metadata(r: DataInputStream): Array[Byte] = {
    // honor the request's topic list: a topic this broker does not serve
    // (not yet created under requireCreate, or simply foreign) answers
    // UNKNOWN_TOPIC_OR_PARTITION per topic, like a real broker with
    // auto-creation off; an empty request (= all topics) lists the active
    // topic if there is one
    val requested = {
      val n = r.readInt()
      if (n <= 0) activeTopic.toSeq else (1 to n).map(_ => readString(r))
    }
    val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
    o.writeInt(1)                       // brokers
    o.writeInt(0); writeString(o, "127.0.0.1"); o.writeInt(boundPort)
    o.writeInt(requested.size)          // topics
    requested.foreach { name =>
      if (activeTopic.contains(name)) {
        o.writeShort(0); writeString(o, name)
        val parts = partitionIds
        o.writeInt(parts.size)
        parts.foreach { p =>
          o.writeShort(0); o.writeInt(p); o.writeInt(0) // error, id, leader
          o.writeInt(1); o.writeInt(0) // replicas [0]
          o.writeInt(1); o.writeInt(0) // isr [0]
        }
      } else {
        o.writeShort(3)                 // UNKNOWN_TOPIC_OR_PARTITION
        writeString(o, name)
        o.writeInt(0)                   // no partitions
      }
    }
    bo.toByteArray
  }

  /** Metadata over the flexible v9 frame — same topic/partition answers as
    * [[metadata]], re-framed per KIP-482 (compact strings/arrays, tagged
    * buffers, leader_epoch/offline_replicas/rack/cluster_id and the v8-v10
    * authorized-operations fields). */
  private def metadataV9(r: DataInputStream): Array[Byte] = {
    val requested = {
      val n = readCompactArrayLen(r)
      if (n <= 0) activeTopic.toSeq
      else (1 to n).map { _ =>
        val name = readCompactString(r); skipTagged(r); name
      }
    }
    r.readBoolean()                     // allow_auto_topic_creation
    r.readBoolean()                     // include_cluster_authorized_operations
    r.readBoolean()                     // include_topic_authorized_operations
    skipTagged(r)
    val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
    o.writeInt(0)                       // throttle_time_ms
    writeCompactArrayLen(o, 1)          // brokers
    o.writeInt(0); writeCompactString(o, "127.0.0.1"); o.writeInt(boundPort)
    writeCompactString(o, null)         // rack
    writeEmptyTagged(o)
    writeCompactString(o, "graft-double") // cluster_id
    o.writeInt(0)                       // controller_id
    writeCompactArrayLen(o, requested.size)
    requested.foreach { name =>
      if (activeTopic.contains(name)) {
        o.writeShort(0); writeCompactString(o, name)
        o.writeBoolean(false)           // is_internal
        val parts = partitionIds
        writeCompactArrayLen(o, parts.size)
        parts.foreach { p =>
          o.writeShort(0); o.writeInt(p); o.writeInt(0) // error, id, leader
          o.writeInt(0)                 // leader_epoch
          writeCompactArrayLen(o, 1); o.writeInt(0)     // replicas [0]
          writeCompactArrayLen(o, 1); o.writeInt(0)     // isr [0]
          writeCompactArrayLen(o, 0)                    // offline_replicas
          writeEmptyTagged(o)
        }
      } else {
        o.writeShort(3)                 // UNKNOWN_TOPIC_OR_PARTITION
        writeCompactString(o, name)
        o.writeBoolean(false)
        writeCompactArrayLen(o, 0)
      }
      o.writeInt(Int.MinValue)          // topic_authorized_operations: none
      writeEmptyTagged(o)
    }
    o.writeInt(Int.MinValue)            // cluster_authorized_operations
    writeEmptyTagged(o)
    bo.toByteArray
  }

  /** ListOffsets by REAL timestamp (KIP-79): the earliest VISIBLE offset
    * whose record timestamp (ms) is >= `tsMs`, or -1 when none — scanning
    * the file-backed base log (µs timestamps on disk, served as ms on the
    * wire) and then the produced tail's decoded records, exactly the
    * records a fetch at the same isolation would serve. A real broker
    * resolves this from its time index; the double's sequential scan is
    * the same contract at test scale. Bounds: never below the
    * log-start low watermark, never at/past `cap` (the HW, or the LSO
    * under read_committed — undecided records have no public timestamp). */
  private def offsetForTimestamp(p: Int, tsMs: Long, cap: Long): Long = {
    val lo = logStartOffset(p)
    val bc = math.min(baseCount(p), cap)
    if (bc > 0 && lo < bc) {
      val fr = new FrameStream(dir, p, lo, needKey = false, needValue = false)
      try {
        var off = lo
        while (off < bc) {
          fr.readFrame()
          if (fr.tsUs / 1000L >= tsMs) return off
          off += 1
        }
      } finally fr.close()
    }
    producedTail(p).synchronized {
      producedTail(p).foreach { b =>
        if (b.control.isEmpty) b.recs.zipWithIndex.foreach {
          case ((_, _, ts), i) =>
            val o = b.base + i
            if (o >= lo && o < cap && ts >= tsMs) return o
        }
      }
    }
    -1L
  }

  private def listOffsets(r: DataInputStream, version: Short): Array[Byte] = {
    r.readInt()                         // replica id
    // v2 added the isolation level: read_committed's "latest" is the LSO
    val isolation = if (version >= 2) r.readByte() else 0
    val nTopics = r.readInt()
    val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
    if (version >= 2) o.writeInt(0)     // throttle_time_ms
    o.writeInt(nTopics)
    (1 to nTopics).foreach { _ =>
      val name = readString(r)
      val nParts = r.readInt()
      writeString(o, name)
      o.writeInt(nParts)
      (1 to nParts).foreach { _ =>
        val p = r.readInt(); val ts = r.readLong()
        val off =
          if (ts == -2L) logStartOffset(p) // earliest = the low watermark
          else if (ts >= 0L) offsetForTimestamp(p, ts,
            if (isolation == 1) lastStable(p) else endOffset(p))
          else if (isolation == 1) lastStable(p)
          else endOffset(p)
        o.writeInt(p); o.writeShort(0); o.writeLong(ts); o.writeLong(off)
      }
    }
    bo.toByteArray
  }

  /** One partition's produce-append decision — a real broker's produce
    * path: route check, CRC-32C verification (unlike the tolerant
    * consume-side double), idempotence sequence check, transactional
    * gating (zombie fencing by epoch, INVALID_TXN_STATE for unregistered
    * txn batches), then append + offset assignment under the log lock.
    * Shared verbatim by the non-flexible v3 and flexible v9 Produce
    * handlers — only their envelopes differ. Returns (error, baseOffset). */
  private def produceAppend(txnId: String, name: String, p: Int,
      rs: Array[Byte]): (Int, Long) =
    if (!activeTopic.contains(name) || !partitionIds.contains(p))
      (3, -1L)                  // UNKNOWN_TOPIC_OR_PARTITION
    else if (rs.length > maxMessageBytes)
      (10, -1L)                 // MESSAGE_TOO_LARGE, enforced where a real
                                // partition leader enforces it — at append
    else if (!crcValid(rs))
      (2, -1L)                  // CORRUPT_MESSAGE
    else {
      val (pid, pepoch, baseSeq, lastSeq) = batchProducerInfo(rs)
      val transactional = batchIsTransactional(rs)
      // a transactional batch must come from a registered transactional
      // producer whose OPEN txn includes this partition — otherwise
      // INVALID_TXN_STATE, like a real coordinator-backed partition
      // leader; a STALE epoch (a newer producer re-registered the id) is
      // the zombie-fencing reject, INVALID_PRODUCER_EPOCH
      val reg = if (txnId == null) None
        else Option(txnProducers.get(txnId))
      val fenced = transactional &&
        reg.exists(r => r._1 == pid && pepoch < r._2)
      val txnOk = !transactional || (
        reg.exists(r => r._1 == pid && r._2 == pepoch) &&
        Option(openTxns.get(pid))
          .exists(_.partitions.contains(p)))
      val tail = producedTail(p)
      if (fenced) (47, -1L)      // INVALID_PRODUCER_EPOCH
      else if (!txnOk) (48, -1L) // INVALID_TXN_STATE
      else tail.synchronized {
        val cached =
          if (pid < 0) null else seqStore.get((pid, p))
        if (pid >= 0 && cached != null &&
            baseSeq == cached._1 && lastSeq == cached._2) {
          // exact retransmit of the last acked batch: absorb — ack the
          // ORIGINAL offsets, append nothing (the idempotent-producer
          // contract)
          (0, cached._3)
        } else if (pid >= 0 &&
            ((cached == null && baseSeq != 0) ||
             (cached != null && baseSeq != cached._2 + 1))) {
          (45, -1L)             // OUT_OF_ORDER_SEQUENCE_NUMBER
        } else {
          val recs = decodeBatches(rs, 0L,
            needKey = true, needValue = true).toSeq
          val assigned = tail.lastOption.fold(baseCount(p))(_.end)
          tail += new TailBatch(assigned,
            recs.map { case (_, k, v, tsMs) => (k, v, tsMs) },
            pid, pepoch, baseSeq, transactional, None)
          if (transactional) {
            val txn = openTxns.get(pid)
            txn.synchronized {
              txn.firstOffsets.getOrElseUpdate(p, assigned)
            }
          }
          if (pid >= 0)
            seqStore.put((pid, p), (baseSeq, lastSeq, assigned))
          (0, assigned)
        }
      }
    }

  /** ListOffsets over the flexible v6 frame (KIP-482) — same
    * isolation-aware answers as v2 (read_committed "latest" = the LSO);
    * the request adds current_leader_epoch (ignored: single-broker, one
    * epoch) and the response a leader_epoch (−1, like a broker that does
    * not track it). */
  private def listOffsetsV6(r: DataInputStream): Array[Byte] = {
    r.readInt()                         // replica id
    val isolation = r.readByte()
    val nTopics = readCompactArrayLen(r)
    val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
    o.writeInt(0)                       // throttle_time_ms
    writeCompactArrayLen(o, nTopics)
    (1 to nTopics).foreach { _ =>
      val name = readCompactString(r)
      val nParts = readCompactArrayLen(r)
      writeCompactString(o, name)
      writeCompactArrayLen(o, nParts)
      (1 to nParts).foreach { _ =>
        val p = r.readInt()
        r.readInt()                     // current_leader_epoch
        val ts = r.readLong()
        skipTagged(r)
        val off =
          if (ts == -2L) logStartOffset(p) // earliest = the low watermark
          else if (ts >= 0L) offsetForTimestamp(p, ts,
            if (isolation == 1) lastStable(p) else endOffset(p))
          else if (isolation == 1) lastStable(p)
          else endOffset(p)
        o.writeInt(p); o.writeShort(0); o.writeLong(ts); o.writeLong(off)
        o.writeInt(-1)                  // leader_epoch: not tracked
        writeEmptyTagged(o)
      }
      skipTagged(r)
      writeEmptyTagged(o)
    }
    skipTagged(r)
    writeEmptyTagged(o)
    bo.toByteArray
  }

  private def fetch(r: DataInputStream): Array[Byte] = {
    r.readInt(); r.readInt(); r.readInt(); r.readInt() // replica/wait/min/max
    val isolation = r.readByte()        // 0 read_uncommitted, 1 read_committed
    val nTopics = r.readInt()
    val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
    o.writeInt(0)                       // throttle_time_ms
    o.writeInt(nTopics)
    (1 to nTopics).foreach { _ =>
      val name = readString(r)
      val nParts = r.readInt()
      writeString(o, name)
      o.writeInt(nParts)
      (1 to nParts).foreach { _ =>
        val p = r.readInt(); val fetchOffset = r.readLong(); r.readInt()
        // LSO first: lastStable() reaps expired transactions, which can
        // APPEND abort markers — reading the high watermark before the reap
        // could publish a protocol-inconsistent (lso > hw) response pair
        val lso = lastStable(p)
        val hw = endOffset(p)
        // a read_committed fetch never serves past the LSO — records of a
        // still-open transaction are not yet decided
        val end = if (isolation == 1) lso else hw
        // a fetch below the log-start offset (truncation)
        // answers OFFSET_OUT_OF_RANGE like a real broker whose segments
        // are gone — the consumer must reset, not silently skip
        val oor = fetchOffset < logStartOffset(p)
        o.writeInt(p); o.writeShort(if (oor) 1 else 0)
        o.writeLong(hw)                 // high watermark
        o.writeLong(lso)                // last stable offset
        // only spans whose MARKER is at or beyond the fetch offset — a
        // span the consumer's scan position has already passed must not be
        // re-served, or its producer's later committed data would be hidden
        val aborted =
          if (isolation == 1)
            abortedOf(p).synchronized {
              abortedOf(p).toVector.filter(_._3 >= fetchOffset)
            }
          else Vector.empty
        o.writeInt(aborted.size)
        aborted.foreach { case (pid, first, _) =>
          o.writeLong(pid); o.writeLong(first)
        }
        val recordSet =
          if (oor || fetchOffset >= end) Array.emptyByteArray
          else encodeBatch(p, fetchOffset, math.min(end, fetchOffset + batchRecords))
        o.writeInt(recordSet.length)
        o.write(recordSet)
      }
    }
    bo.toByteArray
  }

  // ---- KIP-227 incremental fetch sessions -----------------------------------
  /** One cached fetch session: the broker-side partition state an
    * incremental fetch request delta-updates instead of restating. */
  private final class FetchSession(val id: Int) {
    /** next epoch this session accepts. */
    var epoch: Int = 1
    /** (topic, partition) → current fetch offset. */
    val parts = scala.collection.mutable.LinkedHashMap[(String, Int), Long]()
  }
  /** Session cache, access-ordered and CAPPED like a real broker's
    * `max.incremental.fetch.session.cache.slots`: every full fetch (epoch 0)
    * creates a session and long runs with many micro-batch cursors would
    * otherwise grow broker memory without bound. Evicting the LRU session is
    * safe by protocol — the orphaned client's next incremental fetch answers
    * FETCH_SESSION_ID_NOT_FOUND (70) and it falls back to a full fetch,
    * the path [[evictFetchSessions]] already exercises. All access under
    * the map's own monitor. */
  private val fetchSessionSlots = 64
  private val fetchSessions =
    new java.util.LinkedHashMap[Integer, FetchSession](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Integer, FetchSession]): Boolean =
        size() > fetchSessionSlots
    }
  private val fetchSessionIds = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Test seam: drop every cached session — a real broker's cache
    * eviction; the next incremental request answers
    * FETCH_SESSION_ID_NOT_FOUND and the client must fall back to a full
    * fetch. */
  def evictFetchSessions(): Unit =
    fetchSessions.synchronized { fetchSessions.clear() }

  /** Fetch over the flexible v12 frame — same record sets, LSO gating and
    * aborted-transaction lists as [[fetch]], re-framed per KIP-482
    * (session fields, leader-epoch fields, compact topic/partition arrays,
    * COMPACT_NULLABLE_BYTES record sets, tagged buffers). Speaks the full
    * KIP-227 session protocol: sessionless (epoch -1), full fetch opening
    * a session (epoch 0 → a fresh session id), and INCREMENTAL fetches
    * (epoch n must match; partitions in the request update the cached
    * state, forgotten ones leave it, and the response carries ONLY the
    * session partitions that have data — the bandwidth shape of KIP-227).
    * A missing session answers FETCH_SESSION_ID_NOT_FOUND (70), a stale
    * epoch INVALID_FETCH_SESSION_EPOCH (71) — both top-level, both the
    * signals a real client takes as "fall back to a full fetch". */
  private def fetchV12(r: DataInputStream): Array[Byte] = {
    r.readInt(); r.readInt(); r.readInt(); r.readInt() // replica/wait/min/max
    val isolation = r.readByte()
    val sessionId = r.readInt()
    val sessionEpoch = r.readInt()
    // parse the whole request first: sessions decide the response set
    val nTopics = readCompactArrayLen(r)
    val requested = (1 to math.max(nTopics, 0)).flatMap { _ =>
      val name = readCompactString(r)
      val nParts = readCompactArrayLen(r)
      val ps = (1 to nParts).map { _ =>
        val p = r.readInt()
        r.readInt()                     // current_leader_epoch
        val fetchOffset = r.readLong()
        r.readInt()                     // last_fetched_epoch
        r.readLong()                    // log_start_offset
        r.readInt()                     // partition_max_bytes
        skipTagged(r)                   // partition tags
        ((name, p), fetchOffset)
      }
      skipTagged(r)                     // topic tags
      ps
    }
    val forgotten = readCompactArrayLen(r) match { // forgotten_topics_data
      case n if n > 0 => (1 to n).flatMap { _ =>
        val name = readCompactString(r)
        val m = readCompactArrayLen(r)
        val ps = (1 to m).map(_ => (name, r.readInt()))
        skipTagged(r)
        ps
      }
      case _ => Nil
    }
    val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
    def errorResponse(code: Short): Array[Byte] = {
      o.writeInt(0)                     // throttle_time_ms
      o.writeShort(code)
      o.writeInt(0)                     // session_id
      writeCompactArrayLen(o, 0)        // no topics
      writeEmptyTagged(o)
      bo.toByteArray
    }
    // (answer set, session id to echo, incremental?) per the session rules
    val resolved: Either[Short, (Seq[((String, Int), Long)], Int, Boolean)] =
      if (sessionEpoch == -1) Right((requested, 0, false))
      else if (sessionEpoch == 0) {
        val s = new FetchSession(fetchSessionIds.incrementAndGet())
        s.parts ++= requested
        fetchSessions.synchronized { fetchSessions.put(s.id, s) }
        Right((requested, s.id, false))
      } else Option(fetchSessions.synchronized { fetchSessions.get(sessionId) }) match {
        case None => Left(70)           // FETCH_SESSION_ID_NOT_FOUND
        case Some(s) => s.synchronized {
          if (sessionEpoch != s.epoch) Left(71) // INVALID_FETCH_SESSION_EPOCH
          else {
            s.epoch += 1
            requested.foreach { case (tp, off) => s.parts(tp) = off }
            forgotten.foreach(s.parts.remove)
            Right((s.parts.toSeq, s.id, true))
          }
        }
      }
    resolved match {
      case Left(code) => errorResponse(code)
      case Right((answerSet, echoSessionId, incremental)) =>
        // evaluate every partition, then (incremental only) omit the empty
        // ones — a full fetch restates everything, KIP-227's response rule
        val answers = answerSet.map { case ((name, p), fetchOffset) =>
          val lso = lastStable(p)
          val hw = endOffset(p)
          val end = if (isolation == 1) lso else hw
          // below the log-start low watermark: OFFSET_OUT_OF_RANGE
          val oor = fetchOffset < logStartOffset(p)
          val aborted =
            if (isolation == 1 && !oor)
              abortedOf(p).synchronized {
                abortedOf(p).toVector.filter(_._3 >= fetchOffset)
              }
            else Vector.empty
          val recordSet =
            if (oor || fetchOffset >= end) Array.emptyByteArray
            else encodeBatch(p, fetchOffset,
              math.min(end, fetchOffset + batchRecords))
          (name, p, hw, lso, aborted, recordSet, oor)
        }
        val included =
          if (incremental)
            answers.filter(a => a._6.nonEmpty || a._5.nonEmpty || a._7)
          else answers
        o.writeInt(0)                   // throttle_time_ms
        o.writeShort(0)                 // top-level error_code
        o.writeInt(echoSessionId)
        val byTopic = included.groupBy(_._1).toSeq.sortBy(_._1)
        writeCompactArrayLen(o, byTopic.size)
        byTopic.foreach { case (name, parts) =>
          writeCompactString(o, name)
          writeCompactArrayLen(o, parts.size)
          parts.foreach { case (_, p, hw, lso, aborted, recordSet, oor) =>
            o.writeInt(p); o.writeShort(if (oor) 1 else 0)
            o.writeLong(hw)
            o.writeLong(lso)
            o.writeLong(logStartOffset(p))
            writeCompactArrayLen(o, aborted.size)
            aborted.foreach { case (pid, first, _) =>
              o.writeLong(pid); o.writeLong(first)
              writeEmptyTagged(o)
            }
            o.writeInt(-1)              // preferred_read_replica
            writeCompactBytes(o, recordSet)
            writeEmptyTagged(o)
          }
          writeEmptyTagged(o)
        }
        writeEmptyTagged(o)
        bo.toByteArray
    }
  }

  /** One RecordBatch v2 (or, with [[legacyMagic]], a pre-0.11 MessageSet)
    * for records [start, until) of partition p; when `truncateTail` is set,
    * a second partial batch header is appended to simulate a broker cutting
    * the record_set at max_bytes. */
  private def encodeBatch(p: Int, start: Long, until0: Long): Array[Byte] = {
    val base = baseCount(p)
    // never span the base-log / produced-tail seam inside one batch — the
    // client simply re-fetches from the seam, like any multi-batch read
    val until = if (start < base) math.min(until0, base) else until0
    if (start >= base) return encodeTailBatches(p, start, until)
    val recs: Seq[(Long, Array[Byte], Array[Byte], Long)] = {
        val frames = new FrameStream(dir, p, start,
          needKey = true, needValue = true)
        try {
          (start until until).map { off =>
            frames.readFrame()
            (off, frames.key, frames.value, frames.tsUs / 1000L)
          }
        } finally frames.close()
      }
    legacyMagic match {
      case Some(m) => return encodeLegacySet(m, recs)
      case None =>
    }
    val firstTs = recs.head._4

    val recBytes = new ByteArrayOutputStream()
    val ro = new DataOutputStream(recBytes)
    recs.foreach { case (off, k, v, tsMs) =>
      val one = new ByteArrayOutputStream(); val oo = new DataOutputStream(one)
      oo.writeByte(0)                   // record attributes
      writeVarlong(oo, tsMs - firstTs)
      writeVarint(oo, (off - start).toInt)
      def blob(b: Array[Byte]): Unit =
        if (b == null) writeVarint(oo, -1)
        else { writeVarint(oo, b.length); oo.write(b) }
      blob(k); blob(v)
      writeVarint(oo, 0)                // headers
      writeVarint(ro, one.size())       // record length prefix
      ro.write(one.toByteArray)
    }

    // compress the records section exactly where real producers do: v2's
    // compressed unit is the records bytes, header stays plaintext
    val recordsOut: Array[Byte] =
      if (codec == 0) recBytes.toByteArray
      else {
        val cb = new ByteArrayOutputStream()
        val cs: java.io.OutputStream = codec match {
          case 1 => new java.util.zip.GZIPOutputStream(cb)
          case 2 => new org.xerial.snappy.SnappyOutputStream(cb)
          case 3 => new net.jpountz.lz4.LZ4FrameOutputStream(cb)
          case 4 => new com.github.luben.zstd.ZstdOutputStream(cb)
          case c => throw new IllegalArgumentException(s"fake broker codec $c")
        }
        cs.write(recBytes.toByteArray); cs.close()
        cb.toByteArray
      }

    val tail = new ByteArrayOutputStream(); val to = new DataOutputStream(tail)
    to.writeInt(0)                      // partition leader epoch
    to.writeByte(2)                     // magic
    to.writeInt(0)                      // crc (client does not verify)
    to.writeShort(codec & 0x07)         // attributes: codec bits, not control
    to.writeInt((until - start - 1).toInt) // last offset delta
    to.writeLong(firstTs)
    to.writeLong(recs.last._4)
    to.writeLong(-1L); to.writeShort(-1); to.writeInt(-1) // producer id/epoch/seq
    to.writeInt(recs.size)
    to.write(recordsOut)

    val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
    o.writeLong(start)                  // base offset
    o.writeInt(tail.size())             // batch length
    o.write(tail.toByteArray)
    if (truncateTail) {
      // a plausible-but-cut next batch: full header claimed, half delivered
      o.writeLong(until)
      o.writeInt(1000)
      o.write(new Array[Byte](50))
    }
    bo.toByteArray
  }

  /** Serve stored produced-tail batches overlapping [start, until): whole
    * batches at their assigned base offsets, preserving producer identity,
    * the transactional bit, and control markers — the batch-boundary
    * fidelity transaction semantics need (a client filters records below
    * its fetch offset, exactly as against a real broker's log segments).
    * Data batches re-encode with the server's configured codec; control
    * markers use the public control-record schema. */
  private def encodeTailBatches(p: Int, start: Long, until: Long): Array[Byte] = {
    val tail = producedTail(p)
    val entries = tail.synchronized { tail.toVector }
    val overlapping = entries.filter(e => e.end > start && e.base < until)
    legacyMagic match {
      case Some(m) =>
        // a pre-0.11 broker double serves produced records in the legacy
        // MessageSet framing too; transactions postdate that wire format
        // by years, so a transactional tail under legacyMagic is a test
        // configuration error, not something to encode silently
        require(overlapping.forall(e => !e.transactional && e.control.isEmpty),
          "fake broker: legacyMagic cannot serve transactional batches " +
            "(pre-0.11 wire format has no transactions)")
        val flat = overlapping.flatMap(e => e.recs.zipWithIndex.map {
          case ((k, v, tsMs), i) => (e.base + i, k, v, tsMs)
        })
        return if (flat.isEmpty) Array.emptyByteArray
          else encodeLegacySet(m, flat)
      case None =>
    }
    val bo = new ByteArrayOutputStream()
    overlapping.foreach { e =>
      val bytes = e.control match {
        case Some(commit) =>
          encodeControlBatch(e.base, e.pid, e.epoch, commit, e.recs.head._3)
        case None =>
          encodeRecordBatchV2(e.recs, codec, e.pid, e.epoch, e.baseSeq,
            transactional = e.transactional, baseOffset = e.base)
      }
      bo.write(bytes)
    }
    bo.toByteArray
  }

  /** Pre-0.11 MessageSet encoding (magic 0: no timestamp; magic 1: int64
    * create-time timestamp), exactly as old producers/brokers framed it:
    * each entry = offset int64, size int32, crc int32 (0 — client does not
    * verify, same as v2), magic, attributes, [v1 ts], key BYTES, value
    * BYTES. With a codec, all records nest inside ONE compressed wrapper
    * message — v1 wrappers carry relative inner offsets (0..n-1) and the
    * last inner ABSOLUTE offset on the wrapper; v0 inner offsets stay
    * absolute, wrapper offset = last. Codecs follow the legacy rules:
    * gzip/snappy both magics, lz4 only on v1 (v0's lz4 framing was the
    * broken-checksum variant nobody should emit). */
  private def encodeLegacySet(magic: Int,
      recs: Seq[(Long, Array[Byte], Array[Byte], Long)]): Array[Byte] = {
    def message(off: Long, k: Array[Byte], v: Array[Byte], tsMs: Long,
        attrs: Int): Array[Byte] = {
      val mb = new ByteArrayOutputStream(); val mo = new DataOutputStream(mb)
      mo.writeInt(0)                    // crc (unverified)
      mo.writeByte(magic)
      mo.writeByte(attrs)
      if (magic == 1) mo.writeLong(tsMs)
      def bytes(b: Array[Byte]): Unit =
        if (b == null) mo.writeInt(-1)
        else { mo.writeInt(b.length); mo.write(b) }
      bytes(k); bytes(v)
      val eb = new ByteArrayOutputStream(); val eo = new DataOutputStream(eb)
      eo.writeLong(off)
      eo.writeInt(mb.size())
      eo.write(mb.toByteArray)
      eb.toByteArray
    }
    if (codec == 0) {
      val bo = new ByteArrayOutputStream()
      recs.foreach { case (off, k, v, tsMs) =>
        bo.write(message(off, k, v, tsMs, 0))
      }
      bo.toByteArray
    } else {
      require(codec <= 3 && !(codec == 3 && magic == 0),
        s"fake broker: codec $codec illegal for legacy magic $magic")
      val innerSet = new ByteArrayOutputStream()
      recs.zipWithIndex.foreach { case ((off, k, v, tsMs), i) =>
        val innerOff = if (magic == 1) i.toLong else off
        innerSet.write(message(innerOff, k, v, tsMs, 0))
      }
      val cb = new ByteArrayOutputStream()
      val cs: java.io.OutputStream = codec match {
        case 1 => new java.util.zip.GZIPOutputStream(cb)
        case 2 => new org.xerial.snappy.SnappyOutputStream(cb)
        case 3 => new net.jpountz.lz4.LZ4FrameOutputStream(cb)
      }
      cs.write(innerSet.toByteArray); cs.close()
      // wrapper: offset = last inner ABSOLUTE offset, value = compressed set
      message(recs.last._1, null, cb.toByteArray, recs.last._4, codec)
    }
  }

  override def close(): Unit = {
    closed = true
    server.close()
  }
}
