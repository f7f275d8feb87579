package graft.sources.replay

import java.io.{BufferedInputStream, DataInputStream, DataOutputStream, EOFException, IOException}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.net.{InetSocketAddress, Socket}

import org.apache.spark.internal.Logging

/** The third [[LogClient]] backend: a minimal APACHE KAFKA WIRE-PROTOCOL
  * consumer — the literal core capability of the reference
  * (/root/reference/src/kafka/execution.rs:62-112, an rdkafka consumer with
  * `enable.partition.eof` reading bounded offset ranges), implemented
  * directly against the public Kafka protocol so the engine needs no broker
  * library on the classpath.
  *
  * Protocol subset — TWO dialects, negotiated per broker in the
  * ApiVersions preflight (highest mutually spoken wins): the classic
  * pre-tagged-field versions below (accepted by every broker that still
  * serves them) and the FLEXIBLE (KIP-482) ones, so a KRaft-era broker
  * that retired the pre-flexible versions is served, not refused, ≡ the
  * version negotiation librdkafka does transparently for the reference
  * (Cargo.toml:8). Each API body is written ONCE for both dialects
  * against the [[KafkaWire]] codec; [[KafkaWire.Classic]] and
  * [[KafkaWire.FlexibleSince]] name the two versions of each API:
  *   - Metadata v0/v9 (api 3): partition ids + per-partition leader +
  *     broker address book. Re-requested every trigger via
  *     [[listPartitions]], so mid-stream partition growth is observed like
  *     the file client's re-listing.
  *   - ListOffsets v2/v6 (api 2): timestamp −2 → earliest, −1 → log-end. The
  *     planner's `[earliest, endOffset)` range IS the reference's
  *     `enable.partition.eof` bounded batch: each micro-batch plan reads to
  *     the frozen high watermark and stops. v2 carries the isolation level,
  *     so a read_committed consumer's "latest" is the LAST STABLE OFFSET —
  *     planned ranges never include records of a still-open transaction.
  *   - ApiVersions v0 (+v3 when served; api 18): first-connection
  *     preflight — negotiates every API's version, verifies the broker
  *     serves the SASL pins, and fails with a named error instead of a raw
  *     wire parse error if not (an error answer to ApiVersions itself is a
  *     named error too).
  *   - Fetch v4/v12 (api 1): RecordBatch v2 (magic 2) decode, with all four
  *     standard codecs (gzip/snappy/lz4/zstd — the records section is the
  *     compressed unit in v2, in the framing the official clients write);
  *     unknown codec ids or pre-v2 batches fail loudly — this client favors
  *     a diagnosable error over a silent wrong decode.
  *   - Produce v3/v9 on the write half, and the coordinator, group,
  *     transaction and admin APIs at their v0-era pins and flexible
  *     versions.
  *
  * `path` is `bootstrap-host:port/topic`. Planning calls are one-shot
  * connections to the bootstrap broker; each [[openFrames]] cursor holds one
  * persistent connection to the PARTITION LEADER (resolved via Metadata) and
  * issues sequential Fetch requests along its planned `[start, end)` range.
  *
  * Semantics notes vs the file/socket backends:
  *   - Kafka timestamps are milliseconds; the seam's `tsUs` is µs, so wire
  *     timestamps surface as `ms * 1000` (sub-ms precision does not survive
  *     a real broker round-trip — inherent to Kafka, not to this client).
  *   - `sizeInBytes` has no cheap protocol answer in this subset
  *     (DescribeLogDirs is a cluster-admin API); it estimates 1 KiB/record,
  *     used only for planner statistics.
  *   - Control batches (transaction markers) are skipped; `needKey`/
  *     `needValue` pruning skips payload DECODE (the bytes still cross the
  *     wire — Kafka fetches whole batches).
  *
  * Security (the reference inherits these from librdkafka's config
  * passthrough, tests/utils.rs:261-285): `consumer.security.protocol` =
  * PLAINTEXT (default) / SSL / SASL_PLAINTEXT / SASL_SSL. TLS runs the
  * JDK handshake, trusting `consumer.ssl.truststore.location` (PKCS12/JKS,
  * with `.password`) or the JVM default anchors, with HTTPS-style endpoint
  * identification on by default; SASL (SaslHandshake v1 + SaslAuthenticate
  * v0; `consumer.sasl.mechanism` = PLAIN, SCRAM-SHA-256, SCRAM-SHA-512 or
  * OAUTHBEARER) authenticates every new connection before any other API is
  * used — PLAIN/SCRAM with `consumer.sasl.username`/`.password`,
  * OAUTHBEARER with `consumer.sasl.oauthbearer.token`(`.file`).
  *
  * Registered as client kind `kafka`:
  * `spark.readStream.format("graft-replay").option("client", "kafka")
  *   .option("path", "broker:9092/events")`.
  * KafkaWireSpec proves the dialect against an in-process wire-faithful
  * broker double (KafkaCodecSpec the codecs, KafkaSecuritySpec the
  * TLS/SASL paths); the real-broker contract test is gated on
  * `GRAFT_KAFKA_BOOTSTRAP`/`GRAFT_KAFKA_TOPIC` and skips cleanly when no
  * broker is reachable.
  */
final class KafkaLogClient(path: String,
    conf: Map[String, String] = Map.empty) extends LogClient with Logging {
  import KafkaWire._

  private val (bootstrap, topic) = {
    val i = path.indexOf('/')
    require(i > 0 && i < path.length - 1,
      s"kafka client path must be host:port/topic, got '$path'")
    (path.substring(0, i), path.substring(i + 1))
  }

  // ---- security (the reference inherits this from librdkafka's config
  // passthrough, tests/utils.rs:261-285; same key names, minus the
  // `consumer.` prefix the source strips) --------------------------------
  private val securityProtocol =
    conf.getOrElse("security.protocol", "PLAINTEXT")
      .toUpperCase(java.util.Locale.ROOT)
  require(Set("PLAINTEXT", "SSL", "SASL_PLAINTEXT", "SASL_SSL")
      .contains(securityProtocol),
    s"unknown security.protocol '$securityProtocol' " +
      "(known: PLAINTEXT, SSL, SASL_PLAINTEXT, SASL_SSL)")
  private val useTls = securityProtocol.contains("SSL")
  /** Hostname verification algorithm, Kafka's
    * `ssl.endpoint.identification.algorithm`: defaults to HTTPS-style
    * host/SAN matching like every real Kafka client; the empty string
    * opts out (Kafka's own escape hatch for SAN-less internal certs).
    * Without this, any cert chaining to a trusted anchor would be
    * accepted for any broker host — a MITM hole on SSL/SASL_SSL. */
  private val endpointIdAlgo =
    conf.getOrElse("ssl.endpoint.identification.algorithm", "https")
  private val useSasl = securityProtocol.startsWith("SASL")
  private val saslMechanism = conf.getOrElse("sasl.mechanism", "PLAIN")
    .toUpperCase(java.util.Locale.ROOT)
  if (useSasl) require(
    Set("PLAIN", "SCRAM-SHA-256", "SCRAM-SHA-512", "OAUTHBEARER")
      .contains(saslMechanism),
    s"sasl.mechanism '$saslMechanism' unsupported " +
      "(PLAIN, SCRAM-SHA-256, SCRAM-SHA-512, OAUTHBEARER)")

  /** TLS context: a truststore option pins the broker CA; without one the
    * JVM default trust anchors apply (public-CA broker certs). */
  private lazy val sslContext: javax.net.ssl.SSLContext =
    conf.get("ssl.truststore.location") match {
      case Some(loc) =>
        val pw = conf.getOrElse("ssl.truststore.password", "").toCharArray
        val ks = java.security.KeyStore.getInstance(new java.io.File(loc), pw)
        val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
          javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
        tmf.init(ks)
        val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
        ctx.init(null, tmf.getTrustManagers, null)
        ctx
      case None => javax.net.ssl.SSLContext.getDefault
    }

  /** Open one configured connection to `addr`: TCP, then the TLS handshake
    * when the protocol asks for it, then SASL/PLAIN (SaslHandshake v1 +
    * SaslAuthenticate v0) — the exact client-side sequence a real broker
    * expects before serving any other API on a secured listener. */
  private def open(addr: String): (Socket, DataInputStream, DataOutputStream) = {
    val i = addr.lastIndexOf(':')
    require(i > 0, s"kafka address must be host:port, got '$addr'")
    val host = addr.substring(0, i)
    val port = addr.substring(i + 1).toInt
    val plain = new Socket()
    plain.connect(new InetSocketAddress(host, port), 10000)
    plain.setTcpNoDelay(true)
    val sock =
      if (!useTls) plain
      else {
        val s = sslContext.getSocketFactory
          .createSocket(plain, host, port, true)
          .asInstanceOf[javax.net.ssl.SSLSocket]
        if (endpointIdAlgo.nonEmpty) {
          val p = s.getSSLParameters
          p.setEndpointIdentificationAlgorithm(
            endpointIdAlgo.toUpperCase(java.util.Locale.ROOT))
          s.setSSLParameters(p)
        }
        s.startHandshake()
        s
      }
    val in = new DataInputStream(
      new BufferedInputStream(sock.getInputStream, 1 << 16))
    val out = new DataOutputStream(sock.getOutputStream)
    try {
      if (!preflighted) preflight(in, out)
      if (useSasl) authenticate(in, out)
    } catch { case e: Throwable => sock.close(); throw e }
    (sock, in, out)
  }

  private def authenticate(in: DataInputStream, out: DataOutputStream): Unit = {
    // SaslHandshake v1: negotiate the mechanism
    val hr = call(in, out, ApiSaslHandshake, 1)(_.str(saslMechanism))
    val herr = hr.readShort()
    if (herr != 0)
      throw new IOException(
        s"kafka SASL handshake rejected mechanism $saslMechanism (error $herr)")
    def need(k: String) = conf.getOrElse(k, throw new IOException(
      s"$securityProtocol requires consumer.$k"))
    // session_lifetime_ms is threaded as a VALUE from the final
    // SaslAuthenticate leg to here (not a shared field): two connections
    // authenticating concurrently on one client must not consume each
    // other's lifetime, or a long-lived fetch cursor ends up with no
    // re-auth deadline and the broker kills it mid-stream.
    val lifetimeMs: Long = saslMechanism match {
      case "PLAIN" =>
        // SaslAuthenticate v0: PLAIN token = [authzid] NUL user NUL password
        saslRound(in, out, ("\u0000" + need("sasl.username") + "\u0000" +
          need("sasl.password")).getBytes("UTF-8"))._2
      case "OAUTHBEARER" =>
        oauthBearerAuthenticate(in, out)
      case scram => // SCRAM-SHA-256 / SCRAM-SHA-512
        scramAuthenticate(in, out, scram.stripPrefix("SCRAM-"),
          need("sasl.username"), need("sasl.password"))
    }
    // KIP-368: arm (or re-arm) this connection's re-auth clock from the
    // broker-advertised session lifetime
    if (lifetimeMs > 0 &&
        !conf.get("sasl.disable.reauth").contains("true"))
      sessionDeadlines.put(out,
        System.currentTimeMillis() + lifetimeMs * 9 / 10)
    ()
  }

  /** SASL/OAUTHBEARER (RFC 7628) — the bearer-token mechanism managed
    * Kafka offers for OIDC/service-account auth (librdkafka, and hence the
    * reference, exposes it through the same config seam as PLAIN/SCRAM,
    * tests/utils.rs:261-285). The initial client response is
    * `n,, \x01 auth=Bearer <token> \x01\x01` (gs2 header, one kvpair); a
    * compliant server answers success with empty auth_bytes, or — per the
    * RFC's failure flow, which Kafka's OAuthBearerSaslServer implements —
    * an error-JSON *challenge*, after which the client sends the dummy
    * `\x01` response and the server fails the connection. Both paths are
    * handled: the JSON body is surfaced in the thrown error so a rejected
    * token reads as `invalid_token`, not a raw wire error.
    *
    * The token is static config — `consumer.sasl.oauthbearer.token`
    * (inline) or `consumer.sasl.oauthbearer.token.file` (path to a file
    * whose trimmed contents are the token — the mounted-service-account
    * shape). A refreshing provider callback is deliberately out of scope:
    * each connection re-reads the file, so external rotation works. */
  private def oauthBearerAuthenticate(in: DataInputStream,
      out: DataOutputStream): Long = {
    val token = conf.get("sasl.oauthbearer.token")
      .orElse(conf.get("sasl.oauthbearer.token.file").map { f =>
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(f)), "UTF-8").trim
      })
      .getOrElse(throw new IOException("sasl.mechanism OAUTHBEARER requires " +
        "consumer.sasl.oauthbearer.token or .token.file"))
    require(!token.exists(c => c == '\u0001' || c.isControl),
      "OAUTHBEARER token must not contain control characters")
    val (challenge, lifetimeMs) = saslRound(in, out,
      ("n,,\u0001auth=Bearer " + token + "\u0001\u0001").getBytes("UTF-8"))
    if (challenge.nonEmpty) {
      // RFC 7628 §3.2.3: a non-empty server message after the initial
      // response is an error JSON; the client MUST reply with %x01 and the
      // server then fails the authentication (Kafka returns error 58 on
      // that leg — saslRound throws; belt-and-braces throw if it doesn't).
      val errJson = new String(challenge, "UTF-8")
      try saslRound(in, out, Array[Byte](0x01)) catch {
        case e: IOException => throw new IOException(
          s"kafka OAUTHBEARER authentication failed: $errJson", e)
      }
      throw new IOException(
        s"kafka OAUTHBEARER authentication failed: $errJson")
    }
    lifetimeMs
  }

  /** One SaslAuthenticate round trip (v1 when the broker serves it, else
    * the v0 pin); returns (server auth_bytes — empty for PLAIN —,
    * session_lifetime_ms), throwing on a non-zero error code. The lifetime
    * (KIP-368, 0 when v0 or the broker requires no re-auth) is returned as
    * a value and threaded per connection by the callers — never parked in
    * shared state, so concurrent authentications cannot steal each other's
    * re-auth clock. */
  private def saslRound(in: DataInputStream, out: DataOutputStream,
      token: Array[Byte]): (Array[Byte], Long) = {
    val v: Short = if (serves(ApiSaslAuthenticate, 1)) 1 else 0
    val ar = call(in, out, ApiSaslAuthenticate, v)(_.bytes(token))
    val aerr = ar.readShort()
    val msg = ar.str()
    if (aerr != 0)
      throw new IOException("kafka SASL authentication failed (error " +
        s"$aerr${Option(msg).filter(_.nonEmpty).map(": " + _).getOrElse("")})")
    val bytes = Option(ar.bytes()).getOrElse(Array.emptyByteArray)
    val lifetimeMs = if (v >= 1) ar.readLong() else 0L
    (bytes, lifetimeMs)
  }

  /** KIP-368 re-auth deadlines per live connection (weak keys: one-shot
    * connections vanish with their sockets; only the long-lived fetch
    * cursor stays). Deadline = auth time + 90% of the advertised lifetime,
    * the official client's windowing idea without its jitter (determinism
    * over a double matters more here). */
  private val sessionDeadlines = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataOutputStream, java.lang.Long]())

  /** Re-authenticate in place (SaslHandshake + SaslAuthenticate over the
    * SAME socket, interleaved between normal requests — the KIP-368 client
    * flow) when this connection's session deadline passed. Long-lived
    * connections (the fetch cursor) call this before each request; without
    * it a streaming read against a broker with connections.max.reauth.ms
    * set dies mid-stream. Test seam: `consumer.sasl.disable.reauth=true`
    * lets a spec PROVE the broker-side kill is real. */
  private def maybeReauth(in: DataInputStream, out: DataOutputStream): Unit = {
    if (!useSasl) return
    val d = sessionDeadlines.get(out)
    if (d != null && System.currentTimeMillis() >= d) authenticate(in, out)
  }

  /** SCRAM client exchange (RFC 5802, SHA-256/512 parameterization per
    * RFC 7677), carried in SaslAuthenticate frames exactly as Kafka's
    * ScramSaslClient does — the default managed-Kafka SASL mechanism after
    * PLAIN (librdkafka, and hence the reference, inherits it from the same
    * config seam, tests/utils.rs:261-285). Three legs:
    *   C: `n,,n=user,r=cnonce`
    *   S: `r=cnonce+snonce,s=b64(salt),i=iterations`
    *   C: `c=biws,r=nonce,p=b64(ClientProof)` with
    *      ClientProof = ClientKey XOR HMAC(H(ClientKey), AuthMessage)
    *   S: `v=b64(ServerSignature)` — VERIFIED here (mutual auth: a server
    *      that never held the credentials cannot forge it).
    * Passwords are raw UTF-8 (Kafka's SaslPrep is the identity for the
    * ASCII passwords it documents); usernames get the =2C/=3D escapes. */
  private def scramAuthenticate(in: DataInputStream, out: DataOutputStream,
      shaAlgo: String, user: String, password: String): Long = {
    val b64e = java.util.Base64.getEncoder
    val b64d = java.util.Base64.getDecoder
    val hmacAlgo = "Hmac" + shaAlgo.replace("-", "")
    def hmac(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
      val m = javax.crypto.Mac.getInstance(hmacAlgo)
      m.init(new javax.crypto.spec.SecretKeySpec(key, hmacAlgo))
      m.doFinal(data)
    }
    def digest(data: Array[Byte]): Array[Byte] =
      java.security.MessageDigest.getInstance(shaAlgo).digest(data)
    val saslUser = user.replace("=", "=3D").replace(",", "=2C")
    val nb = new Array[Byte](18)
    new java.security.SecureRandom().nextBytes(nb)
    val cnonce = b64e.withoutPadding.encodeToString(nb)
    val clientFirstBare = s"n=$saslUser,r=$cnonce"
    val serverFirst = new String(
      saslRound(in, out, ("n,," + clientFirstBare).getBytes("UTF-8"))._1, "UTF-8")
    val attrs = serverFirst.split(",").collect {
      case a if a.length >= 2 && a.charAt(1) == '=' =>
        a.substring(0, 1) -> a.substring(2)
    }.toMap
    val nonce = attrs.getOrElse("r", throw new IOException(
      s"kafka SCRAM server-first missing nonce: '$serverFirst'"))
    if (!nonce.startsWith(cnonce))
      throw new IOException("kafka SCRAM server nonce does not extend the " +
        "client nonce — replayed or tampered exchange")
    val salt = b64d.decode(attrs.getOrElse("s", throw new IOException(
      s"kafka SCRAM server-first missing salt: '$serverFirst'")))
    val iterations = attrs.getOrElse("i", "0").toInt
    if (iterations < 1)
      throw new IOException(s"kafka SCRAM iteration count $iterations invalid")
    val keyBits = if (shaAlgo == "SHA-512") 512 else 256
    val salted = javax.crypto.SecretKeyFactory
      .getInstance("PBKDF2WithHmac" + shaAlgo.replace("-", ""))
      .generateSecret(new javax.crypto.spec.PBEKeySpec(
        password.toCharArray, salt, iterations, keyBits))
      .getEncoded
    val clientKey = hmac(salted, "Client Key".getBytes("UTF-8"))
    val clientFinalNoProof = s"c=biws,r=$nonce" // biws = b64("n,,")
    val authMessage = (clientFirstBare + "," + serverFirst + "," +
      clientFinalNoProof).getBytes("UTF-8")
    val clientSig = hmac(digest(clientKey), authMessage)
    val proof = clientKey.zip(clientSig).map { case (a, b) => (a ^ b).toByte }
    // the lifetime rides the FINAL SaslAuthenticate leg (the broker arms
    // the session only once authentication completes)
    val (serverFinalBytes, lifetimeMs) = saslRound(in, out,
      (clientFinalNoProof + ",p=" + b64e.encodeToString(proof))
        .getBytes("UTF-8"))
    val serverFinal = new String(serverFinalBytes, "UTF-8")
    val serverSig = hmac(hmac(salted, "Server Key".getBytes("UTF-8")), authMessage)
    val v = serverFinal.split(",").find(_.startsWith("v="))
      .getOrElse(throw new IOException(
        s"kafka SCRAM server-final missing verifier: '$serverFinal'"))
    if (!java.security.MessageDigest.isEqual(b64d.decode(v.drop(2)), serverSig))
      throw new IOException("kafka SCRAM server signature mismatch — the " +
        "broker does not hold these credentials (mutual auth failed)")
    lifetimeMs
  }

  /** The (name, api key, pinned version) dialect this client speaks with
    * NO flexible twin — only the SASL handshake pair, which must be
    * verified at preflight time because authentication happens before any
    * other API can run. Everything else negotiates between its classic
    * version and the flexible (KIP-482) one ([[KafkaWire.Classic]],
    * [[KafkaWire.FlexibleSince]]) via [[pickVersion]]. */
  private def pinnedApis: Seq[(String, Short, Short)] =
    if (useSasl) Seq[(String, Short, Short)](
      ("SaslHandshake", ApiSaslHandshake, 1),
      ("SaslAuthenticate", ApiSaslAuthenticate, 0)) else Nil

  @volatile private var preflighted = false
  /** The broker's advertised version ranges (the preflight's outcome). */
  @volatile private var brokerRanges = Map.empty[Short, (Short, Short)]

  private def serves(k: Short, v: Short): Boolean =
    brokerRanges.get(k).exists { case (lo, hi) => v >= lo && v <= hi }

  /** Highest mutually-spoken version of an API: the flexible (KIP-482)
    * version when the broker serves it, the classic pin when it does not,
    * a NAMED error when it serves neither. Every call site runs after
    * [[open]] has preflighted; the read path's three APIs are also picked
    * eagerly in [[preflight]], the rest at first use — so a configuration
    * that never touches an API (group commit-back, membership,
    * transactions, admin) never fails on its ranges, and one that does
    * gets a named version error instead of a raw wire parse failure. */
  private def pickVersion(k: Short): Short = {
    val (name, pinned) = Classic(k)
    val flex = FlexibleSince(k)
    if (serves(k, flex)) flex
    else if (serves(k, pinned)) pinned
    else brokerRanges.get(k) match {
      case Some((lo, hi)) => throw new IOException(
        s"kafka broker serves $name [$lo, $hi]; this client speaks " +
          s"v$pinned (non-flexible) and v$flex (flexible) only")
      case None => throw new IOException(
        s"kafka broker does not expose api $k ($name)")
    }
  }

  /** ApiVersions preflight on the first connection — sent before SASL,
    * exactly where real clients send it (brokers serve it pre-auth so
    * clients can negotiate handshake versions). v0 goes first: a broker
    * older than 0.10 closes the connection on it and every later one
    * answers it, so an error answer is a named failure, not a guess. When
    * the broker serves ApiVersions v3, the preflight also round-trips the
    * flexible v3 form on the same connection (≡ KIP-511's upgrade) and
    * requires the same ranges. Metadata, Fetch and ListOffsets then
    * negotiate eagerly — preferring the highest version both sides speak,
    * like every real client — so a KRaft-era broker that retired the
    * pre-flexible versions is SERVED, and a broker serving neither dialect
    * of the read path fails here with a named error. */
  private def preflight(in: DataInputStream, out: DataOutputStream): Unit = {
    def ranges(r: In): Map[Short, (Short, Short)] = {
      val err = r.readShort()
      if (err != 0)
        throw new IOException(s"kafka ApiVersions v${r.version} failed with " +
          s"error $err — this client needs a broker that answers " +
          "ApiVersions (Kafka 0.10+)")
      r.array {
        val k = r.readShort(); val lo = r.readShort(); val hi = r.readShort()
        r.tags()
        k -> ((lo, hi))
      }.toMap
    }
    brokerRanges = ranges(call(in, out, ApiApiVersions, 0)(_ => ()))
    if (serves(ApiApiVersions, 3)) {
      val ranges3 = ranges(call(in, out, ApiApiVersions, 3) { o =>
        o.str("graft")          // client_software_name
        o.str("0.1")            // client_software_version
        o.tags()
      })
      if (ranges3 != brokerRanges)
        throw new IOException("kafka ApiVersions v0 and v3 advertise " +
          "different ranges — refusing to negotiate against an " +
          s"inconsistent broker (v0: $brokerRanges, v3: $ranges3)")
    }
    Seq(ApiMetadata, ApiFetch, ApiListOffsets).foreach(pickVersion)
    val bad = pinnedApis.collect { case (name, k, v) if !serves(k, v) =>
      brokerRanges.get(k).fold(s"$name v$v (broker does not expose api $k)") {
        case (lo, hi) => s"$name v$v (broker serves [$lo, $hi])"
      }
    }
    if (bad.nonEmpty)
      throw new IOException("kafka broker rejects this client's pinned " +
        s"protocol dialect: ${bad.mkString("; ")} — the graft kafka client " +
        "speaks fixed pre-flexible request versions for these APIs")
    preflighted = true
  }

  /** One request/response on an open connection, `body` written for
    * `version` in its dialect. */
  private def call(in: DataInputStream, out: DataOutputStream, apiKey: Short,
      version: Short)(body: Out => Unit): In = {
    val o = new Out(version, isFlexible(apiKey, version))
    body(o)
    request(in, out, apiKey, version, o.toByteArray)
  }

  /** One configured connection, one request/response (planning side) at
    * the negotiated version. The connection opens FIRST (forcing the
    * preflight on a fresh client) and only then is the version picked and
    * the body written for it — a body written before negotiation would be
    * framed as the wrong version. */
  private[replay] def oneShot(addr: String, apiKey: Short)
      (body: Out => Unit): In = {
    val (s, in, out) = open(addr)
    try call(in, out, apiKey, pickVersion(apiKey))(body)
    finally s.close() // response fully buffered by request()
  }

  // ---- admin ---------------------------------------------------------------

  /** CreateTopics (api 19, v0 or the flexible v5) — the admin call the
    * reference's test harness makes before producing (rdkafka AdminClient
    * create_topics, `tests/utils.rs:104-117`): create each
    * (name, partitions) with replication factor 1 (single node),
    * broker-assigned replicas, no configs. Throws with the NAMED Kafka
    * error on any per-topic failure — a topic that silently failed to
    * create would surface later as an UNKNOWN_TOPIC produce error, far
    * from the cause. */
  def createTopics(topics: Seq[(String, Int)], timeoutMs: Int = 30000): Unit = {
    val r = oneShot(bootstrap, ApiCreateTopics) { o =>
      o.array(topics) { case (name, partitions) =>
        o.str(name)
        o.writeInt(partitions)
        o.writeShort(1)         // replication_factor (single-node)
        o.arrayLen(0)           // assignments: broker assigns
        o.arrayLen(0)           // configs: defaults
        o.tags()
      }
      o.writeInt(timeoutMs)
      if (o.version >= 1) o.writeBoolean(false) // validate_only
      o.tags()
    }
    val v = r.version
    if (v >= 2) r.readInt()     // throttle_time_ms
    val failed = r.array {
      val name = r.str()
      val err = r.readShort()
      if (v >= 1) r.str()       // error_message (nullable)
      if (v >= 5) {
        r.readInt()             // num_partitions
        r.readShort()           // replication_factor
        r.array {               // configs
          r.str(); r.str(); r.readBoolean(); r.readByte(); r.readBoolean()
          r.tags()
        }
      }
      r.tags()
      (name, err)
    }.filter(_._2 != 0)
    if (failed.nonEmpty) {
      val named = failed.map { case (t, e) =>
        val name = e match {
          case 3 => "UNKNOWN_TOPIC_OR_PARTITION"
          case 36 => "TOPIC_ALREADY_EXISTS"
          case 37 => "INVALID_PARTITIONS"
          case 38 => "INVALID_REPLICATION_FACTOR"
          case 42 => "INVALID_REQUEST"
          case other => s"error $other"
        }
        s"'$t' -> $name"
      }
      throw new IOException(s"kafka CreateTopics failed: ${named.mkString(", ")}")
    }
  }

  // ---- metadata ------------------------------------------------------------

  private case class Meta(brokers: Map[Int, String], leaders: Map[Int, Int])

  /** Metadata for this client's topic: the broker address book and each
    * partition's leader (v0, or the flexible v9 with its rack, cluster id,
    * leader epoch, offline replicas and authorized-operations fields). */
  private def fetchMeta(): Meta = {
    val r = oneShot(bootstrap, ApiMetadata) { o =>
      o.arrayLen(1); o.str(topic); o.tags()
      if (o.version >= 4) o.writeBoolean(false) // allow_auto_topic_creation
      // include_cluster_authorized_operations (v8-v10), include_topic_…
      if (o.version >= 8 && o.version <= 10) o.writeBoolean(false)
      if (o.version >= 8) o.writeBoolean(false)
      o.tags()
    }
    val v = r.version
    if (v >= 3) r.readInt()     // throttle_time_ms
    val brokers = r.array {
      val id = r.readInt(); val host = r.str(); val port = r.readInt()
      if (v >= 1) r.str()       // rack (nullable)
      r.tags()
      id -> s"$host:$port"
    }.toMap
    if (v >= 2) r.str()         // cluster_id (nullable)
    if (v >= 1) r.readInt()     // controller_id
    var leaders = Map.empty[Int, Int]
    r.array {
      val err = r.readShort(); val name = r.str()
      if (v >= 1) r.readBoolean() // is_internal
      if (err != 0)
        throw new IOException(s"kafka metadata error $err for topic '$name'")
      r.array {
        val perr = r.readShort(); val pid = r.readInt(); val leader = r.readInt()
        if (v >= 7) r.readInt() // leader_epoch
        r.skipIntArray()        // replicas
        r.skipIntArray()        // isr
        if (v >= 5) r.skipIntArray() // offline_replicas
        r.tags()
        if (perr != 0)
          throw new IOException(s"kafka metadata error $perr for $name/$pid")
        if (name == topic) leaders += pid -> leader
      }
      if (v >= 8) r.readInt()   // topic_authorized_operations
      r.tags()
    }
    if (v >= 8 && v <= 10) r.readInt() // cluster_authorized_operations
    r.tags()
    if (leaders.isEmpty)
      throw new IOException(s"kafka topic '$topic' has no partitions at $bootstrap")
    Meta(brokers, leaders)
  }

  private def leaderAddr(meta: Meta, p: Int): String =
    meta.brokers.getOrElse(meta.leaders.getOrElse(p,
        throw new IOException(s"kafka partition $topic/$p unknown")),
      throw new IOException(s"kafka leader for $topic/$p not in broker list"))

  // ---- LogClient surface ---------------------------------------------------

  override def listPartitions(): Seq[Int] = fetchMeta().leaders.keys.toSeq.sorted

  /** ListOffsets at `ts` (−1 latest, −2 earliest) against the leader, over
    * the negotiated version: the flexible v6 (carries
    * current_leader_epoch, −1 = unknown) or the non-flexible v2 pin. Both
    * are ISOLATION-AWARE (v2 was the first): under read_committed the
    * "latest" offset is the LAST STABLE OFFSET, so every planned
    * micro-batch range ends at transactionally-decided data — a range can
    * never include records of a still-open transaction. */
  private def listOffset(p: Int, ts: Long): Long =
    listOffsetRaw(p, ts) match {
      case off if off >= 0 => off
      case _ => throw new IOException(s"kafka ListOffsets missing $topic/$p")
    }

  /** ListOffsets by REAL timestamp (KIP-79 semantics): the earliest offset
    * whose record timestamp is >= `tsMs`, None when the log holds no such
    * record. Works over both dialects (the broker double resolves v2 and
    * v6 identically). */
  override def offsetForTimestamp(p: Int, tsMs: Long): Option[Long] = {
    require(tsMs >= 0, s"offsetForTimestamp needs a real timestamp, got $tsMs")
    val off = listOffsetRaw(p, tsMs)
    if (off < 0) None else Some(off)
  }

  private def listOffsetRaw(p: Int, ts: Long): Long = {
    val r = oneShot(leaderAddr(fetchMeta(), p), ApiListOffsets) { o =>
      o.writeInt(-1)            // replica_id: consumer
      o.writeByte(if (readCommitted) 1 else 0) // isolation_level
      o.arrayLen(1); o.str(topic)
      o.arrayLen(1); o.writeInt(p)
      if (o.version >= 4) o.writeInt(-1) // current_leader_epoch: unknown
      o.writeLong(ts)
      o.tags(); o.tags(); o.tags() // partition, topic, request
    }
    r.readInt()                 // throttle_time_ms
    var result = -1L
    r.array {
      val name = r.str()
      r.array {
        val pid = r.readInt(); val err = r.readShort()
        r.readLong()            // timestamp
        val off = r.readLong()
        if (r.version >= 4) r.readInt() // leader_epoch
        r.tags()
        if (err != 0)
          throw new IOException(s"kafka ListOffsets error $err for $name/$pid")
        if (name == topic && pid == p) result = off
      }
      r.tags()
    }
    result // -1 = no answer (timestamp past the log end, or topic missing)
  }

  override def endOffset(p: Int): Long = listOffset(p, -1L)
  /** Earliest readable offset — the log-start / DeleteRecords low
    * watermark (ListOffsets timestamp -2). */
  def startOffset(p: Int): Long = listOffset(p, -2L)
  override def recordCount(p: Int): Long =
    math.max(0L, listOffset(p, -1L) - listOffset(p, -2L))
  override def sizeInBytes(p: Int): Long = recordCount(p) * 1024L

  // ---- consumer-group offset commit-back -----------------------------------
  // FindCoordinator (api 10) + OffsetCommit (api 8) + OffsetFetch (api 9),
  // each v0/v2/v1 or the flexible v3/v8/v6: the ≡ of rdkafka's
  // enable.auto.commit (reference tests/utils.rs:272). Commit-back is
  // ecosystem observability — external lag monitors watching the group see
  // this consumer's progress — while the Spark checkpoint WAL stays the
  // restart truth (the reference never reads committed offsets back
  // either; SURVEY §3.2).

  /** The group coordinator's address for `group` (a real cluster routes
    * group state to one broker; the bootstrap answers FindCoordinator —
    * v1+ adds key_type, 0 = consumer group). */
  private[replay] def coordinator(group: String): String = {
    val r = oneShot(bootstrap, ApiFindCoordinator) { o =>
      o.str(group)
      if (o.version >= 1) o.writeByte(0) // key_type: consumer group
      o.tags()
    }
    if (r.version >= 1) r.readInt() // throttle_time_ms
    val err = r.readShort()
    val errMsg = if (r.version >= 1) Option(r.str()) else None
    if (err != 0)
      throw new IOException(s"kafka FindCoordinator error $err for group " +
        s"'$group'${errMsg.fold("")(m => s": $m")}")
    r.readInt()                 // node id
    val host = r.str()
    val port = r.readInt()
    s"$host:$port"
  }

  override def commitOffsets(group: String, offsets: Map[Int, Long]): Unit =
    commitOffsetsAs(group, -1, "", offsets)

  /** OffsetCommit (v2 or the flexible v8) carrying an explicit
    * (generation, memberId) — -1/"" is the simple non-member consumer; the
    * membership seam passes its coordinator-issued identity so commits are
    * generation-fenced. */
  private[replay] def commitOffsetsAs(group: String, generation: Int,
      memberId: String, offsets: Map[Int, Long],
      groupInstanceId: String = null): Unit = {
    if (offsets.isEmpty) return
    val r = oneShot(coordinator(group), ApiOffsetCommit) { o =>
      val v = o.version
      o.str(group)
      o.writeInt(generation)
      o.str(memberId)
      if (v >= 7) o.str(groupInstanceId) // KIP-345 (null = dynamic)
      if (v >= 2 && v <= 4) o.writeLong(-1L) // retention: broker default
      o.arrayLen(1); o.str(topic)
      o.array(offsets.toSeq.sortBy(_._1)) { case (p, off) =>
        o.writeInt(p); o.writeLong(off)
        if (v >= 6) o.writeInt(-1) // committed_leader_epoch: not tracked
        o.str("")               // metadata
        o.tags()
      }
      o.tags(); o.tags()
    }
    if (r.version >= 3) r.readInt() // throttle_time_ms
    r.array {
      val name = r.str()
      r.array {
        val pid = r.readInt(); val err = r.readShort()
        r.tags()
        if (err != 0)
          throw new IOException(
            s"kafka OffsetCommit error $err for $name/$pid group '$group'" +
              (if (generation != -1) s" (member $memberId gen $generation)"
               else ""))
      }
      r.tags()
    }
  }

  override def committedOffsets(group: String,
      parts: Seq[Int]): Map[Int, Long] = {
    if (parts.isEmpty) return Map.empty
    val r = oneShot(coordinator(group), ApiOffsetFetch) { o =>
      o.str(group)
      o.arrayLen(1); o.str(topic)
      o.array(parts.sorted)(o.writeInt)
      o.tags(); o.tags()
    }
    val v = r.version
    if (v >= 3) r.readInt()     // throttle_time_ms
    var out = Map.empty[Int, Long]
    r.array {
      val name = r.str()
      r.array {
        val pid = r.readInt(); val off = r.readLong()
        if (v >= 5) r.readInt() // committed_leader_epoch
        r.str()                 // metadata
        val err = r.readShort()
        r.tags()
        if (err != 0)
          throw new IOException(
            s"kafka OffsetFetch error $err for $name/$pid group '$group'")
        if (name == topic && off >= 0) out += pid -> off
      }
      r.tags()
    }
    if (v >= 2) {
      val topErr = r.readShort()
      if (topErr != 0)
        throw new IOException(
          s"kafka OffsetFetch top-level error $topErr for group '$group'")
    }
    out
  }

  // ---- producer side --------------------------------------------------------
  // Produce v3 or the flexible v9 (api 0): the write half of the wire
  // dialect — v3 is the first version that carries RecordBatch v2 (the
  // format this client encodes) and the last before flexible headers, so it
  // pairs with the consume pins above. The reference only produces in its test harness (populate_topic,
  // tests/utils.rs:156-212, an rdkafka FutureProducer); here the same
  // capability backs the graft-replay SINK (ReplayWrite), so a streaming
  // query can write its output back to a topic.

  /** Per-leader persistent produce connections (a sink task produces many
    * small batches; re-dialing + re-authenticating per call would dominate).
    * Guarded by this client instance — one sink DataWriter owns one client. */
  private var prodConns = Map.empty[String, (Socket, DataInputStream, DataOutputStream)]
  private var prodMeta: Meta = _

  /** Idempotence (`enable.idempotence=true`, librdkafka's knob): a producer
    * identity from InitProducerId (api 22 v0) plus a per-partition sequence
    * number stamped into every batch. Brokers track (pid, partition) →
    * last sequence range and ABSORB an exact retransmit (same offsets
    * acked, nothing re-appended), which upgrades the ambiguous-failure
    * retry below from at-least-once to exactly-once WITHIN this producer
    * session. Honest scope, same as the real client: a NEW session (task
    * restart) gets a new pid, so cross-restart duplicates remain possible
    * — full cross-session exactly-once needs transactions, which this
    * dialect does not speak. */
  /** `transactional.id` (librdkafka's knob) upgrades the producer to
    * TRANSACTIONS — the full exactly-once write path this dialect's
    * consume side already understands: InitProducerId registers the id,
    * [[beginTxn]] opens a transaction, produce stamps the transactional
    * attribute bit and lazily registers each partition via
    * AddPartitionsToTxn (api 24 v0 — Kafka has no wire "begin"; a txn
    * starts when its first partition is added), and [[endTxn]] asks the
    * coordinator to write COMMIT/ABORT control markers (EndTxn, api 26
    * v0). Until the commit marker lands, a read_committed consumer sees
    * nothing; an abort makes the produced records permanently invisible.
    * A transactional id implies idempotence, as in every real client. */
  private val transactionalId = conf.get("transactional.id")
  private val idempotent = transactionalId.isDefined ||
    conf.get("enable.idempotence").contains("true")
  private var producerId = -1L
  private var producerEpoch: Short = -1
  private val seqByPartition = scala.collection.mutable.Map.empty[Int, Int]
  private var txnOpen = false
  private val txnPartitions = scala.collection.mutable.Set.empty[Int]
  /** true once sendOffsetsToTxn staged offsets in the open txn — the txn
    * then has broker-side state even with zero data partitions, so EndTxn
    * must go to the wire (the local empty-txn resolution would leak the
    * staged offsets forever). */
  private var txnHasOffsets = false

  private def ensureProducerId(): Unit = if (idempotent && producerId < 0) {
    val r = oneShot(bootstrap, ApiInitProducerId) { o =>
      o.str(transactionalId.orNull) // null: idempotence only
      // transaction.timeout.ms ≡ librdkafka's knob: the broker aborts (and
      // fences) a transaction left open past this — the liveness bound that
      // keeps a crashed writer from pinning the LSO forever
      o.writeInt(conf.get("transaction.timeout.ms").map(_.toInt)
        .getOrElse(60000))
      o.tags()
    }
    r.readInt()                 // throttle_time_ms
    val err = r.readShort()
    if (err != 0)
      throw new IOException(s"kafka InitProducerId error $err")
    producerId = r.readLong()
    producerEpoch = r.readShort()
  }

  /** Open a transaction. All subsequent [[produce]] calls belong to it
    * until [[endTxn]]. (Wire-wise this only fences local state — the
    * broker learns of the txn at the first AddPartitionsToTxn.) */
  def beginTxn(): Unit = synchronized {
    require(transactionalId.isDefined,
      "beginTxn requires producer transactional.id")
    require(!txnOpen, "a transaction is already open")
    ensureProducerId()
    txnPartitions.clear()
    txnHasOffsets = false
    txnOpen = true
  }

  /** AddPartitionsToTxn (v0 or the flexible v3): register `p` with the
    * coordinator as part of the open transaction (sent lazily on first
    * produce to `p`). */
  private def addPartitionToTxn(p: Int): Unit = {
    val r = oneShot(bootstrap, ApiAddPartitionsToTxn) { o =>
      o.str(transactionalId.get)
      o.writeLong(producerId); o.writeShort(producerEpoch)
      o.arrayLen(1); o.str(topic)
      o.arrayLen(1); o.writeInt(p)
      o.tags(); o.tags()
    }
    r.readInt()                 // throttle_time_ms
    r.array {
      val name = r.str()
      r.array {
        val pid = r.readInt(); val err = r.readShort()
        r.tags()
        if (err == 90) throw new IOException(
          s"kafka AddPartitionsToTxn error 90 for $name/$pid: producer " +
            s"fenced — a newer producer re-registered transactional.id " +
            s"'${transactionalId.get}'")
        if (err != 0) throw new IOException(
          s"kafka AddPartitionsToTxn error $err for $name/$pid")
      }
      r.tags()
    }
    txnPartitions += p
  }

  /** Commit CONSUMER offsets inside the open transaction — librdkafka's
    * send_offsets_to_transaction, the heart of the exactly-once
    * consume-transform-produce loop: the offsets become visible to
    * OffsetFetch atomically with the transaction's COMMIT marker (an
    * abort drops them), so "input consumed" and "output produced" are one
    * decision. Two wire steps, each speaking both dialects:
    * AddOffsetsToTxn (api 25, v0 or flexible v3) registers the group's
    * offsets topic with the transaction at the txn coordinator, then
    * TxnOffsetCommit (api 28, v0 or flexible v3) stages the offsets at
    * the GROUP coordinator under the producer's (pid, epoch) — a fenced
    * zombie is rejected at either step (90/47), an unregistered producer
    * with INVALID_TXN_STATE (48). The v3 frame carries the KIP-447
    * (generation, member) fields; this simple-consumer path sends
    * (-1, "") exactly like [[commitOffsets]]. */
  def sendOffsetsToTxn(group: String, offsets: Map[Int, Long]): Unit =
    synchronized {
      require(transactionalId.isDefined,
        "sendOffsetsToTxn requires producer transactional.id")
      require(txnOpen,
        "sendOffsetsToTxn must be called inside beginTxn()/endTxn()")
      if (offsets.isEmpty) return
      ensureProducerId()
      val ar = oneShot(bootstrap, ApiAddOffsetsToTxn) { o =>
        o.str(transactionalId.get)
        o.writeLong(producerId); o.writeShort(producerEpoch)
        o.str(group)
        o.tags()
      }
      ar.readInt()              // throttle_time_ms
      val aerr = ar.readShort()
      if (aerr == 90) throw new IOException(
        "kafka AddOffsetsToTxn error 90: producer fenced — a newer " +
          s"producer re-registered transactional.id '${transactionalId.get}'")
      if (aerr != 0)
        throw new IOException(s"kafka AddOffsetsToTxn error $aerr")
      // from here the broker HAS an open txn for this pid: EndTxn must go
      // to the wire even if the TxnOffsetCommit below fails and the
      // caller aborts
      txnHasOffsets = true
      val r = oneShot(coordinator(group), ApiTxnOffsetCommit) { o =>
        o.str(transactionalId.get)
        o.str(group)
        o.writeLong(producerId); o.writeShort(producerEpoch)
        if (o.version >= 3) {
          o.writeInt(-1)        // generation_id: simple consumer (KIP-447)
          o.str("")             // member_id
          o.str(null)           // group_instance_id
        }
        o.arrayLen(1); o.str(topic)
        o.array(offsets.toSeq.sortBy(_._1)) { case (p, off) =>
          o.writeInt(p); o.writeLong(off)
          if (o.version >= 2) o.writeInt(-1) // committed_leader_epoch
          o.str("")             // metadata
          o.tags()
        }
        o.tags(); o.tags()
      }
      r.readInt()               // throttle_time_ms
      r.array {
        val name = r.str()
        r.array {
          val pid = r.readInt(); val err = r.readShort()
          r.tags()
          if (err == 47) throw new IOException(
            s"kafka TxnOffsetCommit error 47 for $name/$pid: producer " +
              "fenced — a newer producer re-registered transactional.id " +
              s"'${transactionalId.get}'")
          if (err != 0) throw new IOException(
            s"kafka TxnOffsetCommit error $err for $name/$pid group '$group'")
        }
        r.tags()
      }
    }

  /** EndTxn (v0 or the flexible v3): commit (true) or abort (false) the
    * open transaction — the coordinator writes the control markers into
    * every added partition. On a single-broker cluster the bootstrap IS
    * the coordinator; a multi-broker dialect would resolve it via
    * FindCoordinator key_type 1 first (the group path above shows the
    * shape). */
  def endTxn(commit: Boolean): Unit = synchronized {
    require(txnOpen, "no open transaction to end")
    if (txnPartitions.isEmpty && !txnHasOffsets) {
      // Empty transaction: the coordinator only learns of a txn at the
      // first AddPartitionsToTxn/AddOffsetsToTxn, so an EndTxn here would
      // draw INVALID_TXN_STATE from a real broker. The Java client
      // resolves an empty commit/abort locally the same way. (Staged
      // offsets count as broker-side state: then EndTxn MUST go out.)
      txnOpen = false
      return
    }
    val r = oneShot(bootstrap, ApiEndTxn) { o =>
      o.str(transactionalId.get)
      o.writeLong(producerId); o.writeShort(producerEpoch)
      o.writeBoolean(commit)
      o.tags()
    }
    r.readInt()                 // throttle_time_ms
    val err = r.readShort()
    if (err == 90) throw new IOException(
      "kafka EndTxn error 90: producer fenced — a newer producer " +
        s"re-registered transactional.id '${transactionalId.get}' " +
        "(this zombie's open transaction was already aborted broker-side)")
    if (err != 0) throw new IOException(s"kafka EndTxn error $err")
    txnOpen = false
    txnPartitions.clear()
    txnHasOffsets = false
  }

  /** Append `recs` = (key, value, timestampMs) to `topic`/`p` as one
    * RecordBatch v2 (compressed per `codec`), acks=-1 (full ISR — the
    * strongest public durability setting), returning the broker-assigned
    * base offset. An ambiguous failure (request sent, response lost) is
    * retried ONCE on a fresh connection with the IDENTICAL wire batch:
    * with idempotence on, the broker recognizes the (pid, sequence) and
    * acks without re-appending — exactly-once within this session; without
    * it, the retry may duplicate (at-least-once, the default-config
    * librdkafka contract the reference inherits). */
  def produce(p: Int, recs: Seq[(Array[Byte], Array[Byte], Long)],
      codec: Int = 0): Long = synchronized {
    require(recs.nonEmpty, "kafka produce needs at least one record")
    if (transactionalId.isDefined) {
      require(txnOpen,
        "a transactional producer must produce inside beginTxn()/endTxn()")
      if (!txnPartitions.contains(p)) addPartitionToTxn(p)
    }
    ensureProducerId()
    val baseSeq = if (idempotent) seqByPartition.getOrElse(p, 0) else -1
    val recordSet =
      encodeRecordBatchV2(recs, codec, producerId, producerEpoch, baseSeq,
        transactional = transactionalId.isDefined)
    // the envelope is written INSIDE attempt(), after fetchMeta() has
    // forced the preflight: the Produce version is negotiated lazily there,
    // and a fresh producer's first produce() would otherwise encode the
    // pinned-v3 body and then frame it as the just-negotiated v9 (a
    // deterministic rebuild — same inputs — so the ambiguous-failure retry
    // still resends the IDENTICAL wire batch). The record set itself is
    // the same RecordBatch v2 bytes in both dialects.
    def attempt(): Long = {
      if (prodMeta == null) prodMeta = fetchMeta()
      // negotiated AFTER fetchMeta() forced the preflight; validated
      // against the broker's advertised ranges on every produce path
      val v = pickVersion(ApiProduce)
      val addr = leaderAddr(prodMeta, p)
      val (_, in, out) = prodConns.getOrElse(addr, {
        val c = open(addr); prodConns += addr -> c; c
      })
      val r = try call(in, out, ApiProduce, v) { o =>
        o.str(transactionalId.orNull) // null: non-transactional
        o.writeShort(-1)        // acks: all in-sync replicas
        o.writeInt(30000)       // timeout_ms
        o.arrayLen(1); o.str(topic)
        o.arrayLen(1); o.writeInt(p)
        o.bytes(recordSet)
        o.tags(); o.tags(); o.tags() // partition, topic, request
      } catch { case e: IOException =>
        // connection gone (broker bounce / leader move): drop cached state
        // so a retry re-resolves metadata and re-dials
        prodConns.get(addr).foreach(_._1.close()); prodConns -= addr
        prodMeta = null
        throw e
      }
      var base = -1L
      r.array {
        val name = r.str()
        r.array {
          val pid = r.readInt(); val err = r.readShort()
          val off = r.readLong()
          r.readLong()          // log_append_time
          if (v >= 5) r.readLong() // log_start_offset
          if (v >= 8) {
            r.array { r.readInt(); r.str(); r.tags() } // record_errors
            r.str()             // error_message (nullable)
          }
          r.tags()
          if (err == 47)        // INVALID_PRODUCER_EPOCH
            throw new IOException("kafka produce error 47 for " +
              s"$name/$pid: producer fenced — a newer producer " +
              s"re-registered transactional.id '${transactionalId.orNull}'")
          if (err != 0)
            throw new IOException(s"kafka produce error $err for $name/$pid")
          if (name == topic && pid == p) base = off
        }
        r.tags()
      }
      if (base < 0)
        throw new IOException(s"kafka produce response missing $topic/$p")
      base
    }
    val base = try attempt() catch {
      // ambiguous only on transport failure (the broker may or may not have
      // appended); a NAMED produce error is a definitive reject — rethrown
      case e: IOException if !Option(e.getMessage).getOrElse("")
          .startsWith("kafka produce error") =>
        attempt()
    }
    if (idempotent) seqByPartition(p) = baseSeq + recs.size
    base
  }

  /** Close the persistent produce connections (sink task teardown). */
  def closeProducer(): Unit = synchronized {
    prodConns.valuesIterator.foreach(_._1.close())
    prodConns = Map.empty
    prodMeta = null
  }

  /** `isolation.level` ≡ the Kafka consumer config (librdkafka defaults to
    * read_committed, so the reference's rdkafka consumer never surfaces
    * aborted transactional data — this client matches): read_committed
    * hides records of aborted transactions and waits behind the last
    * stable offset; read_uncommitted reads everything. Control markers are
    * never surfaced in either mode. */
  private val readCommitted =
    conf.getOrElse("isolation.level", "read_committed") match {
      case "read_committed" => true
      case "read_uncommitted" => false
      case other => throw new IllegalArgumentException(
        s"unknown isolation.level '$other' " +
          "(read_committed, read_uncommitted)")
    }

  override def openFrames(p: Int, start: Long, needKey: Boolean,
      needValue: Boolean): FrameReader = new FrameReader {
    private var sock: Socket = _
    private var sin: DataInputStream = _
    private var sout: DataOutputStream = _
    // scan position: the next offset a Fetch resumes from. With
    // transactions in the log this advances past control markers and
    // aborted spans even when they decode to zero data records.
    private var nextOffset = start
    // decoded records of the current batch, pre-filtered to >= nextOffset
    private var pending: Iterator[(Long, Array[Byte], Array[Byte], Long)] =
      Iterator.empty
    var key: Array[Byte] = _
    var value: Array[Byte] = _
    var tsUs: Long = _
    private var lastOff = -1L
    override def frameOffset: Long = lastOff

    private def ensureConn(): Unit = if (sock == null) {
      val (s, in, out) = open(leaderAddr(fetchMeta(), p))
      sock = s; sin = in; sout = out
    }

    // spark-kafka's failOnDataLoss seam: with consumer.fail.on.data.loss
    // = false, a fetch below the log-start offset (DeleteRecords surgery
    // or retention truncation racing the reader) skips forward to the
    // earliest readable offset and continues — loudly — instead of
    // failing the task. Default TRUE: silent data loss is never the
    // default posture.
    private val failOnDataLoss =
      conf.getOrElse("fail.on.data.loss", "true") != "false"

    private def fetchMore(): Unit = {
      ensureConn()
      maybeReauth(sin, sout)
      val fetched =
        try Some(fetchOnce())
        catch {
          // EXACT per-partition error 1 — "fetch error 1 for t/p"; a
          // substring match on "error 1" would also swallow errors
          // 10-19/100+ and misclassify unrelated failures as truncation
          case e: IOException if !failOnDataLoss && e.getMessage != null &&
              e.getMessage.contains("fetch error 1 for") =>
            // OFFSET_OUT_OF_RANGE: confirm it is a truncation gap (the
            // earliest readable offset moved past our cursor), then skip —
            // WITHOUT refetching inline: the caller re-evaluates its
            // bounds first, so a truncation that swallowed the entire
            // remaining planned range ends the read gracefully
            // (readFrameBefore returns false) instead of EOF-crashing on
            // an empty fetch at the high watermark
            val earliest = startOffset(p)
            if (earliest <= nextOffset) throw e
            logWarning(s"[graft-replay] DATA LOSS on $topic/$p: " +
              s"offsets [$nextOffset, $earliest) were truncated below the " +
              "log-start offset; skipping forward " +
              "(consumer.fail.on.data.loss=false)")
            nextOffset = earliest
            None
        }
      if (fetched.isEmpty) return
      val (recordSet, aborted) = fetched.get
      if (recordSet == null || recordSet.isEmpty)
        throw new EOFException(
          s"kafka fetch returned no data for $topic/$p at offset $nextOffset")
      val (recs, scanPos) = decodeBatchesTxn(recordSet, nextOffset,
        needKey, needValue, aborted, readCommitted)
      pending = recs
      nextOffset = math.max(scanPos, nextOffset)
    }

    // ---- KIP-227 fetch-session state (v7+) ---------------------------------
    // session_id 0 + epoch 0 opens a session on the first fetch; the broker
    // answers with a session id and every later fetch is INCREMENTAL
    // (advancing epoch, delta partition state). `fetch.sessions=false`
    // opts back into the sessionless shape (epoch -1). Cached-session
    // errors (70/71 — eviction, stale epoch) reset to a full fetch, the
    // librdkafka/Java-client fallback.
    private val useFetchSessions =
      conf.getOrElse("fetch.sessions", "true") == "true"
    private var fetchSessionId = 0
    private var fetchSessionEpoch = 0

    /** One Fetch at the negotiated version (v4, or the flexible v12 with
      * leader-epoch fields -1 — no epoch tracking — and the KIP-227 session
      * fields: incremental sessions by default, each fetch re-sending this
      * cursor's one partition, whose offset advanced, while the broker may
      * omit empty partitions from the response; sessionless (0, -1) with
      * `fetch.sessions=false`). Returns the record set and the aborted
      * transactions listed for it. */
    private def fetchOnce(): (Array[Byte], Seq[AbortedTxn]) = {
      val (sid, epoch) =
        if (useFetchSessions) (fetchSessionId, fetchSessionEpoch) else (0, -1)
      val r = call(sin, sout, ApiFetch, pickVersion(ApiFetch)) { o =>
        val v = o.version
        o.writeInt(-1)          // replica_id
        o.writeInt(100)         // max_wait_ms
        o.writeInt(1)           // min_bytes
        o.writeInt(1 << 22)     // max_bytes (4 MiB)
        o.writeByte(if (readCommitted) 1 else 0) // isolation_level
        if (v >= 7) { o.writeInt(sid); o.writeInt(epoch) } // session id, epoch
        o.arrayLen(1); o.str(topic)
        o.arrayLen(1); o.writeInt(p)
        if (v >= 9) o.writeInt(-1) // current_leader_epoch: not tracked
        o.writeLong(nextOffset)
        if (v >= 12) o.writeInt(-1) // last_fetched_epoch
        if (v >= 5) o.writeLong(-1L) // log_start_offset (consumers send -1)
        o.writeInt(1 << 22)     // partition_max_bytes
        o.tags(); o.tags()      // partition, topic
        if (v >= 7) o.arrayLen(0) // forgotten_topics_data
        if (v >= 11) o.str("")  // rack_id
        o.tags()
      }
      val v = r.version
      r.readInt()               // throttle_time_ms
      if (v >= 7) {
        val topErr = r.readShort()
        val respSessionId = r.readInt()
        if (topErr == 70 || topErr == 71) {
          // FETCH_SESSION_ID_NOT_FOUND / INVALID_FETCH_SESSION_EPOCH: the
          // broker evicted (or never had) our session — retry ONCE as a
          // session-opening full fetch
          if (r.arrayLen() > 0) throw new IOException(
            s"kafka fetch v$v session error $topErr carried topic data")
          if (epoch <= 0)       // the full fetch itself failed: broker bug
            throw new IOException(
              s"kafka fetch v$v session error $topErr on a full fetch")
          fetchSessionId = 0
          fetchSessionEpoch = 0
          return fetchOnce()
        }
        if (topErr != 0)
          throw new IOException(s"kafka fetch v$v top-level error $topErr")
        if (useFetchSessions) {
          // a granted/kept session advances the epoch; id 0 = no session
          fetchSessionId = respSessionId
          fetchSessionEpoch = if (respSessionId == 0) 0 else epoch + 1
        }
      }
      var recordSet: Array[Byte] = null
      var aborted: Seq[AbortedTxn] = Nil
      r.array {
        val name = r.str()
        r.array {
          val pid = r.readInt(); val err = r.readShort()
          r.readLong()          // high_watermark
          r.readLong()          // last_stable_offset
          if (v >= 5) r.readLong() // log_start_offset
          val ab = r.array {
            val t = AbortedTxn(r.readLong(), r.readLong())
            r.tags()
            t
          }
          if (v >= 11) r.readInt() // preferred_read_replica
          val bytes = r.bytes()
          r.tags()              // partition (diverging epoch etc. ride here)
          if (err != 0)
            throw new IOException(s"kafka fetch error $err for $name/$pid")
          if (name == topic && pid == p) {
            recordSet = if (bytes == null) Array.emptyByteArray else bytes
            aborted = ab
          }
        }
        r.tags()                // topic
      }
      r.tags()                  // response
      (recordSet, aborted)
    }

    override def readFrame(): Unit = {
      while (!pending.hasNext) fetchMore()
      emit(pending.next())
    }

    override def readFrameBefore(end: Long): Boolean = {
      while (!pending.hasNext) {
        if (nextOffset >= end) return false
        fetchMore()
      }
      val rec = pending.next()
      if (rec._1 >= end) {
        // the tail batch spanned the planned end: stop, leave the rest
        pending = Iterator.empty
        nextOffset = end
        return false
      }
      emit(rec)
      true
    }

    private def emit(rec: (Long, Array[Byte], Array[Byte], Long)): Unit = {
      val (off, k, v, tsMs) = rec
      nextOffset = math.max(nextOffset, off + 1)
      lastOff = off
      key = k; value = v; tsUs = tsMs * 1000L
    }

    override def close(): Unit = if (sock != null) sock.close()
  }
}

/** Kafka wire-protocol primitives shared by [[KafkaLogClient]], the
  * in-process broker double and its group coordinator. Big-endian framing
  * in BOTH dialects: the classic (pre-tagged-field) one and the flexible
  * (KIP-482) one with compact strings/arrays/bytes and tagged-field
  * buffers.
  *
  * The codec contract: every API body is written ONCE, against an [[Out]]
  * (request or response being built) or an [[In]] (one being parsed), each
  * bound to one API version. Fixed-width fields are the plain
  * `DataOutputStream`/`DataInputStream` calls, the same in both dialects;
  * the variable-width ones — `str`, `bytes`, `arrayLen`/`array`,
  * `skipIntArray` — and the tagged-field buffers (`tags`, a no-op on a
  * classic version) pick their framing from the version, and
  * [[FlexibleSince]] is the one place that says which version is flexible.
  * A body's own version checks are field-presence checks only: `v >= N`
  * for a field the protocol added at version N. [[request]] and
  * [[readRequest]]/[[writeResponse]] frame the headers of both sides the
  * same way. */
private[replay] object KafkaWire {
  val ApiProduce: Short = 0
  val ApiFetch: Short = 1
  val ApiListOffsets: Short = 2
  val ApiMetadata: Short = 3
  val ApiOffsetCommit: Short = 8
  val ApiOffsetFetch: Short = 9
  val ApiFindCoordinator: Short = 10
  val ApiJoinGroup: Short = 11
  val ApiHeartbeat: Short = 12
  val ApiLeaveGroup: Short = 13
  val ApiSyncGroup: Short = 14
  val ApiSaslHandshake: Short = 17
  val ApiApiVersions: Short = 18
  val ApiCreateTopics: Short = 19
  val ApiInitProducerId: Short = 22
  val ApiAddPartitionsToTxn: Short = 24
  val ApiAddOffsetsToTxn: Short = 25
  val ApiEndTxn: Short = 26
  val ApiTxnOffsetCommit: Short = 28
  val ApiSaslAuthenticate: Short = 36
  val ClientId = "graft"

  /** One aborted transaction from a Fetch response's per-partition
    * `aborted_transactions` list: the producer id and the first offset it
    * wrote to this partition. A read_committed consumer drops every
    * TRANSACTIONAL batch from `pid` between `firstOffset` and that
    * producer's next control marker — exactly the official client's
    * aborted-producer scan. */
  final case class AbortedTxn(pid: Long, firstOffset: Long)

  /** Classic STRING / NULLABLE_STRING: int16 length, -1 encodes null. */
  def writeString(o: DataOutputStream, s: String): Unit =
    if (s == null) o.writeShort(-1)
    else {
      val b = s.getBytes("UTF-8")
      o.writeShort(b.length); o.write(b)
    }

  def readString(in: DataInputStream): String = {
    val len = in.readShort()
    if (len < 0) null
    else { val b = new Array[Byte](len); in.readFully(b); new String(b, "UTF-8") }
  }

  /** Flexible request versions per api key in this dialect (the protocol's
    * own flexibleVersions floor for each) — which is also the flexible
    * version the client speaks for each. Covers the whole client: the hot
    * read+write path, the coordinator, group-membership, transaction and
    * admin APIs, so a KRaft-era broker that retired every pre-flexible
    * version serves all of it. */
  val FlexibleSince: Map[Short, Short] =
    Map(ApiApiVersions -> 3, ApiMetadata -> 9, ApiFetch -> 12,
      ApiListOffsets -> 6, ApiProduce -> 9,
      ApiFindCoordinator -> 3, ApiOffsetCommit -> 8, ApiOffsetFetch -> 6,
      ApiJoinGroup -> 6, ApiHeartbeat -> 4, ApiLeaveGroup -> 4,
      ApiSyncGroup -> 4, ApiInitProducerId -> 2,
      ApiAddPartitionsToTxn -> 3, ApiAddOffsetsToTxn -> 3,
      ApiEndTxn -> 3, ApiTxnOffsetCommit -> 3, ApiCreateTopics -> 5)
  def isFlexible(apiKey: Short, apiVersion: Short): Boolean =
    FlexibleSince.get(apiKey).exists(apiVersion >= _)

  /** The classic (pre-flexible) version this dialect speaks for each API,
    * with the API's name for errors: the fallback against a broker that
    * does not serve the [[FlexibleSince]] version. */
  val Classic: Map[Short, (String, Short)] = Map(
    ApiProduce -> ("Produce", 3), ApiFetch -> ("Fetch", 4),
    ApiListOffsets -> ("ListOffsets", 2), ApiMetadata -> ("Metadata", 0),
    ApiOffsetCommit -> ("OffsetCommit", 2),
    ApiOffsetFetch -> ("OffsetFetch", 1),
    ApiFindCoordinator -> ("FindCoordinator", 0),
    ApiJoinGroup -> ("JoinGroup", 0), ApiHeartbeat -> ("Heartbeat", 0),
    ApiLeaveGroup -> ("LeaveGroup", 0), ApiSyncGroup -> ("SyncGroup", 0),
    ApiApiVersions -> ("ApiVersions", 0),
    ApiCreateTopics -> ("CreateTopics", 0),
    ApiInitProducerId -> ("InitProducerId", 0),
    ApiAddPartitionsToTxn -> ("AddPartitionsToTxn", 0),
    ApiAddOffsetsToTxn -> ("AddOffsetsToTxn", 0),
    ApiEndTxn -> ("EndTxn", 0), ApiTxnOffsetCommit -> ("TxnOffsetCommit", 0))

  /** True for the two versions of `apiKey` this dialect speaks. */
  def speaks(apiKey: Short, apiVersion: Short): Boolean =
    Classic.get(apiKey).exists(_._2 == apiVersion) ||
      FlexibleSince.get(apiKey).contains(apiVersion)

  /** Body writer for one API version (see the codec contract above). */
  final class Out private (buf: ByteArrayOutputStream, val version: Short,
      val flex: Boolean) extends DataOutputStream(buf) {
    def this(version: Short, flex: Boolean) =
      this(new ByteArrayOutputStream(), version, flex)
    def str(s: String): Unit =
      if (flex) writeCompactString(this, s) else writeString(this, s)
    def bytes(b: Array[Byte]): Unit =
      if (flex) writeCompactBytes(this, b)
      else if (b == null) writeInt(-1)
      else { writeInt(b.length); write(b) }
    def arrayLen(n: Int): Unit =
      if (flex) writeCompactArrayLen(this, n) else writeInt(n)
    def array[A](xs: Iterable[A])(elem: A => Unit): Unit = {
      arrayLen(xs.size); xs.foreach(elem)
    }
    /** The empty tagged-field buffer that closes a flexible structure. */
    def tags(): Unit = if (flex) writeEmptyTagged(this)
    def toByteArray: Array[Byte] = buf.toByteArray
  }

  /** Body reader for one API version over `frame` from `offset` (see the
    * codec contract above). */
  final class In(frame: Array[Byte], offset: Int, val version: Short,
      val flex: Boolean) extends DataInputStream(
        new ByteArrayInputStream(frame, offset, frame.length - offset)) {
    def str(): String = if (flex) readCompactString(this) else readString(this)
    /** NULLABLE_BYTES (int32 or compact length; null when absent). */
    def bytes(): Array[Byte] =
      if (flex) readCompactBytes(this)
      else {
        val n = readInt()
        if (n < 0) null else { val b = new Array[Byte](n); readFully(b); b }
      }
    def arrayLen(): Int = if (flex) readCompactArrayLen(this) else readInt()
    /** Read an array's elements in order (a null array reads as empty). */
    def array[A](elem: => A): IndexedSeq[A] = (1 to arrayLen()).map(_ => elem)
    def skipIntArray(): Unit = array(readInt())
    /** Skip a tagged-field buffer (this dialect ignores every tag — the
      * KIP-482 forward-compatibility contract). */
    def tags(): Unit = if (flex) skipTagged(this)
  }

  /** Writer and reader for payloads that are classic-framed whatever the
    * carrying API's version: SASL frames and the embedded consumer
    * protocol (subscription and assignment bytes). */
  def classicOut(): Out = new Out(0, flex = false)
  def classicIn(b: Array[Byte]): In = new In(b, 0, 0, flex = false)

  /** One size-framed request and its response on an open connection: the
    * request header is v1 (api key, version, correlation id, client id) on
    * a classic version and v2 (+ a tagged-field buffer; client_id stays a
    * classic string) on a flexible one. Returns the response body reader,
    * positioned past the response header — v1 (correlation id + tagged
    * fields) on a flexible version, except ApiVersions, whose response
    * header is PINNED at v0 (KIP-511: the broker can't know the client's
    * flexible support before parsing, so ApiVersionsResponse never gained
    * header tags). */
  def request(in: DataInputStream, out: DataOutputStream, apiKey: Short,
      apiVersion: Short, body: Array[Byte]): In = {
    val flex = isFlexible(apiKey, apiVersion)
    val h = new Out(apiVersion, flex)
    h.writeShort(apiKey); h.writeShort(apiVersion)
    h.writeInt(1)               // correlation id (one request per round trip)
    writeString(h, ClientId)
    h.tags()
    out.writeInt(h.size() + body.length)
    out.write(h.toByteArray); out.write(body); out.flush()
    val resp = new Array[Byte](in.readInt())
    in.readFully(resp)
    val r = new In(resp, 4, apiVersion, flex) // past the correlation id
    if (apiKey != ApiApiVersions) r.tags()
    r
  }

  /** The broker half of [[request]]: parse one request frame's header.
    * Returns (api key, correlation id, body reader for the version). */
  def readRequest(frame: Array[Byte]): (Short, Int, In) = {
    val h = classicIn(frame)
    val apiKey = h.readShort()
    val version = h.readShort()
    val correlationId = h.readInt()
    h.str()                     // client_id
    val r = new In(frame, frame.length - h.available(), version,
      isFlexible(apiKey, version))
    r.tags()
    (apiKey, correlationId, r)
  }

  /** The broker half of [[request]]'s response framing. */
  def writeResponse(out: DataOutputStream, apiKey: Short, version: Short,
      correlationId: Int, body: Array[Byte]): Unit = {
    val tagged = isFlexible(apiKey, version) && apiKey != ApiApiVersions
    out.writeInt(4 + (if (tagged) 1 else 0) + body.length)
    out.writeInt(correlationId)
    if (tagged) out.writeByte(0) // empty tagged-field buffer
    out.write(body)
    out.flush()
  }

  // ---- KIP-482 compact encoding ---------------------------------------------
  // COMPACT strings/arrays/bytes carry an UNSIGNED-varint length+1 (0 =
  // null); a tagged-field buffer closes every flexible structure.

  /** UNSIGNED varint (compact lengths, tagged-field counts — NOT zigzag). */
  def readUvarint(in: DataInputStream): Int = {
    var value = 0; var shift = 0
    var b = in.readByte()
    while ((b & 0x80) != 0) {
      value |= (b & 0x7f) << shift; shift += 7; b = in.readByte()
    }
    value | ((b & 0x7f) << shift)
  }

  def writeUvarint(o: DataOutputStream, v0: Int): Unit = {
    var v = v0
    while ((v & ~0x7f) != 0) { o.writeByte((v & 0x7f) | 0x80); v >>>= 7 }
    o.writeByte(v)
  }

  /** COMPACT_NULLABLE_STRING: uvarint(n+1); 0 encodes null. */
  def readCompactString(in: DataInputStream): String = {
    val n = readUvarint(in) - 1
    if (n < 0) null
    else { val b = new Array[Byte](n); in.readFully(b); new String(b, "UTF-8") }
  }

  def writeCompactString(o: DataOutputStream, s: String): Unit =
    if (s == null) writeUvarint(o, 0)
    else {
      val b = s.getBytes("UTF-8")
      writeUvarint(o, b.length + 1); o.write(b)
    }

  /** COMPACT_NULLABLE_BYTES: uvarint(n+1); 0 encodes null. */
  def readCompactBytes(in: DataInputStream): Array[Byte] = {
    val n = readUvarint(in) - 1
    if (n < 0) null
    else { val b = new Array[Byte](n); in.readFully(b); b }
  }

  def writeCompactBytes(o: DataOutputStream, b: Array[Byte]): Unit =
    if (b == null) writeUvarint(o, 0)
    else { writeUvarint(o, b.length + 1); o.write(b) }

  /** Compact array length on the wire is count+1 (0 = null array). */
  def readCompactArrayLen(in: DataInputStream): Int = readUvarint(in) - 1
  def writeCompactArrayLen(o: DataOutputStream, n: Int): Unit =
    writeUvarint(o, n + 1)

  def skipTagged(in: DataInputStream): Unit = {
    val n = readUvarint(in)
    (1 to n).foreach { _ =>
      readUvarint(in)           // tag
      val size = readUvarint(in)
      in.skipNBytes(size.toLong)
    }
  }

  def writeEmptyTagged(o: DataOutputStream): Unit = writeUvarint(o, 0)

  // ---- varints (zigzag, protobuf layout — Kafka record fields) -------------

  def readVarint(in: DataInputStream): Int = {
    var value = 0; var shift = 0
    var b = in.readByte()
    while ((b & 0x80) != 0) {
      value |= (b & 0x7f) << shift; shift += 7; b = in.readByte()
    }
    value |= (b & 0x7f) << shift
    (value >>> 1) ^ -(value & 1)
  }

  def readVarlong(in: DataInputStream): Long = {
    var value = 0L; var shift = 0
    var b = in.readByte()
    while ((b & 0x80) != 0) {
      value |= (b & 0x7fL) << shift; shift += 7; b = in.readByte()
    }
    value |= (b & 0x7fL) << shift
    (value >>> 1) ^ -(value & 1L)
  }

  def writeVarint(o: DataOutputStream, v: Int): Unit = {
    var z = (v << 1) ^ (v >> 31)
    while ((z & ~0x7f) != 0) { o.writeByte((z & 0x7f) | 0x80); z >>>= 7 }
    o.writeByte(z)
  }

  def writeVarlong(o: DataOutputStream, v: Long): Unit = {
    var z = (v << 1) ^ (v >> 63)
    while ((z & ~0x7fL) != 0L) { o.writeByte(((z & 0x7f) | 0x80).toInt); z >>>= 7 }
    o.writeByte(z.toInt)
  }

  /** Open a decompressing stream over a RecordBatch v2 records section.
    * Kafka's four standard codecs, each in the exact framing the official
    * clients write (and rdkafka reads — the reference inherits all four
    * transparently from librdkafka, Cargo.toml:8): gzip = RFC-1952 via the
    * JDK, snappy = xerial framed stream (snappy-java), lz4 = LZ4 Frame
    * format (magic>=1 framing; lz4-java), zstd = zstd frame (zstd-jni).
    * All three codec jars ship with Spark, so no new dependency. Unknown
    * codec ids still fail loudly — a silent wrong decode is worse than an
    * error. */
  def decompressed(codec: Int, raw: java.io.InputStream): java.io.InputStream =
    codec match {
      case 1 => new java.util.zip.GZIPInputStream(raw)
      case 2 => new org.xerial.snappy.SnappyInputStream(raw)
      case 3 => new net.jpountz.lz4.LZ4FrameInputStream(raw)
      case 4 => new com.github.luben.zstd.ZstdInputStream(raw)
      case c => throw new IOException(
        s"unknown kafka compression codec $c (known: 0 none, 1 gzip, " +
          "2 snappy, 3 lz4, 4 zstd)")
    }

  /** Number of RecordBatch v2 header bytes covered by batch_length BEFORE
    * the records section (partition_leader_epoch .. records_count). */
  val BatchHeaderAfterLength = 49

  /** Producer-side mirror of [[decompressed]]: wrap `sink` in the codec's
    * standard framing (the exact streams the official producers use). */
  def compressed(codec: Int, sink: java.io.OutputStream): java.io.OutputStream =
    codec match {
      case 1 => new java.util.zip.GZIPOutputStream(sink)
      case 2 => new org.xerial.snappy.SnappyOutputStream(sink)
      case 3 => new net.jpountz.lz4.LZ4FrameOutputStream(sink)
      case 4 => new com.github.luben.zstd.ZstdOutputStream(sink)
      case c => throw new IOException(
        s"unknown kafka compression codec $c (known: 0 none, 1 gzip, " +
          "2 snappy, 3 lz4, 4 zstd)")
    }

  /** Encode records as ONE RecordBatch v2 for a Produce request —
    * the exact layout the official producers write (the decode mirror of
    * [[decodeBatches]]'s v2 arm): plaintext 61-byte header, records section
    * compressed as a unit when `codec` != 0, and a REAL CRC-32C
    * (Castagnoli) over attributes..end. The consume path tolerates crc=0
    * test doubles, but brokers VERIFY the checksum on produce and reject
    * the batch with CORRUPT_MESSAGE, so the producer side cannot skip it.
    * `recs` are (key, value, timestampMs) with nullable key/value;
    * `baseOffset` is written as 0 on produce — the broker rewrites it to
    * the assigned log position (producers never know it in advance); the
    * broker double passes the real assigned offset when re-serving stored
    * batches through Fetch. Producer id/epoch/
    * baseSeq default to -1 (non-idempotent, like a default-config
    * producer); an idempotent producer passes its InitProducerId-assigned
    * identity plus the partition's next sequence number, which brokers use
    * to absorb retried duplicates. `transactional` sets attributes bit 4 —
    * the flag that scopes the batch to its producer's open transaction
    * (read_committed consumers hide it until the commit marker lands). */
  def encodeRecordBatchV2(
      recs: Seq[(Array[Byte], Array[Byte], Long)], codec: Int,
      pid: Long = -1L, pepoch: Short = -1, baseSeq: Int = -1,
      transactional: Boolean = false, baseOffset: Long = 0L): Array[Byte] = {
    require(recs.nonEmpty, "kafka RecordBatch must carry at least one record")
    val firstTs = recs.head._3
    val recBytes = new ByteArrayOutputStream()
    val ro = new DataOutputStream(recBytes)
    recs.zipWithIndex.foreach { case ((k, v, tsMs), i) =>
      val one = new ByteArrayOutputStream(); val oo = new DataOutputStream(one)
      oo.writeByte(0)                     // record attributes
      writeVarlong(oo, tsMs - firstTs)
      writeVarint(oo, i)                  // offset delta
      def blob(b: Array[Byte]): Unit =
        if (b == null) writeVarint(oo, -1)
        else { writeVarint(oo, b.length); oo.write(b) }
      blob(k); blob(v)
      writeVarint(oo, 0)                  // headers
      writeVarint(ro, one.size())         // record length prefix
      ro.write(one.toByteArray)
    }
    val recordsOut: Array[Byte] =
      if (codec == 0) recBytes.toByteArray
      else {
        val cb = new ByteArrayOutputStream()
        val cs = compressed(codec, cb)
        cs.write(recBytes.toByteArray); cs.close()
        cb.toByteArray
      }

    // attributes..end — the span the CRC covers
    val body = new ByteArrayOutputStream(); val bo = new DataOutputStream(body)
    bo.writeShort((codec & 0x07) |        // attributes: codec bits, create-time
      (if (transactional) 0x10 else 0))   // bit 4: transactional
    bo.writeInt(recs.size - 1)            // last offset delta
    bo.writeLong(firstTs)
    bo.writeLong(recs.map(_._3).max)      // max timestamp
    bo.writeLong(pid); bo.writeShort(pepoch); bo.writeInt(baseSeq)
    bo.writeInt(recs.size)
    bo.write(recordsOut)
    val crc = new java.util.zip.CRC32C()
    crc.update(body.toByteArray)

    val out = new ByteArrayOutputStream(); val o = new DataOutputStream(out)
    o.writeLong(baseOffset)               // base offset (broker-assigned)
    o.writeInt(9 + body.size())           // batch length: epoch+magic+crc+body
    o.writeInt(-1)                        // partition leader epoch
    o.writeByte(2)                        // magic
    o.writeInt(crc.getValue.toInt)
    o.write(body.toByteArray)
    out.toByteArray
  }

  /** Encode a transaction CONTROL batch — the marker the coordinator writes
    * into each data partition when a transaction ends (WriteTxnMarkers on a
    * real cluster). One record, attributes bits 4+5 (transactional +
    * control), key = int16 version 0 + int16 type (1 = COMMIT, 0 = ABORT),
    * value = int16 version 0 + int32 coordinator epoch — the public control
    * record schema. Consumers never surface it as data; it occupies one log
    * offset (the reason Kafka offsets are not dense) and tells a
    * read_committed scan where `pid`'s in-flight span ends. */
  def encodeControlBatch(baseOffset: Long, pid: Long, pepoch: Short,
      commit: Boolean, tsMs: Long): Array[Byte] = {
    val key = new ByteArrayOutputStream(); val ko = new DataOutputStream(key)
    ko.writeShort(0)                      // control record version
    ko.writeShort(if (commit) 1 else 0)   // type: 1 commit, 0 abort
    val value = new ByteArrayOutputStream(); val vo = new DataOutputStream(value)
    vo.writeShort(0)                      // marker value version
    vo.writeInt(0)                        // coordinator epoch

    val one = new ByteArrayOutputStream(); val oo = new DataOutputStream(one)
    oo.writeByte(0)                       // record attributes
    writeVarlong(oo, 0L)                  // ts delta
    writeVarint(oo, 0)                    // offset delta
    writeVarint(oo, key.size()); oo.write(key.toByteArray)
    writeVarint(oo, value.size()); oo.write(value.toByteArray)
    writeVarint(oo, 0)                    // headers
    val recBytes = new ByteArrayOutputStream()
    val ro = new DataOutputStream(recBytes)
    writeVarint(ro, one.size()); ro.write(one.toByteArray)

    val body = new ByteArrayOutputStream(); val bo = new DataOutputStream(body)
    bo.writeShort(0x30)                   // attributes: control + transactional
    bo.writeInt(0)                        // last offset delta
    bo.writeLong(tsMs); bo.writeLong(tsMs)
    bo.writeLong(pid); bo.writeShort(pepoch); bo.writeInt(-1) // seq: markers have none
    bo.writeInt(1)
    bo.write(recBytes.toByteArray)
    val crc = new java.util.zip.CRC32C()
    crc.update(body.toByteArray)
    val out = new ByteArrayOutputStream(); val o = new DataOutputStream(out)
    o.writeLong(baseOffset)
    o.writeInt(9 + body.size())
    o.writeInt(-1); o.writeByte(2); o.writeInt(crc.getValue.toInt)
    o.write(body.toByteArray)
    out.toByteArray
  }

  /** True when a record_set's FIRST RecordBatch v2 carries the
    * transactional attribute bit (attributes int16 at fixed offset 21). */
  def batchIsTransactional(recordSet: Array[Byte]): Boolean =
    (java.nio.ByteBuffer.wrap(recordSet, 21, 2).getShort & 0x10) != 0

  /** Producer identity + sequence range of a record_set's FIRST RecordBatch
    * v2 — the fields a broker's idempotence check reads (fixed offsets in
    * the batch header: pid@43, epoch@51, baseSeq@53, lastSeq = baseSeq +
    * lastOffsetDelta@23). Returns (pid, epoch, baseSeq, lastSeq); pid -1 =
    * non-idempotent batch. */
  def batchProducerInfo(recordSet: Array[Byte]): (Long, Short, Int, Int) = {
    val bb = java.nio.ByteBuffer.wrap(recordSet)
    val lastOffsetDelta = bb.getInt(23)
    val pid = bb.getLong(43)
    val epoch = bb.getShort(51)
    val baseSeq = bb.getInt(53)
    (pid, epoch, baseSeq, if (baseSeq < 0) -1 else baseSeq + lastOffsetDelta)
  }

  /** Verify a record_set's RecordBatch v2 CRC-32C fields the way a broker
    * does on produce: recompute over attributes..end of each batch and
    * compare with the stored crc. Returns true when every batch checks out.
    * (Used by the broker double; a real broker answers CORRUPT_MESSAGE.) */
  def crcValid(recordSet: Array[Byte]): Boolean = {
    var pos = 0
    while (recordSet.length - pos >= 17) {
      val batchLength = java.nio.ByteBuffer.wrap(recordSet, pos + 8, 4).getInt
      if (recordSet.length - pos < 12 + batchLength || recordSet(pos + 16) != 2)
        return false                      // truncated or non-v2: reject
      val stored = java.nio.ByteBuffer.wrap(recordSet, pos + 17, 4).getInt
      val crc = new java.util.zip.CRC32C()
      crc.update(recordSet, pos + 21, batchLength - 9)
      if (crc.getValue.toInt != stored) return false
      pos += 12 + batchLength
    }
    pos == recordSet.length
  }

  /** Decode a Fetch record_set (one or more RecordBatch v2 OR legacy magic
    * 0/1 MessageSet entries, possibly with a truncated tail — brokers cut
    * at max_bytes) into (offset, key, value, timestampMs) for records at or
    * past `minOffset`. All three layouts share the first 17 bytes' shape —
    * int64 offset, int32 length, then magic at byte 16 (after v2's
    * partition_leader_epoch ≡ legacy's crc) — which is exactly how the
    * official consumers sniff the format; rdkafka reads pre-0.11 topics the
    * same way, so the reference consumes them transparently
    * (src/kafka/execution.rs:85-99). v2 handles all four standard codecs
    * (the records section is the compressed unit); legacy wrappers handle
    * gzip/snappy (+lz4 on v1 — v0's lz4 used a nonstandard broken-checksum
    * framing and fails loudly), with v1 relative-offset rewrite and
    * log-append-time override per the public format spec. Unknown magic
    * still throws. */
  def decodeBatches(recordSet: Array[Byte], minOffset: Long, needKey: Boolean,
      needValue: Boolean): Iterator[(Long, Array[Byte], Array[Byte], Long)] =
    decodeBatchesTxn(recordSet, minOffset, needKey, needValue,
      Nil, readCommitted = false)._1

  /** Transaction-aware variant of [[decodeBatches]]: additionally returns
    * the SCAN POSITION after the last complete batch (baseOffset +
    * lastOffsetDelta + 1), which is where the next Fetch must resume — with
    * transactions in the log, offsets are NOT dense (control markers occupy
    * offsets, aborted spans may decode to zero records), so "last record
    * offset + 1" under-advances and would re-fetch marker batches forever.
    * Under `readCommitted`, records of TRANSACTIONAL batches whose producer
    * appears in `aborted` at or before the batch's base offset are dropped;
    * a control marker (any type) ends that producer's tracked span — the
    * official consumer's aborted-producer scan, driven by the broker's
    * per-partition aborted_transactions list. */
  def decodeBatchesTxn(recordSet: Array[Byte], minOffset: Long,
      needKey: Boolean, needValue: Boolean, aborted: Seq[AbortedTxn],
      readCommitted: Boolean)
      : (Iterator[(Long, Array[Byte], Array[Byte], Long)], Long) = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Array[Byte], Array[Byte], Long)]
    var pos = 0
    var scanPos = minOffset
    // aborted producers whose span has opened but whose marker has not yet
    // been crossed, ordered by span start so activation is offset-driven
    val pendingAborts = scala.collection.mutable.PriorityQueue
      .empty[AbortedTxn](Ordering.by((a: AbortedTxn) => -a.firstOffset))
    pendingAborts ++= aborted
    val abortedPids = scala.collection.mutable.Set.empty[Long]
    // smallest complete prefix: offset+length+crc+magic = 17 bytes
    while (recordSet.length - pos >= 17) {
      val in = new DataInputStream(new ByteArrayInputStream(
        recordSet, pos, recordSet.length - pos))
      val baseOffset = in.readLong()
      val batchLength = in.readInt()
      if (recordSet.length - pos < 12 + batchLength) {
        pos = recordSet.length // truncated tail batch: re-fetched next round
      } else if (recordSet(pos + 16) != 2) {
        // legacy MessageSet entry (magic 0/1): crc..value is batchLength bytes
        decodeLegacyEntry(baseOffset, in, minOffset, needKey, needValue,
          None, out)
        // legacy wrapper offsets are the LAST inner absolute offset, so the
        // entry's own offset + 1 is the resume point in every layout
        scanPos = math.max(scanPos, baseOffset + 1)
        pos += 12 + batchLength
      } else {
        in.readInt()            // partition leader epoch
        in.readByte()           // magic (=2, sniffed above)
        in.readInt()            // crc
        val attrs = in.readShort()
        val codec = attrs & 0x07
        val isControl = (attrs & 0x20) != 0
        val isTransactional = (attrs & 0x10) != 0
        val lastOffsetDelta = in.readInt()
        val firstTs = in.readLong()
        in.readLong()           // max timestamp
        val producerId = in.readLong()
        in.readShort(); in.readInt() // producer epoch / base seq
        // activate every aborted span that starts at or before this batch
        while (pendingAborts.nonEmpty &&
            pendingAborts.head.firstOffset <= baseOffset) {
          abortedPids += pendingAborts.dequeue().pid
        }
        val dropAborted = readCommitted && isTransactional && !isControl &&
          abortedPids.contains(producerId)
        if (isControl) abortedPids -= producerId // marker closes the span
        val nRecords = in.readInt()
        // v2 compresses the RECORDS SECTION as one unit; the header above is
        // always plaintext. Decode-side pruning (needKey/needValue) still
        // applies after decompression — the bytes crossed the wire either way.
        val rin =
          if (codec == 0) in
          else {
            val comp = new Array[Byte](batchLength - BatchHeaderAfterLength)
            in.readFully(comp)
            new DataInputStream(new BufferedInputStream(
              decompressed(codec, new ByteArrayInputStream(comp)), 1 << 16))
          }
        (1 to nRecords).foreach { _ =>
          readVarint(rin)       // record length
          rin.readByte()        // record attributes
          val tsDelta = readVarlong(rin)
          val offDelta = readVarint(rin)
          def blob(need: Boolean): Array[Byte] = {
            val len = readVarint(rin)
            if (len < 0) null
            else if (!need) {
              // skipBytes may short-count on a decompressing stream; loop
              var left = len
              while (left > 0) {
                val s = rin.skipBytes(left)
                if (s <= 0) throw new EOFException(
                  "kafka record blob truncated inside a batch")
                left -= s
              }
              null
            }
            else { val b = new Array[Byte](len); rin.readFully(b); b }
          }
          val k = blob(needKey)
          val v = blob(needValue)
          val nHeaders = readVarint(rin)
          (1 to nHeaders).foreach { _ => blob(false); blob(false) }
          val off = baseOffset + offDelta
          if (!isControl && !dropAborted && off >= minOffset)
            out += ((off, k, v, firstTs + tsDelta))
        }
        scanPos = math.max(scanPos, baseOffset + lastOffsetDelta + 1)
        pos += 12 + batchLength
      }
    }
    (out.iterator, scanPos)
  }

  /** Decode one legacy (pre-0.11 message format) MessageSet entry:
    * crc int32, magic int8 (0|1), attributes int8, [v1: timestamp int64],
    * key BYTES, value BYTES. A compressed entry is a WRAPPER whose value is
    * a nested MessageSet: v0 inner offsets are absolute; v1 producers wrote
    * relative inner offsets (0..n-1) with the wrapper carrying the LAST
    * inner absolute offset — detected the way the official consumer does
    * (first inner offset == 0) and rewritten to absolute. A v1 wrapper with
    * the log-append-time attribute bit (0x08) stamps its own timestamp on
    * every inner record, as brokers do. CRC is not verified (same stance as
    * the v2 path). `appendTsMs` carries the log-append override into inner
    * entries. */
  private def decodeLegacyEntry(offset: Long, in: DataInputStream,
      minOffset: Long, needKey: Boolean, needValue: Boolean,
      appendTsMs: Option[Long],
      out: scala.collection.mutable.ArrayBuffer[(Long, Array[Byte], Array[Byte], Long)]): Unit = {
    in.readInt()                // crc (not verified)
    val magic = in.readByte()
    if (magic != 0 && magic != 1)
      throw new IOException(
        s"kafka message format v$magic unsupported (magic 0, 1 or 2)")
    val attrs = in.readByte()
    val codec = attrs & 0x07
    val tsMs = if (magic == 1) in.readLong() else -1L
    def blob(need: Boolean): Array[Byte] = {
      val len = in.readInt()
      if (len < 0) null
      else if (!need) {
        var left = len
        while (left > 0) {
          val s = in.skipBytes(left)
          if (s <= 0) throw new EOFException(
            "kafka legacy message blob truncated")
          left -= s
        }
        null
      }
      else { val b = new Array[Byte](len); in.readFully(b); b }
    }
    if (codec == 0) {
      val k = blob(needKey)
      val v = blob(needValue)
      if (offset >= minOffset)
        out += ((offset, k, v, appendTsMs.getOrElse(tsMs)))
    } else {
      blob(false)               // wrapper key: always null in practice
      val wrapped = blob(true)
      if (wrapped == null)
        throw new IOException("kafka compressed legacy wrapper has no value")
      val raw = new ByteArrayInputStream(wrapped)
      val codecIn: java.io.InputStream = codec match {
        case 1 => new java.util.zip.GZIPInputStream(raw)
        case 2 => new org.xerial.snappy.SnappyInputStream(raw)
        case 3 if magic == 1 => new net.jpountz.lz4.LZ4FrameInputStream(raw)
        case 3 => throw new IOException(
          "kafka lz4 in message format v0 uses a nonstandard broken-checksum " +
            "framing; unsupported (v1+ topics decode fine)")
        case c => throw new IOException(
          s"kafka compression codec $c illegal in legacy message format " +
            "(known: 1 gzip, 2 snappy, 3 lz4)")
      }
      val din = new DataInputStream(new BufferedInputStream(codecIn, 1 << 16))
      val innerAppendTs =
        if (magic == 1 && (attrs & 0x08) != 0) Some(tsMs) else appendTsMs
      val inner = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Array[Byte], Array[Byte], Long)]
      try {
        while (true) {
          val innerOffset = din.readLong()
          din.readInt()         // message size
          decodeLegacyEntry(innerOffset, din, Long.MinValue, needKey,
            needValue, innerAppendTs, inner)
        }
      } catch { case _: EOFException => () } // nested set fully consumed
      val relative = magic == 1 && inner.nonEmpty && inner.head._1 == 0L
      val lastInner = if (inner.nonEmpty) inner.last._1 else 0L
      inner.foreach { case (io, k, v, ts) =>
        val abs = if (relative) offset - lastInner + io else io
        if (abs >= minOffset) out += ((abs, k, v, ts))
      }
    }
  }
}
