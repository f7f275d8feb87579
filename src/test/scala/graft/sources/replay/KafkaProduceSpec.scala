package graft.sources.replay

import java.io.{BufferedInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The produce half of the wire dialect (Produce v3 + RecordBatch v2
  * ENCODE with real CRC-32C) and the graft-replay SINK built on it — the
  * engine-side equivalent of the reference's populate_topic test producer
  * (tests/utils.rs:156-212). All over real sockets against the broker
  * double, which — like a real broker and unlike its tolerant consume
  * side — VERIFIES the produce-path checksum. */
class KafkaProduceSpec extends graft.SparkSpec {
  import KafkaWire._

  private def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** empty 3-partition topic created THROUGH THE WIRE (CreateTopics,
    * api 19) against a topicless broker — the reference harness's admin
    * flow (rdkafka AdminClient create_topics, tests/utils.rs:104-117)
    * instead of server-side constructor setup. */
  private def emptyBroker(topic: String): KafkaLogServer = {
    val dir = java.nio.file.Files.createTempDirectory("kafka-prod").toString
    val b = new KafkaLogServer(dir, topic, requireCreate = true)
    new KafkaLogClient(b.clientPath).createTopics(Seq(topic -> 3))
    b
  }

  test("CreateTopics: topicless broker refuses produce and metadata until " +
      "the admin client creates the topic over the wire") {
    val dir = java.nio.file.Files.createTempDirectory("kafka-prod").toString
    val broker = new KafkaLogServer(dir, "adm", requireCreate = true)
    try {
      val c = new KafkaLogClient(broker.clientPath,
        Map("graft.role" -> "producer"))
      // before creation: metadata names the unknown topic loudly...
      val em = intercept[java.io.IOException](c.endOffset(0))
      assert(em.getMessage.contains("error 3"), em.getMessage)
      // ...and a raw produce to it answers UNKNOWN_TOPIC_OR_PARTITION
      val ep = intercept[java.io.IOException](
        c.produce(0, Seq((bytes("k"), bytes("v"), 1723700000000L))))
      assert(ep.getMessage.contains("UNKNOWN_TOPIC_OR_PARTITION") ||
        ep.getMessage.contains("error 3"), ep.getMessage)
      // invalid partition count is refused with the named error
      val ei = intercept[java.io.IOException](
        c.createTopics(Seq("adm" -> 0)))
      assert(ei.getMessage.contains("INVALID_PARTITIONS"), ei.getMessage)
      // create, then the same produce lands
      c.createTopics(Seq("adm" -> 3))
      assert(c.produce(2,
        Seq((bytes("k"), bytes("v"), 1723700000000L))) === 0L)
      assert(c.endOffset(2) === 1L)
      // a batch over the broker's max.message.bytes (1048588, the Kafka
      // default) answers MESSAGE_TOO_LARGE and appends nothing
      val big = intercept[java.io.IOException](c.produce(2,
        Seq((null, new Array[Byte](1048588), 1723700000001L))))
      assert(big.getMessage.contains("error 10"), big.getMessage)
      assert(c.endOffset(2) === 1L)
      // re-creating answers TOPIC_ALREADY_EXISTS, like a real broker
      val ed = intercept[java.io.IOException](c.createTopics(Seq("adm" -> 3)))
      assert(ed.getMessage.contains("TOPIC_ALREADY_EXISTS"), ed.getMessage)
      // and a SECOND distinct topic is beyond the single-topic double
      val es = intercept[java.io.IOException](c.createTopics(Seq("oth" -> 1)))
      assert(es.getMessage.contains("INVALID_REQUEST"), es.getMessage)
      c.closeProducer()
    } finally broker.close()
  }

  test("DeleteRecords: earliest moves to the low watermark, a fetch below " +
      "it answers OFFSET_OUT_OF_RANGE, truncation is monotonic") {
    val broker = emptyBroker("trunc")
    try {
      val c = new KafkaLogClient(broker.clientPath,
        Map("graft.role" -> "producer"))
      (0 until 5).foreach(i =>
        c.produce(0, Seq((bytes(s"k$i"), bytes(s"v$i"), 1723700000000L + i))))
      assert(c.endOffset(0) === 5L && c.startOffset(0) === 0L)
      // truncate below offset 3: ListOffsets earliest moves to it
      broker.truncateLog(0, 3L)
      assert(c.startOffset(0) === 3L, "ListOffsets earliest must move")
      assert(c.endOffset(0) === 5L, "the high watermark must not move")
      // fetch below the low watermark: OFFSET_OUT_OF_RANGE, not silence
      val fr = c.openFrames(0, 0L, needKey = true, needValue = true)
      val eo = intercept[java.io.IOException](try fr.readFrame() finally fr.close())
      assert(eo.getMessage.contains("error 1"), eo.getMessage)
      // fetch AT the low watermark serves the surviving records
      val ok = c.openFrames(0, 3L, needKey = true, needValue = true)
      try {
        ok.readFrame(); assert(new String(ok.value, "UTF-8") === "v3")
        ok.readFrame(); assert(new String(ok.value, "UTF-8") === "v4")
      } finally ok.close()
      // monotonic: a LOWER target never moves the watermark back
      broker.truncateLog(0, 1L)
      assert(c.startOffset(0) === 3L)
      // truncating to the high watermark leaves nothing readable
      broker.truncateLog(0, 5L)
      assert(c.startOffset(0) === 5L)
      // past the high watermark is refused
      intercept[IllegalArgumentException](broker.truncateLog(0, 99L))
      c.closeProducer()
    } finally broker.close()
  }

  test("fail.on.data.loss=false: a reader below the truncation point " +
      "skips forward to the earliest offset instead of dying") {
    val broker = emptyBroker("dloss")
    try {
      val p = new KafkaLogClient(broker.clientPath,
        Map("graft.role" -> "producer"))
      (0 until 5).foreach(i =>
        p.produce(0, Seq((null, bytes(s"v$i"), 1723700000000L + i))))
      p.closeProducer()
      broker.truncateLog(0, 3L)
      // default posture: loud failure (proven in the truncation test);
      // opted out: skip to earliest and serve the surviving records
      val c = new KafkaLogClient(broker.clientPath,
        Map("fail.on.data.loss" -> "false"))
      val fr = c.openFrames(0, 0L, needKey = false, needValue = true)
      try {
        fr.readFrame(); assert(new String(fr.value, "UTF-8") === "v3")
        assert(fr.frameOffset === 3L, "cursor must land AT the low watermark")
        fr.readFrame(); assert(new String(fr.value, "UTF-8") === "v4")
      } finally fr.close()
      // a genuine past-the-end read is NOT data loss and must still fail
      // loudly even with the option set (the guard in fetchMore)
      val fr2 = c.openFrames(0, 99L, needKey = false, needValue = true)
      intercept[Exception](try fr2.readFrame() finally fr2.close())
      // truncation that swallowed the ENTIRE remaining planned range:
      // the bounded read ends gracefully (false), it does not EOF-crash
      broker.truncateLog(0, 5L) // truncate to the high watermark
      val fr3 = c.openFrames(0, 0L, needKey = false, needValue = true)
      try assert(!fr3.readFrameBefore(5L),
        "a fully-truncated planned range must end the read, not crash")
      finally fr3.close()
    } finally broker.close()
  }

  test("produce appends after the base log and round-trips bit-identically") {
    val dir = ReplayLog.ensureLog(spark, sf)
    val broker = new KafkaLogServer(dir, "events")
    try {
      val c = new KafkaLogClient(broker.clientPath)
      val before = c.endOffset(0)
      val recs = Seq(
        (bytes("k1"), bytes("v1"), 1723700000123L),
        (null, bytes("v2"), 1723700000456L),
        (bytes("k3"), null, 1723700000789L)) // null value = tombstone
      val base = c.produce(0, recs)
      assert(base === before, "assigned base offset must be the old log end")
      assert(c.endOffset(0) === before + 3)

      val frames = c.openFrames(0, before, needKey = true, needValue = true)
      try recs.foreach { case (k, v, tsMs) =>
        frames.readFrame()
        assert(java.util.Arrays.equals(frames.key, k))
        assert(java.util.Arrays.equals(frames.value, v))
        assert(frames.tsUs === tsMs * 1000L, "broker time is milliseconds")
      } finally frames.close()
    } finally broker.close()
  }

  test("compressed produce round-trips through all four codecs") {
    (1 to 4).foreach { codec =>
      val broker = emptyBroker(s"codec$codec")
      try {
        val c = new KafkaLogClient(broker.clientPath)
        val recs = (0 until 100).map(i =>
          (bytes(s"key-$i"), bytes(s"value-$i" * 5), 1723700000000L + i))
        assert(c.produce(1, recs, codec) === 0L)
        val frames = c.openFrames(1, 0L, needKey = true, needValue = true)
        try recs.foreach { case (k, v, tsMs) =>
          frames.readFrame()
          assert(java.util.Arrays.equals(frames.key, k), s"codec $codec key")
          assert(java.util.Arrays.equals(frames.value, v), s"codec $codec value")
          assert(frames.tsUs === tsMs * 1000L)
        } finally frames.close()
      } finally broker.close()
    }
  }

  test("flexible Produce v9 round-trips bit-identically to the pinned v3") {
    val dir = ReplayLog.ensureLog(spark, sf)
    // graft.role=producer opts into the Produce negotiation (the sink's
    // conf); the default double advertises v9 → flexible, the capped one
    // tops out at v8 → the v3 pin. Same records, same offsets, same bytes.
    val flexB = new KafkaLogServer(dir, "events")
    val pinB = new KafkaLogServer(dir, "events",
      advertiseApis = Some(Seq[(Short, Short, Short)](
        (0, 0, 8), (1, 0, 11), (2, 0, 5), (3, 0, 8), (18, 0, 2))))
    try {
      val recs = (0 until 50).map(i =>
        (bytes(s"fk-$i"), bytes(s"fv-$i" * 3), 1723700001000L + i))
      val cf = new KafkaLogClient(flexB.clientPath,
        Map("graft.role" -> "producer"))
      val cp = new KafkaLogClient(pinB.clientPath,
        Map("graft.role" -> "producer"))
      val baseF = cf.produce(1, recs)
      val baseP = cp.produce(1, recs)
      assert(baseF === baseP, "both dialects must assign the same offsets")
      def tail(c: KafkaLogClient, from: Long) = {
        val f = c.openFrames(1, from, needKey = true, needValue = true)
        try (0 until recs.size).map { _ =>
          f.readFrame()
          (new String(f.key, "UTF-8"), new String(f.value, "UTF-8"), f.tsUs)
        } finally f.close()
      }
      assert(tail(cf, baseF) === tail(cp, baseP),
        "v9 and v3 produced tails must read back identically")
    } finally { flexB.close(); pinB.close() }
  }

  test("idempotent retransmit absorption holds over the flexible v9 frame") {
    val broker = emptyBroker("idemflex")
    try {
      val c = new KafkaLogClient(broker.clientPath,
        Map("enable.idempotence" -> "true", "graft.role" -> "producer"))
      assert(c.produce(0,
        (0 until 10).map(i => (bytes(s"k$i"), bytes(s"v$i"), 1000L + i))) === 0L)
      broker.dropProduceResponses = 1
      assert(c.produce(0,
        (10 until 20).map(i => (bytes(s"k$i"), bytes(s"v$i"), 1000L + i))) === 10L,
        "retry must be acked at the originally-assigned base offset")
      assert(broker.producedCount(0) === 20,
        "the v9 retransmit must be absorbed, not re-appended")
    } finally broker.close()
  }

  test("the broker verifies produce CRC-32C and answers CORRUPT_MESSAGE") {
    val good = encodeRecordBatchV2(Seq((null, bytes("x"), 1000L)), 0)
    assert(crcValid(good))
    val bad = good.clone()
    bad(bad.length - 1) = (bad(bad.length - 1) ^ 1).toByte
    assert(!crcValid(bad))

    val broker = emptyBroker("crc")
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)
      try {
        val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
        val out = new DataOutputStream(sock.getOutputStream)
        def produceRaw(rs: Array[Byte]): Short = {
          val body = new ByteArrayOutputStream(); val o = new DataOutputStream(body)
          o.writeShort(-1); o.writeShort(-1); o.writeInt(30000)
          o.writeInt(1); writeString(o, "crc")
          o.writeInt(1); o.writeInt(0)
          o.writeInt(rs.length); o.write(rs)
          val r = request(in, out, ApiProduce, 3, body.toByteArray)
          r.readInt(); readString(r); r.readInt() // topics=1, name, parts=1
          r.readInt()                             // partition
          r.readShort()                           // error code
        }
        assert(produceRaw(bad) === 2, "CORRUPT_MESSAGE for a flipped byte")
        assert(produceRaw(good) === 0, "the untouched batch lands")
      } finally sock.close()
    } finally broker.close()
  }

  test("produce to an unknown partition fails with a named error at both layers") {
    val broker = emptyBroker("route")
    try {
      // client layer: the metadata-resolved route check refuses before the wire
      val c = new KafkaLogClient(broker.clientPath)
      val e = intercept[java.io.IOException](
        c.produce(7, Seq((null, bytes("x"), 1L))))
      assert(e.getMessage.contains("partition route/7 unknown"), e.getMessage)

      // broker layer: a raw Produce for a partition it does not host answers
      // UNKNOWN_TOPIC_OR_PARTITION (3), like a real broker
      val sock = new Socket("127.0.0.1", broker.boundPort)
      try {
        val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
        val out = new DataOutputStream(sock.getOutputStream)
        val rs = encodeRecordBatchV2(Seq((null, bytes("x"), 1L)), 0)
        val body = new ByteArrayOutputStream(); val o = new DataOutputStream(body)
        o.writeShort(-1); o.writeShort(-1); o.writeInt(30000)
        o.writeInt(1); writeString(o, "route")
        o.writeInt(1); o.writeInt(7)
        o.writeInt(rs.length); o.write(rs)
        val r = request(in, out, ApiProduce, 3, body.toByteArray)
        r.readInt(); readString(r); r.readInt(); r.readInt()
        assert(r.readShort() === 3, "UNKNOWN_TOPIC_OR_PARTITION")
      } finally sock.close()
    } finally broker.close()
  }

  test("batch DataFrame write routes by Kafka's default partitioner and reads back") {
    val broker = emptyBroker("dfwrite")
    try {
      import spark.implicits._
      val rows = (0 until 300).map(i => (bytes(s"user-${i % 17}"), bytes(s"payload-$i")))
      rows.toDF("key", "value")
        .write.format("graft-replay")
        .option("client", "kafka").option("path", broker.clientPath)
        .option("producer.batch.records", "64") // several flushes per task
        .mode("append").save()

      val back = spark.read.format("graft-replay")
        .option("client", "kafka").option("path", broker.clientPath)
        .load()
        .select(col("key").cast("string"), col("value").cast("string"),
          col("partition"))
        .as[(String, String, Int)].collect()
      assert(back.length === rows.length)
      assert(back.map(r => (r._1, r._2)).toSet ===
        rows.map(r => (new String(r._1), new String(r._2))).toSet)
      // every row sits where Kafka's murmur2 default partitioner routes it
      back.foreach { case (k, _, p) =>
        assert(p === (ReplayWrite.murmur2(bytes(k)) & 0x7fffffff) % 3,
          s"key $k landed on $p")
      }
    } finally broker.close()
  }

  test("explicit partition column overrides the partitioner; bad columns are loud") {
    val broker = emptyBroker("explicit")
    try {
      import spark.implicits._
      (0 until 30).map(i => (bytes(s"v$i"), i % 2))
        .toDF("value", "partition")
        .write.format("graft-replay")
        .option("client", "kafka").option("path", broker.clientPath)
        .mode("append").save()
      assert(broker.producedCount(0) === 15)
      assert(broker.producedCount(1) === 15)
      assert(broker.producedCount(2) === 0)

      val noValue = intercept[Exception](
        Seq(1, 2).toDF("partition").write.format("graft-replay")
          .option("client", "kafka").option("path", broker.clientPath)
          .mode("append").save())
      assert(noValue.getMessage.contains("value"), noValue.getMessage)
      val unknown = intercept[Exception](
        Seq(("a", "b")).toDF("value", "wat").write.format("graft-replay")
          .option("client", "kafka").option("path", broker.clientPath)
          .mode("append").save())
      assert(unknown.getMessage.contains("wat"), unknown.getMessage)
    } finally broker.close()
  }

  test("idempotent producer: sequences advance and exact retransmits are absorbed") {
    val broker = emptyBroker("idem")
    try {
      val c = new KafkaLogClient(broker.clientPath,
        Map("enable.idempotence" -> "true"))
      val b1 = (0 until 10).map(i => (bytes(s"k$i"), bytes(s"v$i"), 1000L + i))
      val b2 = (10 until 25).map(i => (bytes(s"k$i"), bytes(s"v$i"), 1000L + i))
      assert(c.produce(0, b1) === 0L)
      assert(c.produce(0, b2) === 10L, "second batch lands after the first")
      assert(broker.producedCount(0) === 25)

      // ambiguous failure: the broker appends but withholds the response —
      // the client's retry resends the SAME (pid, sequence) batch and the
      // broker must ack the ORIGINAL offsets without re-appending
      broker.dropProduceResponses = 1
      val b3 = (25 until 40).map(i => (bytes(s"k$i"), bytes(s"v$i"), 1000L + i))
      assert(c.produce(0, b3) === 25L,
        "retry must be acked at the originally-assigned base offset")
      assert(broker.producedCount(0) === 40,
        "the retransmit must be absorbed, not re-appended")

      // and the session continues cleanly past the absorbed retry
      assert(c.produce(0, Seq((null, bytes("tail"), 99L))) === 40L)
      assert(broker.producedCount(0) === 41)
    } finally broker.close()
  }

  test("without idempotence the same ambiguous failure duplicates (honest at-least-once)") {
    val broker = emptyBroker("atleast")
    try {
      val c = new KafkaLogClient(broker.clientPath)
      broker.dropProduceResponses = 1
      c.produce(2, (0 until 5).map(i => (null, bytes(s"v$i"), 1L + i)))
      assert(broker.producedCount(2) === 10,
        "a non-idempotent retry re-appends — the documented contract")
    } finally broker.close()
  }

  test("a sequence gap is rejected with OUT_OF_ORDER_SEQUENCE_NUMBER") {
    val broker = emptyBroker("seqgap")
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)
      try {
        val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
        val out = new DataOutputStream(sock.getOutputStream)
        def produceRaw(rs: Array[Byte]): Short = {
          val body = new ByteArrayOutputStream(); val o = new DataOutputStream(body)
          o.writeShort(-1); o.writeShort(-1); o.writeInt(30000)
          o.writeInt(1); writeString(o, "seqgap")
          o.writeInt(1); o.writeInt(0)
          o.writeInt(rs.length); o.write(rs)
          val r = request(in, out, ApiProduce, 3, body.toByteArray)
          r.readInt(); readString(r); r.readInt(); r.readInt()
          r.readShort()
        }
        // a fresh pid must start at sequence 0; 5 is a gap
        val gap = encodeRecordBatchV2(Seq((null, bytes("x"), 1L)), 0,
          pid = 4242L, pepoch = 0, baseSeq = 5)
        assert(produceRaw(gap) === 45, "OUT_OF_ORDER_SEQUENCE_NUMBER")
        val ok = encodeRecordBatchV2(Seq((null, bytes("x"), 1L)), 0,
          pid = 4242L, pepoch = 0, baseSeq = 0)
        assert(produceRaw(ok) === 0)
      } finally sock.close()
    } finally broker.close()
  }

  test("produce works over SASL_SSL (the security seam covers the write half)") {
    // self-signed broker keystore + pinned client truststore via keytool —
    // same fixture shape as KafkaSecuritySpec
    val dir = java.nio.file.Files.createTempDirectory("kafka-prod-tls")
    val ks = dir.resolve("broker.p12").toString
    val ts = dir.resolve("trust.p12").toString
    val cert = dir.resolve("broker.crt").toString
    val pass = "graft-test"
    val keytool = java.nio.file.Paths
      .get(sys.props("java.home"), "bin", "keytool").toString
    def run(args: String*): Unit = {
      val p = new ProcessBuilder((keytool +: args): _*)
        .redirectErrorStream(true).start()
      val o = new String(p.getInputStream.readAllBytes, "UTF-8")
      assert(p.waitFor() == 0, s"keytool ${args.head} failed: $o")
    }
    run("-genkeypair", "-alias", "broker", "-keyalg", "RSA", "-keysize",
      "2048", "-validity", "1", "-storetype", "PKCS12", "-keystore", ks,
      "-storepass", pass, "-dname", "CN=127.0.0.1",
      "-ext", "SAN=IP:127.0.0.1")
    run("-exportcert", "-alias", "broker", "-keystore", ks,
      "-storepass", pass, "-file", cert)
    run("-importcert", "-alias", "broker", "-file", cert, "-keystore", ts,
      "-storepass", pass, "-noprompt")

    val logDir = java.nio.file.Files.createTempDirectory("kafka-prod-sasl").toString
    val broker = new KafkaLogServer(logDir, "sec",
      sasl = Some(("svc-writer", "hunter2")), tlsKeystore = Some((ks, pass)),
      explicitPartitions = Some(Seq(0, 1, 2)))
    try {
      val conf = Map(
        "security.protocol" -> "SASL_SSL",
        "sasl.mechanism" -> "PLAIN",
        "sasl.username" -> "svc-writer",
        "sasl.password" -> "hunter2",
        "ssl.truststore.location" -> ts,
        "ssl.truststore.password" -> pass,
        "enable.idempotence" -> "true")
      val c = new KafkaLogClient(broker.clientPath, conf)
      val recs = (0 until 20).map(i => (bytes(s"k$i"), bytes(s"v$i"), 1L + i))
      assert(c.produce(1, recs, codec = 4) === 0L)
      val frames = c.openFrames(1, 0L, needKey = true, needValue = true)
      try recs.foreach { case (k, v, _) =>
        frames.readFrame()
        assert(java.util.Arrays.equals(frames.key, k))
        assert(java.util.Arrays.equals(frames.value, v))
      } finally frames.close()
    } finally broker.close()
  }

  test("sink restart over a completed checkpoint re-produces NOTHING") {
    // the checkpoint WAL owns epoch truth: a completed epoch is never
    // re-planned, so restarting the sink query cannot duplicate its output
    val dir = ReplayLog.ensureLog(spark, sf)
    val src = new KafkaLogServer(dir, "events")
    val dst = emptyBroker("ckpt")
    val ckpt = java.nio.file.Files.createTempDirectory("kafka-sink-ckpt").toString
    try {
      def runOnce(): Unit = {
        val q = spark.readStream.format("graft-replay")
          .option("client", "kafka").option("path", src.clientPath)
          .option("maxRowsPerTrigger", "400") // several epochs
          .load()
          .select(col("key"), col("value"), col("timestamp"))
          .writeStream.format("graft-replay")
          .option("client", "kafka").option("path", dst.clientPath)
          .option("producer.enable.idempotence", "true")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      runOnce()
      val file = new FileLogClient(dir)
      val n = file.listPartitions().map(file.recordCount).sum
      val afterFirst = (0 until 3).map(dst.producedCount).sum
      assert(afterFirst.toLong === n, s"first run must produce all $n records")
      runOnce() // resume: every epoch already committed
      assert((0 until 3).map(dst.producedCount).sum.toLong === n,
        "a restart over a completed checkpoint re-produced data")
    } finally { src.close(); dst.close() }
  }

  test("sink killed mid-stream loses nothing on resume (at-least-once, bounded dups)") {
    val dir = ReplayLog.ensureLog(spark, sf)
    val src = new KafkaLogServer(dir, "events")
    val dst = emptyBroker("killed")
    val ckpt = java.nio.file.Files.createTempDirectory("kafka-sink-kill").toString
    try {
      def build(trigger: Trigger) = spark.readStream.format("graft-replay")
        .option("client", "kafka").option("path", src.clientPath)
        .option("maxRowsPerTrigger", "300")
        .load()
        .select(col("key"), col("value"), col("timestamp"))
        .writeStream.format("graft-replay")
        .option("client", "kafka").option("path", dst.clientPath)
        .option("checkpointLocation", ckpt)
        .trigger(trigger).start()
      // run 1: free-running; kill as soon as one batch has landed — the
      // in-flight epoch may have produced rows whose commit never happened
      val q1 = build(Trigger.ProcessingTime("10 milliseconds"))
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while ((q1.recentProgress.isEmpty ||
          q1.recentProgress.map(_.numInputRows).sum == 0) &&
          System.nanoTime() < deadline)
        Thread.sleep(50)
      q1.stop()
      // run 2: resume from the WAL to the end
      val q2 = build(Trigger.AvailableNow()); q2.awaitTermination()

      val file = new FileLogClient(dir)
      val n = file.listPartitions().map(file.recordCount).sum
      val got = spark.read.format("graft-replay")
        .option("client", "kafka").option("path", dst.clientPath).load()
        .select(col("value").cast("string")).as[String](
          org.apache.spark.sql.Encoders.STRING).collect().toSeq
      val want = spark.read.format("graft-replay")
        .option("client", "kafka").option("path", src.clientPath).load()
        .select(col("value").cast("string")).as[String](
          org.apache.spark.sql.Encoders.STRING).collect().toSeq
      assert(got.toSet === want.toSet, "a record was LOST across the kill")
      assert(got.size >= n.toInt, "at-least-once: every record delivered")
      // duplicates can come only from epochs in flight at the kill — each
      // bounded by the per-trigger admission cap across the 3 partitions
      assert(got.size - n <= 2 * 3 * 300,
        s"${got.size - n} duplicates exceeds the in-flight epoch bound")
    } finally { src.close(); dst.close() }
  }

  test("streaming sink pipes a replay stream back into a topic end-to-end") {
    // source broker serves the file-backed events log; the query projects
    // key/value/timestamp and PRODUCES into an empty topic on a second
    // broker — then a batch read of the sink topic must hold every record
    val dir = ReplayLog.ensureLog(spark, sf)
    val src = new KafkaLogServer(dir, "events")
    val dst = emptyBroker("mirrored")
    val ckpt = java.nio.file.Files.createTempDirectory("kafka-sink").toString
    try {
      val q = spark.readStream.format("graft-replay")
        .option("client", "kafka").option("path", src.clientPath)
        .option("maxRowsPerTrigger", "500") // several epochs → several produces
        .load()
        .select(col("key"), col("value"), col("timestamp"))
        .writeStream.format("graft-replay")
        .option("client", "kafka").option("path", dst.clientPath)
        .option("producer.compression.type", "zstd")
        .option("producer.enable.idempotence", "true")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()

      val srcDf = spark.read.format("graft-replay")
        .option("client", "kafka").option("path", src.clientPath).load()
        .select(col("value").cast("string"), col("timestamp"))
      val dstDf = spark.read.format("graft-replay")
        .option("client", "kafka").option("path", dst.clientPath).load()
        .select(col("value").cast("string"), col("timestamp"))
      import spark.implicits._
      val want = srcDf.as[(String, java.sql.Timestamp)].collect()
        .map { case (v, ts) => (v, ts.getTime) }.sorted.toSeq
      val got = dstDf.as[(String, java.sql.Timestamp)].collect()
        .map { case (v, ts) => (v, ts.getTime) }.sorted.toSeq
      assert(got === want, "the mirrored topic must hold every record " +
        "(values bit-identical, timestamps at broker ms precision)")
    } finally { src.close(); dst.close() }
  }
}
