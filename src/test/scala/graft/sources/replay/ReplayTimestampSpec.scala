package graft.sources.replay

/** ListOffsets by REAL timestamp (KIP-79, VERDICT r16 #8): the kafka-wire
  * answer — over BOTH dialects — is pinned against the file client's
  * index-backed scan, and the lookup respects the produced tail and the
  * DeleteRecords low watermark. The declared lane is s74 (the
  * startingTimestamp source option). */
class ReplayTimestampSpec extends graft.SparkSpec {

  /** every record timestamp (wire ms) of one partition via the file log. */
  private def partitionTsMs(dir: String, p: Int): Seq[Long] = {
    val end = ReplayLog.safeRecordCount(dir, p)
    val fr = new FrameStream(dir, p, 0L, needKey = false, needValue = false)
    try (0L until end).map { _ => fr.readFrame(); fr.tsUs / 1000L }
    finally fr.close()
  }

  private def expected(ts: Seq[Long], probe: Long): Option[Long] = {
    val i = ts.indexWhere(_ >= probe)
    if (i < 0) None else Some(i.toLong)
  }

  private def checkAllProbes(dir: String, c: LogClient): Unit =
    (0 until 3).foreach { p =>
      val ts = partitionTsMs(dir, p)
      val probes = Seq(ts.head - 1, ts.head, ts(ts.size / 2),
        ts.last, ts.last + 1, 0L)
      probes.foreach { probe =>
        assert(c.offsetForTimestamp(p, math.max(probe, 0L)) ===
          expected(ts, math.max(probe, 0L)),
          s"partition $p probe $probe")
      }
    }

  test("kafka-wire lookup (flexible v6) matches the file client's index " +
      "at every probe point") {
    val dir = ReplayLog.ensureLog(spark, sf)
    val broker = new KafkaLogServer(dir, "events")
    try {
      val k = new KafkaLogClient(broker.clientPath)
      val f = new FileLogClient(dir)
      checkAllProbes(dir, f)
      checkAllProbes(dir, k)
      // and the two clients agree probe-for-probe (the spec's pin)
      (0 until 3).foreach { p =>
        val ts = partitionTsMs(dir, p)
        Seq(ts.head, ts(ts.size / 3), ts.last).foreach { probe =>
          assert(k.offsetForTimestamp(p, probe) ===
            f.offsetForTimestamp(p, probe))
        }
      }
    } finally broker.close()
  }

  test("kafka-wire lookup over the PINNED dialect (ListOffsets v2) " +
      "answers identically") {
    val dir = ReplayLog.ensureLog(spark, sf)
    val broker = new KafkaLogServer(dir, "events",
      advertiseApis = Some(Seq[(Short, Short, Short)](
        (0, 0, 8), (1, 0, 11), (2, 0, 5), (3, 0, 8), (10, 0, 2),
        (18, 0, 3))))
    try {
      val k = new KafkaLogClient(broker.clientPath)
      checkAllProbes(dir, k)
    } finally broker.close()
  }

  test("the lookup sees the produced tail's record timestamps") {
    val dir = java.nio.file.Files.createTempDirectory("kafka-ts").toString
    val broker = new KafkaLogServer(dir, "tst", requireCreate = true)
    try {
      val c = new KafkaLogClient(broker.clientPath)
      c.createTopics(Seq("tst" -> 3))
      c.produce(0, Seq((null, "a".getBytes, 1000L), (null, "b".getBytes, 2000L)))
      c.produce(0, Seq((null, "c".getBytes, 3000L)))
      assert(c.offsetForTimestamp(0, 0L) === Some(0L))
      assert(c.offsetForTimestamp(0, 1500L) === Some(1L))
      assert(c.offsetForTimestamp(0, 3000L) === Some(2L))
      assert(c.offsetForTimestamp(0, 3001L) === None,
        "a timestamp past the last record answers None, not latest")
    } finally broker.close()
  }

  test("the lookup never answers below the DeleteRecords low watermark") {
    val dir = java.nio.file.Files.createTempDirectory("kafka-ts2").toString
    val broker = new KafkaLogServer(dir, "tsd", requireCreate = true)
    try {
      val c = new KafkaLogClient(broker.clientPath)
      c.createTopics(Seq("tsd" -> 3))
      c.produce(1, (1 to 5).map(i => (null: Array[Byte],
        s"r$i".getBytes, i * 1000L)))
      assert(c.offsetForTimestamp(1, 1000L) === Some(0L))
      broker.truncateLog(1, 3L)
      // records 0..2 are truncated: an early timestamp resolves to the
      // low watermark's first surviving record, never into the gap
      assert(c.offsetForTimestamp(1, 1000L) === Some(3L))
      assert(c.offsetForTimestamp(1, 5000L) === Some(4L))
    } finally broker.close()
  }
}
