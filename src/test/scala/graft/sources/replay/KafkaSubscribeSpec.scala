package graft.sources.replay

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Coordinator-DRIVEN source ownership (round 13, VERDICT r12 #9):
  * `consumer.group.assignment=subscribe` wires the JoinGroup/SyncGroup
  * membership machinery (KafkaRebalanceSpec owns the protocol-level pins)
  * into the DSv2 stream — ≡ librdkafka's subscribe() vs the manual assign
  * everything else models. Cooperative-split only by design: the
  * assignment is taken once at stream init and held for the run (Spark's
  * planned-offset model cannot follow a mid-stream rebalance), so these
  * tests pin exactly that contract: simultaneous joiners split the
  * partition set disjointly, each stream plans only its share, identity is
  * surfaced in source metrics, and stop() leaves the group honestly. */
class KafkaSubscribeSpec extends graft.SparkSpec {

  /** Runs `body` and returns every WARN-or-above message it logged through
    * `cls`'s Spark logger, one per line. */
  private def warningsOf(cls: Class[_])(body: => Unit): String = {
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("warnings-of", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(org.apache.logging.log4j.Level.WARN))
          seen.add(e.getMessage.getFormattedMessage)
    }
    val logger = org.apache.logging.log4j.LogManager.getLogger(cls.getName)
      .asInstanceOf[Logger]
    appender.start()
    logger.addAppender(appender)
    try body
    finally { logger.removeAppender(appender); appender.stop() }
    seen.asScala.mkString("\n")
  }

  private def subOpts(path: String, group: String): ReplayOptions =
    ReplayOptions.parse(new CaseInsensitiveStringMap(Map(
      "path" -> path, "client" -> "kafka",
      "consumer.group.id" -> group,
      "consumer.group.assignment" -> "subscribe").asJava))

  test("two simultaneous subscribe streams split the partitions disjointly") {
    val dir = ReplayLog.ensureLog(spark, sf)
    val broker = new KafkaLogServer(dir, "events")
    try {
      val all = new KafkaLogClient(broker.clientPath).listPartitions().toSet
      assert(all.size >= 2, "fixture must have multiple partitions")
      val streams = Seq.fill(2)(
        new ReplayMicroBatchStream(subOpts(broker.clientPath, "g-split")))
      // both joins must land in the coordinator's one rebalance window —
      // fire them in parallel (the first joiner parks until the window
      // closes, so starting within the window is enough to synchronize)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val owned = Await.result(
        Future.sequence(streams.map(s => Future(
          s.initialOffset().asInstanceOf[ReplayOffset].offsets.keySet))),
        30.seconds)
      assert(owned(0).intersect(owned(1)).isEmpty,
        s"assignments must be disjoint: $owned")
      assert(owned(0).union(owned(1)) == all,
        s"assignments must cover the log: $owned vs $all")
      assert(owned.forall(_.nonEmpty),
        s"range assignment over ${all.size} partitions leaves no member idle")
      // coordinator-issued identity rides the source metrics
      val m = streams(0).metrics(java.util.Optional.empty()).asScala
      assert(m.contains("memberId") && m("memberId").nonEmpty)
      assert(m("generation").toInt >= 1)
      assert(m("groupId") == "g-split")
      assert(m("assignedPartitions").split(",").map(_.toInt).toSet == owned(0))
      streams.foreach(_.stop())
      // both left: a fresh sole joiner owns everything again — proves the
      // stops sent LeaveGroup instead of abandoning the group to a
      // session-timeout reap
      val late = new ReplayMicroBatchStream(subOpts(broker.clientPath, "g-split"))
      try assert(late.initialOffset().asInstanceOf[ReplayOffset]
        .offsets.keySet == all)
      finally late.stop()
    } finally broker.close()
  }

  test("a STATIC subscriber (consumer.group.static.instance.id) restarts " +
      "without a rebalance: slot survives stop(), generation is kept") {
    val dir = ReplayLog.ensureLog(spark, sf)
    val broker = new KafkaLogServer(dir, "events")
    try {
      def staticOpts = ReplayOptions.parse(new CaseInsensitiveStringMap(Map(
        "path" -> broker.clientPath, "client" -> "kafka",
        "consumer.group.id" -> "g-static-sub",
        "consumer.group.assignment" -> "subscribe",
        "consumer.group.static.instance.id" -> "stream-A").asJava))
      val s1 = new ReplayMicroBatchStream(staticOpts)
      val owned1 = s1.initialOffset().asInstanceOf[ReplayOffset].offsets.keySet
      val gen1 = s1.metrics(java.util.Optional.empty())
        .asScala("generation").toInt
      s1.stop()
      // KIP-345: the static member did NOT leave — its slot survives the
      // stop so the restart can claim it rebalance-free
      val (state, members) = broker.groupCoordinator.describe("g-static-sub")
      assert(state === "Stable" && members.size === 1,
        s"the static slot must survive stop(): $state, ${members.size} members")
      // restart: same instance id ⇒ same generation, same ownership
      val s2 = new ReplayMicroBatchStream(staticOpts)
      try {
        val owned2 = s2.initialOffset().asInstanceOf[ReplayOffset].offsets.keySet
        assert(owned2 === owned1)
        assert(s2.metrics(java.util.Optional.empty())
          .asScala("generation").toInt === gen1,
          "a static restart must keep the group generation")
      } finally s2.stop()
    } finally broker.close()
  }

  test("a sole subscriber owns every partition and reads the full log") {
    import org.apache.spark.sql.functions._
    val dir = ReplayLog.ensureLog(spark, sf)
    val broker = new KafkaLogServer(dir, "events")
    try {
      val name = s"sub_sole_${System.nanoTime()}"
      val q = spark.readStream.format("graft-replay")
        .option("client", "kafka").option("path", broker.clientPath)
        .option("consumer.group.id", "g-sole")
        .option("consumer.group.assignment", "subscribe")
        .load()
        .select(col("partition"), col("offset"))
        .writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = spark.table(name).count()
      val want = graft.Tables.events(spark, sf).count()
      assert(got == want, s"sole subscriber must read the whole log ($got/$want)")
    } finally broker.close()
  }

  test("a late joiner fences the running stream's commits LOUDLY — " +
      "no silent clobber, no query failure (VERDICT r13 #5)") {
    val dir = ReplayLog.ensureLog(spark, sf)
    val broker = new KafkaLogServer(dir, "events")
    try {
      // stream A: sole member of generation 1, auto-commit on
      val opts = ReplayOptions.parse(new CaseInsensitiveStringMap(Map(
        "path" -> broker.clientPath, "client" -> "kafka",
        "consumer.group.id" -> "g-late",
        "consumer.enable.auto.commit" -> "true",
        "consumer.group.assignment" -> "subscribe").asJava))
      val stream = new ReplayMicroBatchStream(opts)
      val owned = stream.initialOffset().asInstanceOf[ReplayOffset]
        .offsets.keySet
      assert(owned.nonEmpty, "sole subscriber owns the log")
      // one committed batch lands under (gen 1, memberId A)
      val first = owned.map(p => p -> 2L).toMap
      stream.commit(ReplayOffset(first))
      assert(broker.committed("g-late") === first,
        "pre-rebalance commit must land")
      // the documented limitation made concrete: a member joins LATE — the
      // coordinator opens a rebalance the running stream does not follow
      // (stream A never rejoins, so the window evicts it and bumps the
      // generation); the late joiner now owns everything A still reads
      val late = new KafkaGroupMembership(
        new KafkaLogClient(broker.clientPath), "g-late", "events")
      assert(late.join().toSet === owned, "late joiner owns the whole log")
      // stream A's next commit must be REFUSED by the generation fence —
      // loudly (the commit-back warning names the coordinator error), not
      // as a silent clobber of the new generation's offsets, and not as a
      // query failure (progress stays checkpoint-safe)
      val msg = warningsOf(classOf[ReplayMicroBatchStream]) {
        stream.commit(ReplayOffset(owned.map(p => p -> 5L).toMap))
      }
      assert(msg.contains("offset commit-back for group 'g-late' failed"),
        s"fenced commit must warn loudly, got: '$msg'")
      assert(msg.contains("error 25") || msg.contains("error 22"),
        s"the warning must name the coordinator's fence, got: '$msg'")
      assert(broker.committed("g-late") === first,
        "the fenced commit must NOT land — the zombie cannot clobber " +
          "its successor's offsets")
      stream.stop() // evicted member: LeaveGroup's 25 is tolerated
      late.leave()
    } finally broker.close()
  }

  test("subscribe mode validates its prerequisites loudly") {
    val e1 = intercept[IllegalArgumentException](ReplayOptions.parse(
      new CaseInsensitiveStringMap(Map(
        "path" -> "/x", "consumer.group.id" -> "g",
        "consumer.group.assignment" -> "subscribe").asJava)))
    assert(e1.getMessage.contains("client=kafka"))
    val e2 = intercept[IllegalArgumentException](ReplayOptions.parse(
      new CaseInsensitiveStringMap(Map(
        "path" -> "/x", "client" -> "kafka",
        "consumer.group.assignment" -> "subscribe").asJava)))
    assert(e2.getMessage.contains("consumer.group.id"))
    val e3 = intercept[IllegalArgumentException](ReplayOptions.parse(
      new CaseInsensitiveStringMap(Map(
        "path" -> "/x", "client" -> "kafka", "consumer.group.id" -> "g",
        "consumer.group.instances" -> "2",
        "consumer.group.assignment" -> "subscribe").asJava)))
    assert(e3.getMessage.contains("two ownership mechanisms"))
    val e4 = intercept[IllegalArgumentException](ReplayOptions.parse(
      new CaseInsensitiveStringMap(Map(
        "path" -> "/x", "client" -> "kafka", "consumer.group.id" -> "g",
        "consumer.group.assignment" -> "sometimes").asJava)))
    assert(e4.getMessage.contains("'static' or 'subscribe'"))
  }
}
