package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.replay.{KafkaLogClient, KafkaLogServer, ReplayLog}

/** kafka_live: an open loop through the wire client. A generator thread
  * produces to the in-process broker double (3 partitions) at a fixed
  * offered rate; each value carries its scheduled send time. The stream
  * reads with client=kafka, drops duplicate keys within a watermark and
  * writes through the graft-replay Kafka produce sink; a consumer thread
  * reads the output topic. Latency runs from the scheduled send to the
  * consumer reading the output record; the measured live window is cut into
  * sub-windows by scheduled send time and each percentile is the median of
  * the sub-windows' percentiles. After the live window a fixed backlog is
  * drained by fresh AvailableNow queries; throughput is the backlog over the
  * median drain time. */
final class KafkaLive(ctx: Ctx) extends Workload {
  import KafkaLive._
  private val spark = ctx.spark
  private val rng = new scala.util.Random(ctx.opts.seed)
  /** Key salt: the seed varies key and value bytes, never their count. */
  private val salt = java.lang.Long.toHexString(rng.nextLong() & 0xffffffffL)
  private var backlog: KafkaLogServer = _
  private val drains = new UnitLog(ctx)
  private val live = mutable.Map.empty[String, Double]
  /** Per sub-window of the measured live window: (samples, triggers, p50, p99). */
  private var windows: Seq[(Int, Int, Double, Double)] = Nil

  override def loadThreads: Int = 2 // generator + consumer
  override def setupRounds: Int = Rounds

  private def broker(tag: String): KafkaLogServer = {
    val d = ctx.freshDir(tag)
    (0 until EventLog.Partitions).foreach(p =>
      ReplayLog.writePartitionFile(d, p, Iterator.empty))
    new KafkaLogServer(d, tag)
  }

  /** Record i's key: unique, except every tenth record, which repeats the
    * key of one of the 50 records before it (the duplicates the stream
    * drops). */
  private def keyOf(i: Long): String =
    if (i % 10 == 9) s"$salt-${i - 1 - Math.floorMod(i * 7919L + salt.hashCode, 50L)}"
    else s"$salt-$i"

  override def setupRound(round: Int): Unit = {
    if (backlog != null) backlog.close()
    backlog = ctx.tracer.span("input", "produce_backlog")(produceBacklog())
    liveWindow(SetupWindows, mutable.Map.empty)
    drain(mutable.Map.empty)
  }

  override def measure(deadlineNs: Long): Unit = {
    windows = ctx.tracer.span("live", "window")(liveWindow(Windows, live))
    drains.run(deadlineNs, MinDrains)(drain)
    backlog.close()
  }

  /** The backlog: Backlog records, timestamps 1 ms apart, produced in
    * chunks per partition before any drain starts. */
  private def produceBacklog(): KafkaLogServer = {
    val b = broker("backlog")
    val client = new KafkaLogClient(b.clientPath)
    try {
      val base = System.currentTimeMillis()
      (0 until EventLog.Partitions).foreach { p =>
        Iterator.range(p, Backlog, EventLog.Partitions).grouped(ProduceChunk).foreach { is =>
          client.produce(p, is.map { i =>
            (keyOf(i).getBytes(UTF_8), s"$i".getBytes(UTF_8), base + i)
          })
        }
      }
    } finally client.closeProducer()
    b
  }

  private def dedupQuery(in: KafkaLogServer, out: KafkaLogServer,
      trigger: Option[Trigger], maxRows: Option[Int]): StreamingQuery = {
    val reader = spark.readStream.format("graft-replay")
      .option("client", "kafka").option("path", in.clientPath)
      .option("startingOffsets", "earliest")
    maxRows.fold(reader)(n => reader.option("maxRowsPerTrigger", n.toString))
      .load()
      .select(col("key"), col("value"), col("timestamp"))
      .withWatermark("timestamp", "10 seconds")
      .dropDuplicatesWithinWatermark("key")
      .select(col("key"), col("value"))
      .writeStream.format("graft-replay")
      .option("client", "kafka").option("path", out.clientPath)
      .option("checkpointLocation", ctx.freshDir("checkpoint"))
      .trigger(trigger.getOrElse(Trigger.ProcessingTime(0L)))
      .start()
  }

  /** Distinct keys among records [0, n). */
  private def distinctKeys(n: Long): Set[String] = (0L until n).iterator.map(keyOf).toSet

  /** Exactly-once check of an output topic against the distinct input keys. */
  private def checkOnce(seen: mutable.Map[String, Int], n: Long, what: String): Unit = {
    val want = distinctKeys(n)
    val wrong = want.count(k => !seen.get(k).contains(1)) + seen.keys.count(k => !want(k))
    ctx.check(want.size, wrong, what)
  }

  /** Drain the backlog with a fresh query: seconds from start() to the end
    * of the last trigger. */
  private def drain(layers: mutable.Map[String, Double]): Double = {
    val out = broker("drain-out")
    try {
      val t0 = System.nanoTime()
      val q = ctx.tracer.span("query", "start")(
        dedupQuery(backlog, out, Some(Trigger.AvailableNow()),
          Some(Backlog / EventLog.Partitions / DrainBatches)))
      ctx.tracer.span("drain", "await")(q.awaitTermination())
      val seconds = (System.nanoTime() - t0) / 1e9
      val ps = q.recentProgress.toSeq
      Progress.spans(ctx.tracer, ctx.tracer.currentParent, ps)
      Progress.fill(ps, seconds, layers)
      val tr = System.nanoTime()
      val seen = ctx.tracer.span("sink", "readback")(readAll(out))
      layers("sink.readback_s") = (System.nanoTime() - tr) / 1e9
      checkOnce(seen, Backlog, "kafka_live drain")
      seconds
    } finally out.close()
  }

  /** Every key in the topic with its count, read to the high watermark. */
  private def readAll(b: KafkaLogServer): mutable.Map[String, Int] = {
    val c = new KafkaLogClient(b.clientPath)
    val seen = mutable.HashMap.empty[String, Int]
    c.listPartitions().foreach { p =>
      val end = c.endOffset(p)
      val r = c.openFrames(p, 0L, needKey = true, needValue = false)
      try while (r.readFrameBefore(end)) {
        val k = new String(r.key, UTF_8); seen(k) = seen.getOrElse(k, 0) + 1
      } finally r.close()
    }
    seen
  }

  /** Run the open loop for the lead-in plus `nWindows` sub-windows; returns
    * per sub-window its latency sample count, the triggers that started in
    * it and its p50 and p99 (ms), and fills the live layers. */
  private def liveWindow(nWindows: Int,
      layers: mutable.Map[String, Double]): Seq[(Int, Int, Double, Double)] = {
    val in = broker("live-in")
    val out = broker("live-out")
    val parent = ctx.tracer.currentParent
    try {
      val q = ctx.tracer.span("query", "start")(dedupQuery(in, out, None, None))
      // the open loop starts once the query has finished its first trigger
      while (q.lastProgress == null) Thread.sleep(5)
      val base = System.nanoTime()
      val total = (LeadInNs + nWindows * WindowNs) * Rate / 1000000000L
      val produceMs = new ConcurrentLinkedQueue[java.lang.Double]()
      val lateMs = new ConcurrentLinkedQueue[java.lang.Double]()
      @volatile var producedBytes = 0L
      val gen = new Thread(() => {
        val client = new KafkaLogClient(in.clientPath)
        try {
          var next = 0L
          val batch = Array.fill(EventLog.Partitions)(
            mutable.ArrayBuffer.empty[(Array[Byte], Array[Byte], Long)])
          while (next < total) {
            val now = System.nanoTime() - base
            val due = math.min(total, now * Rate / 1000000000L + 1)
            if (due <= next) LockSupport.parkNanos(TickNs)
            else {
              val oldest = next * 1000000000L / Rate
              while (next < due) {
                val sched = next * 1000000000L / Rate
                val k = keyOf(next).getBytes(UTF_8)
                val v = s"$sched".getBytes(UTF_8)
                producedBytes += k.length + v.length
                batch((next % EventLog.Partitions).toInt) +=
                  ((k, v, System.currentTimeMillis()))
                next += 1
              }
              lateMs.add((System.nanoTime() - base - oldest) / 1e6)
              batch.indices.foreach { p =>
                if (batch(p).nonEmpty) {
                  val t0 = System.nanoTime()
                  client.produce(p, batch(p).toSeq)
                  val t1 = System.nanoTime()
                  produceMs.add((t1 - t0) / 1e6)
                  ctx.tracer.record("produce", s"p$p", parent, t0, t1)
                  batch(p).clear()
                }
              }
            }
          }
        } finally client.closeProducer()
      }, "perfbench-generator")

      val want = distinctKeys(total).size
      val seen = mutable.HashMap.empty[String, Int]
      // (scheduled send ns, latency ms) of records scheduled after the lead-in
      val lat = mutable.ArrayBuffer.empty[(Long, Double)]
      val fetchMs = mutable.ArrayBuffer.empty[Double]
      var polls = 0L; var empty = 0L
      @volatile var stop = false
      val consumer = new Thread(() => {
        val c = new KafkaLogClient(out.clientPath)
        val parts = c.listPartitions()
        val readers = parts.map(p => p -> c.openFrames(p, 0L, needKey = true, needValue = true)).toMap
        val pos = mutable.Map(parts.map(_ -> 0L): _*)
        try while (!stop && seen.size < want) {
          var any = false
          parts.foreach { p =>
            val end = c.endOffset(p)
            polls += 1
            if (end > pos(p)) {
              any = true
              val t0 = System.nanoTime()
              val r = readers(p)
              while (r.readFrameBefore(end)) {
                val now = System.nanoTime() - base
                val k = new String(r.key, UTF_8)
                seen(k) = seen.getOrElse(k, 0) + 1
                val sched = new String(r.value, UTF_8).toLong
                if (sched >= LeadInNs) lat += ((sched, (now - sched) / 1e6))
              }
              pos(p) = end
              val t1 = System.nanoTime()
              fetchMs += (t1 - t0) / 1e6
              ctx.tracer.record("fetch", s"p$p", parent, t0, t1)
            } else empty += 1
          }
          if (!any) LockSupport.parkNanos(TickNs)
        } finally readers.values.foreach(_.close())
      }, "perfbench-consumer")

      gen.start(); consumer.start()
      gen.join()
      // let the pipeline catch up with the last records, then stop
      val deadline = System.nanoTime() + CatchUpNs
      while (consumer.isAlive && System.nanoTime() < deadline) consumer.join(50)
      stop = true
      consumer.join()
      val windowS = (System.nanoTime() - base) / 1e9
      ctx.tracer.span("query", "stop")(q.stop())
      val ps = q.recentProgress.toSeq
      Progress.fill(ps, windowS, layers)
      Progress.spans(ctx.tracer, parent, ps)
      // the consumer stops at the last expected key or the catch-up cut, so
      // the check reads the whole output topic after the query has stopped
      checkOnce(readAll(out), total, "kafka_live live window")
      val starts = Progress.startsNs(ps.filter(_.numInputRows > 0)).map(_ - base)
      val pm = produceMs.asScala.map(_.doubleValue).toSeq
      layers("kafka.produce_calls") = pm.length.toDouble
      layers("kafka.produce_ms_p50") = Stats.medianOr0(pm)
      layers("kafka.produce_ms_p99") = Stats.percentile(pm, 0.99).getOrElse(0.0)
      layers("kafka.bytes_produced") = producedBytes.toDouble
      layers("source.bytes") = producedBytes.toDouble
      layers("kafka.fetch_ms_p50") = Stats.medianOr0(fetchMs.toSeq)
      layers("kafka.polls") = polls.toDouble
      layers("kafka.fetch_empty_frac") = if (polls == 0) 0.0 else empty.toDouble / polls
      layers("kafka.generator_late_ms_p99") =
        Stats.percentile(lateMs.asScala.map(_.doubleValue).toSeq, 0.99).getOrElse(0.0)
      (0 until nWindows).map { w =>
        val lo = LeadInNs + w * WindowNs
        val hi = lo + WindowNs
        val xs = lat.collect { case (t, ms) if t >= lo && t < hi => ms }.toSeq
        (xs.length, starts.count(t => t >= lo && t < hi),
          Stats.percentile(xs, 0.5).getOrElse(Double.NaN),
          Stats.percentile(xs, 0.99).getOrElse(Double.NaN))
      }
    } finally { in.close(); out.close() }
  }

  override def endToEnd(m: Metrics): Unit = {
    m.put("throughput_rps", Backlog / Stats.median(drains.untraced), "1/s")
    windows.zipWithIndex.foreach { case ((n, triggers, p50, p99), i) =>
      println(f"[perfbench] live sub-window $i: $n samples at $Rate records/s offered, " +
        f"$triggers triggers, p50 $p50%.1f ms, p99 $p99%.1f ms")
    }
    require(windows.forall { case (_, _, p50, p99) => !p50.isNaN && !p99.isNaN },
      "a live sub-window has too few latency samples for its percentiles")
    m.put("latency_p50_ms", Stats.median(windows.map(_._3)), "ms")
    m.put("latency_p99_ms", Stats.median(windows.map(_._4)), "ms")
  }

  /** Drains give the execution and shuffle totals and the tracing overhead;
    * the live window gives the driver, state and Kafka layers that set
    * latency. */
  override def perLayer(m: Metrics): Unit = {
    drains.perLayer(m)
    live.foreach { case (k, v) => m.put(k, v, "") }
  }
}

object KafkaLive {
  /** offered rate, records per second */
  val Rate = 1000L
  /** latency samples are taken after this lead-in */
  val LeadInNs = 1000000000L
  /** the measured live window: this many sub-windows of WindowNs each */
  val Windows = 5
  val WindowNs = 1500000000L
  /** a set-up round's live window is the lead-in alone (warm-up only) */
  val SetupWindows = 0
  val TickNs = 2000000L
  val CatchUpNs = 10000000000L
  val Backlog = 30000
  val DrainBatches = 5
  val ProduceChunk = 500
  val Rounds = 2
  val MinDrains = 3
}
