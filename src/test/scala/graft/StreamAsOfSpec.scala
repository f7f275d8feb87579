package graft

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException, TimeMode, Trigger}

import graft.operators.StreamingQueries
import graft.streaming.StreamAsOfProcessor
import graft.streaming.IdempotentSink

/** Pins the two properties that make s40 a real streaming as-of join rather
  * than a per-batch approximation:
  *   1. a reference ("purchase") row arriving in a LATER micro-batch than the
  *      probe ("view") it serves — but still inside the watermark delay —
  *      must win the match (a per-batch stream-static join would miss it);
  *   2. the emitted result set is identical however the same input is split
  *      into micro-batches (emission gates on the watermark only).
  */
class StreamAsOfSpec extends SparkSpec {

  private def minTs(m: Long) = new Timestamp(m * 60000L)

  /** Drive the processor over the given micro-batch split; returns
    * view_id → matched quote id (None = emitted unmatched). Views still
    * pending at the final watermark are absent from the map. */
  private def run(batches: Seq[Seq[(Long, String, Long, Long)]])
      : Map[Long, Option[Long]] = {
    val s = StreamingQueries.streamSession(spark, StreamingQueries.RocksDbState)
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ms = MemoryStream[(Long, String, Timestamp, Long)]
    val typed = ms.toDF().toDF("user_id", "kind", "ts", "event_id")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("kind"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .as[(Long, String, Long, Long)]
    val out = typed.groupByKey(_._1)
      .transformWithState(new StreamAsOfProcessor,
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "view_id", "q_id")
    val name = s"asof_spec_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory(StreamingQueries.tmpBase, "graft-asof").toString)
      .start()
    batches.foreach { b =>
      ms.addData(b.map { case (u, k, m, id) => (u, k, minTs(m), id) })
      q.processAllAvailable()
    }
    q.stop()
    s.table(name).collect()
      .map(r => r.getLong(1) -> Option(r.get(2)).map(_.asInstanceOf[Long]))
      .toMap
  }

  test("a quote arriving a batch AFTER its probe — within the delay — wins") {
    // v1 (t=20) arrives in batch 1 with only q1 (t=5) present; q2 (t=18)
    // lands in batch 2. Watermark after batch 1 is 20-10=10 < 20, so v1 is
    // still pending and MUST match q2 when the watermark passes — matching
    // q1 is the per-batch-join bug this operator exists to avoid.
    val result = run(Seq(
      Seq((1L, "view", 20L, 100L), (1L, "purchase", 5L, 200L)),
      Seq((1L, "purchase", 18L, 201L)),
      Seq((9L, "purchase", 60L, 999L)) // advances the watermark to 50
    ))
    assert(result.get(100L).contains(Some(201L)),
      s"late-but-in-delay quote must win the as-of match: $result")
  }

  test("emitted results are invariant to the micro-batch split") {
    val rows = Seq(
      (1L, "purchase", 2L, 300L), (1L, "view", 4L, 101L),
      (2L, "view", 6L, 102L), // no quote for user 2 at/before 6 → unmatched
      (1L, "purchase", 8L, 301L), (1L, "view", 9L, 103L),
      (2L, "purchase", 11L, 302L), (2L, "view", 12L, 104L),
      (1L, "view", 55L, 105L), // beyond the final watermark → stays pending
      (9L, "purchase", 60L, 999L))
    val oneBatch = run(Seq(rows))
    val threeBatches = run(Seq(rows.take(3), rows.slice(3, 6), rows.drop(6)))
    assert(oneBatch == threeBatches,
      s"batch split changed the result:\none=$oneBatch\nthree=$threeBatches")
    assert(oneBatch.get(101L).contains(Some(300L)))
    assert(oneBatch.get(102L).contains(None))
    assert(oneBatch.get(103L).contains(Some(301L)))
    assert(oneBatch.get(104L).contains(Some(302L)))
    assert(!oneBatch.contains(105L), "view beyond final watermark must stay pending")
  }

  /** The as-of processor's buffers (two ListStates) and its armed timers live
    * in the state store; a crash between a batch's sink write and its commit
    * must replay that batch against the RESTORED buffers and produce exactly
    * the uninterrupted run's output. Sides are synthesized deterministically
    * from the replay envelope — the invariant is run-equivalence, not the
    * payload's meaning. */
  private def asofRecoveryRun(crashAtBatch: Option[Long]): Set[(Long, Long, Long)] = {
    val s = StreamingQueries.streamSession(spark, StreamingQueries.RocksDbState)
    import s.implicits._
    val log = graft.sources.replay.ReplayLog.ensureLog(s, sf)
    val typed = s.readStream.format("graft-replay")
      .option("path", log).option("maxRowsPerTrigger", "100").load()
      .withWatermark("timestamp", "30 minutes")
      .select(
        (get_json_object(col("value").cast("string"), "$.k").cast("long") % 7L)
          .as("user_id"),
        when(col("offset") % 3 === 0, "purchase").otherwise("view").as("kind"),
        unix_micros(col("timestamp")).as("us"),
        (col("partition").cast("long") * 1000000L + col("offset")).as("event_id"))
      .as[(Long, String, Long, Long)]
    val out = typed.groupByKey(_._1)
      .transformWithState(new StreamAsOfProcessor,
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "view_id", "q_id")
    val ckpt = java.nio.file.Files.createTempDirectory("asof-ckpt").toString
    val sink = java.nio.file.Files.createTempDirectory("asof-sink").toString
    val injected = new AtomicBoolean(false)
    def start() = out.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        IdempotentSink.parquet(sink)(df, batchId)
        if (crashAtBatch.contains(batchId) && injected.compareAndSet(false, true))
          throw new RuntimeException("injected crash after write, before commit")
      }
      .start()
    crashAtBatch match {
      case Some(_) =>
        intercept[StreamingQueryException] { start().awaitTermination() }
        start().awaitTermination()
      case None => start().awaitTermination()
    }
    IdempotentSink.read(s, sink).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
  }

  test("buffered state and timers survive a crash between write and commit") {
    val clean = asofRecoveryRun(crashAtBatch = None)
    assert(clean.nonEmpty, "as-of run emitted nothing")
    val crashed = asofRecoveryRun(crashAtBatch = Some(1L))
    assert(crashed === clean,
      "crash+resume diverged from the uninterrupted as-of run — ListState " +
        "or timer recovery is broken")
  }
}
