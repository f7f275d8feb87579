package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** Multi-batch proof of SessionProcessor's two emission paths (s36). The
  * declared query replays the whole table in one micro-batch, so its oracle
  * validates the aggregate outcome but cannot show the paths firing in
  * SEPARATE batches. Here a MemoryStream drives three explicit batches:
  * a later batch's out-of-gap row closes an earlier batch's session inline,
  * and a session left open is closed by its event-time timer only once the
  * watermark (advanced by OTHER keys' rows) passes its end.
  */
class TimerSessionSpec extends SparkSpec {

  test("gap-close and timer-expiry emit across separate micro-batches") {
    val s: org.apache.spark.sql.SparkSession =
      operators.StreamingQueries.streamSession(spark,
        operators.StreamingQueries.RocksDbState +
          ("spark.sql.shuffle.partitions" -> "2"))
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val T0 = 1000000000000000L // µs
    val Min = 60000000L
    val Gap = 30 * Min
    val Hour = 60 * Min

    val mem = MemoryStream[(Long, Long, Long)] // (user_id, us, cents)
    val typed = mem.toDS().toDF("user_id", "us", "cents")
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("us"), col("cents"))
      .as[(Long, Long, Long)]
    val out = typed.groupByKey(_._1)
      .transformWithState(new streaming.SessionProcessor,
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "ss_us", "se_us", "n", "cents")

    val q = out.writeStream.format("memory").queryName("timer_sess")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("ck-timer-sess").toString)
      .start()
    try {
      // batch 1: u1 one event; u2 two events 10 min apart. Nothing emits —
      // no gap exceeded, watermark still below both session ends.
      mem.addData((1L, T0, 10L), (2L, T0, 20L), (2L, T0 + 10 * Min, 30L))
      q.processAllAvailable()
      assert(s.table("timer_sess").count() === 0,
        "nothing may emit before a gap closes or a watermark passes")

      // batch 2: u1 again 3 h later — out of gap, so u1's first session
      // closes INLINE in the data batch. That batch also advances the
      // watermark to T0+2h, and the engine follows it with a NO-DATA
      // micro-batch (noDataMicroBatches, on by default) in which u2's
      // event-time timer fires — closing a session whose key saw no new
      // row in any batch. Both paths land within one processAllAvailable.
      mem.addData((1L, T0 + 3 * Hour, 40L))
      q.processAllAvailable()
      val afterB2 = s.table("timer_sess").as[(Long, Long, Long, Long, Long)]
        .collect().toSet
      assert(afterB2 === Set(
        (1L, T0, T0 + Gap, 1L, 10L),
        (2L, T0, T0 + 10 * Min + Gap, 2L, 50L)),
        s"batch 2 must gap-close u1's first session and timer-close u2's, got $afterB2")

      // batch 3: unrelated key u3 at the SAME max event time — the watermark
      // does not move, so no timer may fire: u1's second session (end
      // T0+3h30m) and u3's stay open. Emissions are exactly unchanged.
      mem.addData((3L, T0 + 3 * Hour, 1L))
      q.processAllAvailable()
      val afterB3 = s.table("timer_sess").as[(Long, Long, Long, Long, Long)]
        .collect().toSet
      assert(afterB3 === afterB2,
        s"a stalled watermark must not close open sessions, got $afterB3")
    } finally q.stop()
  }
}
