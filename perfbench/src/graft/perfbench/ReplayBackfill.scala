package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** replay_backfill: closed and bounded. Each pass replays the whole event
  * log through the file client with Trigger.AvailableNow on a fresh
  * checkpoint; maxRowsPerTrigger splits it into several micro-batches; a
  * keyed stateful aggregation writes the complete result to the memory sink.
  * Throughput is events over the median pass time. It reports no latency:
  * no user waits on an event inside a bulk replay. */
final class ReplayBackfill(ctx: Ctx) extends Workload {
  import ReplayBackfill._
  private val spark = ctx.spark
  private val log = ctx.tracer.span("input", "generate_event_log") {
    EventLog.generate(ctx.opts.seed, Events, Ranks, ctx.slots)
  }
  private val expected = log.fold
  private var dir: String = _
  private val units = new UnitLog(ctx)

  override def loadThreads: Int = 0
  override def setupRounds: Int = Rounds

  override def setupRound(round: Int): Unit = {
    if (round == 0) dir = ctx.tracer.span("input", "write_log") {
      val d = ctx.freshDir("eventlog"); log.write(d); d
    }
    pass(mutable.Map.empty)
  }

  override def measure(deadlineNs: Long): Unit = units.run(deadlineNs, MinPasses)(pass)

  /** One AvailableNow replay; returns the seconds from start() to the end of
    * the last trigger. The read-back and its check are timed apart. */
  private def pass(layers: mutable.Map[String, Double]): Double = {
    val cp = ctx.freshDir("checkpoint")
    val t0 = System.nanoTime()
    val q = ctx.tracer.span("query", "start") {
      spark.readStream.format("graft-replay")
        .option("path", dir)
        .option("maxRowsPerTrigger", (Events / EventLog.Partitions / Batches).toString)
        .load()
        .select(col("key").cast("string").cast("long").as("user"),
          col("value").cast("string").cast("long").as("cents"),
          col("timestamp"))
        .groupBy(col("user"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          min(col("timestamp")).as("first"), max(col("timestamp")).as("last"))
        .writeStream.format("memory").queryName(Table).outputMode("complete")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    ctx.tracer.span("query", "await")(q.awaitTermination())
    val seconds = (System.nanoTime() - t0) / 1e9
    val ps = q.recentProgress.toSeq
    Progress.spans(ctx.tracer, ctx.tracer.currentParent, ps)
    Progress.fill(ps, seconds, layers)
    layers("source.bytes") = log.bytes.toDouble
    val tr = System.nanoTime()
    val rows = ctx.tracer.span("sink", "readback")(spark.table(Table).collect())
    layers("sink.readback_s") = (System.nanoTime() - tr) / 1e9
    check(rows)
    seconds
  }

  private def check(rows: Array[org.apache.spark.sql.Row]): Unit = {
    val got = rows.map { r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getTimestamp(3).getTime,
        r.getTimestamp(4).getTime))
    }.toMap
    val wrong = expected.count { case (u, v) => !got.get(u).contains(v) } +
      got.keys.count(u => !expected.contains(u))
    ctx.check(expected.size, wrong, "replay_backfill aggregate")
  }

  override def endToEnd(m: Metrics): Unit = {
    m.put("throughput_rps", Events / Stats.median(units.untraced), "1/s")
  }

  override def perLayer(m: Metrics): Unit = units.perLayer(m)
}

object ReplayBackfill {
  val Events = 60000
  val Ranks = 20000
  /** micro-batches per pass */
  val Batches = 4
  val Rounds = 3
  val MinPasses = 5
  val Table = "perfbench_backfill"
}
