package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The measured units of a run (a pass, or a backlog drain). In a traced run
  * units alternate untraced, traced, untraced, ...: end-to-end numbers come
  * from the untraced ones, per-layer numbers from the traced ones, and the
  * difference between the two is the tracing overhead. */
final class UnitLog(ctx: Ctx) {
  final class Unit_(val traced: Boolean, val seconds: Double, val w0Ms: Long, val w1Ms: Long,
      val layers: mutable.Map[String, Double])
  private val units = mutable.ArrayBuffer.empty[Unit_]

  /** Run units until the deadline, and at least `min` of them. `body`
    * returns the unit's measured seconds and fills its layer map. */
  def run(deadlineNs: Long, min: Int)(body: mutable.Map[String, Double] => Double): Unit = {
    var i = 0
    while (System.nanoTime() < deadlineNs || units.length < min) {
      val traced = ctx.opts.trace && i % 2 == 1
      ctx.tracer.active = traced
      val layers = mutable.Map.empty[String, Double]
      val w0 = System.currentTimeMillis()
      val s = ctx.tracer.span("pass", s"unit_$i")(body(layers))
      units += new Unit_(traced, s, w0, System.currentTimeMillis(), layers)
      i += 1
    }
    ctx.tracer.active = ctx.opts.trace
    println("[perfbench] measured units (s): " + units.map { u =>
      f"${u.seconds}%.3f" + (if (u.traced) "t" else "") }.mkString(" "))
  }

  def untraced: Seq[Double] = units.filterNot(_.traced).map(_.seconds).toSeq
  /** A per-unit end-to-end value (layer key "e2e.<name>") of the untraced
    * units. */
  def untracedValues(name: String): Seq[Double] =
    units.filterNot(_.traced).flatMap(_.layers.get(s"e2e.$name")).toSeq
  def traced: Seq[Double] = units.filter(_.traced).map(_.seconds).toSeq

  /** Per-layer numbers: the median over traced units of each unit's value,
    * the Spark task totals per traced unit, the warm-up drift check and the
    * tracing overhead. */
  def perLayer(m: Metrics): Unit = {
    val tr = units.filter(_.traced)
    ctx.taskLog.foreach { log =>
      log.settle()
      tr.foreach { u => Exec.fill(log, Seq((u.w0Ms, u.w1Ms)), u.layers) }
    }
    tr.flatMap(_.layers.keys).distinct.filterNot(_.startsWith("e2e.")).foreach { k =>
      m.put(k, Stats.median(tr.flatMap(_.layers.get(k)).toSeq), "")
    }
    val un = untraced
    if (un.length >= 2) {
      val (a, b) = un.splitAt(un.length / 2)
      m.put("warm.half_ratio", Stats.median(b) / Stats.median(a), "ratio")
    }
    if (un.nonEmpty && traced.nonEmpty)
      m.put("trace.overhead_frac", Stats.median(traced) / Stats.median(un) - 1.0, "frac")
    println(f"[perfbench] units: ${un.length} untraced (median ${Stats.medianOr0(un)}%.4f s), " +
      f"${traced.length} traced (median ${Stats.medianOr0(traced)}%.4f s)")
  }
}

/** Spark execution and shuffle totals for tasks launched in the windows. */
object Exec {
  def fill(log: TaskLog, windows: Seq[(Long, Long)], out: mutable.Map[String, Double]): Unit = {
    val ts = log.within(windows)
    out("exec.jobs") = log.jobsWithin(windows).toDouble
    out("exec.tasks") = ts.length.toDouble
    out("exec.run_ms") = ts.map(_.runMs).sum.toDouble
    out("exec.cpu_ms") = ts.map(_.cpuNs).sum / 1e6
    out("exec.gc_ms") = ts.map(_.gcMs).sum.toDouble
    out("shuffle.write_bytes") = ts.map(_.shuffleWrite).sum.toDouble
    out("shuffle.read_bytes") = ts.map(_.shuffleRead).sum.toDouble
    out("shuffle.fetch_wait_ms") = ts.map(_.fetchWaitMs).sum.toDouble
    // skew: in each stage that reads shuffle data, the largest task's read
    // over the stage mean; the worst stage of the unit
    val skews = ts.filter(_.shuffleRead > 0).groupBy(_.stage).values.collect {
      case st if st.length > 1 =>
        st.map(_.shuffleRead).max / (st.map(_.shuffleRead).sum.toDouble / st.length)
    }
    out("shuffle.skew") = if (skews.isEmpty) 1.0 else skews.max
    // scan tasks: tasks reading no shuffle data (the source stage of a
    // micro-batch); only meaningful for the streaming workloads
    out("source.scan_task_ms") = ts.filter(_.shuffleRead == 0).map(_.runMs).sum.toDouble
  }
}

/** The micro-batch driver and state store as Spark's own
  * StreamingQueryProgress reports them, summed or medianed over the
  * triggers of one query run. */
object Progress {
  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  def fill(ps: Seq[StreamingQueryProgress], wallS: Double,
      out: mutable.Map[String, Double]): Unit = if (ps.nonEmpty) {
    def p50(k: String) = Stats.median(ps.map(dur(_, k)))
    out("driver.batches") = ps.length.toDouble
    out("driver.trigger_ms_p50") = p50("triggerExecution")
    out("driver.latest_offset_ms_p50") = p50("latestOffset")
    out("driver.planning_ms_p50") = p50("queryPlanning")
    out("driver.add_batch_ms_p50") = p50("addBatch")
    out("driver.wal_commit_ms_p50") = p50("walCommit")
    out("driver.commit_ms_p50") = p50("commitOffsets")
    out("driver.empty_batch_frac") = ps.count(_.numInputRows == 0).toDouble / ps.length
    out("driver.outside_trigger_s") =
      math.max(0.0, wallS - ps.map(dur(_, "triggerExecution")).sum / 1000.0)
    out("source.rows") = ps.map(_.numInputRows.toDouble).sum
    out("source.lag_rows_max") = ps.flatMap(_.sources.toSeq).map { s =>
      Option(s.metrics.get("recordsBehindLatest")).map(_.toDouble).getOrElse(0.0)
    }.foldLeft(0.0)(math.max)
    out("sink.rows") = ps.map(p => math.max(0L, p.sink.numOutputRows).toDouble).sum
    val st = ps.flatMap(_.stateOperators.toSeq)
    if (st.nonEmpty) {
      out("state.rows_total") = ps.last.stateOperators.map(_.numRowsTotal.toDouble).sum
      out("state.rows_updated") = st.map(_.numRowsUpdated.toDouble).sum
      out("state.rows_removed") = st.map(_.numRowsRemoved.toDouble).sum
      out("state.commit_ms") = st.map(_.commitTimeMs.toDouble).sum
      out("state.update_ms") = st.map(_.allUpdatesTimeMs.toDouble).sum
      out("state.memory_bytes") = ps.last.stateOperators.map(_.memoryUsedBytes.toDouble).sum
    }
  }

  /** Trigger start times on the System.nanoTime clock. */
  def startsNs(ps: Seq[StreamingQueryProgress]): Seq[Long] = {
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    ps.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + offsetNs)
  }

  /** Per-trigger spans rebuilt from progress events, parented to `parent`. */
  def spans(tracer: Tracer, parent: Int, ps: Seq[StreamingQueryProgress]): Unit =
    ps.zip(startsNs(ps)).foreach { case (p, t0) =>
      val t1 = t0 + (dur(p, "triggerExecution") * 1e6).toLong
      tracer.record("trigger", s"batch_${p.batchId}", parent, t0, t1)
    }
}
