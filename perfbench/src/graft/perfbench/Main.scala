package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Command line: --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --cores <n>. `work` is a scratch directory inside the
  * checkout that the launcher creates and deletes; every file this process
  * writes goes there. `cores` is the host's core count; the JVM itself is
  * started on a share of them (see run.py). */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, cores: Int)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath, need("cores").toInt)
  }
}

/** What every workload shares: the session, the tracer, the Spark task log,
  * the run's scratch directory and the outcome counters. */
final class Ctx(val opts: Opts, val spark: SparkSession, val slots: Int) {
  val tracer = new Tracer(opts.trace)
  val taskLog: Option[TaskLog] =
    if (opts.trace) { val l = new TaskLog; spark.sparkContext.addSparkListener(l); Some(l) }
    else None
  private val dirs = new java.util.concurrent.atomic.AtomicInteger(0)
  /** A fresh, empty directory under the run's scratch root. */
  def freshDir(tag: String): String = {
    val p = opts.work.resolve(s"$tag-${dirs.incrementAndGet()}")
    Files.createDirectories(p)
    p.toString
  }
  var attempted = 0L
  var failed = 0L
  /** Record one checked unit of work: `wrong` of `n` records were wrong or
    * missing. */
  def check(n: Long, wrong: Long, what: String): Unit = {
    attempted += n
    failed += wrong
    if (wrong > 0) System.err.println(s"[perfbench] $what: $wrong of $n records wrong or missing")
  }
}

/** A workload: a fixed number of set-up rounds (the first makes the inputs;
  * each runs the measured shape once, so together they are the warm-up),
  * then a measured phase of fixed length. */
trait Workload {
  /** Threads the harness itself runs beside Spark's task slots. */
  def loadThreads: Int
  /** One set-up round: round 0 makes the inputs from the seed; every round
    * then runs the measured shape once on fresh state. */
  def setupRound(round: Int): Unit
  /** Number of set-up rounds; fixed work, so the warm-up is the same in
    * every run. */
  def setupRounds: Int
  /** The measured phase: run until `deadlineNs`, alternating untraced and
    * traced units in a traced run. */
  def measure(deadlineNs: Long): Unit
  def endToEnd(m: Metrics): Unit
  def perLayer(m: Metrics): Unit
}

object Main {
  /** Every per-layer metric a traced run prints, in order, with its unit. A
    * layer a workload does not pass through reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "driver.batches" -> "count", "driver.trigger_ms_p50" -> "ms",
    "driver.latest_offset_ms_p50" -> "ms", "driver.planning_ms_p50" -> "ms",
    "driver.add_batch_ms_p50" -> "ms", "driver.wal_commit_ms_p50" -> "ms",
    "driver.commit_ms_p50" -> "ms", "driver.empty_batch_frac" -> "frac",
    "driver.outside_trigger_s" -> "s",
    "source.rows" -> "count", "source.bytes" -> "bytes",
    "source.lag_rows_max" -> "count", "source.scan_task_ms" -> "ms",
    "kafka.produce_calls" -> "count", "kafka.produce_ms_p50" -> "ms",
    "kafka.produce_ms_p99" -> "ms", "kafka.bytes_produced" -> "bytes",
    "kafka.fetch_ms_p50" -> "ms", "kafka.polls" -> "count",
    "kafka.fetch_empty_frac" -> "frac", "kafka.generator_late_ms_p99" -> "ms",
    "sink.rows" -> "count", "sink.readback_s" -> "s",
    "state.rows_total" -> "count", "state.rows_updated" -> "count",
    "state.rows_removed" -> "count", "state.commit_ms" -> "ms",
    "state.update_ms" -> "ms", "state.memory_bytes" -> "bytes") ++
    DedupPipeline.Lanes.map(l => s"lane.${l}_s" -> "s") ++ Seq(
    "memo.pair_build_s" -> "s", "memo.cc_build_s" -> "s", "memo.bytes" -> "bytes",
    "exec.jobs" -> "count", "exec.tasks" -> "count", "exec.run_ms" -> "ms",
    "exec.cpu_ms" -> "ms", "exec.gc_ms" -> "ms", "shuffle.write_bytes" -> "bytes",
    "shuffle.read_bytes" -> "bytes", "shuffle.fetch_wait_ms" -> "ms",
    "shuffle.skew" -> "ratio",
    "jvm.jit_ms" -> "ms", "jvm.gc_ms" -> "ms", "host.busy_frac" -> "frac",
    "host.steal_frac" -> "frac", "host.calib_ms" -> "ms",
    "warm.half_ratio" -> "ratio", "trace.overhead_frac" -> "frac",
    "setup.context_s" -> "s", "env.cores" -> "count", "env.task_slots" -> "count",
    "env.load_threads" -> "count")

  def main(args: Array[String]): Unit = {
    val rc = try { run(Opts.parse(args)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    // Spark and the broker double leave non-daemon threads behind
    System.exit(rc)
  }

  private def run(opts: Opts): Unit = {
    val cores = opts.cores
    // one task slot per processor the JVM was given
    val slots = Runtime.getRuntime.availableProcessors()
    val tContext = System.nanoTime()
    val spark = Session.build(slots, opts.work)
    val contextS = (System.nanoTime() - tContext) / 1e9
    val ctx = new Ctx(opts, spark, slots)
    ctx.tracer.record("session", "build", -1, tContext, tContext + (contextS * 1e9).toLong)
    val w: Workload = opts.workload match {
      case "kafka_live" => new KafkaLive(ctx)
      case "replay_backfill" => new ReplayBackfill(ctx)
      case "dedup_pipeline" => new DedupPipeline(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    if (slots + w.loadThreads > cores)
      System.err.println(s"[perfbench] warning: $slots task slots and ${w.loadThreads} " +
        s"load threads exceed $cores cores")
    println(s"[perfbench] workload=${opts.workload} seed=${opts.seed} cores=$cores " +
      s"task_slots=$slots load_threads=${w.loadThreads} trace=${opts.trace}")

    val rounds = (0 until w.setupRounds).map { r =>
      val t0 = System.nanoTime()
      ctx.tracer.span("warm", s"setup_round_$r")(w.setupRound(r))
      (System.nanoTime() - t0) / 1e9
    }
    println(s"[perfbench] setup rounds (s): ${rounds.map(x => f"$x%.3f").mkString(" ")}")

    val calib = new HostCalib
    val calibBefore = calib.ms()
    val host = new HostStat
    val jvm = new JvmStat
    val tMeasure = System.nanoTime()
    w.measure(tMeasure + opts.seconds * 1000000000L)
    val (busy, steal) = host.sample()
    val jitMs = jvm.jitMs
    val gcMs = jvm.gcMs
    val calibMs = (calibBefore + calib.ms()) / 2
    println(f"[perfbench] measured ${(System.nanoTime() - tMeasure) / 1e9}%.2f s; " +
      f"host busy=$busy%.3f steal=$steal%.4f calib_ms=$calibMs%.2f jit_ms=$jitMs%.0f " +
      f"gc_ms=$gcMs%.0f classes_loaded=${jvm.classesLoaded}%.0f")

    val e2e = new Metrics
    // set-up: session start plus every fixed set-up round (input, query or
    // memo start, and the warm-up passes on the measured shape)
    e2e.put("setup_s", contextS + rounds.sum, "s")
    w.endToEnd(e2e)
    e2e.toSeq.foreach { case (k, v, u) => println(f"[perfbench] $k = $v%.4f $u") }

    val out = new Metrics
    if (opts.trace) {
      val layer = new Metrics
      w.perLayer(layer)
      layer.put("jvm.jit_ms", jitMs, "ms")
      layer.put("jvm.gc_ms", gcMs, "ms")
      layer.put("host.busy_frac", busy, "frac")
      layer.put("host.steal_frac", steal, "frac")
      layer.put("host.calib_ms", calibMs, "ms")
      layer.put("setup.context_s", contextS, "s")
      layer.put("env.cores", cores, "count")
      layer.put("env.task_slots", slots, "count")
      layer.put("env.load_threads", w.loadThreads, "count")
      PerLayer.foreach { case (k, u) => out.put(k, layer.get(k).getOrElse(0.0), u) }
      layer.get("trace.overhead_frac").foreach { o =>
        println(f"[perfbench] tracing overhead: traced units took ${o * 100}%+.1f%% " +
          "against the untraced units of this run") }
      println("[perfbench] layer table (spans of the set-up rounds and the traced units):")
      println(f"  ${"layer"}%-12s ${"count"}%8s ${"busy_ms"}%12s ${"self_ms"}%12s")
      ctx.tracer.layerTable.foreach { case (l, n, b, s) =>
        println(f"  $l%-12s $n%8d $b%12.1f $s%12.1f") }
      val tracePath = opts.work.getParent.resolve(
        s"trace-${opts.workload}-${opts.seed}.json")
      ctx.tracer.writeJson(tracePath)
      println(s"[perfbench] spans written to $tracePath")
    } else e2e.toSeq.foreach { case (k, v, u) => out.put(k, v, u) }

    spark.stop()
    val correct = ctx.failed == 0 && ctx.attempted > 0
    val ms = out.toSeq.map { case (k, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is not a number: $v")
      s""""$k":{"value":$v,"unit":"$u"}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":${math.max(1L, ctx.attempted)},""" +
      s""""failed":${ctx.failed},"metrics":$ms}""")
    System.out.flush()
  }
}

/** The session every workload runs on: the confs graft's own Bench uses
  * (local[slots], shuffle partitions = slots, UTC, 16 MB file splits, AQE
  * on, stock state store), plus scratch paths kept inside the work dir. */
object Session {
  def build(slots: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", (16L << 20).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
