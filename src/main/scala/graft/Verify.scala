package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — names (dev-only) restrict the
    // dump to a subset; the driver always invokes the 2-arg full form
    val Array(sfDir, outDir) = args.take(2)
    val only: Set[String] = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_FAULT=kill|cluster — the retry-determinism sweep
    // (round-12 verdict #1): rerun the whole registry under induced task
    // retries, then diff the dumps against a clean run. Results must be
    // HASH-IDENTICAL: a divergence means a plan whose output depends on
    // attempt history — the nondeterministic-on-retry Spark bug class
    // (e.g. round-robin repartition without sort, unstable limits).
    //   kill    — local[N,4]: the first attempt of one task per stage is
    //             killed and rescheduled in-process.
    //   cluster — local-cluster[2 workers, separate executor JVMs] with
    //             the same kill listener: every retry re-serializes the
    //             task binary + closures and can land on the OTHER
    //             executor, so this arm is also a cross-JVM determinism
    //             proof for the whole registry. Speculation is enabled
    //             here too, but NOTE: speculative duplicates can never
    //             LAUNCH on a single box — TaskSetManager's speculative
    //             dequeue skips any candidate with an attempt on the same
    //             host (and plain local[N] never even starts the
    //             speculation checker: TaskSchedulerImpl gates it on
    //             !isLocal). Both verified against the 4.1.2 bytecode;
    //             the landed count is reported so the artifact is honest.
    //             Needs SPARK_HOME (+ SPARK_SCALA_VERSION=2.13) so the
    //             in-process Worker can exec executor JVMs.
    val fault = sys.env.get("SPARK_GRAFT_FAULT")
    require(fault.forall(Set("kill", "cluster")),
      s"SPARK_GRAFT_FAULT must be kill|cluster, got $fault")
    if (fault.contains("cluster"))
      require(sys.env.contains("SPARK_HOME"),
        "cluster fault mode launches real executor JVMs: set SPARK_HOME " +
          "(and SPARK_SCALA_VERSION=2.13)")
    val builder = GraftSession.builder(cpus.toInt)
    // kill mode: local[N, 4] — an interrupted task can surface as a genuine
    // task FAILURE (interrupt mid-parquet-IO), which default local mode
    // (maxFailures=1) would escalate to job failure — allow the production
    // 4 attempts, like a real cluster
    if (fault.contains("cluster"))
      builder.master(s"local-cluster[2,${math.max(cpus.toInt / 2, 2)},3072]")
    else if (fault.isDefined) builder.master(s"local[$cpus,4]")
    // Config-invariance sweeps (round-12): SPARK_GRAFT_EXTRA_CONF holds
    // semicolon-separated k=v pairs layered onto the builder — the seam the
    // AQE-off / codegen-off / different-shuffle-partitions arms use to
    // prove the registry's results are invariant to the physical-planning
    // knobs a cluster operator actually varies.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(spec =>
      GraftSession.parseConfs("SPARK_GRAFT_EXTRA_CONF", spec)
        .foreach { case (k, v) => builder.config(k, v) })
    if (fault.contains("cluster")) {
      // speculation armed (inert on one host — see above — but this is the
      // exact conf a multi-host run would use), executors as separate JVMs
      builder.config("spark.speculation", "true")
        .config("spark.speculation.interval", "20ms")
        .config("spark.speculation.multiplier", "1.05")
        .config("spark.speculation.quantile", "0.25")
        // executors are SEPARATE JVMs here — ship the harness classes.
        // Entries made ABSOLUTE: executors run in their own work dir, so a
        // relative "target/scala-2.13/classes" silently loads nothing and
        // the first graft class to cross the wire dies in readObject
        .config("spark.executor.extraClassPath",
          System.getProperty("java.class.path")
            .split(java.io.File.pathSeparator)
            .map(p => java.nio.file.Paths.get(
              p.stripSuffix("/*")).toAbsolutePath.toString +
              (if (p.endsWith("/*")) "/*" else ""))
            .mkString(java.io.File.pathSeparator))
        .config("spark.executor.memory", "2g")
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val killCount = new java.util.concurrent.atomic.AtomicLong
    val specCount = new java.util.concurrent.atomic.AtomicLong
    if (fault.contains("cluster")) {
      // count any LANDED speculative duplicates (expected 0 on one host;
      // reported so the artifact never overstates what ran)
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskStart(
              t: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
            if (t.taskInfo.speculative) specCount.incrementAndGet()
        })
    }
    if (fault.isDefined) {
      val sc = spark.sparkContext
      val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onTaskStart(
            t: org.apache.spark.scheduler.SparkListenerTaskStart): Unit = {
          val info = t.taskInfo
          // first attempt of the index-0 task of every fresh stage: kill it.
          // killTaskAttempt reschedules without counting toward maxFailures,
          // so EVERY stage of every query experiences at least one retried
          // task (when the task outlives the async kill — sub-ms tasks can
          // win the race, which is fine: the sweep reports the landed count)
          if (info.attemptNumber == 0 && t.stageAttemptId == 0 &&
              info.index == 0 && seen.add(t.stageId)) {
            try {
              if (sc.killTaskAttempt(info.taskId, interruptThread = true,
                  reason = s"graft fault injection, stage ${t.stageId}"))
                killCount.incrementAndGet()
            } catch { case NonFatal(_) => () }
          }
        }
      })
    }
    new java.io.File(outDir).mkdirs()
    // Testdata-schema canary (VERDICT r7 #4): if the driver regenerated a
    // fixture with a dtype the engine doesn't handle, say so in ONE loud
    // line up front instead of 68 scattered per-query failures below. The
    // canary itself must never kill the sweep (a missing/corrupt fixture
    // should still let every other table's queries run and report).
    try {
      System.err.println("[verify] CANARY: events.ts encoding = " +
        Tables.eventTsEncoding(spark, sfDir))
      Tables.schemaCanary(spark, sfDir)
        .foreach(p => System.err.println(s"[verify] CANARY: $p"))
    } catch { case NonFatal(e) =>
      System.err.println(s"[verify] CANARY probe failed: ${e.getMessage}")
    }
    // dev knob: resume an interrupted sweep (the driver never sets this)
    val skipExisting = sys.env.get("SPARK_GRAFT_SKIP_EXISTING").contains("1")
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
        val dest = Paths.get(s"$outDir/$name")
        if (skipExisting && Files.exists(dest.resolve("_SUCCESS"))) ()
        else try {
          System.err.println(s"[verify] running $name")
          val t0 = System.nanoTime()
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(
            f"[verify] $name done in ${(System.nanoTime() - t0) / 1e9}%.1f s")
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    fault.foreach(m =>
      System.err.println(s"[verify] FAULT $m: ${killCount.get} task " +
        "attempts killed and rescheduled across the sweep"))
    if (fault.contains("cluster"))
      System.err.println(s"[verify] FAULT cluster: ${specCount.get} " +
        "speculative duplicates launched (0 expected on one host: " +
        "speculative placement excludes the running attempt's host)")
    spark.stop()
  }
}
