package graft

import scala.util.control.NonFatal

/** Per-round benchmark: runs every registry query against
  * SPARK_GRAFT_SF_DIR, forcing full materialization through the `noop` DSv2
  * sink (no count() shortcuts — projections and sinks execute), and prints one
  * JSON line for the driver (BENCH_r{N}.json). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // JVM/codegen warmup + one-time fixture construction outside the timed
    // region (parity with a warmed long-running service; the driver baseline
    // measures steady state, and the replay logs are reused across rounds)
    try {
      SparkEntry.entry(spark).write.mode("overwrite").format("noop").save()
      sources.replay.ReplayLog.ensureLog(spark, sfDir)
      sources.replay.ReplayLog.ensureLog(spark, sfDir, late = true)
      // Warm the Structured Streaming machinery too (micro-batch driver,
      // checkpoint WAL, state store, memory sink): a fresh JVM pays several
      // seconds of one-time class loading + JIT on its FIRST streaming query,
      // which would otherwise be billed to whichever registry query runs
      // first. A small bounded replay at sf0.001 exercises the whole path.
      val warm = spark.readStream.format("graft-replay")
        .option("path",
          sources.replay.ReplayLog.ensureLog(spark, "/root/testdata/sf0.001"))
        .load()
        .groupBy(org.apache.spark.sql.functions.col("partition"))
        .count()
      val wq = warm.writeStream.format("memory").queryName("graft_warmup")
        .outputMode("complete")
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory(operators.StreamingQueries.tmpBase, "graft-warm").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      wq.awaitTermination()
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] warmup failed: $e")
    }

    // Per-query MIN over `reps` full registry passes: one transient host
    // stall (page-cache eviction, a noisy neighbor) otherwise lands in a
    // single query's number and reads as a plan regression. The minimum is
    // the steady-state throughput estimate; run-to-run variance on this box
    // is ~15% with occasional 5-8x outlier blocks.
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt)
    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the run to named queries — the
    // standalone re-measurement path for flagged queries (single-JVM bench
    // adjacency means a full-registry number can inherit a predecessor's
    // GC/spill state; SCALE.md's methodology is min-of-2 standalone).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val registry = only match {
      case Some(names) =>
        // Fail fast on a typo: a name matching no registry entry would
        // silently shrink (or empty) the run and still overwrite
        // bench_out.json with a misleading snapshot.
        val known = SparkEntry.registry.map(_.name).toSet
        val unknown = names.diff(known)
        if (unknown.nonEmpty)
          throw new IllegalArgumentException(
            s"SPARK_GRAFT_BENCH_ONLY names not in the registry: " +
              unknown.toSeq.sorted.mkString(", "))
        SparkEntry.registry.filter(q => names(q.name))
      case None => SparkEntry.registry
    }
    // The shared setup artifacts, one timed line each (see SharedArtifact);
    // a BENCH_ONLY run is standalone: its lanes pay their own builds
    val setupLines =
      if (only.isEmpty) operators.SharedArtifact.setupLines else Seq.empty
    def timedSetup(name: String)(body: => Unit): (String, Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok = try { body; true }
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      (name, (System.nanoTime() - t0) / 1e9, ok)
    }
    val runs = (1 to reps).map { rep =>
      // each rep pays every cost honestly: a repeat pass rebuilds the shared
      // artifacts instead of timing a cache hit
      if (rep > 1) operators.PipelineQueries.resetMemo()
      val setup = setupLines.map { case (name, arts) =>
        timedSetup(name)(operators.SharedArtifact.warm(spark, sfDir, arts))
      }
      setup ++ registry.map { q =>
        val t0 = System.nanoTime()
        val ok =
          try { q.fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
          catch { case NonFatal(e) =>
            System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // queries are independent jobs: drop their persisted intermediates so
        // storage-memory pressure from earlier queries can't tax later ones
        // (the near-dup ops persist signature tables that would otherwise
        // accumulate across the whole registry)
        spark.catalog.clearCache()
        (q.name, dt, ok)
      }
    }
    // min over successful reps per query; a query failed only if it failed
    // in EVERY rep. Failed queries are OMITTED from the timing map (their
    // time-to-throw is not a throughput number) and listed separately.
    val byName = runs.flatten.groupBy(_._1)
    val ordered = setupLines.map(_._1) ++ registry.map(_.name)
    val good = ordered.flatMap { n =>
      val oks = byName(n).collect { case (_, v, true) => v }
      if (oks.isEmpty) None else Some(n -> oks.min)
    }
    val failed = ordered.filter(n => !byName(n).exists(_._3))
    val qs = good.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = good.map(_._2).sum
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$fs,"sf":"$sfDir"}"""
    // stdout for the driver AND a file: the driver's stdout capture truncates
    // long lines, which nulled the per-query map in earlier rounds
    println(line)
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"), line)
    // Round-close evidence must be IMMUTABLE: bench_out.json is scratch
    // (clobbered by every run, including BENCH_ONLY spot runs — the round-10
    // verdict's 205.3s-vs-216.1s discrepancy came from exactly that), so a
    // close run sets SPARK_GRAFT_BENCH_CLOSE=<tag> and gets a uniquely-named
    // snapshot that is never overwritten; BASELINE.md cites that file.
    sys.env.get("SPARK_GRAFT_BENCH_CLOSE").foreach { tag =>
      val stamp = java.time.format.DateTimeFormatter
        .ofPattern("yyyyMMdd'T'HHmmss").withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.now())
      val p = java.nio.file.Paths.get(s"bench_close_${tag}_$stamp.json")
      java.nio.file.Files.write(p, line.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE_NEW)
      System.err.println(s"[bench] close snapshot written: $p")
    }
    spark.stop()
    // The driver captures only the LAST ~2000 chars of stdout; the full
    // per-query line above is ~8 KB, so r10/r11 landed as `parsed: null`
    // (the tail started mid-line). The FINAL stdout line is therefore a
    // compact, complete JSON that fits the tail window: headline total +
    // the slowest queries, with the full map in bench_out.json / the close
    // snapshot. Printed after spark.stop() so no shutdown chatter follows.
    val slow = good.sortBy(-_._2)
    val budget = 1500 // chars for the queries map, well under the window
    val picked = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var used = 0
    slow.iterator.takeWhile { case (k, _) =>
      used += k.length + 12; used < budget
    }.foreach(picked += _)
    val qsTop = picked.map { case (k, v) => "\"" + k + f"\":$v%.2f" }
      .mkString("{", ",", "}")
    // VERDICT r14 #3 (r13 #9): the excerpt must be SELF-DESCRIBING inside
    // the parsed JSON, not a prose note — a full-registry run writes the
    // complete per-query map to a STABLE committed artifact
    // (bench_full_map.json; BENCH_ONLY spot runs never clobber it) and the
    // parsed line carries queries_complete:false + the file pointer + a
    // sha256 prefix of that file's exact bytes, so any consumer can verify
    // the committed map is THE map behind this headline.
    val fullMapFile = "bench_full_map.json"
    val fullSha =
      if (only.isEmpty) {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(fullMapFile), line)
        java.security.MessageDigest.getInstance("SHA-256")
          .digest(line.getBytes("UTF-8")).map("%02x".format(_))
          .mkString.take(16)
      } else ""
    val pointer =
      if (only.isEmpty)
        s""","queries_complete":false,"full_map_file":"$fullMapFile","full_map_sha256_16":"$fullSha","full_map_n":${good.size}"""
      else s""","queries_complete":false,"spot_run_only":true"""
    // n_queries counts REGISTRY queries only; the setup lines are timed
    // and present in the map but are not queries (VERDICT r14 cosmetic note)
    val setupNames = setupLines.map(_._1).toSet
    val nRegistry = good.count(g => !setupNames(g._1))
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":$nRegistry,"n_setup":${good.size - nRegistry},"failed":$fs,"sf":"$sfDir","queries":$qsTop$pointer}""")
    System.out.flush()
  }
}
