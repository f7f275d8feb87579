package graft.operators

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.{GQuery, GraftSession, Tables}
import graft.sources.replay.ReplayLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, Trigger}
import org.apache.spark.sql.types._

/** The streaming surface (SURVEY.md §2.3 S01–S10): every query is executed as
  * a REAL Structured Streaming job (micro-batch driver, checkpoint, sink) run
  * to completion with `Trigger.AvailableNow`, then the sink table is returned
  * as the result DataFrame. Where the result is batch-expressible the DuckDB
  * oracle validates it exactly (Structured Streaming's prefix-consistency
  * guarantee makes streaming ≡ batch on a bounded replay) — the
  * batch-equivalence oracle class B of SURVEY.md §5.2.
  *
  * S01/S06/S10 run through the custom graft-replay DSv2 source (the
  * reference's own operator); S02–S05/S07–S09 stream the events parquet
  * through Spark's file source. Output modes exercised: append (S01, S05,
  * S08, S10), complete (S02, S03, S04, S06, S07), update (S09).
  */
object StreamingQueries {

  private val ctr = new AtomicInteger(0)

  /** Checkpoint base: tmpfs when available. The checkpoint WAL fsyncs every
    * micro-batch (offset log + commit log + state snapshots); on a disk-backed
    * /tmp that dominates short bounded runs. A production deployment puts
    * checkpoints on durable shared storage — for the bench/verify harness the
    * checkpoint only needs to outlive the run. */
  private[graft] def tmpBase: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isWritable(shm)) shm
    else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
  }

  /** Run a streaming DF to completion (AvailableNow) into a memory sink,
    * return the sink contents as a DataFrame.
    *
    * The stream runs under the confs of the session `df` was built on:
    * Structured Streaming clones that session at `start()`, and the
    * micro-batch driver and the state store read their confs from the clone.
    * So a lane that needs its own confs builds its stream on a
    * [[withStreamConfs]] session rather than setting them on a shared one,
    * and no stream's confs depend on what another thread is running. */
  private[operators] def runToMemory(df: DataFrame, mode: String): DataFrame = {
    val ckpt = Files.createTempDirectory(tmpBase, "graft-ckpt").toString
    if (mode == "append") {
      // append-mode outputs can be TABLE-sized (the s01/s23/s25 envelopes
      // are |events| rows): a memory sink would collect them all onto the
      // driver — the exact cliff the 100 TB story forbids. The file sink
      // keeps the result distributed end to end (measured s01 sf1 6.1→
      // ~2 s). complete/update aggregates stay on the memory sink: their
      // outputs are aggregate-sized by construction and the file sink
      // cannot replace emitted rows.
      val out = Files.createTempDirectory(tmpBase, "graft-sink").toString
      val q = df.writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      df.sparkSession.read.schema(df.schema).parquet(out)
    } else {
      val name = s"graft_mem_${ctr.incrementAndGet()}"
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(mode).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      df.sparkSession.table(name)
    }
  }

  /** Dedicated streaming-harness session per parent session. The state-store
    * partition count of a streaming query is fixed at stream start from
    * `spark.sql.shuffle.partitions` (baked into the checkpoint); bounded
    * replays of ~10^5 rows are right-sized at 8 — per-batch stateful commit
    * cost is linear in the count, and 32 quadruples it for no parallelism
    * gain at this state size. Cloning isolates that knob: the parent session
    * and anything running concurrently on it keep full batch parallelism.
    * At 100 TB the same knob scales with cluster size on the job's own
    * session. `newSession` shares the SparkContext and cached data, so the
    * replay source, parquet reads and the memory sink behave identically.
    * Test-visible: StreamMetricsSpec attaches its listener here (listeners
    * are per-SparkSession). */
  private val harness =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()
  private[graft] def harnessSession(parent: SparkSession): SparkSession =
    harness.computeIfAbsent(parent, p => {
      val c = p.newSession()
      c.conf.set("spark.sql.shuffle.partitions", "8")
      // A/B seam (round 18): semicolon-separated k=v pairs applied to the
      // CLONED stream session only — parameterises scale-dependent state
      // store choices (provider class, state compression codec) for
      // measurement sweeps without touching the batch session or the bench
      // contract. Unset (the default, and every driver run) = stock confs.
      sys.env.get("SPARK_GRAFT_STREAM_CONF").foreach(spec =>
        GraftSession.parseConfs("SPARK_GRAFT_STREAM_CONF", spec)
          .foreach { case (k, v) => c.conf.set(k, v) })
      c
    })

  /** Lane confs: no terminal no-data micro-batch. For an INNER
    * stream-stream join (or a watermarked dedup) run to completion with
    * AvailableNow, the final empty batch only EVICTS state — it can never
    * emit a row — yet it pays a full trigger: incremental re-plan plus a
    * state-store commit on every partition x store (measured 1.4 s of s08's
    * 3.9 s). A bounded backfill needs no end-of-run eviction: the query
    * terminates and the checkpoint is scratch. ONLY valid when the terminal
    * batch provably cannot emit; outer joins and append-mode window/session
    * aggregates EMIT from that batch and must keep the default. */
  val NoTerminalBatch: Map[String, String] =
    Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")

  /** Lane confs: the RocksDB state store, which transformWithState
    * requires. */
  val RocksDbState: Map[String, String] =
    Map("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** A clone of `base` (its confs, temp views and functions) with `confs`
    * set on top, memoized per (base session, confs). */
  private val confSessions = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, Map[String, String]), SparkSession]()
  private[graft] def streamSession(base: SparkSession,
      confs: Map[String, String]): SparkSession =
    confSessions.computeIfAbsent((base, confs), _ => {
      val c = shims.cloneSession(base)
      confs.foreach { case (k, v) => c.conf.set(k, v) }
      c
    })

  /** Run a lane body on the harness session's [[streamSession]] for
    * `confs`, so the lane's streams carry those confs and the shared
    * harness session is never mutated. */
  private[operators] def withStreamConfs(confs: Map[String, String])(
      fn: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, d) => fn(streamSession(s, confs), d)

  /** Streaming envelope from the graft-replay source. */
  private[operators] def replayStream(s: SparkSession, d: String,
      maxRowsPerTrigger: Option[Long] = None, late: Boolean = false): DataFrame = {
    val log = ReplayLog.ensureLog(s, d, late)
    val r = s.readStream.format("graft-replay").option("path", log)
    maxRowsPerTrigger.foreach(n => r.option("maxRowsPerTrigger", n.toString))
    r.load()
  }

  /** Streaming events via Spark's file source, normalized like
    * Tables.events (exact ns long + µs TimestampType). The schema is
    * INFERRED from the files on disk (via a batch read), not hard-coded —
    * the driver has regenerated events.ts across encodings (ns-long vs
    * timestamp[us]) and forcing the wrong physical type silently corrupts
    * every event time by 1000× (VERDICT r7). */
  private[operators] def eventStream(s: SparkSession, d: String): DataFrame =
    Tables.normalizeEventTs(
      s.readStream.schema(Tables.eventSchema(s, d))
        .option("pathGlobFilter", "events.parquet").parquet(d))

  /** Streaming documents via Spark's file source. Schema inferred from the
    * files on disk (never hard-coded — the driver regenerates fixtures
    * across rounds; see Tables.schemaCanary). */
  private[operators] def docStream(s: SparkSession, d: String): DataFrame =
    s.readStream.schema(Tables.table(s, d, "documents").schema)
      .option("pathGlobFilter", "documents.parquet").parquet(d)

  /** Per-partition admission cap sized for ~6 micro-batches at any scale
    * factor (fixed row counts degenerate into dozens of tiny batches at
    * sf0.1 — 50s of trigger overhead for s05 before this). Parquet metadata
    * count only. */
  private[operators] def adaptiveTrigger(s: SparkSession, d: String): Long = {
    val n = Tables.events(s, d).count()
    math.max(50L, n / ReplayLog.NumPartitions / 6)
  }

  private[operators] def dec2(c: org.apache.spark.sql.Column) = c.cast("decimal(12,2)")
  private[operators] def dbl(c: org.apache.spark.sql.Column) = c.cast("double")

  /** Declared queries — split by family in round 12 (same registry, same
    * order); each runs verbatim on `harnessSession(s)` — see `all`. */
  private val declared: Seq[GQuery] =
    StreamingWindowQueries.queries ++ StreamingStatefulQueries.queries ++
      StreamingAnalyticsQueries.queries ++ StreamingGateQueries.queries

  /** Public registry: each declared query body runs against the dedicated
    * harness session, so its streaming-state conf never touches the caller's
    * session. */
  val all: Seq[GQuery] =
    declared.map(q => q.copy(fn = (s, d) => q.fn(harnessSession(s), d)))
}
