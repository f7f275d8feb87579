package graft.operators

import java.nio.file.Files

import graft.{GQuery, Tables}
import graft.sources.replay.ReplayLog
import graft.streaming._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, Trigger}
import org.apache.spark.sql.types._

/** Custom state and sinks: mapGroupsWithState/flatMapGroupsWithState/
  * transformWithState lanes (s09/s12/s15/s36-s39), update/complete
  * aggregates (s19/s20), JSON decode (s11), union (s13), foreachBatch +
  * exactly-once sinks (s14/s34), socket replay (s35), incremental dedup
  * and sketches (s29/s30), as-of enrich, quality routing, streaming
  * decontamination (s26-s28), and bounded replay pacing (s10).
  *
  * Part of the [[StreamingQueries]] registry (split from the former
  * monolithic file in round 12); execution helpers (runToMemory, the
  * 8-partition harness session, replay/event/doc streams) live on
  * [[StreamingQueries]] itself.
  */
private[operators] object StreamingStatefulQueries {
  import StreamingQueries._

  val queries: Seq[GQuery] = Seq(

    // S09: custom stateful aggregation via mapGroupsWithState (update mode):
    // per-user running purchase spend in exact cents.
    GQuery("s09_stateful_agg",
      (s, d) => {
        import s.implicits._
        val typed = eventStream(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), (dec2(col("value")) * 100).cast("long").as("cents"))
          .as[(Long, Long)]
        val updated = typed.groupByKey(_._1)
          .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
            (uid: Long, rows: Iterator[(Long, Long)], st: GroupState[(Long, Long)]) =>
              var (n, cents) = st.getOption.getOrElse((0L, 0L))
              rows.foreach { r => n += 1; cents += r._2 }
              st.update((n, cents))
              (uid, n, cents)
          }.toDF("user_id", "n_purch", "cents")
        val mem = runToMemory(updated, "update")
        // last state emitted per user (multi-batch runs emit one row per batch)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("n_purch").desc)
        mem.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id"), col("n_purch"), col("cents"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, count(*) AS n_purch,
  CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS cents
FROM events WHERE event_type = 'purchase'
GROUP BY user_id ORDER BY user_id NULLS FIRST""")),

    // S19: UPDATE-mode windowed aggregation — emits changed windows per
    // batch; on the single-batch bounded run every window emits exactly its
    // final value, so the result matches the complete-mode oracle (s02's).
    GQuery("s19_update_window",
      (s, d) => runToMemory(
        eventStream(s, d)
          .groupBy(window(col("ts"), "10 minutes"))
          .agg(count(lit(1)).as("n"), dbl(sum(dec2(col("value")))).as("sv")),
        "update")
        .select(col("window.start").cast("long").as("ws_sec"), col("n"), col("sv"))
        .orderBy(col("ws_sec")),
      Some("""SELECT (epoch_us(ts) // 600000000) * 600 AS ws_sec, count(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv
FROM events GROUP BY 1 ORDER BY ws_sec NULLS FIRST""")),

    // S20: global (keyless) streaming aggregation — one running state row
    // for the whole stream.
    GQuery("s20_global_agg",
      (s, d) => runToMemory(
        eventStream(s, d)
          .agg(count(lit(1)).as("n"), dbl(sum(dec2(col("value")))).as("sv"),
            min(col("user_id")).as("min_user"), max(col("user_id")).as("max_user")),
        "complete"),
      Some("""SELECT count(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv,
  min(user_id) AS min_user, max(user_id) AS max_user FROM events""")),

    // S11 (beyond the survey rows): the reference's deserialization-is-the-
    // query's-job design (/root/reference/src/lib.rs:7-12 fixed binary schema;
    // tests/basic_tests.rs:53-56 query-side cast) taken to its real form:
    // opaque envelope bytes -> utf8 -> from_json -> typed aggregation, all
    // inside the streaming query.
    GQuery("s11_envelope_json_decode",
      (s, d) => runToMemory(
        replayStream(s, d)
          .select(from_json(col("value").cast("string"),
            StructType(Seq(StructField("k", IntegerType)))).getField("k").as("k"))
          .groupBy(col("k")).agg(count(lit(1)).as("n")),
        "complete").orderBy(col("k")),
      Some("""SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, count(*) AS n
FROM events GROUP BY 1 ORDER BY k NULLS FIRST""")),

    // S12: flatMapGroupsWithState (append mode) — the arbitrary-stateful-
    // processing API emitting zero-or-more rows per group per batch; state is
    // the running (count, cents) per user, the last emission per user is the
    // final state (same reconciliation as S09).
    GQuery("s12_flatmap_state",
      (s, d) => {
        import s.implicits._
        val typed = eventStream(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), (dec2(col("value")) * 100).cast("long").as("cents"))
          .as[(Long, Long)]
        val out = typed.groupByKey(_._1)
          .flatMapGroupsWithState(org.apache.spark.sql.streaming.OutputMode.Append(),
            GroupStateTimeout.NoTimeout()) {
            (uid: Long, rows: Iterator[(Long, Long)], st: GroupState[(Long, Long)]) =>
              var (n, cents) = st.getOption.getOrElse((0L, 0L))
              rows.foreach { r => n += 1; cents += r._2 }
              st.update((n, cents))
              Iterator((uid, n, cents))
          }.toDF("user_id", "n_purch", "cents")
        val mem = runToMemory(out, "append")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("n_purch").desc)
        mem.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id"), col("n_purch"), col("cents"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, count(*) AS n_purch,
  CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS cents
FROM events WHERE event_type = 'purchase'
GROUP BY user_id ORDER BY user_id NULLS FIRST""")),

    // S15: transformWithState (Spark 4's arbitrary-stateful-processing API,
    // successor to [flat]mapGroupsWithState): typed ValueState per key,
    // RocksDB state store (required by the operator). Same running-spend
    // semantics as S09/S12 so all three stateful APIs cross-check.
    GQuery("s15_transform_with_state",
      withStreamConfs(RocksDbState) { (s, d) =>
        import s.implicits._
        val typed = eventStream(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), (dec2(col("value")) * 100).cast("long").as("cents"))
          .as[(Long, Long)]
        val out = typed.groupByKey(_._1)
          .transformWithState(new SpendProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Update())
          .toDF("user_id", "n_purch", "cents")
        val mem = runToMemory(out, "update")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("n_purch").desc)
        mem.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id"), col("n_purch"), col("cents"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, count(*) AS n_purch,
  CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS cents
FROM events WHERE event_type = 'purchase'
GROUP BY user_id ORDER BY user_id NULLS FIRST""")),

    // S13: streaming union across HETEROGENEOUS sources — the file stream
    // unioned with the custom DSv2 replay stream (event_id reconstructed from
    // the envelope's partition/offset), so every id arrives exactly twice.
    GQuery("s13_stream_union",
      (s, d) => runToMemory(
        eventStream(s, d).select(col("event_id"))
          .unionAll(replayStream(s, d)
            .select((col("offset") * 3 + col("partition")).cast("long").as("event_id")))
          .groupBy((col("event_id") % 10).as("bucket"))
          .agg(count(lit(1)).as("n")),
        "complete").orderBy(col("bucket")),
      Some("""SELECT event_id % 10 AS bucket, 2 * count(*) AS n
FROM events GROUP BY 1 ORDER BY bucket NULLS FIRST""")),

    // S14: foreachBatch sink — per-micro-batch handler appending to a parquet
    // table (the "real output" path of SURVEY.md §2.1 sinks), then verified by
    // reading the table back.
    GQuery("s14_foreach_batch_sink",
      (s, d) => {
        val out = Files.createTempDirectory(tmpBase, "graft-fbsink").toString
        val q = eventStream(s, d)
          .select(col("event_id"), col("event_type"))
          .writeStream.outputMode("append")
          .option("checkpointLocation",
            Files.createTempDirectory(tmpBase, "graft-ckpt").toString)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (df: DataFrame, _: Long) =>
            df.write.mode("append").parquet(out); ()
          }
          .start()
        q.awaitTermination()
        s.read.parquet(out)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), max(col("event_id")).as("max_id"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n, max(event_id) AS max_id
FROM events GROUP BY event_type ORDER BY event_type NULLS FIRST""")),

    // S34: exactly-once twin of S14 — the same foreachBatch parquet sink but
    // idempotent on batchId (dynamic partition overwrite on `_batch_id`), so
    // a batch replayed after a crash-between-write-and-commit overwrites
    // itself instead of duplicating. ExactlyOnceSinkSpec kill-tests the
    // restart path; here the happy path must stay oracle-exact.
    GQuery("s34_idempotent_sink",
      (s, d) => {
        val out = Files.createTempDirectory(tmpBase, "graft-eosink").toString
        val q = replayStream(s, d, maxRowsPerTrigger = Some(adaptiveTrigger(s, d)))
          .select(col("partition"), col("offset"),
            col("value").cast("string").as("props"))
          .writeStream.outputMode("append")
          .option("checkpointLocation",
            Files.createTempDirectory(tmpBase, "graft-ckpt").toString)
          .trigger(Trigger.AvailableNow())
          .foreachBatch(graft.streaming.IdempotentSink.parquet(out) _)
          .start()
        q.awaitTermination()
        graft.streaming.IdempotentSink.read(s, out)
          .groupBy(get_json_object(col("props"), "$.k").cast("int").as("k"))
          .agg(count(lit(1)).as("n"), max(col("offset")).as("max_off"))
          .orderBy(col("k"))
      },
      Some("""SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
  count(*) AS n, max(event_id // 3) AS max_off
FROM events GROUP BY 1 ORDER BY k NULLS FIRST""")),

    // S35: the replay stream consumed over a REAL network hop — the declared
    // twin of s01/s23 running through `client=socket` against an in-process
    // TCP broker double (length-prefixed frames, the reference's transport
    // shape). Same offsets, same admission, same checkpointing; the only
    // difference is the wire. The oracle is the same envelope arithmetic as
    // s23 (partition = event_id % 3, offset = event_id // 3).
    GQuery("s35_socket_replay",
      (s, d) => {
        val log = ReplayLog.ensureLog(s, d)
        val server = new graft.sources.replay.SocketLogServer(log)
        try {
          runToMemory(
            s.readStream.format("graft-replay")
              .option("client", "socket").option("path", server.address)
              .option("maxRowsPerTrigger", adaptiveTrigger(s, d).toString)
              .load()
              .select(col("partition").cast("long").as("partition"), col("offset"),
                col("key").cast("string").as("key"),
                length(col("value").cast("string")).cast("long").as("vlen")),
            "append").orderBy(col("partition"), col("offset"))
        } finally server.close()
      },
      Some("""SELECT event_id % 3 AS "partition", event_id // 3 AS "offset",
  'Key ' || event_id AS key, len(props) AS vlen
FROM events
ORDER BY "partition" NULLS FIRST, "offset" NULLS FIRST""")),

    // S37: warm-start state bootstrap — transformWithState with
    // initialState: the even-event_id half of purchase history is aggregated
    // BATCH-side and loaded through handleInitialState; only the odd half
    // streams. The oracle totals BOTH halves per user (restricted to users
    // the stream actually touches), so a correct result is impossible unless
    // the batch bootstrap landed in the state store before batch 0. RocksDB
    // state store (required by transformWithState).
    GQuery("s37_warm_start_state",
      withStreamConfs(RocksDbState) { (s, d) =>
        import s.implicits._
        val cents = (dec2(col("value")) * 100).cast("long")
        val hist = Tables.events(s, d)
          .filter(col("event_type") === "purchase" && col("event_id") % 2 === 0)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), sum(cents).as("cents"))
          .as[(Long, Long, Long)]
          .groupByKey(_._1).mapValues(r => (r._2, r._3))
        val streamed = eventStream(s, d)
          .filter(col("event_type") === "purchase" && col("event_id") % 2 === 1)
          .select(col("user_id"), cents.as("cents"))
          .as[(Long, Long)]
        val out = streamed.groupByKey(_._1)
          .transformWithState(new WarmStartSpendProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Update(), hist)
          .toDF("user_id", "n_purch", "cents")
        val mem = runToMemory(out, "update")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("n_purch").desc)
        mem.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id"), col("n_purch"), col("cents"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, count(*) AS n_purch,
  CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS cents
FROM events WHERE event_type = 'purchase'
  AND user_id IN (SELECT user_id FROM events
                  WHERE event_type = 'purchase' AND event_id % 2 = 1)
GROUP BY user_id ORDER BY user_id NULLS FIRST""")),

    // S36: event-time TIMERS on transformWithState — hand-built session
    // windows (SessionProcessor): gap-closed sessions emit inline, the
    // trailing open session emits when the watermark passes its end via a
    // registered timer (exactly session_window's append-mode eviction, so
    // the oracle is s33's with one extra clause: a user's non-final sessions
    // always emit, the final one only if end <= watermark). RocksDB state
    // store (required by the operator).
    GQuery("s36_timer_sessionize",
      withStreamConfs(RocksDbState) { (s, d) =>
        import s.implicits._
        val typed = eventStream(s, d)
          .withWatermark("ts", "1 hour")
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            (dec2(col("value")) * 100).cast("long").as("cents"))
          .as[(Long, Long, Long)]
        val out = typed.groupByKey(_._1)
          .transformWithState(new SessionProcessor,
            org.apache.spark.sql.streaming.TimeMode.EventTime(),
            org.apache.spark.sql.streaming.OutputMode.Append())
          .toDF("user_id", "ss_us", "se_us", "n", "cents")
        runToMemory(out, "append").orderBy(col("user_id"), col("ss_us"))
      },
      Some("""WITH wm AS (SELECT max(epoch_us(ts)) // 1000 - 3600000 AS wm_ms FROM events),
e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
l AS (SELECT user_id, us, value,
  CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
         OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
       THEN 1 ELSE 0 END AS nf FROM e),
g AS (SELECT user_id, us, value, SUM(nf) OVER (PARTITION BY user_id ORDER BY us
  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM l),
sess AS (SELECT user_id, sid, min(us) AS ss_us, max(us) + 1800000000 AS se_us,
    count(*) AS n,
    CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS cents
  FROM g GROUP BY user_id, sid),
mx AS (SELECT user_id, max(sid) AS msid FROM sess GROUP BY user_id)
SELECT s.user_id, s.ss_us, s.se_us, s.n, s.cents
FROM sess s JOIN mx ON s.user_id = mx.user_id, wm
WHERE s.sid < mx.msid OR s.se_us <= wm_ms * 1000
ORDER BY s.user_id NULLS FIRST, s.ss_us NULLS FIRST""")),

    // S30: streaming incremental dedup — the streaming half of X18: arriving
    // documents anti-join the STATIC historical hash index (stream-static
    // left anti keeps no state), then self-dedup within the stream by
    // content hash. The ingest-side shape of nightly dedup: history probes
    // are per-batch, stream state is bounded by distinct NEW content.
    GQuery("s30_stream_incremental_dedup",
      (s, d) => {
                val hist = Tables.table(s, d, "documents")
          .filter(col("doc_id") % 10 =!= 7).select(md5(col("text")).as("h"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        hist.count()
        val fresh = docStream(s, d)
          .filter(col("doc_id") % 10 === 7)
          .select(col("doc_id"), md5(col("text")).as("h"))
        // aggregate over the hash SET (deterministic) — which doc_id
        // represents a duplicated hash depends on arrival order
        runToMemory(
          fresh.join(hist, Seq("h"), "left_anti").dropDuplicates("h"),
          // NOTE (r18): stream-static join is stateless and the
          // unwatermarked dedup schedules no terminal no-data batch — the
          // s18-style opt-out measured as a no-op (1.14 vs 1.27 s, noise)
          "append")
          .agg(count(lit(1)).as("n_new"), min(col("h")).as("min_h"),
            max(col("h")).as("max_h"))
      },
      Some("""WITH fresh AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 = 7),
hist AS (SELECT md5(text) AS h FROM documents WHERE doc_id % 10 <> 7),
surv AS (SELECT DISTINCT h FROM fresh WHERE h NOT IN (SELECT h FROM hist))
SELECT count(*) AS n_new, min(h) AS min_h, max(h) AS max_h FROM surv""")),

    // S29: streaming sketch rollup — the streaming half of X11: per-type HLL
    // sketches build incrementally in a complete-mode agg (mergeable binary
    // state — shuffle volume is sketch bytes, not row count). HLL registers
    // are a MAX over hashed values, so the estimate is ORDER- and
    // BATCHING-invariant: PipelineSpec pins streaming == batch exactly.
    // G-class by design (approx estimates are outside the DuckDB oracle).
    GQuery("s29_stream_sketch",
      (s, d) => runToMemory(
        eventStream(s, d)
          .groupBy(col("event_type"))
          .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
            .as("est")),
        "complete").orderBy(col("event_type")),
      None),

    // S28: streaming as-of enrichment — the custom AsOfJoin merge operator
    // (graft.plans, q71's plan) running INSIDE a streaming pipeline: each
    // micro-batch of 'view' events as-of joins the static 'purchase' table
    // in foreachBatch and appends to parquet. Stream-static per batch, so
    // results are batching-invariant (the only deterministic as-of shape
    // Structured Streaming admits — state-based streaming as-of would make
    // results depend on trigger boundaries). Exercises the custom
    // LogicalPlan+Strategy+merge SparkPlan on the streaming path.
    GQuery("s28_stream_asof_enrich",
      (s, d) => {
        val quotes = Tables.events(s, d).filter(col("event_type") === "purchase")
          .select(col("user_id").as("q_user"), Tables.tsUs.as("q_us"),
            col("event_id").as("q_id"))
        val out = Files.createTempDirectory(tmpBase, "graft-asof-sink").toString
        val q = eventStream(s, d).filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id"), Tables.tsUs.as("v_us"))
          .writeStream.outputMode("append")
          .option("checkpointLocation",
            Files.createTempDirectory(tmpBase, "graft-ckpt").toString)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            graft.plans.AsOfJoin(batch, quotes,
                "user_id", "v_us", "q_user", "q_us", "q_id",
                toleranceUs = 30L * 86400000000L)
              .select(col("event_id"), col("q_id"), col("q_us"))
              .write.mode("append").parquet(out)
            ()
          }
          .start()
        q.awaitTermination()
        s.read.parquet(out).orderBy(col("event_id"))
      },
      Some("""WITH v AS (SELECT user_id, event_id, epoch_us(ts) AS v_us
  FROM events WHERE event_type = 'view'),
q AS (SELECT user_id AS q_user, event_id AS q_id, epoch_us(ts) AS q_us
  FROM events WHERE event_type = 'purchase'),
cand AS (SELECT event_id, q_id, q_us,
    row_number() OVER (PARTITION BY event_id ORDER BY q_us DESC, q_id DESC) AS rn
  FROM v JOIN q ON q_user = user_id
    AND q_us <= v_us AND q_us >= v_us - 2592000000000)
SELECT v.event_id, c.q_id, c.q_us
FROM v LEFT JOIN cand c ON v.event_id = c.event_id AND c.rn = 1
ORDER BY v.event_id NULLS FIRST""")),

    // S26: streaming quality routing — the streaming half of the X14
    // repetition/quality filter: documents arrive continuously, each is
    // scored with per-row expressions (no state), and a complete-mode agg
    // tracks the keep/drop token budget per language. At 100 TB the verdict
    // column routes to per-quality sinks via foreachBatch (s14's shape);
    // the scoring itself streams at scan speed.
    GQuery("s26_stream_quality_route",
      (s, d) => {
                val docs = docStream(s, d)
        val scored = docs
          .withColumn("w", split(col("text"), " "))
          .withColumn("keep", size(col("w")) >= 10 &&
            size(array_distinct(col("w"))).cast("double") / size(col("w")).cast("double") >= 0.4)
        runToMemory(
          scored.groupBy(col("lang"), col("keep"))
            .agg(count(lit(1)).as("n_docs"),
              sum(size(col("w")).cast("long")).as("n_tokens")),
          "complete").orderBy(col("lang"), col("keep"))
      },
      Some("""WITH sc AS (SELECT lang, len(string_split(text, ' ')) AS nw,
    len(string_split(text, ' ')) >= 10 AND
      CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        / len(string_split(text, ' ')) >= 0.4 AS keep
  FROM documents)
SELECT lang, keep, count(*) AS n_docs, CAST(sum(nw) AS BIGINT) AS n_tokens
FROM sc GROUP BY lang, keep
ORDER BY lang NULLS FIRST, keep NULLS FIRST""")),

    // S27: streaming decontamination — the streaming half of X13: documents
    // stream in, their 3-gram shingles probe a STATIC broadcast eval set
    // (stream-static joins never keep state; the eval side loads once per
    // micro-batch plan), and a complete-mode agg tracks per-doc hit counts.
    // State is bounded by CONTAMINATED docs only (the inner join drops clean
    // grams before the agg) — rare by construction at 100 TB.
    GQuery("s27_stream_decontaminate",
      (s, d) => {
                // persist the static side: a stream-static join re-executes the
        // static plan EVERY micro-batch — without this the eval shingle agg
        // replays per trigger (measured 9 s → ~3 s for the bounded run)
        val evalGrams = graft.GraftOps.shingles(
            Tables.table(s, d, "documents").filter(col("doc_id") % 20 === 0),
            col("doc_id"), col("text"), k = 3)
          .select(explode(col("sh")).as("g")).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        evalGrams.count()
        // the native one-pass shingle expression (codegen; ExpressionsSpec
        // pins it ≡ the split/transform/array_distinct chain) — the HOF
        // form re-evaluated split(text) inside the transform lambda, an
        // O(words²) per-row cost that dominated the batch at scale
        // (s27 sf1: 14.7 s → see SCALE.md round 9)
        val streamGrams = docStream(s, d)
          .filter(col("doc_id") % 20 =!= 0)
          .select(col("doc_id"),
            explode(graft.functions.GraftFunctions
              .word_shingles(col("text"), 3)).as("g"))
        runToMemory(
          streamGrams.join(broadcast(evalGrams), "g")
            .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits")),
          "complete").orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT doc_id,
  CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(range(1, len(w) - 1),
    i -> array_to_string(w[i:i+2], ' ')))
  ELSE [array_to_string(w, ' ')] END AS s
FROM toks),
ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 20 = 0),
tr AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 20 <> 0)
SELECT doc_id, count(*) AS n_hits FROM tr JOIN ev USING (g)
GROUP BY doc_id ORDER BY doc_id NULLS FIRST""")),

    // S38: CHAINED stateful operators in one streaming query — streaming
    // dedup feeding a windowed aggregation, both with event-time state, in
    // append mode (Spark's multiple-stateful-operator support; watermark is
    // propagated between the operators, so each evicts independently). The
    // duplicates are injected structurally: the same file stream unioned
    // with itself, so every row arrives exactly twice and the dedup must
    // remove exactly half. Downstream windows then match the s31 oracle:
    // a window emits iff it CLOSED under the final watermark. At 100 TB this
    // is the standard ingest topology — dedup-at-the-edge into windowed
    // rollups as ONE checkpointed query instead of two jobs with a table
    // in between.
    GQuery("s38_chained_stateful",
      (s, d) => runToMemory(
        eventStream(s, d).select(col("event_id"), col("ts"), col("value"))
          .unionAll(eventStream(s, d).select(col("event_id"), col("ts"), col("value")))
          .withWatermark("ts", "1 hour")
          .dropDuplicates("event_id", "ts")
          .groupBy(window(col("ts"), "10 minutes"))
          .agg(count(lit(1)).as("n"), dbl(sum(dec2(col("value")))).as("sv")),
        "append")
        .select(col("window.start").cast("long").as("ws_sec"), col("n"), col("sv"))
        .orderBy(col("ws_sec")),
      Some("""WITH wm AS (SELECT max(epoch_us(ts)) // 1000 - 3600000 AS wm_ms FROM events)
SELECT (epoch_us(ts) // 600000000) * 600 AS ws_sec, count(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv
FROM events, wm
GROUP BY ws_sec, wm_ms
HAVING (ws_sec + 600) * 1000 <= wm_ms
ORDER BY ws_sec NULLS FIRST""")),

    // S39: transformWithState with MAP state — per-user spend broken out by
    // event type. Each (user, type) lives as its own RocksDB state row
    // (see TypeSpendProcessor), the update-mode twin of a two-column groupBy:
    // the memory sink keeps every batch's emission, so the final value per
    // (user, type) is the max-count row, exactly like s15's running totals.
    // RocksDB state store (required by transformWithState).
    GQuery("s39_map_state_spend",
      withStreamConfs(RocksDbState) { (s, d) =>
        import s.implicits._
        val typed = eventStream(s, d)
          .select(col("user_id"), col("event_type"),
            (dec2(col("value")) * 100).cast("long").as("cents"))
          .as[(Long, String, Long)]
        val out = typed.groupByKey(_._1)
          .transformWithState(new TypeSpendProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Update())
          .toDF("user_id", "event_type", "n", "cents")
        val mem = runToMemory(out, "update")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("event_type")).orderBy(col("n").desc)
        mem.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id"), col("event_type"), col("n"), col("cents"))
          .orderBy(col("user_id"), col("event_type"))
      },
      Some("""SELECT user_id, event_type, count(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS cents
FROM events GROUP BY user_id, event_type
ORDER BY user_id NULLS FIRST, event_type NULLS FIRST""")),

    // S10: processing pacing + run-to-end — bounded micro-batches
    // (maxRowsPerTrigger ≡ batch_size, execution.rs:87) until EOF
    // (AvailableNow ≡ PartitionEOF stop, execution.rs:93-96); per-partition
    // totals prove every offset range was delivered exactly once.
    GQuery("s10_bounded_replay",
      (s, d) => runToMemory(
        replayStream(s, d, maxRowsPerTrigger = Some(adaptiveTrigger(s, d))),
        "append")
        .groupBy(col("partition").cast("long").as("partition"))
        .agg(count(lit(1)).as("n"), max(col("offset")).as("max_offset"),
          countDistinct(col("offset")).as("n_offsets"))
        .orderBy(col("partition")),
      Some("""SELECT event_id % 3 AS "partition", count(*) AS n,
  max(event_id // 3) AS max_offset, count(DISTINCT event_id // 3) AS n_offsets
FROM events GROUP BY 1 ORDER BY "partition" NULLS FIRST""")),
  )
}
