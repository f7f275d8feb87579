package graft.operators

import java.nio.file.Files

import graft.{GQuery, Tables}
import graft.sources.replay.ReplayLog
import graft.streaming._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, Trigger}
import org.apache.spark.sql.types._

/** Streaming analytics twins: true incremental as-of join (s40),
  * dynamic-gap sessions (s42), Bloom/CMS sketches (s43/s53), windowed
  * top-k (s41), drift detection (s44/s44b), funnel (s45), OHLC (s46),
  * order-invariant checksum (s47), quality scoring (s49), embedding QA
  * (s50), weighted sampling (s51/s51b), and MinHash signatures (s52).
  *
  * Part of the [[StreamingQueries]] registry (split from the former
  * monolithic file in round 12); execution helpers (runToMemory, the
  * 8-partition harness session, replay/event/doc streams) live on
  * [[StreamingQueries]] itself.
  */
private[operators] object StreamingAnalyticsQueries {
  import StreamingQueries._

  val queries: Seq[GQuery] = Seq(

    // S40: TRUE incremental stream-stream AS-OF join ([[StreamAsOfProcessor]])
    // — 'view' probes match the latest at-or-before 'purchase' on the SAME
    // stream key, with both sides arriving as streams and per-key state doing
    // the buffering/eviction. Emission gates on the event-time watermark
    // (never on trigger boundaries), so the result is batching-invariant and
    // the oracle is exact: views newer than the final watermark stay pending
    // (the same cutoff rule as s36, modeled by the `wm` CTE). Quote state
    // evicts to one-latest-behind-watermark + newer — the provable floor for
    // as-of semantics — so state is bounded by the watermark delay, not the
    // stream length. RocksDB state store (required by transformWithState).
    GQuery("s40_stream_asof_join",
      withStreamConfs(RocksDbState) { (s, d) =>
        import s.implicits._
        val typed = eventStream(s, d)
          .filter(col("event_type").isin("view", "purchase"))
          .withWatermark("ts", "1 hour")
          .select(col("user_id"), col("event_type"),
            Tables.tsUs.as("us"), col("event_id"))
          .as[(Long, String, Long, Long)]
        val out = typed.groupByKey(_._1)
          .transformWithState(new StreamAsOfProcessor,
            org.apache.spark.sql.streaming.TimeMode.EventTime(),
            org.apache.spark.sql.streaming.OutputMode.Append())
          .toDF("user_id", "view_id", "q_id")
        runToMemory(out, "append")
          .select(col("user_id"), col("view_id"), col("q_id"))
          .orderBy(col("view_id"))
      },
      Some("""WITH wm AS (SELECT max(epoch_us(ts)) // 1000 - 3600000 AS wm_ms FROM events),
v AS (SELECT user_id, event_id AS view_id, epoch_us(ts) AS v_us
  FROM events WHERE event_type = 'view'),
q AS (SELECT user_id, event_id AS q_id, epoch_us(ts) AS q_us
  FROM events WHERE event_type = 'purchase'),
ripe AS (SELECT v.* FROM v, wm WHERE v_us // 1000 <= wm_ms),
cand AS (SELECT ripe.view_id, q.q_id,
    row_number() OVER (PARTITION BY ripe.view_id
      ORDER BY q.q_us DESC, q.q_id DESC) AS rn
  FROM ripe JOIN q ON q.user_id = ripe.user_id AND q.q_us <= ripe.v_us)
SELECT r.user_id, r.view_id, c.q_id
FROM ripe r LEFT JOIN cand c ON r.view_id = c.view_id AND c.rn = 1
ORDER BY r.view_id NULLS FIRST""")),

    // S42: DYNAMIC-GAP session windows — the gap is a per-row expression
    // (views cool off in 15 min, other events hold a session 45 min), so
    // sessions are interval UNIONS of [ts, ts+gap(row)) rather than a fixed
    // timeout chain. Spark's session_window accepts the gap as a Column;
    // the oracle replays the same union with a running MAX(us+gap) over
    // preceding rows (a fixed-gap lag() check cannot express this). The
    // production use: engagement-dependent session semantics without a
    // custom processor.
    GQuery("s42_dynamic_gap_session",
      (s, d) => runToMemory(
        eventStream(s, d)
          .groupBy(session_window(col("ts"),
            when(col("event_type") === "view", "15 minutes")
              .otherwise("45 minutes")), col("user_id"))
          .agg(count(lit(1)).as("n"), dbl(sum(dec2(col("value")))).as("sv")),
        "complete")
        .select(col("user_id"), col("session_window.start").cast("long").as("ss"),
          col("session_window.end").cast("long").as("se"), col("n"), col("sv"))
        .orderBy(col("user_id"), col("ss")),
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value,
    CASE WHEN event_type = 'view' THEN 900000000 ELSE 2700000000 END AS gap
  FROM events),
m AS (SELECT user_id, event_id, us, value, gap,
    MAX(us + gap) OVER (PARTITION BY user_id ORDER BY us, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pend
  FROM e),
l AS (SELECT user_id, event_id, us, value, gap, pend,
    CASE WHEN pend IS NULL OR us > pend THEN 1 ELSE 0 END AS nf FROM m),
g AS (SELECT user_id, us, value, gap,
    SUM(nf) OVER (PARTITION BY user_id ORDER BY us, event_id
      ROWS UNBOUNDED PRECEDING) AS sid
  FROM l)
SELECT user_id, min(us) // 1000000 AS ss, max(us + gap) // 1000000 AS se,
  count(*) AS n, CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv
FROM g GROUP BY user_id, sid
ORDER BY user_id NULLS FIRST, ss NULLS FIRST""")),

    // S43: STREAMING Bloom build — the eval-set filter of x29 maintained as a
    // continuously-updated complete-mode aggregate: benchmark docs arrive as
    // a stream, their shingles fold into the mergeable BloomAgg binary, and
    // every trigger emits the current filter (md5-fingerprinted here; the
    // production sink publishes the bytes for the corpus-side probe jobs).
    // Bit-OR merge makes the result independent of batching/partitioning —
    // BloomSpec pins the streamed binary EQUAL to the batch build. The
    // nightly-decontamination shape: the filter stays current as benchmarks
    // grow, with no rebuild-the-world step.
    GQuery("s43_stream_bloom",
      (s, d) => {
                val docs = docStream(s, d)
        val bf = docs.filter(col("doc_id") % 20 === 0)
          .select(explode(graft.functions.GraftFunctions
            .word_shingles(col("text"), 3)).as("g"))
          .agg(graft.functions.GraftFunctions
            .bloom_agg(col("g"), 20000L, 0.01).as("bf"),
            count(lit(1)).as("n_shingles"))
        runToMemory(bf, "complete")
          .select(md5(col("bf")).as("bloom_md5"), col("n_shingles"))
      },
      None),

    // S41: streaming windowed TOP-K through the custom TypedImperativeAggregate
    // (q63's TopKAgg) — proves the O(k)-state binary-accumulator UDAF runs
    // unchanged on the streaming path (partial aggregation + state-store
    // merge per window). Complete mode; the top-3 cents arrays leave as
    // comma-joined strings (arrays never reach a hashed output raw). At
    // 100 TB the per-window state is k longs however many events land in the
    // window — the whole point of the bounded accumulator.
    GQuery("s41_stream_window_topk",
      (s, d) => runToMemory(
        eventStream(s, d)
          .groupBy(window(col("ts"), "10 minutes"))
          .agg(graft.functions.GraftFunctions.topk_vals(
            (dec2(col("value")) * 100).cast("long"), 3).as("top3"),
            count(lit(1)).as("n")),
        "complete")
        .select(col("window.start").cast("long").as("ws_sec"), col("n"),
          // TopKAgg accumulates doubles; the cents are integral, so the
          // element cast back to BIGINT is exact
          concat_ws(",", expr("transform(top3, v -> CAST(v AS BIGINT))"))
            .as("top3_cents"))
        .orderBy(col("ws_sec")),
      Some("""SELECT (epoch_us(ts) // 600000000) * 600 AS ws_sec, count(*) AS n,
  array_to_string((list(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
    ORDER BY CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) DESC))[1:3],
    ',') AS top3_cents
FROM events GROUP BY 1 ORDER BY ws_sec NULLS FIRST""")),

    // S44: streaming distribution-drift monitor — x35's PSI gate on the live
    // path. The stream maintains day-windowed event_type counts (complete
    // mode; bounded state: |days|×|types| rows); the PSI against the corpus
    // baseline mix is the dashboard projection over the sink — Structured
    // Streaming forbids chained aggregations, and the reduction over a
    // ~|days|×|types| table is exactly what belongs batch-side. Absent
    // (day, type) cells are restored by a generated spine with Laplace
    // smoothing ((c+0.5)/(n+T/2)) so a type that vanishes intra-day still
    // drives PSI up instead of silently dropping out; ln sums rounded
    // decimal(18,6) (the x27/x35 convention). At 100 TB: the windowed-count
    // state is tiny however large the input, and the baseline join is a
    // broadcast of |types| rows.
    GQuery("s44_stream_drift",
      (s, d) => {
        val winCounts = runToMemory(
          eventStream(s, d)
            .groupBy(window(col("ts"), "1 day"), col("event_type"))
            .agg(count(lit(1)).as("c")),
          "complete")
          .select(to_date(col("window.start")).as("day"),
            col("event_type"), col("c"))
        val base = Tables.events(s, d).groupBy(col("event_type"))
          .agg(count(lit(1)).as("cb"))
        val nAll = base.agg(sum(col("cb")).as("nb"),
          count(lit(1)).cast("double").as("nt"))
        val baseP = base.crossJoin(broadcast(nAll))
          .select(col("event_type"),
            (col("cb").cast("double") / col("nb")).as("pb"), col("nt"))
        val spine = winCounts.select(col("day")).distinct()
          .crossJoin(broadcast(baseP))
        val filled = spine.join(winCounts, Seq("day", "event_type"), "left")
          .select(col("day"), col("event_type"), col("pb"), col("nt"),
            coalesce(col("c"), lit(0L)).as("c"))
        val withP = filled
          .withColumn("n", sum(col("c")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("day"))))
          .withColumn("p", (col("c") + lit(0.5d)) /
            (col("n") + lit(0.5d) * col("nt")))
        withP.groupBy(col("day"))
          .agg(sum(col("c")).as("n_events"),
            sum((col("p") - col("pb")) * log(col("p") / col("pb")))
              .cast("decimal(18,6)").cast("double").as("psi"))
          .withColumn("band",
            when(col("psi") < 0.1, "stable")
              .when(col("psi") < 0.25, "moderate").otherwise("drifted"))
          .orderBy(col("day"))
      },
      Some("""WITH wc AS (SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS c
  FROM events GROUP BY 1, 2),
base AS (SELECT event_type, count(*) AS cb FROM events GROUP BY 1),
n0 AS (SELECT CAST(sum(cb) AS DOUBLE) AS nb,
    CAST(count(*) AS DOUBLE) AS nt FROM base),
bp AS (SELECT event_type, CAST(cb AS DOUBLE) / nb AS pb, nt FROM base, n0),
spine AS (SELECT d.day, b.event_type, b.pb, b.nt
  FROM (SELECT DISTINCT day FROM wc) d, bp b),
filled AS (SELECT s.day, s.event_type, s.pb, s.nt, coalesce(w.c, 0) AS c
  FROM spine s LEFT JOIN wc w USING (day, event_type)),
wp AS (SELECT day, pb, c,
    (c + 0.5) / (sum(c) OVER (PARTITION BY day) + 0.5 * nt) AS p
  FROM filled),
agg AS (SELECT day, CAST(sum(c) AS BIGINT) AS n_events,
    CAST(CAST(sum((p - pb) * ln(p / pb)) AS DECIMAL(18,6)) AS DOUBLE) AS psi
  FROM wp GROUP BY 1)
SELECT day, n_events, psi,
  CASE WHEN psi < 0.1 THEN 'stable'
       WHEN psi < 0.25 THEN 'moderate' ELSE 'drifted' END AS band
FROM agg ORDER BY day NULLS FIRST""")),

    // S44b: the append+watermark eviction twin of s44 (the s31–s33/s51b
    // pattern applied to the drift monitor): day-windowed type counts emit
    // once when the day CLOSES (end ≤ watermark) and their state evicts, so
    // a monitor that runs for years holds only the open day's |types| rows
    // instead of every day ever seen. The PSI projection runs over the
    // emitted (closed) days only — the trailing partial day is not scored,
    // which is also the statistically honest choice (its mix is a partial
    // sample). Oracle = s44's SQL restricted by the window-closure rule.
    GQuery("s44b_stream_drift_append",
      (s, d) => {
        val winCounts = runToMemory(
          eventStream(s, d)
            .withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 day"), col("event_type"))
            .agg(count(lit(1)).as("c")),
          "append")
          .select(to_date(col("window.start")).as("day"),
            col("event_type"), col("c"))
        val base = Tables.events(s, d).groupBy(col("event_type"))
          .agg(count(lit(1)).as("cb"))
        val nAll = base.agg(sum(col("cb")).as("nb"),
          count(lit(1)).cast("double").as("nt"))
        val baseP = base.crossJoin(broadcast(nAll))
          .select(col("event_type"),
            (col("cb").cast("double") / col("nb")).as("pb"), col("nt"))
        val spine = winCounts.select(col("day")).distinct()
          .crossJoin(broadcast(baseP))
        val filled = spine.join(winCounts, Seq("day", "event_type"), "left")
          .select(col("day"), col("event_type"), col("pb"), col("nt"),
            coalesce(col("c"), lit(0L)).as("c"))
        val withP = filled
          .withColumn("n", sum(col("c")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("day"))))
          .withColumn("p", (col("c") + lit(0.5d)) /
            (col("n") + lit(0.5d) * col("nt")))
        withP.groupBy(col("day"))
          .agg(sum(col("c")).as("n_events"),
            sum((col("p") - col("pb")) * log(col("p") / col("pb")))
              .cast("decimal(18,6)").cast("double").as("psi"))
          .withColumn("band",
            when(col("psi") < 0.1, "stable")
              .when(col("psi") < 0.25, "moderate").otherwise("drifted"))
          .orderBy(col("day"))
      },
      Some("""WITH wm AS (SELECT max(epoch_us(ts)) // 1000 - 3600000 AS wm_ms FROM events),
wc AS (SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS c
  FROM events, wm
  GROUP BY 1, 2, wm_ms
  HAVING (epoch(CAST(day AS TIMESTAMP)) + 86400) * 1000 <= wm_ms),
base AS (SELECT event_type, count(*) AS cb FROM events GROUP BY 1),
n0 AS (SELECT CAST(sum(cb) AS DOUBLE) AS nb,
    CAST(count(*) AS DOUBLE) AS nt FROM base),
bp AS (SELECT event_type, CAST(cb AS DOUBLE) / nb AS pb, nt FROM base, n0),
spine AS (SELECT d.day, b.event_type, b.pb, b.nt
  FROM (SELECT DISTINCT day FROM wc) d, bp b),
filled AS (SELECT s.day, s.event_type, s.pb, s.nt, coalesce(w.c, 0) AS c
  FROM spine s LEFT JOIN wc w USING (day, event_type)),
wp AS (SELECT day, pb, c,
    (c + 0.5) / (sum(c) OVER (PARTITION BY day) + 0.5 * nt) AS p
  FROM filled),
agg AS (SELECT day, CAST(sum(c) AS BIGINT) AS n_events,
    CAST(CAST(sum((p - pb) * ln(p / pb)) AS DECIMAL(18,6)) AS DOUBLE) AS psi
  FROM wp GROUP BY 1)
SELECT day, n_events, psi,
  CASE WHEN psi < 0.1 THEN 'stable'
       WHEN psi < 0.25 THEN 'moderate' ELSE 'drifted' END AS band
FROM agg ORDER BY day NULLS FIRST""")),

    // S45: streaming funnel — live conversion tracking as ONE streaming
    // aggregation: per user, the earliest view/click/purchase event times
    // (conditional mins, state = 3 longs per user however long the stream
    // runs), with the stage classification and cohort rollup as the batch
    // projection over the sink. Ordered-MIN semantics (stage counts only if
    // the mins occur in funnel order) — the deliberate streaming relaxation
    // of q101's strict sequential-min walk: q101 anchors each stage on the
    // previous stage's chosen event; here stages anchor on global mins,
    // which one bounded state row per user can maintain incrementally.
    GQuery("s45_stream_funnel",
      (s, d) => {
        val perUser = runToMemory(
          eventStream(s, d)
            .withColumn("ts_us", expr("unix_micros(ts)"))
            .groupBy(col("user_id"))
            .agg(min(when(col("event_type") === "view", col("ts_us"))).as("tv"),
              min(when(col("event_type") === "click", col("ts_us"))).as("tc"),
              min(when(col("event_type") === "purchase", col("ts_us"))).as("tp")),
          "complete")
        perUser.filter(col("tv").isNotNull)
          .select(col("user_id"),
            when(col("tc") > col("tv") && col("tp") > col("tc"), 3L)
              .when(col("tc") > col("tv"), 2L).otherwise(1L).as("stage"),
            when(col("tc") > col("tv") && col("tp") > col("tc"),
              col("tp") - col("tv")).as("conv_us"))
          .groupBy(col("stage"))
          .agg(count(lit(1)).as("n_users"),
            sum(col("conv_us")).as("total_conv_us"))
          .orderBy(col("stage"))
      },
      Some("""WITH pu AS (SELECT user_id,
    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS tv,
    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS tc,
    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp
  FROM events GROUP BY 1),
staged AS (SELECT user_id,
    CASE WHEN tc > tv AND tp > tc THEN 3
         WHEN tc > tv THEN 2 ELSE 1 END AS stage,
    CASE WHEN tc > tv AND tp > tc THEN tp - tv END AS conv_us
  FROM pu WHERE tv IS NOT NULL)
SELECT CAST(stage AS BIGINT) AS stage, count(*) AS n_users,
  CAST(sum(conv_us) AS BIGINT) AS total_conv_us
FROM staged GROUP BY 1 ORDER BY stage NULLS FIRST""")),

    // S46: streaming OHLC bars — q105's candlesticks maintained LIVE. The
    // batch form selects endpoints with row_number windows; a stream can't
    // sort, so open/close become min/max over an ORDERABLE STRUCT
    // (ts_us, event_id, v2): lexicographic struct comparison makes "row with
    // the earliest/latest timestamp" an associative, mergeable aggregate —
    // constant state per window (two structs + two decimals + a count), any
    // batching order. The same trick is the scale path for batch too when
    // the day partitioning isn't the table layout.
    GQuery("s46_stream_ohlc",
      (s, d) => {
        val bars = runToMemory(
          eventStream(s, d)
            .withColumn("ts_us", expr("unix_micros(ts)"))
            .withColumn("v2", dec2(col("value")))
            .groupBy(window(col("ts"), "1 day"))
            .agg(min(struct(col("ts_us"), col("event_id"), col("v2"))).as("o"),
              max(struct(col("ts_us"), col("event_id"), col("v2"))).as("c"),
              max(col("v2")).as("hi"), min(col("v2")).as("lo"),
              count(lit(1)).as("n")),
          "complete")
        bars.select(to_date(col("window.start")).as("day"),
            dbl(col("o.v2")).as("open"), dbl(col("hi")).as("high"),
            dbl(col("lo")).as("low"), dbl(col("c.v2")).as("close"), col("n"))
          .orderBy(col("day"))
      },
      Some("""WITH e AS (SELECT CAST(ts AS DATE) AS day, event_id,
    epoch_us(ts) AS ts_us, CAST(value AS DECIMAL(12,2)) AS v2 FROM events),
r AS (SELECT day, v2,
    row_number() OVER (PARTITION BY day ORDER BY ts_us, event_id) AS rn_o,
    row_number() OVER (PARTITION BY day ORDER BY ts_us DESC, event_id DESC)
      AS rn_c
  FROM e)
SELECT day, CAST(max(CASE WHEN rn_o = 1 THEN v2 END) AS DOUBLE) AS open,
  CAST(max(v2) AS DOUBLE) AS high, CAST(min(v2) AS DOUBLE) AS low,
  CAST(max(CASE WHEN rn_c = 1 THEN v2 END) AS DOUBLE) AS close,
  count(*) AS n
FROM r GROUP BY 1 ORDER BY day NULLS FIRST""")),

    // S47: LIVE table checksum — q106's order-invariant md5-XOR fold
    // maintained as a streaming complete-mode aggregate: every trigger emits
    // the current (count, checksum) of everything ingested so far, 16 bytes
    // of state regardless of volume. XOR's associativity+commutativity is
    // what makes the same number come out of any batching, any partitioning,
    // and the batch replay — so a replica ingesting the same frames can be
    // compared MID-STREAM, not just at rest. Oracle = the batch fold over
    // the full table (availableNow runs the stream to the same endpoint).
    GQuery("s47_stream_checksum",
      (s, d) => runToMemory(
        eventStream(s, d)
          .select(expr(
            """CAST(conv(substr(md5(concat_ws('|', event_id,
              |  unix_micros(ts), user_id, event_type,
              |  CAST(CAST(value AS DECIMAL(12,2)) AS STRING))), 1, 15),
              |  16, 10) AS BIGINT)""".stripMargin).as("h"))
          .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("checksum")),
        "complete"),
      Some("""SELECT count(*) AS n_rows,
  bit_xor(CAST(concat('0x', substr(md5(concat_ws('|', event_id,
    epoch_us(ts), user_id, event_type,
    CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR))), 1, 15)) AS BIGINT))
    AS checksum
FROM events""")),

    // S49: streaming quality-ensemble scoring — x47's weak-signal scorer on
    // the LIVE document path: per-row arithmetic only (no state), APPEND
    // mode through the distributed parquet file sink, so a 100 TB/day
    // ingest scores at scan speed and never funnels through the driver
    // (s26 routes on two signals and aggregates; this emits the per-doc
    // scored stream itself — the row-level feed a downstream sampler
    // consumes). Same rational z/(1+|z|) squash as x47: correctly-rounded
    // IEEE ops only, so the streamed scores are bit-identical to the batch
    // oracle's.
    GQuery("s49_stream_quality_score",
      (s, d) => {
        val ws = split(col("text"), " ")
        val nwS = greatest(size(ws), lit(1))
        val stops = array(Seq("the", "a", "of", "and", "to", "in", "is", "for")
          .map(lit): _*)
        val punct = length(col("text")) -
          length(regexp_replace(col("text"), "[.,!?;:]", ""))
        val z = lit(-1.0) +
          lit(2.4) * (size(array_distinct(ws)) / nwS) +
          lit(1.2) * (least(size(ws), lit(400)) / lit(400.0)) -
          lit(3.0) * (punct / greatest(length(col("text")), lit(1))) -
          lit(0.8) * abs((length(col("text")) - (size(ws) - lit(1))) / nwS -
            lit(5.0)) / lit(5.0) +
          lit(1.5) * (size(filter(ws, w => array_contains(stops, w))) / nwS)
        val score = (lit(0.5) + lit(0.5) * (z / (lit(1.0) + abs(z))))
          .cast("decimal(18,6)").cast("double")
        runToMemory(
          docStream(s, d).select(col("doc_id"), score.as("score"),
            when(score < 0.35, "drop").when(score < 0.6, "review")
              .otherwise("keep").as("verdict")),
          "append").orderBy(col("doc_id"))
      },
      Some("""WITH f AS (SELECT doc_id, text,
    string_split(text, ' ') AS ws,
    greatest(len(string_split(text, ' ')), 1) AS nws,
    length(text) AS lt FROM documents),
z AS (SELECT doc_id,
    -1.0 + 2.4 * (len(list_distinct(ws)) / nws)
         + 1.2 * (least(len(ws), 400) / 400.0)
         - 3.0 * ((lt - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) / greatest(lt, 1))
         - 0.8 * abs(((lt - (len(ws) - 1)) / nws) - 5.0) / 5.0
         + 1.5 * (len(list_filter(ws, w -> list_contains(['the','a','of','and','to','in','is','for'], w))) / nws)
      AS z
  FROM f),
sc AS (SELECT doc_id,
    CAST(CAST(0.5 + 0.5 * (z / (1.0 + abs(z))) AS DECIMAL(18,6)) AS DOUBLE) AS score
  FROM z)
SELECT doc_id, score,
  CASE WHEN score < 0.35 THEN 'drop' WHEN score < 0.6 THEN 'review'
    ELSE 'keep' END AS verdict
FROM sc ORDER BY doc_id NULLS FIRST""")),

    // S50: streaming embedding QA — the embeddings table's first streaming
    // lane: vectors arrive continuously (an embedding service's output
    // topic), and each row is gated BEFORE it reaches the ANN index — L2
    // norm + component peak (x49's per-row signals; the cohort z-score
    // stays a batch job because it needs full-label statistics), zero/NaN
    // guarded. Per-row arithmetic, APPEND mode through the distributed
    // parquet file sink — scores at scan speed, nothing funnels through
    // the driver. The sequential array fold (Spark `aggregate` ≡ DuckDB
    // `list_reduce`) keeps the sums bit-identical cross-engine.
    GQuery("s50_stream_embedding_qa",
      (s, d) => {
        val sq = aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double"))
        val peak = array_max(transform(col("embedding"),
          x => abs(x.cast("double"))))
        val vecStream = s.readStream
          .schema(Tables.table(s, d, "embeddings").schema)
          .option("pathGlobFilter", "embeddings.parquet").parquet(d)
        runToMemory(
          vecStream.select(col("vec_id"), col("label"),
            sqrt(sq).cast("decimal(18,6)").cast("double").as("norm"),
            peak.cast("decimal(18,6)").cast("double").as("peak"),
            (size(col("embedding")) === 0 ||
              sqrt(sq).cast("decimal(18,6)") === 0).as("degenerate")),
          "append").orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id, label,
  CAST(CAST(sqrt(list_reduce(
      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
      (a, b) -> a + b)) AS DECIMAL(18,6)) AS DOUBLE) AS norm,
  CAST(CAST(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
    AS DECIMAL(18,6)) AS DOUBLE) AS peak,
  (len(embedding) = 0 OR CAST(sqrt(list_reduce(
      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
      (a, b) -> a + b)) AS DECIMAL(18,6)) = 0) AS degenerate
FROM embeddings ORDER BY vec_id NULLS FIRST""")),

    // S51: streaming weighted reservoir sample — x55's A-ES priority made
    // stateless-per-row (ln(u)/w from a deterministic md5 uniform and a
    // value-magnitude weight), then reduced per 10-minute window by the
    // bounded TopKAgg. This IS the classic weighted reservoir algorithm:
    // because the priority needs no cross-row state, a weighted sample of an
    // unbounded stream is just a running top-K of priorities — state is K
    // packed doubles per window however many events flow through. The pack
    // (priority micro-units + 25e6) * 2^27 + (2^27-1-event_id) keeps
    // (priority DESC, event_id ASC) order in ONE exactly-representable
    // double (< 2^53; min priority = ln(1/16777217)/ln 2 ≈ -24.0006, so the
    // 25e6 offset keeps the pack strictly positive even at u24=0 — 24e6 went
    // negative there and corrupted the modulo decode; ids < 2^27 here — a
    // production variant would use a struct-payload top-k agg) so the
    // sampled ids ride through the existing double-typed aggregate and
    // decode on the way out. Complete mode like s41; one shuffle by window.
    GQuery("s51_stream_weighted_sample",
      (s, d) => {
        val u24 = expr(
          "CAST(conv(substr(md5(concat('aes51:', event_id)), 1, 6), 16, 10) AS BIGINT)")
        val w = log(lit(2.0) + abs(dec2(col("value")).cast("double")))
          .cast("decimal(18,6)").cast("double")
        val prio = (log((u24 + lit(1.0)) / lit(16777217.0)) / w)
          .cast("decimal(18,6)")
        val p6 = (prio * lit(1000000)).cast("long")
        // fail loudly the day ids outgrow the pack budget instead of
        // silently decoding garbage (the ExactSum/canary convention)
        val eid = when(col("event_id") < lit(1L << 27), col("event_id"))
          .otherwise(expr(
            "CAST(raise_error('s51: event_id exceeds the 2^27 pack budget') AS BIGINT)"))
        val pack = ((p6 + lit(25000000L)) * lit(1L << 27)
          + (lit((1L << 27) - 1) - eid)).cast("double")
        runToMemory(
          eventStream(s, d)
            .select(col("ts"), pack.as("pk"))
            .groupBy(window(col("ts"), "10 minutes"))
            .agg(graft.functions.GraftFunctions.topk_vals(col("pk"), 3)
              .as("top3"), count(lit(1)).as("n")),
          "complete")
          .select(col("window.start").cast("long").as("ws_sec"), col("n"),
            concat_ws(",", expr(
              s"transform(top3, v -> CAST(${(1L << 27) - 1} - " +
              s"(CAST(v AS BIGINT) % ${1L << 27}) AS BIGINT))"))
              .as("sample_ids"))
          .orderBy(col("ws_sec"))
      },
      Some("""WITH c AS (SELECT event_id, ts,
  CAST(ln((CAST(concat('0x', substr(md5('aes51:' || event_id), 1, 6)) AS BIGINT)
        + 1.0) / 16777217.0)
    / CAST(CAST(ln(2.0 + abs(CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE)))
        AS DECIMAL(18,6)) AS DOUBLE) AS DECIMAL(18,6)) AS prio
  FROM events)
SELECT (epoch_us(ts) // 600000000) * 600 AS ws_sec, count(*) AS n,
  array_to_string((list(event_id
      ORDER BY CAST(prio * 1000000 AS BIGINT) DESC, event_id))[1:3], ',')
    AS sample_ids
FROM c GROUP BY 1 ORDER BY ws_sec NULLS FIRST""")),

    // S51b: the append+watermark twin of s51 (the s31–s33 pattern) — the
    // production deployment: complete mode re-emits every window each
    // trigger and holds ALL windows in state forever (unbounded over
    // wall-time); with a 1-hour watermark each window's K-double top-K
    // state is EVICTED when the window closes, and the sample emits
    // exactly once. State is K packed doubles × |open windows| — bounded
    // regardless of how long the stream runs. Emission set is the s31
    // HAVING rule: window end ≤ final watermark.
    GQuery("s51b_weighted_sample_append",
      (s, d) => {
        val u24 = expr(
          "CAST(conv(substr(md5(concat('aes51:', event_id)), 1, 6), 16, 10) AS BIGINT)")
        val w = log(lit(2.0) + abs(dec2(col("value")).cast("double")))
          .cast("decimal(18,6)").cast("double")
        val prio = (log((u24 + lit(1.0)) / lit(16777217.0)) / w)
          .cast("decimal(18,6)")
        val p6 = (prio * lit(1000000)).cast("long")
        val eid = when(col("event_id") < lit(1L << 27), col("event_id"))
          .otherwise(expr(
            "CAST(raise_error('s51b: event_id exceeds the 2^27 pack budget') AS BIGINT)"))
        val pack = ((p6 + lit(25000000L)) * lit(1L << 27)
          + (lit((1L << 27) - 1) - eid)).cast("double")
        runToMemory(
          eventStream(s, d)
            .withWatermark("ts", "1 hour")
            .select(col("ts"), pack.as("pk"))
            .groupBy(window(col("ts"), "10 minutes"))
            .agg(graft.functions.GraftFunctions.topk_vals(col("pk"), 3)
              .as("top3"), count(lit(1)).as("n")),
          "append")
          .select(col("window.start").cast("long").as("ws_sec"), col("n"),
            concat_ws(",", expr(
              s"transform(top3, v -> CAST(${(1L << 27) - 1} - " +
              s"(CAST(v AS BIGINT) % ${1L << 27}) AS BIGINT))"))
              .as("sample_ids"))
          .orderBy(col("ws_sec"))
      },
      Some("""WITH wm AS (SELECT max(epoch_us(ts)) // 1000 - 3600000 AS wm_ms FROM events),
c AS (SELECT event_id, ts,
  CAST(ln((CAST(concat('0x', substr(md5('aes51:' || event_id), 1, 6)) AS BIGINT)
        + 1.0) / 16777217.0)
    / CAST(CAST(ln(2.0 + abs(CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE)))
        AS DECIMAL(18,6)) AS DOUBLE) AS DECIMAL(18,6)) AS prio
  FROM events)
SELECT (epoch_us(ts) // 600000000) * 600 AS ws_sec, count(*) AS n,
  array_to_string((list(event_id
      ORDER BY CAST(prio * 1000000 AS BIGINT) DESC, event_id))[1:3], ',')
    AS sample_ids
FROM c, wm GROUP BY ws_sec, wm_ms
HAVING (ws_sec + 600) * 1000 <= wm_ms
ORDER BY ws_sec NULLS FIRST""")),

    // S53: streaming count-min frequency sketch — per-window user activity
    // estimation at BOUNDED state for an unbounded key space (the live
    // cousin of x25's batch CMS, completing the sketch-state trio with
    // s52's MinHash and x11's HLL). Per event, two portable hash rows map
    // user_id into 256 buckets each; the stream maintains per-window
    // (row, bucket) counts — state ≤ |open windows| × 512 rows no matter
    // how many distinct users flow through (per-user state like s45's is
    // unbounded over the KEY space; the sketch trades point-exactness for
    // a hard state budget). Append+watermark: closed windows emit once
    // and evict (the s31/s51b rule). The dashboard projection probes a
    // fixed user set against the emitted sketches — est = min over the
    // two rows, the standard CMS upper-bound estimate, an over-count only
    // on double collisions. Portable md5 bucket hashing makes DuckDB
    // replay the sketch bit-exactly: O-class.
    GQuery("s53_stream_cms_topusers",
      (s, d) => {
        def bkt(r: Int, c: org.apache.spark.sql.Column) = expr(
          s"CAST(conv(substr(md5(concat('cms$r:', CAST(${c.toString} AS STRING))), 1, 4), 16, 10) AS BIGINT) % 256")
        val counts = runToMemory(
          eventStream(s, d)
            .withWatermark("ts", "1 hour")
            .select(col("ts"), explode(array(
              struct(lit(0).as("r"), bkt(0, col("user_id")).as("bucket")),
              struct(lit(1).as("r"), bkt(1, col("user_id")).as("bucket"))))
              .as("rb"))
            .select(col("ts"), col("rb.r").as("r"), col("rb.bucket").as("bucket"))
            .groupBy(window(col("ts"), "10 minutes"), col("r"), col("bucket"))
            .agg(count(lit(1)).as("c")),
          "append")
          .select(col("window.start").cast("long").as("ws_sec"),
            col("r"), col("bucket"), col("c"))
        val wins = counts.select(col("ws_sec")).distinct()
        val probes = s.range(0, 20).toDF("user_id")
          .select(col("user_id"),
            bkt(0, col("user_id")).as("b0"), bkt(1, col("user_id")).as("b1"))
        wins.crossJoin(broadcast(probes))
          .join(counts.filter(col("r") === 0)
            .select(col("ws_sec"), col("bucket").as("b0"), col("c").as("c0")),
            Seq("ws_sec", "b0"), "left")
          .join(counts.filter(col("r") === 1)
            .select(col("ws_sec"), col("bucket").as("b1"), col("c").as("c1")),
            Seq("ws_sec", "b1"), "left")
          .select(col("ws_sec"), col("user_id"),
            least(coalesce(col("c0"), lit(0L)), coalesce(col("c1"), lit(0L)))
              .as("est"))
          .orderBy(col("ws_sec"), col("user_id"))
      },
      Some("""WITH wm AS (SELECT max(epoch_us(ts)) // 1000 - 3600000 AS wm_ms FROM events),
b AS (SELECT (epoch_us(ts) // 600000000) * 600 AS ws_sec, user_id FROM events),
closed AS (SELECT ws_sec, user_id FROM b, wm WHERE (ws_sec + 600) * 1000 <= wm_ms),
e0 AS (SELECT ws_sec,
    CAST(concat('0x', substr(md5('cms0:' || CAST(user_id AS VARCHAR)), 1, 4)) AS BIGINT) % 256 AS bkt,
    count(*) AS c
  FROM closed GROUP BY 1, 2),
e1 AS (SELECT ws_sec,
    CAST(concat('0x', substr(md5('cms1:' || CAST(user_id AS VARCHAR)), 1, 4)) AS BIGINT) % 256 AS bkt,
    count(*) AS c
  FROM closed GROUP BY 1, 2),
probes AS (SELECT u AS user_id,
    CAST(concat('0x', substr(md5('cms0:' || CAST(u AS VARCHAR)), 1, 4)) AS BIGINT) % 256 AS b0,
    CAST(concat('0x', substr(md5('cms1:' || CAST(u AS VARCHAR)), 1, 4)) AS BIGINT) % 256 AS b1
  FROM (SELECT unnest(range(0, 20)) AS u)),
wins AS (SELECT DISTINCT ws_sec FROM closed)
SELECT w.ws_sec, p.user_id,
  CAST(least(coalesce(c0.c, 0), coalesce(c1.c, 0)) AS BIGINT) AS est
FROM wins w CROSS JOIN probes p
LEFT JOIN e0 c0 ON c0.ws_sec = w.ws_sec AND c0.bkt = p.b0
LEFT JOIN e1 c1 ON c1.ws_sec = w.ws_sec AND c1.bkt = p.b1
ORDER BY w.ws_sec NULLS FIRST, user_id NULLS FIRST""")),

    // S52: streaming MinHash source signatures — the EXACT SAME operator
    // function as batch x58 ([[graft.GraftOps.minhashLaneMins]]) run over
    // the live document stream, because min is a streaming-legal mergeable
    // aggregate: state is ONE row per source (MinLanesAgg packs all lane
    // mins into that row's buffer — |sources| rows × 16 longs here) —
    // no matter how many documents flow through, and each micro-batch
    // folds in with a partial min. This is the sketch-state streaming
    // story (x11/x25's HLL/CMS cousins) applied to corpus similarity: a
    // 100 TB ingest keeps live between-source Jaccard signatures at
    // constant memory. Complete mode; batch ≡ stream by construction
    // (same function), pinned by the shared DuckDB oracle.
    GQuery("s52_stream_minhash_sigs",
      (s, d) => runToMemory(
          graft.GraftOps.minhashLaneMins(
            docStream(s, d), col("source"), col("text"), k = 3, lanes = 16),
          "complete")
        .select(col("grp").as("source"), col("lane").cast("long").as("lane"),
          col("mh"))
        .orderBy(col("source"), col("lane")),
      Some("""WITH toks AS (SELECT source, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT source,
  CASE WHEN len(w) >= 3 THEN list_transform(range(1, len(w) - 1),
    i -> array_to_string(w[i:i+2], ' '))
  ELSE [array_to_string(w, ' ')] END AS sl
FROM toks),
sg AS (SELECT source, unnest(sl) AS g FROM sh),
hs AS (SELECT source,
    CAST(concat('0x', substr(md5(g), 1, 12)) AS BIGINT) AS b0,
    CAST(concat('0x', substr(md5(g), 13, 12)) AS BIGINT) AS b1
  FROM sg)
SELECT source, ln.l AS lane,
  min(((ln.l * 2 + 1) * b0 + b1) % 281474976710656) AS mh
FROM hs CROSS JOIN (SELECT unnest(range(0, 16)) AS l) ln
GROUP BY source, ln.l
ORDER BY source NULLS FIRST, lane NULLS FIRST""")),

    // S62: LIVE blocklist quarantine gate — x77's category term filter on
    // the streaming document path: per-row membership against the broadcast
    // term sets, and only the NON-keep rows (the quarantine feed a policy
    // reviewer consumes) are emitted downstream. Pure per-row arithmetic,
    // APPEND mode, zero state — at 100 TB/day the gate runs at scan speed
    // and the quarantine stream is the small fraction that needs eyes.
    // Oracle = the batch filter over the same table (availableNow drains
    // the file source to the identical endpoint).
    GQuery("s62_stream_blocklist_gate",
      (s, d) => {
        val ws = split(lower(col("text")), " ")
        def hits(terms: Seq[String]) =
          size(filter(ws, w => array_contains(
            array(terms.map(lit): _*), w))).cast("long")
        val out = docStream(s, d)
          .select(col("doc_id"),
            hits(Seq("fast", "slow")).as("speed_hits"),
            hits(Seq("spark", "table", "hash")).as("infra_hits"))
          .withColumn("action",
            when(col("speed_hits") >= 8 || col("infra_hits") >= 12, "block")
              .when(col("speed_hits") >= 5 || col("infra_hits") >= 8, "review")
              .otherwise("keep"))
          .filter(col("action") =!= "keep")
        runToMemory(out, "append").orderBy(col("doc_id"))
      },
      Some("""WITH c AS (SELECT doc_id,
    CAST(len(list_filter(string_split(lower(text), ' '),
      w -> list_contains(['fast','slow'], w))) AS BIGINT) AS speed_hits,
    CAST(len(list_filter(string_split(lower(text), ' '),
      w -> list_contains(['spark','table','hash'], w))) AS BIGINT) AS infra_hits
  FROM documents)
SELECT doc_id, speed_hits, infra_hits,
  CASE WHEN speed_hits >= 8 OR infra_hits >= 12 THEN 'block'
       WHEN speed_hits >= 5 OR infra_hits >= 8 THEN 'review'
       ELSE 'keep' END AS action
FROM c
WHERE NOT (speed_hits < 5 AND infra_hits < 8)
ORDER BY doc_id NULLS FIRST""")),
  )
}
