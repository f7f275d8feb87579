package graft.operators

import graft.{GQuery, Tables}
import graft.functions.GraftFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dedup family: exact / near-duplicate detection, clustering and
  * incremental variants over the `documents` table — content-hash keepers,
  * MinHash-LSH banding, SimHash, exact n-gram Jaccard, connected-component
  * cluster contraction, span/chunk/bag-of-words/normalized dedup, sorted
  * neighborhoods, SemDeDup, and between-source MinHash similarity.
  *
  * Part of the [[PipelineQueries]] registry (split from the former
  * monolithic file in round 11); shared helpers live in [[PipelineShared]].
  */
private[operators] object PipelineDedupQueries {
  import PipelineShared._

  val queries: Seq[GQuery] = Seq(


    // ---- X01: exact dedup --------------------------------------------------
    GQuery("x01_exact_dedup",
      (s, d) => graft.GraftOps.exactDedup(t(s, d, "documents"),
          col("doc_id"), col("text"))
        .orderBy(col("keeper")),
      Some("""SELECT min(doc_id) AS keeper, count(*) AS n, md5(text) AS h
FROM documents GROUP BY md5(text) ORDER BY keeper NULLS FIRST""")),


    // ---- X02: near-dup detection -------------------------------------------
    // Exact shingle-Jaccard pairs >= 0.5 via an inverted-index join on
    // shingles (shuffle by shingle, count common per pair) — the exact-answer
    // scale path; the DuckDB oracle brute-forces all pairs, feasible only at
    // oracle scale.
    GQuery("x02_ngram_jaccard",
      (s, d) => nearDupPairs(s, d)
        .orderBy(col("doc_a"), col("doc_b")),
      Some(shingleCte + """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST""")),


    // MinHash (k=64) + LSH banding (16 bands x 4 rows): candidates collide on
    // a band hash, then candidates are verified with exact Jaccard >= 0.5.
    // G-class (approximate recall by construction); the ScalaTest spec
    // cross-checks it against x02_ngram_jaccard.
    GQuery("x02_minhash_lsh",
      (s, d) => graft.GraftOps.minhashNearDups(t(s, d, "documents"),
          col("doc_id"), col("text"), k = 5, threshold = 0.5,
          bands = 16, rowsPerBand = 4, seed = 42L)
        .orderBy(col("doc_a"), col("doc_b")),
      None),


    // The O-class twin of x02_minhash_lsh: the SAME MinHash+LSH pipeline
    // (64 lanes, 16 bands × 4 rows, exact-Jaccard ≥ 0.5 verification) built
    // entirely from the PORTABLE hash family — one md5 per shingle split
    // into 48-bit halves, Broder affine lanes ((2l+1)·b0 + b1) mod 2^48
    // (every intermediate < 2^55: DuckDB BIGINT overflow RAISES where Spark
    // wraps), band key = md5 of the comma-joined 4 lane minima — so the
    // DuckDB oracle replays signatures, banding, candidate generation AND
    // verification bit-exactly. x02_minhash_lsh keeps the codegen xxhash64
    // family as the raw-throughput path; this twin is the correctness
    // anchor proving the banding pipeline end-to-end (not just lane minima,
    // which x58 already oracles). Scale: shingle → per-doc MinLanesAgg
    // collapse (no lane posexplode), band-key equi-join (never doc×doc),
    // exact verify only on candidates.
    GQuery("x02b_minhash_lsh_exact",
      (s, d) => {
        val sig = spread(t(s, d, "documents"))
          .select(col("doc_id"), explode(word_shingles(col("text"), 5)).as("g"))
          .select(col("doc_id"), md5(col("g")).as("hx"))
          .select(col("doc_id"),
            conv(substring(col("hx"), 1, 12), 16, 10).cast("long").as("b0"),
            conv(substring(col("hx"), 13, 12), 16, 10).cast("long").as("b1"))
          .groupBy(col("doc_id"))
          .agg(min_lanes(col("b0"), col("b1"), 64).as("mhs"))
        val banded = sig.select(col("doc_id"),
            posexplode(expr("""transform(sequence(0, 15),
              b -> md5(concat_ws(',', transform(slice(mhs, b * 4 + 1, 4),
                     v -> cast(v as string)))))""")))
          .toDF("doc_id", "band", "bh")
        val cand = banded.as("a").join(banded.as("b"),
            col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
              && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
        val sh = graft.GraftOps.shingles(
          t(s, d, "documents"), col("doc_id"), col("text"), 5)
        cand.join(sh.as("sa"), col("doc_a") === col("sa.id"))
          .join(sh.as("sb"), col("doc_b") === col("sb.id"))
          .withColumn("common",
            size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("long"))
          .withColumn("j", col("common").cast("double")
            / (col("sa.nsh") + col("sb.nsh") - col("common")))
          .filter(col("j") >= 0.5)
          .select(col("doc_a"), col("doc_b"), col("j"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
shd AS (SELECT doc_id,
  CASE WHEN len(w) >= 5 THEN list_distinct(list_transform(range(1, len(w) - 3),
    i -> array_to_string(w[i:i+4], ' ')))
  ELSE [array_to_string(w, ' ')] END AS s
FROM toks),
sg AS (SELECT doc_id, unnest(s) AS g FROM shd),
hs AS (SELECT doc_id,
    CAST(concat('0x', substr(md5(g), 1, 12)) AS BIGINT) AS b0,
    CAST(concat('0x', substr(md5(g), 13, 12)) AS BIGINT) AS b1
  FROM sg),
lanes AS (SELECT doc_id, ln.l AS lane,
    min(((ln.l * 2 + 1) * b0 + b1) % 281474976710656) AS mh
  FROM hs CROSS JOIN (SELECT unnest(range(0, 64)) AS l) ln
  GROUP BY doc_id, ln.l),
sig AS (SELECT doc_id, list(mh ORDER BY lane) AS mhs FROM lanes GROUP BY doc_id),
bands AS (SELECT doc_id, bb.b AS band,
    md5(array_to_string(mhs[CAST(bb.b * 4 + 1 AS INT) : CAST(bb.b * 4 + 4 AS INT)], ',')) AS bh
  FROM sig CROSS JOIN (SELECT unnest(range(0, 16)) AS b) bb),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
  CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
    / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS j
FROM cand JOIN shd sa ON sa.doc_id = doc_a JOIN shd sb ON sb.doc_id = doc_b
WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
    / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.5
ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST""")),


    // SimHash near-dup: 64-bit simhash over shingles, candidates from 4
    // 16-bit band collisions, verified by Hamming distance <= 12. G-class.
    GQuery("x02_simhash",
      (s, d) => graft.GraftOps.simhashNearDups(t(s, d, "documents"),
          col("doc_id"), col("text"), k = 5, maxHamming = 12)
        .orderBy(col("doc_a"), col("doc_b")),
      None),


    // The O-class twin of x02_simhash (the x02b pattern applied to SimHash):
    // a 60-bit signature from the PORTABLE hash family — per shingle the
    // first 15 md5 hex chars as a sign-safe BIGINT (< 2^60; DuckDB CAST
    // raises past 2^63 where Spark conv would wrap), per-bit majority vote
    // with the tie broken as 2·ones >= n, 4 bands × 15 bits for candidates,
    // exact Hamming (bit_count of xor) <= 9 verification — so the DuckDB
    // oracle replays signatures, banding AND verification bit-for-bit.
    // x02_simhash keeps the codegen simhash64 expression as the throughput
    // path; this twin is the correctness anchor for the whole SimHash
    // pipeline. Scale: per-row vote fold (O(60·n) per doc, no shuffle),
    // band equi-join (never doc×doc), Hamming only on candidates.
    GQuery("x02c_simhash_exact",
      (s, d) => {
        // per-bit majority votes as 60 codegen'd aggregate columns (a
        // per-row fold over 60 nested lambdas measured 15x slower — HOF
        // interpretation, not data, was the cost): explode shingles, one
        // map-side-combined groupBy, then the signature folds 60 SCALAR
        // columns inside whole-stage codegen.
        val exploded = spread(t(s, d, "documents"))
          .select(col("doc_id"), explode(word_shingles(col("text"), 5)).as("g"))
          .withColumn("h", expr(
            "cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint)"))
        val voteCols = (0 until 60).map(b =>
          sum(expr(s"shiftright(h, $b) & 1")).as(s"v$b"))
        val votes = exploded.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n"), voteCols: _*)
        val sigExpr = (0 until 60).map(b =>
          s"if(2 * v$b >= n, shiftleft(cast(1 as bigint), $b), cast(0 as bigint))")
          .mkString(" + ")
        val sig = votes.select(col("doc_id"), expr(sigExpr).as("sig"))
        val banded = sig.select(col("doc_id"), col("sig"),
            posexplode(expr(
              "transform(sequence(0, 3), b -> shiftright(sig, b * 15) & 32767)")))
          .toDF("doc_id", "sig", "band", "bk")
        banded.as("a").join(banded.as("b"),
            col("a.band") === col("b.band") && col("a.bk") === col("b.bk")
              && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            expr("cast(bit_count(a.sig ^ b.sig) as bigint)").as("hamming"))
          .distinct()
          .filter(col("hamming") <= 9)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
shd AS (SELECT doc_id,
  CASE WHEN len(w) >= 5 THEN list_distinct(list_transform(range(1, len(w) - 3),
    i -> array_to_string(w[i:i+4], ' ')))
  ELSE [array_to_string(w, ' ')] END AS s
FROM toks),
hs AS (SELECT doc_id,
    list_transform(s, g -> CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT)) AS hv
  FROM shd),
sig AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), b ->
    CASE WHEN 2 * len(list_filter(hv, h -> ((h >> b) & 1) = 1)) >= len(hv)
      THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE CAST(0 AS BIGINT) END))
    AS BIGINT) AS sg FROM hs),
bands AS (SELECT doc_id, sg, bb.b AS band,
    (sg >> CAST(bb.b * 15 AS INT)) & 32767 AS bk
  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bb),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sg AS sa, b.sg AS sb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 9
ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST""")),


    // ---- X07: duplicate-cluster assignment ---------------------------------
    // Near-dup PAIRS become per-document cluster ids (min doc id of the
    // connected component; GraftOps.dedupClusters: a driver-side union-find
    // up to 1M edges, iterative min-label propagation above) — the
    // transitive-closure step a dedup pipeline needs before "keep one per
    // cluster" (a~b, b~c ⇒ one cluster of three, even though a,c were never
    // directly compared). O-class: DuckDB replays the closure with a
    // recursive CTE over the same exact-Jaccard pair set.
    GQuery("x07_dedup_clusters",
      // memo-backed since round 18 (setup_cc_memo): one dedupClusters call,
      // shared with x32/x56/x64 instead of re-run per lane
      (s, d) => nearDupClusters(s, d)
        .orderBy(col("doc_id")),
      Some(x07OracleSql)),


    // X07b: the same cluster assignment via star-contraction (Kiveris et al.
    // large-star/small-star) — the O(log n)-round variant for graphs whose
    // component diameter min-label propagation can't bound (a path-graph
    // worst case is spec-pinned in StarContractionSpec). Identical result to
    // x07 by construction, so it shares the recursive-CTE oracle.
    GQuery("x07_dedup_clusters_star",
      (s, d) => graft.GraftOps.dedupClustersStar(nearDupPairs(s, d),
          col("doc_a"), col("doc_b"))
        .orderBy(col("doc_id")),
      Some(x07OracleSql)),


    // X32: QUALITY-keeper cluster resolution — "keep one per cluster" with a
    // policy better than min-id: every document gets its near-dup cluster
    // (singletons stand alone), the x04 integer quality score ranks members,
    // and the top-scored member survives (doc_id tie-break). This is the
    // decision layer between clustering (x07) and the rewrite: rank-filter
    // windows per cluster key, one join against the score table, nothing
    // doc×doc. O-class — the oracle replays closure + score + window.
    GQuery("x32_cluster_keeper",
      (s, d) => {
        val docs = t(s, d, "documents")
        val clusters = nearDupClusters(s, d) // shared CC memo (r18)
        val assigned = docs.select(col("doc_id"))
          .join(clusters, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster"), col("doc_id")).as("cluster"))
        val stop = Seq("the", "a", "of", "and", "to")
        val scored = docs
          .withColumn("w", split(col("text"), " "))
          .withColumn("n_tok", size(col("w")).cast("long"))
          .withColumn("n_stop",
            size(filter(col("w"), x => x.isin(stop: _*))).cast("long"))
          .withColumn("n_uniq", size(array_distinct(col("w"))).cast("long"))
          .select(col("doc_id"),
            expr("""least(n_tok, 400) * 25 div 400
              + (25 - least(n_stop * 100 div n_tok, 25))
              + least(n_uniq * 50 div n_tok, 50)""").cast("long").as("score"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster")).orderBy(col("score").desc, col("doc_id"))
        assigned.join(scored, "doc_id")
          .withColumn("kept", row_number().over(w) === 1)
          .select(col("doc_id"), col("cluster"), col("score"), col("kept"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT doc_id,
  CASE WHEN len(w) >= 5 THEN list_distinct(list_transform(range(1, len(w) - 3),
    i -> array_to_string(w[i:i+4], ' ')))
  ELSE [array_to_string(w, ' ')] END AS s
FROM toks),
pairs AS (SELECT a.doc_id AS da, b.doc_id AS db
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
edges AS (SELECT da AS src, db AS dst FROM pairs
  UNION ALL SELECT db, da FROM pairs),
reach(id, r) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id),
cl AS (SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id),
m AS (SELECT doc_id, len(w) AS n_tok,
    len(list_filter(w, x -> x IN ('the','a','of','and','to'))) AS n_stop,
    len(list_distinct(w)) AS n_uniq
  FROM toks),
sc AS (SELECT doc_id, CAST(least(n_tok, 400) * 25 // 400
      + (25 - least(n_stop * 100 // n_tok, 25))
      + least(n_uniq * 50 // n_tok, 50) AS BIGINT) AS score
  FROM m),
asg AS (SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS cluster
  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
r AS (SELECT a.doc_id, a.cluster, s.score,
    row_number() OVER (PARTITION BY a.cluster
      ORDER BY s.score DESC, a.doc_id) AS rk
  FROM asg a JOIN sc s USING (doc_id))
SELECT doc_id, cluster, score, rk = 1 AS kept
FROM r ORDER BY doc_id NULLS FIRST""")),


    // X33: dedup-threshold sensitivity sweep — the tuning diagnostic a
    // curation team runs before fixing the near-dup cutoff: ONE scored-pair
    // pass (the expensive inverted-index join, at the lowest candidate
    // threshold), then every candidate threshold is evaluated by exploding a
    // tiny threshold table against the scored pairs — pair counts and
    // distinct-docs-with-a-dup per cutoff, no re-scoring. At 100 TB the
    // sweep costs one pair materialization plus |pairs|×|thresholds| cheap
    // rows. Thresholds carried as integer percents (exact rendering, exact
    // comparison against the same double j both engines compute).
    GQuery("x33_threshold_sweep",
      (s, d) => {
        import s.implicits._
        // the memoized 0.25-threshold scored pair table (round 18): the
        // expensive inverted-index join is the SAME computation the shared
        // pair memo runs (candidate stage is threshold-independent), so the
        // sweep reads the setup_pair_memo table instead of re-running it.
        // The memo is already checkpointed — the pair-count and distinct-doc
        // branches both read the materialized table.
        val pairs = PipelineShared.scoredPairs025(s, d)
        val thr = Seq(25L, 35L, 50L, 65L, 80L).toDF("thr_pct")
        val pp = pairs.crossJoin(thr)
          .filter(col("j") >= col("thr_pct").cast("double") / 100.0)
        val np = pp.groupBy(col("thr_pct")).agg(count(lit(1)).as("n_pairs"))
        val nd = pp.select(col("thr_pct"),
            explode(array(col("doc_a"), col("doc_b"))).as("doc"))
          .groupBy(col("thr_pct"))
          .agg(countDistinct(col("doc")).as("n_docs_with_dup"))
        thr.join(np, Seq("thr_pct"), "left").join(nd, Seq("thr_pct"), "left")
          .select(col("thr_pct"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
            coalesce(col("n_docs_with_dup"), lit(0L)).as("n_docs_with_dup"))
          .orderBy(col("thr_pct"))
      },
      Some(shingleCte + """,
p AS (SELECT a.doc_id AS da, b.doc_id AS db,
    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.s, b.s)) >= 1),
t AS (SELECT unnest([25, 35, 50, 65, 80]) AS thr_pct),
pp AS (SELECT thr_pct, count(*) AS n_pairs
  FROM p, t WHERE j >= thr_pct / 100.0 GROUP BY thr_pct),
dd AS (SELECT thr_pct, count(DISTINCT doc) AS n_docs_with_dup
  FROM (SELECT j, unnest([da, db]) AS doc FROM p), t
  WHERE j >= thr_pct / 100.0 GROUP BY thr_pct)
SELECT CAST(t.thr_pct AS BIGINT) AS thr_pct,
  coalesce(pp.n_pairs, 0) AS n_pairs,
  coalesce(dd.n_docs_with_dup, 0) AS n_docs_with_dup
FROM t LEFT JOIN pp USING (thr_pct) LEFT JOIN dd USING (thr_pct)
ORDER BY thr_pct NULLS FIRST""")),


    // X37: k-means + SemDeDup — Lloyd's algorithm run as two fully-
    // distributed, fully-DETERMINISTIC rounds (seeds = the k smallest
    // md5(vec_id), assignment = broadcast-centroid argmin over the codegen
    // l2_dist kernel, update = per-dimension decimal(27,15) sums so the
    // centroid mean is merge-order-free), then the SemDeDup step (Abbas et
    // al. 2023): near-identical pairs are sought only WITHIN a cluster —
    // the quadratic pair work drops from N² to Σ|cluster|², which is the
    // entire point of clustering first at 100 TB. Oracle replays both Lloyd
    // rounds in DuckDB (list_distance / list_cosine_similarity share the
    // kernels' accumulation order). localCheckpoint pins the final
    // assignment once — sizes, pair-join and output all read it without
    // re-deriving the iteration chain.
    GQuery("x37_kmeans_semdedup",
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
            col("embedding").as("fv"))
        // occupancy-targeted k (the x03 plane-scaling move): a FIXED k means
        // cluster size ∝ n, so the within-cluster pair stage is quadratic
        // AND capped at k-way parallelism. k = max(8, ceil(n/512)) keeps
        // expected occupancy ≤ 512 (pairs ∝ n·512, spread over k tasks).
        // At both oracle tiers (≤ 2000 vectors) this is exactly 8, so the
        // DuckDB replay's literal `cid <= 8` stays equivalent.
        val k = math.max(8L, (e.count() + 511L) / 512L).toInt
        // IVF-style coarse quantization (round 12): a FLAT nearest-of-k
        // assign is n·k = n²/512 work, and the sf10 spot tier measured the
        // knee (200k vectors, k=391: ×10.2 on ×3.33 data). With
        // kc = ceil(sqrt(k)) coarse cells — the first kc seeded centroids —
        // assignment drops to n·(kc + k/kc) (the faiss IVF recipe) and the
        // within-cluster pair stage (n·occupancy/2, LINEAR in n) goes back
        // to dominating. kc == 1 for k ≤ 64, where the two-level tree
        // degenerates to the EXACT flat algorithm: the DuckDB replay and
        // PipelineSpec tiers (k = 8) are bit-unchanged. At larger n the
        // assignment is approximate in precisely the way SemDeDup
        // tolerates — any deterministic space partition localizes the
        // pair scan; nearest-of-all-k was never semantically load-bearing.
        val kc = if (k <= 64) 1 else math.ceil(math.sqrt(k.toDouble)).toInt
        val wSeed = org.apache.spark.sql.expressions.Window
          .orderBy(col("h"), col("vec_id"))
        val c0 = e.select(col("vec_id"), col("v"),
            md5(col("vec_id").cast("string")).as("h"))
          .orderBy(col("h"), col("vec_id")).limit(k)
          .select(row_number().over(wSeed).as("cid"), col("v").as("cv"))
        // argmin via min_by, not a row_number window: the crossJoin's n·k
        // candidate rows collapse to n in the MAP-SIDE partial aggregate
        // (each vector's k candidates are partition-local because the
        // centroid side is broadcast), where the window form shuffled all
        // n·k rows. (dist, cid) is unique per vector, so the min_by pick
        // is deterministic and identical to the old rn=1.
        val dist2 = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
          graft.functions.GraftFunctions.l2_dist(a, b)
        def flatAssign(cs: DataFrame): DataFrame =
          e.crossJoin(broadcast(cs))
            .withColumn("dist", dist2(col("v"), col("cv")))
            .groupBy(col("vec_id"))
            .agg(min_by(struct(col("cid"), col("dist"), col("v"), col("fv")),
              struct(col("dist"), col("cid"))).as("sel"))
            .select(col("vec_id"), col("sel.cid").as("cid"),
              col("sel.dist").as("dist"), col("sel.v").as("v"),
              col("sel.fv").as("fv"))
        def assign(cs: DataFrame): DataFrame =
          if (kc == 1) flatAssign(cs)
          else {
            val cc = cs.filter(col("cid") <= kc)
              .select(col("cid").as("ccid"), col("cv").as("ccv"))
            // centroid → coarse cell (k·kc evals; every coarse is its own
            // nearest at d=0, so no cell is childless)
            val kids = cs.crossJoin(broadcast(cc))
              .withColumn("cd", dist2(col("cv"), col("ccv")))
              .groupBy(col("cid"))
              .agg(min_by(struct(col("ccid"), col("cv")),
                struct(col("cd"), col("ccid"))).as("s"))
              .select(col("s.ccid").as("ccid"), col("cid"),
                col("s.cv").as("cv"))
            // vector → nearest coarse cell (n·kc evals)
            val coarse = e.crossJoin(broadcast(cc))
              .withColumn("cd", dist2(col("v"), col("ccv")))
              .groupBy(col("vec_id"))
              .agg(min_by(struct(col("ccid"), col("v"), col("fv")),
                struct(col("cd"), col("ccid"))).as("s"))
              .select(col("vec_id"), col("s.ccid").as("ccid"),
                col("s.v").as("v"), col("s.fv").as("fv"))
            // vector → nearest child centroid inside its cell (n·k/kc avg)
            coarse.join(broadcast(kids), "ccid")
              .withColumn("dist", dist2(col("v"), col("cv")))
              .groupBy(col("vec_id"))
              .agg(min_by(struct(col("cid"), col("dist"), col("v"), col("fv")),
                struct(col("dist"), col("cid"))).as("sel"))
              .select(col("vec_id"), col("sel.cid").as("cid"),
                col("sel.dist").as("dist"), col("sel.v").as("v"),
                col("sel.fv").as("fv"))
          }
        def update(a: DataFrame): DataFrame =
          a.select(col("cid"), posexplode(col("v")))
            .groupBy(col("cid"), col("pos"))
            .agg((sum(col("col").cast("decimal(27,15)")).cast("double") /
              count(lit(1))).as("m"))
            .groupBy(col("cid"))
            .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)")
              .as("cv"))
        val a2 = assign(update(assign(c0))).localCheckpoint(true)
        val sizes = a2.groupBy(col("cid")).agg(count(lit(1)).as("n_members"))
        // slim pair join: only (vec_id, cid, fv) travels, scored inline,
        // SHUFFLE_HASH so wide array rows are never sort-buffered (the x03
        // lesson — the SMJ sort, not the cosine, dominates)
        val slim = a2.select(col("vec_id"), col("cid"), col("fv"))
        val dups = slim.as("a").join(slim.as("b").hint("SHUFFLE_HASH"),
            col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
          .filter(graft.functions.GraftFunctions
            .cosine_sim(col("a.fv"), col("b.fv")) >= 0.45)
          .select(col("b.vec_id").as("vec_id")).distinct()
        a2.join(sizes, "cid")
          .join(dups.withColumn("dup", lit(1)), Seq("vec_id"), "left")
          .select(col("vec_id"), col("cid").cast("long").as("cluster"),
            col("n_members"),
            col("dist").cast("decimal(18,6)").cast("double").as("dist"),
            when(col("dup").isNotNull, "drop").otherwise("keep").as("action"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
seeds AS (SELECT vec_id,
    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cid
  FROM e),
c0 AS (SELECT s.cid, e.v AS cv FROM seeds s JOIN e USING (vec_id)
  WHERE s.cid <= 8),
d1 AS (SELECT e.vec_id, c.cid, list_distance(e.v, c.cv) AS dist, e.v
  FROM e CROSS JOIN c0 c),
a1 AS (SELECT vec_id, cid, v FROM d1
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1),
u1 AS (SELECT cid, i AS pos,
    CAST(sum(CAST(v[i] AS DECIMAL(27,15))) AS DOUBLE) / count(*) AS m
  FROM a1, unnest(range(1, 65)) r(i) GROUP BY cid, i),
c1 AS (SELECT cid, list(m ORDER BY pos) AS cv FROM u1 GROUP BY cid),
d2 AS (SELECT e.vec_id, c.cid, list_distance(e.v, c.cv) AS dist, e.v
  FROM e CROSS JOIN c1 c),
a2 AS (SELECT vec_id, cid, dist, v FROM d2
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1),
sizes AS (SELECT cid, count(*) AS n_members FROM a2 GROUP BY cid),
dups AS (SELECT DISTINCT b.vec_id FROM a2 a JOIN a2 b
  ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= 0.45)
SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster, s.n_members,
  CAST(CAST(a.dist AS DECIMAL(18,6)) AS DOUBLE) AS dist,
  CASE WHEN d.vec_id IS NOT NULL THEN 'drop' ELSE 'keep' END AS action
FROM a2 a JOIN sizes s USING (cid) LEFT JOIN dups d ON a.vec_id = d.vec_id
ORDER BY a.vec_id NULLS FIRST""")),


    // ---- X18: incremental snapshot dedup -----------------------------------
    // The daily-ingest shape of X01: a NEW batch (the doc_id % 10 = 7 slice
    // stands in for today's crawl) dedups against the HISTORICAL corpus by
    // content hash — a hash-partitioned LEFT ANTI join on md5, the exact
    // plan a 100 TB incremental pipeline runs nightly (both sides shuffle
    // only their 16-byte hashes + ids; no broadcast assumption since history
    // is the big side). Survivors also self-dedup (min-id keeper). O-class.
    GQuery("x18_incremental_dedup",
      (s, d) => {
        val docs = t(s, d, "documents")
        val hist = docs.filter(col("doc_id") % 10 =!= 7).select(md5(col("text")).as("h"))
        val fresh = docs.filter(col("doc_id") % 10 === 7)
          .select(col("doc_id"), md5(col("text")).as("h"))
        fresh.join(hist, Seq("h"), "left_anti")
          .groupBy(col("h"))
          .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_new"))
          .orderBy(col("keeper"))
      },
      Some("""WITH fresh AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 = 7),
hist AS (SELECT md5(text) AS h FROM documents WHERE doc_id % 10 <> 7)
SELECT h, min(doc_id) AS keeper, count(*) AS n_new
FROM fresh WHERE h NOT IN (SELECT h FROM hist)
GROUP BY h ORDER BY keeper NULLS FIRST""")),


    // X21: incremental NEAR-dup gate — the same nightly-ingest split as x18
    // but at shingle-Jaccard >= 0.5 instead of exact hash: fresh docs that
    // near-duplicate ANY history doc are verdicted 'drop'. Scale: the fresh
    // batch's exploded shingle index broadcasts; history streams past it
    // map-side, never shuffled, never self-joined (plan-pinned). Output is
    // integer/string only — the j threshold compares one exact IEEE division
    // identically on both engines.
    GQuery("x21_incremental_neardup",
      (s, d) => {
        val docs = t(s, d, "documents")
        graft.GraftOps.incrementalNearDups(
            docs.filter(col("doc_id") % 10 === 7),
            docs.filter(col("doc_id") % 10 =!= 7),
            col("doc_id"), col("text"), k = 5, threshold = 0.5)
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT doc_id,
  CASE WHEN len(w) >= 5 THEN list_distinct(list_transform(range(1, len(w) - 3),
    i -> array_to_string(w[i:i+4], ' ')))
  ELSE [array_to_string(w, ' ')] END AS s
FROM toks),
f AS (SELECT * FROM sh WHERE doc_id % 10 = 7),
h AS (SELECT * FROM sh WHERE doc_id % 10 <> 7),
m AS (SELECT f.doc_id, count(*) AS n_matches
  FROM f JOIN h ON CAST(len(list_intersect(f.s, h.s)) AS DOUBLE)
      / (len(f.s) + len(h.s) - len(list_intersect(f.s, h.s))) >= 0.5
  GROUP BY f.doc_id)
SELECT f.doc_id, coalesce(m.n_matches, 0) AS n_matches,
  CASE WHEN coalesce(m.n_matches, 0) > 0 THEN 'drop' ELSE 'keep' END AS verdict
FROM f LEFT JOIN m ON f.doc_id = m.doc_id
ORDER BY f.doc_id NULLS FIRST""")),


    // ---- X23: span-level exact substring dedup -----------------------------
    // The OTHER dedup axis (Lee et al. 2022, "Deduplicating Training Data
    // Makes Language Models Better"): X01/X02 drop whole near-duplicate
    // documents, but boilerplate (headers, license blocks, navigation) reuses
    // SPANS across otherwise-distinct docs. Distinct 8-token spans build an
    // inverted index (one hash shuffle on the span — never doc×doc); a span
    // seen in >= 2 distinct docs is duplicated text, and each doc reports its
    // duplicated-span fraction plus the keep/trim/drop routing a curation
    // pipeline acts on. At 100 TB the spans would be 64-bit hashes, not
    // strings (same join shape, ~10 bytes/span of shuffle); the count-then-
    // join-back here is two shuffles of the span table, with the hot-span
    // skew capped naturally because the index carries only counts.
    GQuery("x23_span_dedup",
      (s, d) => {
        val sp = t(s, d, "documents")
          .select(col("doc_id"), explode(word_shingles(col("text"), 8)).as("sp"))
        val idx = sp.groupBy(col("sp"))
          .agg(countDistinct(col("doc_id")).as("ndocs"))
        sp.join(idx, "sp")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_spans"),
            sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
          .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
            (col("n_dup_spans").cast("double") / col("n_spans").cast("double"))
              .cast("decimal(18,6)").cast("double").as("dup_frac"),
            when(col("n_dup_spans").cast("double") / col("n_spans").cast("double")
                >= 0.5, "drop")
              .when(col("n_dup_spans").cast("double") / col("n_spans").cast("double")
                >= 0.1, "trim")
              .otherwise("keep").as("action"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sp AS (SELECT doc_id, unnest(
    CASE WHEN len(w) >= 8 THEN list_distinct(list_transform(range(1, len(w) - 6),
      i -> array_to_string(w[i:i+7], ' ')))
    ELSE [array_to_string(w, ' ')] END) AS sp
  FROM toks),
idx AS (SELECT sp, count(DISTINCT doc_id) AS ndocs FROM sp GROUP BY sp),
per AS (SELECT doc_id, count(*) AS n_spans,
    CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
  FROM sp JOIN idx USING (sp) GROUP BY doc_id)
SELECT doc_id, n_spans, n_dup_spans,
  CAST(CAST(CAST(n_dup_spans AS DOUBLE) / n_spans AS DECIMAL(18,6)) AS DOUBLE)
    AS dup_frac,
  CASE WHEN CAST(n_dup_spans AS DOUBLE) / n_spans >= 0.5 THEN 'drop'
       WHEN CAST(n_dup_spans AS DOUBLE) / n_spans >= 0.1 THEN 'trim'
       ELSE 'keep' END AS action
FROM per ORDER BY doc_id NULLS FIRST""")),


    // ---- X43: sub-document boilerplate removal (CCNet-shaped) --------------
    // Chunk-level corpus-frequency dedup: docs split into fixed 4-word
    // chunks, a chunk whose text repeats >= 5 times ACROSS THE CORPUS is
    // boilerplate (navigation chrome, license headers — the unit CCNet /
    // RefinedWeb drop at paragraph granularity) and is excised; surviving
    // chunks reassemble in order. Scale: one by-chunk-text window count (the
    // same shuffle an exact paragraph-dedup needs) + one by-doc re-agg —
    // both linear; no doc×doc comparison anywhere.
    GQuery("x43_chunk_dedup",
      (s, d) => {
        val W = 4; val K = 5
        val ws = split(col("text"), " ")
        val ch = t(s, d, "documents")
          .select(col("doc_id"),
            posexplode(transform(
              sequence(lit(0), ceil(size(ws).cast("double") / W).cast("int") - 1),
              i => array_join(slice(ws, i * W + 1, lit(W)), " "))))
          .toDF("doc_id", "cid", "chunk")
        ch.withColumn("freq", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("chunk"))))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("freq") < K, 1L).otherwise(0L)).as("n_kept"),
            // NULL clean_text iff NO chunk survived (matches string_agg
            // FILTER semantics). Gating on the kept COUNT, not nullif on
            // the joined text: a doc whose only kept chunk is the empty
            // string must yield '' (as DuckDB does), not NULL.
            when(sum(when(col("freq") < K, 1L).otherwise(0L)) > 0,
              array_join(transform(array_sort(collect_list(
                  when(col("freq") < K, struct(col("cid"), col("chunk"))))),
                x => x.getField("chunk")), " ")).as("clean_text"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
ch AS (SELECT doc_id, CAST(i AS INT) AS cid,
         array_to_string(ws[(CAST(i AS INT)*4+1):(CAST(i AS INT)*4+4)], ' ') AS chunk
       FROM w, unnest(range(CAST(ceil(len(ws)/4.0) AS BIGINT))) u(i)),
f AS (SELECT *, count(*) OVER (PARTITION BY chunk) AS freq FROM ch)
SELECT doc_id, count(*) AS n_chunks,
  CAST(count(*) FILTER (WHERE freq < 5) AS BIGINT) AS n_kept,
  string_agg(chunk, ' ' ORDER BY cid) FILTER (WHERE freq < 5) AS clean_text
FROM f GROUP BY doc_id ORDER BY doc_id NULLS FIRST""")),


    // ---- X66: content-defined chunk dedup ----------------------------------
    // The insertion-robust sibling of X43: chunk boundaries come from the
    // CONTENT (positions where a rolling 8-char polynomial hash ≡ 0 mod 64,
    // the anchor idiom of FastCDC/LBFS-style chunkers), not from fixed
    // offsets — so a prefix insertion shifts only the chunk containing it
    // and every later chunk re-aligns and dedups. Planted shim-prefixed
    // twins (fixed 50 docs at ANY scale factor — capped operand, the x57
    // lesson) prove exactly that: under X43's fixed-width chunking a twin
    // shares ~nothing, here it shares every post-anchor chunk. The hash is
    // a plain degree-7 polynomial in 31 over char codes (max value ~3.6e12,
    // safely inside BIGINT on both engines — DuckDB RAISES on overflow
    // where Spark wraps), replayed identically by the oracle. Scale: pure
    // per-row higher-order expressions, then ONE well-spread shuffle on
    // chunk text + a doc_id re-agg — the x43/x01 shape, scan-speed at
    // 100 TB.
    GQuery("x66_cdc_chunk_dedup",
      (s, d) => {
        val base = t(s, d, "documents").select(col("doc_id"), col("text"))
        val twins = base.filter(col("doc_id") < 50)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("insertion shim >> "), col("text")).as("text"))
        val ch = spread(base.unionAll(twins))
          .withColumn("cs", expr(
            "transform(sequence(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))"))
          .withColumn("bnd", expr(
            """concat(array(0), filter(sequence(1, length(text)), i -> i >= 8 AND
               (element_at(cs, i-7)*27512614111 + element_at(cs, i-6)*887503681
                + element_at(cs, i-5)*28629151 + element_at(cs, i-4)*923521
                + element_at(cs, i-3)*29791 + element_at(cs, i-2)*961
                + element_at(cs, i-1)*31 + element_at(cs, i)) % 64 = 0),
               array(length(text)))"""))
          .select(col("doc_id"), explode(expr(
            """filter(transform(sequence(1, size(bnd) - 1),
                 j -> substring(text, element_at(bnd, j) + 1,
                        element_at(bnd, j + 1) - element_at(bnd, j))),
               c -> length(c) > 0)""")).as("chunk"))
        ch.withColumn("freq", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("chunk"))))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("freq") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"),
            sum(when(col("freq") >= 2, length(col("chunk")).cast("long"))
              .otherwise(0L)).as("dup_chars"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, 'insertion shim >> ' || text
  FROM documents WHERE doc_id < 50),
c AS (SELECT doc_id, text,
    list_transform(range(1, len(text) + 1),
      i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS BIGINT)) AS cs
  FROM base),
b AS (SELECT doc_id, text,
    [0] || list_filter(range(1, len(text) + 1), i -> i >= 8 AND
      (cs[i-7]*27512614111 + cs[i-6]*887503681 + cs[i-5]*28629151
       + cs[i-4]*923521 + cs[i-3]*29791 + cs[i-2]*961
       + cs[i-1]*31 + cs[i]) % 64 = 0)
    || [len(text)] AS bnd
  FROM c),
ch AS (SELECT doc_id,
    unnest(list_filter(list_transform(range(1, len(bnd)),
      j -> substr(text, CAST(bnd[j] + 1 AS INT), CAST(bnd[j+1] - bnd[j] AS INT))),
      x -> len(x) > 0)) AS chunk
  FROM b),
f AS (SELECT doc_id, chunk, count(*) OVER (PARTITION BY chunk) AS freq FROM ch)
SELECT doc_id, count(*) AS n_chunks,
  CAST(count(*) FILTER (WHERE freq >= 2) AS BIGINT) AS n_dup_chunks,
  CAST(coalesce(sum(len(chunk)) FILTER (WHERE freq >= 2), 0) AS BIGINT) AS dup_chars
FROM f GROUP BY doc_id ORDER BY doc_id NULLS FIRST""")),


    // ---- X67: winnowing fingerprints ---------------------------------------
    // Local document fingerprinting by WINNOWING (Schleimer/Wilkerson/Aiken
    // 2003, the MOSS algorithm): hash every 5-char gram, slide a window of 4
    // consecutive gram hashes, keep each window's MINIMUM — any shared
    // substring of length ≥ 8 chars is GUARANTEED to surface a shared
    // fingerprint (the winnowing guarantee), unlike MinHash's probabilistic
    // recall (x02) or strided sampling (x04_fingerprint). Fingerprints are
    // the distinct min VALUES (value-distinct sidesteps the tie-position
    // subtleties of the canonical rightmost rule while keeping the
    // guarantee). Gram hash = degree-4 polynomial in 31 mixed by the Knuth
    // multiplier mod 2^31 — max intermediate ~3.2e17, inside BIGINT on both
    // engines. Scale: per-row transforms, one shuffle on fingerprint (2^31
    // key space — no skew), one doc re-agg; no pair enumeration anywhere.
    GQuery("x67_winnowing_fingerprints",
      (s, d) => {
        val fp = spread(t(s, d, "documents"))
          .filter(length(col("text")) >= 8)
          .withColumn("cs", expr(
            "transform(sequence(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))"))
          .withColumn("gs", expr(
            """transform(sequence(1, length(text) - 4),
               i -> ((element_at(cs, i)*923521 + element_at(cs, i+1)*29791
                     + element_at(cs, i+2)*961 + element_at(cs, i+3)*31
                     + element_at(cs, i+4)) * 2654435761) % 2147483648)"""))
          .select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"),
            explode(expr(
              """array_distinct(transform(sequence(1, size(gs) - 3),
                   j -> array_min(slice(gs, j, 4))))""")).as("fp"))
        // Doc-level outputs are the stats winnowing THEORY predicts, so the
        // oracle checks the algorithm, not corpus accidents: density =
        // n_fps/n_grams should sit near 2/(w+1) = 0.4 (the expected
        // winnowing density), and max_ndocs is the promiscuity of the doc's
        // most-shared fingerprint. (A shared-vs-unique band split is
        // degenerate here: the corpus' ~24-word vocabulary makes every
        // 5-gram appear in thousands of docs at sf0.1.)
        fp.withColumn("ndocs", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
          .groupBy(col("doc_id"))
          .agg(first(col("n_grams")).as("n_grams"),
            count(lit(1)).as("n_fps"),
            max(col("ndocs")).as("max_ndocs"))
          .select(col("doc_id"), col("n_grams"), col("n_fps"),
            (col("n_fps").cast("double") / col("n_grams").cast("double"))
              .cast("decimal(18,6)").cast("double").as("density"),
            col("max_ndocs"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH c AS (SELECT doc_id, text,
    list_transform(range(1, len(text) + 1),
      i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS BIGINT)) AS cs
  FROM documents WHERE len(text) >= 8),
g AS (SELECT doc_id,
    list_transform(range(1, len(text) - 3),
      i -> ((cs[i]*923521 + cs[i+1]*29791 + cs[i+2]*961 + cs[i+3]*31
            + cs[i+4]) * 2654435761) % 2147483648) AS gs
  FROM c),
fp AS (SELECT doc_id, len(gs) AS n_grams,
    unnest(list_distinct(list_transform(range(1, len(gs) - 2),
      j -> list_min(gs[j:j+3])))) AS fp
  FROM g),
w AS (SELECT doc_id, n_grams, count(*) OVER (PARTITION BY fp) AS ndocs FROM fp),
a AS (SELECT doc_id, any_value(n_grams) AS n_grams, count(*) AS n_fps,
    max(ndocs) AS max_ndocs
  FROM w GROUP BY doc_id)
SELECT doc_id, n_grams, n_fps,
  CAST(CAST(CAST(n_fps AS DOUBLE) / n_grams AS DECIMAL(18,6)) AS DOUBLE)
    AS density,
  max_ndocs
FROM a ORDER BY doc_id NULLS FIRST""")),


    // ---- X50: order-insensitive (bag-of-words) dedup -----------------------
    // The dedup axis between exact (X01) and near-dup (X02): documents whose
    // word MULTISETS are identical but whose word order differs — scraped
    // pages re-rendered with shuffled nav/list order, concatenation-order
    // churn — hash to different md5(text) and slip past exact dedup, yet are
    // the same training content. Fingerprint = md5 of the sorted word array;
    // same multiset ⇒ same fingerprint, exactly (no MinHash approximation).
    // The r7-regenerated corpus has no organic order-shuffled twins, so
    // deterministic reversed-word variants are planted (ids offset past the
    // corpus max, the x40 pattern) to keep the pair path exercised.
    // Scale: per-row O(L log L) sort + ONE content-fingerprint shuffle —
    // byte-for-byte the x01 shape; no joins, no pair enumeration.
    GQuery("x50_bow_dedup",
      (s, d) => {
        val docs = t(s, d, "documents")
        val off = graft.GraftOps.imageVariantOffset(docs, col("doc_id"))
        val variants = docs.filter(col("doc_id") % 40 === 5)
          .select((col("doc_id") + off).as("doc_id"),
            array_join(reverse(split(col("text"), " ")), " ").as("text"))
        docs.select(col("doc_id"), col("text")).unionAll(variants)
          .select(col("doc_id"),
            md5(array_join(array_sort(split(col("text"), " ")), " ")).as("fp"),
            size(split(col("text"), " ")).cast("long").as("nw"))
          .groupBy(col("fp"))
          .agg(min(col("doc_id")).as("keeper"),
            count(lit(1)).as("n_members"),
            sum(col("nw")).as("n_tokens"))
          .filter(col("n_members") >= 2)
          .orderBy(col("keeper"))
      },
      Some("""WITH mx AS (SELECT coalesce(max(doc_id) + 1, 1) AS off FROM documents),
u AS (SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + (SELECT off FROM mx) AS doc_id,
    array_to_string(list_reverse(string_split(text, ' ')), ' ') AS text
  FROM documents WHERE doc_id % 40 = 5),
f AS (SELECT doc_id,
    md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS fp,
    len(string_split(text, ' ')) AS nw
  FROM u)
SELECT fp, min(doc_id) AS keeper, count(*) AS n_members,
  CAST(sum(nw) AS BIGINT) AS n_tokens
FROM f GROUP BY fp HAVING count(*) >= 2
ORDER BY keeper NULLS FIRST""")),


    // ---- X65: normalization-aware exact dedup -------------------------------
    // x01's content-hash dedup is BYTE identity — the same visible text as
    // composed é, decomposed e+◌́, or mixed case fingerprints apart and
    // slips every exact pass. This lane canonicalizes first
    // (NFC → strip_accents → lower, the new native expressions) and hashes
    // the canonical form: one extra per-row kernel on the same single
    // content-hash shuffle. Planted triples prove the catch: each %40==7
    // doc gains a composed-accent twin AND a decomposed-accent twin
    // (different bytes — raw md5 splits all three; the canonical hash
    // groups them, n_byte_variants = 3). O-class: DuckDB's own
    // nfc_normalize/strip_accents replay the canonicalization exactly.
    GQuery("x65_normalized_dedup",
      (s, d) => {
        val fns = graft.functions.GraftFunctions
        val docs = t(s, d, "documents")
        val off = graft.GraftOps.imageVariantOffset(docs, col("doc_id"))
        val comp = docs.filter(col("doc_id") % 40 === 7)
          .select((col("doc_id") + off).as("doc_id"),
            expr("replace(text, 'e', 'é')").as("text"))
        val decomp = docs.filter(col("doc_id") % 40 === 7)
          .select((col("doc_id") + off * 2).as("doc_id"),
            expr("replace(text, 'e', 'é')").as("text"))
        docs.select(col("doc_id"), col("text")).unionAll(comp).unionAll(decomp)
          .select(col("doc_id"),
            md5(lower(fns.strip_accents(fns.nfc_normalize(col("text")))))
              .as("fp"),
            md5(col("text")).as("bh"))
          .groupBy(col("fp"))
          .agg(min(col("doc_id")).as("keeper"),
            count(lit(1)).as("n_members"),
            countDistinct(col("bh")).as("n_byte_variants"))
          .filter(col("n_members") >= 2)
          .orderBy(col("keeper"))
      },
      Some("""WITH mx AS (SELECT coalesce(max(doc_id) + 1, 1) AS off FROM documents),
u AS (SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + (SELECT off FROM mx),
    replace(text, 'e', chr(233)) FROM documents WHERE doc_id % 40 = 7
  UNION ALL
  SELECT doc_id + 2 * (SELECT off FROM mx),
    replace(text, 'e', 'e' || chr(769)) FROM documents WHERE doc_id % 40 = 7),
f AS (SELECT doc_id,
    md5(lower(strip_accents(nfc_normalize(text)))) AS fp,
    md5(text) AS bh
  FROM u)
SELECT fp, min(doc_id) AS keeper, count(*) AS n_members,
  count(DISTINCT bh) AS n_byte_variants
FROM f GROUP BY fp HAVING count(*) >= 2
ORDER BY keeper NULLS FIRST""")),


    // ---- X63: multi-pass sorted-neighborhood near-dup -----------------------
    // The THIRD classic candidate generator beside the inverted index (x02)
    // and LSH (minhash/simhash): sort the corpus by a normalized key and
    // compare each doc only to its w=3 sort neighbors — candidates are
    // O(w·n), never n². Key 1 = the sorted distinct-word bag joined (order-
    // insensitive, so shuffled twins sort adjacent); pass 2 re-sorts by the
    // REVERSED bag (docs differing in their first words still collide —
    // the standard multi-pass trick; measured 24/25 of the exact pair set
    // on these fixtures vs 12/25 single-pass). Scale: the sort runs INSIDE
    // 2-char key-prefix blocks (a partitioned window, never a single-task
    // global row_number); a pair straddling a prefix boundary differs in
    // its first sorted words and is near-dup-unlikely by construction.
    // Candidates verify with the exact 5-word-shingle Jaccard at x02's 0.5
    // threshold, so precision is exact and only RECALL is heuristic.
    // DuckDB replays the identical passes — O(w·n) oracle, no quadratic
    // prune needed (unlike x02's all-pairs replay). O-class.
    GQuery("x63_sorted_neighborhood",
      (s, d) => {
        val docs = t(s, d, "documents")
        val base = docs
          .select(col("doc_id"),
            sort_array(array_distinct(split(col("text"), " "))).as("sw"))
          .select(col("doc_id"),
            concat_ws(" ", col("sw")).as("key1"),
            concat_ws(" ", reverse(col("sw"))).as("key2"))
          .localCheckpoint()
        // Neighbor pairs via lead() — NOT a rn-range self-join: a join on
        // the block key materializes |block|² rows before the range filter,
        // and synthetic vocab skews one block to most of the corpus
        // (measured ×13 on ×10 data before this rewrite; ×~1 after). lead
        // emits exactly the w pairs per row, O(w·n) regardless of skew.
        def pass(key: String) = {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(substring(col(key), 1, 2))
            .orderBy(col(key), col("doc_id"))
          base.select(col("doc_id"),
            array((1 to 3).map(i => lead(col("doc_id"), i).over(w)): _*)
              .as("nbrs"))
            .select(col("doc_id").as("a"), explode(col("nbrs")).as("b"))
            .filter(col("b").isNotNull)
            .select(least(col("a"), col("b")).as("da"),
              greatest(col("a"), col("b")).as("db"))
        }
        val cand = pass("key1").union(pass("key2")).distinct()
        val sh = graft.GraftOps.shingles(docs, col("doc_id"), col("text"), k = 5)
          .select(col("id"), col("sh"))
        cand
          .join(sh.as("sa"), col("da") === col("sa.id"))
          .join(sh.as("sb"), col("db") === col("sb.id"))
          .withColumn("inter",
            size(array_intersect(col("sa.sh"), col("sb.sh"))))
          .withColumn("jaccard",
            (col("inter").cast("double") /
              (size(col("sa.sh")) + size(col("sb.sh")) - col("inter"))
                .cast("double"))
              .cast("decimal(18,6)").cast("double"))
          .filter(col("jaccard") >= 0.5)
          .select(col("da").as("doc_a"), col("db").as("doc_b"), col("jaccard"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some("""WITH toks AS (SELECT doc_id,
    list_sort(list_distinct(string_split(text, ' '))) AS sw,
    string_split(text, ' ') AS w
  FROM documents),
k AS (SELECT doc_id, array_to_string(sw, ' ') AS key1,
    array_to_string(list_reverse(sw), ' ') AS key2, w FROM toks),
n1 AS (SELECT doc_id,
    lead(doc_id, 1) OVER win AS l1, lead(doc_id, 2) OVER win AS l2,
    lead(doc_id, 3) OVER win AS l3
  FROM k WINDOW win AS (PARTITION BY substr(key1, 1, 2)
    ORDER BY key1, doc_id)),
n2 AS (SELECT doc_id,
    lead(doc_id, 1) OVER win AS l1, lead(doc_id, 2) OVER win AS l2,
    lead(doc_id, 3) OVER win AS l3
  FROM k WINDOW win AS (PARTITION BY substr(key2, 1, 2)
    ORDER BY key2, doc_id)),
cand AS (
  SELECT least(doc_id, u.b) AS da, greatest(doc_id, u.b) AS db
  FROM (SELECT doc_id, unnest([l1, l2, l3]) AS b FROM n1) u
  WHERE u.b IS NOT NULL
  UNION
  SELECT least(doc_id, u.b), greatest(doc_id, u.b)
  FROM (SELECT doc_id, unnest([l1, l2, l3]) AS b FROM n2) u
  WHERE u.b IS NOT NULL),
sh AS (SELECT doc_id,
    CASE WHEN len(w) >= 5 THEN list_distinct(list_transform(
      range(1, len(w) - 3), i -> array_to_string(w[i:i+4], ' ')))
    ELSE [array_to_string(w, ' ')] END AS s
  FROM toks),
j AS (SELECT da, db, a.s AS sa, b.s AS sb
  FROM cand JOIN sh a ON a.doc_id = da JOIN sh b ON b.doc_id = db)
SELECT da AS doc_a, db AS doc_b,
  CAST(CAST(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
    / (len(sa) + len(sb) - len(list_intersect(sa, sb)))
    AS DECIMAL(18,6)) AS DOUBLE) AS jaccard
FROM j
WHERE CAST(CAST(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
    / (len(sa) + len(sb) - len(list_intersect(sa, sb)))
    AS DECIMAL(18,6)) AS DOUBLE) >= 0.5
ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST""")),


    // ---- X58: MinHash source-similarity matrix ------------------------------
    // Between-source shingle-Jaccard ESTIMATES from 64-lane MinHash
    // signatures — the constant-state scale path beside x19's exact
    // inverted-index overlap matrix. Why it wins at 100 TB: min is
    // idempotent (duplicate shingles need no distinct — zero shingle
    // shuffles) and mergeable (map-side partial min collapses every
    // partition to ≤ |sources|×64 rows), so the ONLY exchange carries a
    // corpus-size-INDEPENDENT volume; the pair stage then runs on a
    // |sources|×64-row table. P(lane match) = J, stderr sqrt(J(1-J)/64)
    // ≈ 0.06 worst-case. Lane hashes are the portable md5-hex→int idiom,
    // so DuckDB replays the estimate bit-exactly (O-class — the ESTIMATOR
    // is deterministic; PipelineSpec separately bounds it against the
    // exact Jaccard). The signature table is localCheckpointed — the
    // persisted artifact a production run would write — so the pair join
    // reads 1280 rows, not the corpus twice; the builder's plan shape
    // (partial_min before one exchange) is pinned in PlanAuditSpec.
    GQuery("x58_minhash_source_sim",
      (s, d) => {
        val lanes = graft.GraftOps.minhashLaneMins(
            t(s, d, "documents"), col("source"), col("text"), k = 3, lanes = 64)
          .localCheckpoint()
        lanes.as("a").join(broadcast(lanes.as("b")),
            col("a.lane") === col("b.lane") && col("a.grp") < col("b.grp"))
          .groupBy(col("a.grp").as("source_a"), col("b.grp").as("source_b"))
          .agg(sum(when(col("a.mh") === col("b.mh"), 1L).otherwise(0L))
            .as("n_match"))
          .select(col("source_a"), col("source_b"), col("n_match"),
            (col("n_match").cast("double") / lit(64.0))
              .cast("decimal(18,6)").cast("double").as("est_jaccard"))
          .orderBy(col("source_a"), col("source_b"))
      },
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
  FROM sg),
lanes AS (SELECT source, ln.l AS lane,
    min(((ln.l * 2 + 1) * b0 + b1) % 281474976710656) AS mh
  FROM hs CROSS JOIN (SELECT unnest(range(0, 64)) AS l) ln
  GROUP BY source, ln.l),
pairs AS (SELECT a.source AS source_a, b.source AS source_b,
    sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS n_match
  FROM lanes a JOIN lanes b ON a.lane = b.lane AND a.source < b.source
  GROUP BY 1, 2)
SELECT source_a, source_b, CAST(n_match AS BIGINT) AS n_match,
  CAST(CAST(CAST(n_match AS DOUBLE) / 64.0 AS DECIMAL(18,6)) AS DOUBLE)
    AS est_jaccard
FROM pairs ORDER BY source_a NULLS FIRST, source_b NULLS FIRST""")),


    // ---- X19: cross-source overlap matrix ----------------------------------
    // Dataset diagnostics: pairwise distinct 3-gram overlap between corpus
    // sources — the "which feeds duplicate which" matrix a curation team
    // reads before setting mixture weights (X16) or dedup order. Inverted
    // index by gram (the one shuffle), pairs counted per gram — never a
    // source-by-source cross product of documents. Overlap normalizes by the
    // smaller side's vocabulary.
    GQuery("x19_source_overlap",
      (s, d) => {
        val sg = t(s, d, "documents")
          .select(col("source"),
            explode(word_shingles(col("text"), 3)).as("g")).distinct()
        val tot = sg.groupBy(col("source")).agg(count(lit(1)).as("n"))
        sg.as("a").join(sg.as("b"),
            col("a.g") === col("b.g") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
          .agg(count(lit(1)).as("n_shared"))
          .join(tot.select(col("source").as("source_a"), col("n").as("na")), "source_a")
          .join(tot.select(col("source").as("source_b"), col("n").as("nb")), "source_b")
          .select(col("source_a"), col("source_b"), col("n_shared"),
            (col("n_shared").cast("double") / least(col("na"), col("nb")).cast("double"))
              .cast("decimal(18,6)").cast("double").as("overlap"))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some("""WITH toks AS (SELECT source, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT source,
  CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(range(1, len(w) - 1),
    i -> array_to_string(w[i:i+2], ' ')))
  ELSE [array_to_string(w, ' ')] END AS sl
FROM toks),
sg AS (SELECT DISTINCT source, unnest(sl) AS g FROM sh),
tot AS (SELECT source, count(*) AS n FROM sg GROUP BY source),
pairs AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source GROUP BY 1, 2)
SELECT source_a, source_b, n_shared,
  CAST(CAST(CAST(n_shared AS DOUBLE) / least(ta.n, tb.n) AS DECIMAL(18,6)) AS DOUBLE)
    AS overlap
FROM pairs JOIN tot ta ON ta.source = source_a JOIN tot tb ON tb.source = source_b
ORDER BY source_a NULLS FIRST, source_b NULLS FIRST"""))
  )
}
