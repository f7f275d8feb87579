package graft.operators

import graft.{GQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-5 widening (continuation): the table-maintenance operators a lake
  * pipeline runs between queries — CDC changelog merge (the MERGE INTO
  * shape), SCD2 dimension history build, the keyless point-in-interval join
  * via bin bucketing ([[graft.GraftOps.pointInIntervalJoin]]), and the
  * bucketed co-located fact-fact join as a DECLARED query (the 100 TB
  * shuffle-elimination path BucketingSpec pins on the plan). Every query is
  * O-class (DuckDB oracle).
  */
object RelationalQueries3 {

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables.table(s, d, n)
  private def dec2(c: Column): Column = c.cast("decimal(12,2)")
  private def dbl(c: Column): Column = c.cast("double")

  /** Bucketed lineitem/orders tables for q91, a [[SharedArtifact]]: the
    * in-query `bucketBy` writes were ~90% of q91's bench number, which
    * misrepresented the exchange-free SMJ being demonstrated. At 100 TB the
    * write IS a real one-time cost, paid once at layout time and amortized
    * over every later co-located join. Returns the (lineitem, orders)
    * table names. */
  private[operators] val bucketTables =
    new SharedArtifact[(String, String)]("setup_buckets")((s, d) => {
      val suf = math.abs(d.hashCode).toString
      // deterministic managed scratch: repeat runs overwrite in place and
      // the root is deleted at JVM exit — no orphan bucketed tables
      val base = graft.Scratch.dir("bucket", d)
      val li = s"graft_b_li_$suf"; val ord = s"graft_b_ord_$suf"
      s.sql(s"DROP TABLE IF EXISTS $li")
      s.sql(s"DROP TABLE IF EXISTS $ord")
      // NOTE (r18, examined): the two writes are independent and could
      // overlap (guide §2.6, the x03e pattern), but the whole helper
      // measures 0.22-0.23 s standalone min-of-3 — the 3.4-5.3 s
      // setup_buckets line in full-registry runs is single-JVM adjacency
      // (GC/page-cache inheritance), not work in this function, so the
      // thread pool would buy nothing measurable here. At 100 TB the
      // layout job doing two full table rewrites SHOULD overlap them.
      t(s, d, "lineitem").write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/li").mode("overwrite").saveAsTable(li)
      t(s, d, "orders").write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/ord").mode("overwrite").saveAsTable(ord)
      (li, ord)
    })

  val all: Seq[GQuery] = Seq(

    // CDC changelog merge (MERGE INTO semantics, engine-level): apply a
    // change stream to a snapshot with latest-wins conflict resolution —
    // inserts (key absent from the snapshot), updates (key present), deletes
    // (latest change is a tombstone; 'error' plays that role here). The
    // changelog collapses to one row per key FIRST (window rank over the
    // exact ns event time), so the merge join moves one row per touched key,
    // not the whole history; both sides then hash-partition on the key — the
    // same plan Delta/Iceberg MERGE lowers to, with no table format needed.
    // At 100 TB: snapshot and changelog co-partition (or bucket) on the key;
    // shuffle volume is |snapshot| + |touched keys|, never |history|.
    GQuery("q88_changelog_merge",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_ns").desc, col("event_id").desc)
        // events replay a profile-balance changelog: key space offset so the
        // tail of the customer snapshot overlaps (updates/deletes) and the
        // range beyond it is net-new (inserts)
        val latest = Tables.events(s, d)
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select((col("user_id") + 1450L).as("mkey"),
            col("event_type").as("op"), dec2(col("value")).as("newbal"))
        val snap = t(s, d, "customer")
          .select(col("c_custkey").as("mkey"), col("c_name"),
            dec2(col("c_acctbal")).as("bal0"))
        snap.join(latest, Seq("mkey"), "full_outer")
          .filter(col("op").isNull || col("op") =!= "error")
          .select(col("mkey"), col("c_name"),
            dbl(coalesce(col("newbal"), col("bal0"))).as("bal"),
            when(col("op").isNull, "kept")
              .when(col("bal0").isNull, "inserted")
              .otherwise("updated").as("action"))
          .orderBy(col("mkey"))
      },
      Some("""WITH latest AS (
  SELECT user_id + 1450 AS mkey, event_type AS op,
         CAST(value AS DECIMAL(12,2)) AS newbal
  FROM (SELECT user_id, event_type, value,
          row_number() OVER (PARTITION BY user_id
            ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
        FROM events) q
  WHERE rn = 1),
snap AS (SELECT c_custkey AS mkey, c_name,
                CAST(c_acctbal AS DECIMAL(12,2)) AS bal0 FROM customer)
SELECT coalesce(s.mkey, l.mkey) AS mkey, s.c_name AS c_name,
  CAST(coalesce(l.newbal, s.bal0) AS DOUBLE) AS bal,
  CASE WHEN l.op IS NULL THEN 'kept'
       WHEN s.mkey IS NULL THEN 'inserted'
       ELSE 'updated' END AS action
FROM snap s FULL OUTER JOIN latest l ON s.mkey = l.mkey
WHERE l.op IS NULL OR l.op <> 'error'
ORDER BY mkey NULLS FIRST""")),

    // SCD2 dimension-history build: turn a change event stream into
    // effective-dated version rows — valid_from = the change's event time,
    // valid_to = the NEXT change's time (half-open; null = current row).
    // One shuffle by the dimension key, then both the version number and the
    // interval close are window functions over the same (key, time) sort, so
    // Catalyst plans a single Window operator chain — no self-join, which is
    // how SCD2 is usually (quadratically) written. At 100 TB the history
    // table stays sorted-within-partition by key/time for free downstream
    // as-of lookups.
    GQuery("q89_scd2_history",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("vf_us"), col("event_id"))
        Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"),
            Tables.tsUs.as("vf_us"), dec2(col("value")).as("val2"))
          .select(col("user_id"),
            row_number().over(w).cast("long").as("ver"),
            col("vf_us"),
            lead(col("vf_us"), 1).over(w).as("vt_us"),
            dbl(col("val2")).as("val"),
            lead(col("vf_us"), 1).over(w).isNull.as("is_current"))
          .orderBy(col("user_id"), col("ver"))
      },
      Some("""SELECT user_id,
  row_number() OVER (PARTITION BY user_id ORDER BY vf_us, event_id) AS ver,
  vf_us,
  lead(vf_us) OVER (PARTITION BY user_id ORDER BY vf_us, event_id) AS vt_us,
  CAST(val2 AS DOUBLE) AS val,
  lead(vf_us) OVER (PARTITION BY user_id ORDER BY vf_us, event_id) IS NULL
    AS is_current
FROM (SELECT user_id, event_id, epoch_us(ts) AS vf_us,
        CAST(value AS DECIMAL(12,2)) AS val2
      FROM events WHERE event_type = 'purchase') e
ORDER BY user_id NULLS FIRST, ver NULLS FIRST""")),

    // Keyless point-in-interval join via bin bucketing: lineitems shipping
    // inside each urgent order's first-day window, with NO equi key used —
    // the raw formulation is a BroadcastNestedLoopJoin (O(n×m), the range-
    // join scale killer); GraftOps.pointInIntervalJoin rewrites it to an
    // equi join on a day-width bin id + residual range filter. Each point
    // owns exactly one bin so pairs match exactly once; PlanAuditSpec pins
    // the absence of BNLJ/cartesian from this plan.
    GQuery("q90_interval_bin_join",
      (s, d) => {
        val dayUs = 86400L * 1000000L
        // parquet dates here are TIMESTAMP_NTZ; the session TZ is pinned UTC,
        // so the LTZ cast unix_micros needs is an identity conversion
        def us(c: Column): Column = unix_micros(c.cast("timestamp"))
        // Pre-aggregate BOTH sides before the bin-expansion join: the final
        // aggregate needs only per-odate count/sum, so points collapse to
        // (distinct p_us) partial rows and intervals to (start, multiplicity)
        // — the join then expands |distinct keys|² per bin instead of
        // |rows|² (sf1: ~1.5G candidate pairs → ~10^5; the registry's
        // slowest query at 10×). Exact: the decimal partial sums multiply
        // by interval multiplicity, the same rational the row-level sum
        // produces. With µs-grained real data the pre-agg degenerates to
        // ~|rows| partials and the plan is unchanged — strictly-better,
        // never worse.
        val points = t(s, d, "lineitem")
          .select(col("l_quantity"), us(col("l_shipdate")).as("p_us"))
          .groupBy(col("p_us"))
          .agg(count(lit(1)).as("n_pts"), sum(dec2(col("l_quantity"))).as("qsum"))
        val intervals = t(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderdate"), us(col("o_orderdate")).as("iv_s"),
            (us(col("o_orderdate")) + dayUs).as("iv_e"))
          .groupBy(col("o_orderdate"), col("iv_s"), col("iv_e"))
          .agg(count(lit(1)).as("m"))
        graft.GraftOps.pointInIntervalJoin(points, intervals,
            col("p_us"), col("iv_s"), col("iv_e"), binWidth = dayUs)
          .groupBy(col("o_orderdate").cast("date").as("odate"))
          .agg(sum(col("n_pts") * col("m")).as("n"),
            dbl(sum(col("qsum") * col("m"))).as("qty"))
          .orderBy(col("odate"))
      },
      Some("""SELECT CAST(o_orderdate AS DATE) AS odate, count(*) AS n,
  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
FROM orders JOIN lineitem
  ON l_shipdate >= o_orderdate AND l_shipdate < o_orderdate + INTERVAL 1 DAY
WHERE o_orderpriority = '1-URGENT'
GROUP BY odate ORDER BY odate NULLS FIRST""")),

    // Bucketed co-located fact-fact join as a DECLARED query: both facts are
    // written as 8-bucket tables on the join key (external location, so the
    // warehouse stays in tmp), and the merge-hinted join then reads bucket i
    // against bucket i with NO exchange on either side — the shuffle that
    // dominates a 100 TB fact-fact join is paid once at write time and
    // amortized over every subsequent join. BucketingSpec pins the
    // exchange-free plan; this query pins the RESULT equivalence vs the
    // plain (unbucketed) join the oracle runs.
    GQuery("q91_bucketed_join",
      (s, d) => {
        // table layout (the one-time bucketed writes) is shared, so this
        // query's number measures the exchange-free SMJ itself
        val (li, ord) = bucketTables(s, d)
        s.table(li).hint("merge")
          .join(s.table(ord).hint("merge"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            dbl(sum(dec2(col("l_extendedprice")))).as("revenue"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus ORDER BY o_orderstatus NULLS FIRST""")),

    // Dynamic partition pruning as a DECLARED query: the fact is laid out
    // hive-partitioned on the join key (here customer by c_nationkey — at
    // 100 TB this is the date/tenant partitioning every lake table has), the
    // dim carries the selective predicate (region = AMERICA-like slice), and
    // Spark injects the dim's post-filter key set into the fact scan as a
    // runtime PartitionFilter — the fact reads 5/25 partitions, not 25, with
    // zero static pruning possible (the predicate is on the OTHER table).
    // The broadcast exchange is reused as the pruning subquery, so DPP costs
    // nothing beyond the join's own broadcast. PlanAuditSpec pins the
    // `dynamicpruning` expression on the scan; the oracle is the plain join
    // over the unpartitioned table — layout must not change results.
    GQuery("q92_dynamic_partition_pruning",
      (s, d) => {
        val base = graft.Scratch.dir("dpp", d)
        t(s, d, "customer")
          .write.mode("overwrite").partitionBy("c_nationkey").parquet(base)
        val fact = s.read.parquet(base)
        val dim = t(s, d, "nation").filter(col("n_regionkey") === 1)
        fact.join(broadcast(dim), fact("c_nationkey") === dim("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_cust"),
            dbl(sum(dec2(col("c_acctbal")))).as("acctbal"))
          .orderBy(col("n_name"))
      },
      Some("""SELECT n_name, count(*) AS n_cust,
  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE n_regionkey = 1
GROUP BY n_name ORDER BY n_name NULLS FIRST""")),

    // Incremental materialized-view maintenance: the MV is an algebraic
    // aggregate (count + exact decimal sum per (user, event_type)), so
    // refresh = combine the STORED partials with the delta's partials — the
    // history is never rescanned. The stored MV round-trips through parquet
    // (decimal partial state is a first-class column), the delta aggregates
    // alone, and the union re-aggregates: sum-of-counts / sum-of-sums. At
    // 100 TB both sides hash-partition on the group key and the refresh
    // moves |MV| + |delta groups| — the full-recompute oracle the driver
    // runs is exactly what this avoids paying. Decimal partials make the
    // merge order-insensitive (exact arithmetic), which is what licenses
    // the incremental plan in the first place.
    GQuery("q93_incremental_mv",
      (s, d) => {
        val base = graft.Scratch.dir("graft_mv", d)
        val cutNs = 1706054400000000000L // 2024-01-24T00:00:00Z
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("ts_ns"),
            dec2(col("value")).as("v2"))
        // nightly state: partial aggregate of everything before the cutoff,
        // persisted as the MV table (decimal sum = mergeable exact state)
        ev.filter(col("ts_ns") < cutNs)
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("v2")).as("sv"))
          .write.mode("overwrite").parquet(base)
        // today's refresh: aggregate ONLY the delta, then merge with the MV
        val delta = ev.filter(col("ts_ns") >= cutNs)
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("v2")).as("sv"))
        s.read.parquet(base).unionByName(delta)
          .groupBy(col("user_id"), col("event_type"))
          .agg(sum(col("n")).as("n_events"), dbl(sum(col("sv"))).as("total"))
          .orderBy(col("user_id"), col("event_type"))
      },
      Some("""SELECT user_id, event_type, count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM events
GROUP BY user_id, event_type
ORDER BY user_id NULLS FIRST, event_type NULLS FIRST""")),

    // TPC-H Q2 shape: the min-within-group decorrelation — "suppliers selling
    // a part at that part's minimum observed price". The correlated scalar
    // MIN subquery must decorrelate into ONE per-part aggregate joined back
    // on the key (pinned in PlanAuditSpec) — a per-outer-row re-scan of the
    // fact is the classic O(n²) planner failure here. MIN over doubles is an
    // exact selection (no accumulation), so the comparison is deterministic
    // with no decimal staging; duplicate (part, supplier) matches at the min
    // price yield identical rows, which the total order renders stably.
    GQuery("q94_min_price_supplier",
      (s, d) => {
        Tables.registerViews(s, d, Seq("part", "supplier", "lineitem"))
        s.sql("""SELECT p.p_partkey, s.s_name, l.l_extendedprice AS price
FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE p.p_size <= 5
  AND l.l_extendedprice = (SELECT min(l2.l_extendedprice)
                           FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
ORDER BY p.p_partkey, s.s_name""")
      },
      Some("""SELECT p.p_partkey, s.s_name, l.l_extendedprice AS price
FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE p.p_size <= 5
  AND l.l_extendedprice = (SELECT min(l2.l_extendedprice)
                           FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
ORDER BY p.p_partkey NULLS FIRST, s.s_name NULLS FIRST""")),

    // TPC-H Q20 shape: a nested IN chain with a TWO-column correlated scalar
    // aggregate at the bottom — "suppliers with an outsized single shipment
    // of a promo part" (lineitem plays partsupp's role: the inner aggregate
    // correlates on BOTH l_partkey and l_suppkey). Catalyst must decorrelate
    // the inner avg into one (part, supp) aggregate + join AND turn both INs
    // into semi joins — three fact passes total, zero per-row re-scans. The
    // threshold is decimal-sum / count (exact) scaled by 1.5 (exactly
    // representable), so the double comparison agrees across engines.
    GQuery("q95_excess_shipment_supplier",
      (s, d) => {
        Tables.registerViews(s, d, Seq("part", "supplier", "lineitem"))
        s.sql("""SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE s.s_suppkey IN (
  SELECT l.l_suppkey FROM lineitem l
  WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
    AND l.l_quantity > 1.5 *
      (SELECT CAST(sum(CAST(l2.l_quantity AS DECIMAL(12,2))) AS DOUBLE)
              / count(*)
       FROM lineitem l2
       WHERE l2.l_partkey = l.l_partkey AND l2.l_suppkey = l.l_suppkey))
ORDER BY s.s_suppkey""")
      },
      Some("""SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE s.s_suppkey IN (
  SELECT l.l_suppkey FROM lineitem l
  WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
    AND l.l_quantity > 1.5 *
      (SELECT CAST(sum(CAST(l2.l_quantity AS DECIMAL(12,2))) AS DOUBLE)
              / count(*)
       FROM lineitem l2
       WHERE l2.l_partkey = l.l_partkey AND l2.l_suppkey = l.l_suppkey))
ORDER BY s.s_suppkey NULLS FIRST""")),

    // Table diff (data reconciliation): the regression gate a pipeline runs
    // between two snapshot versions — added / removed / changed rows from ONE
    // full-outer join on the key with value comparison as the residual. The
    // "new" snapshot is derived deterministically from the old (deletes %17,
    // balance updates %5, inserts %13 at shifted keys) so both engines build
    // identical inputs. At 100 TB both snapshots co-partition (or bucket) on
    // the key — the diff moves each side once, and the 'same' class (the
    // overwhelming majority) is filtered before anything is returned. This
    // is q88's changelog-merge inverted: merge applies known changes, diff
    // discovers them.
    GQuery("q96_table_diff",
      (s, d) => {
        val a = t(s, d, "customer").select(col("c_custkey").as("k"),
          dec2(col("c_acctbal")).as("bal"), col("c_mktsegment").as("seg"))
        val b = a.filter(col("k") % 17 =!= 0)
          .withColumn("bal",
            when(col("k") % 5 === 0, col("bal") + 10).otherwise(col("bal")))
          .unionByName(a.filter(col("k") % 13 === 0)
            .select((col("k") + 100000L).as("k"), col("bal"), col("seg")))
        a.as("a").join(b.as("b"), col("a.k") === col("b.k"), "full_outer")
          .select(coalesce(col("a.k"), col("b.k")).as("k"),
            when(col("a.k").isNull, "added")
              .when(col("b.k").isNull, "removed")
              .when(col("a.bal") =!= col("b.bal")
                || col("a.seg") =!= col("b.seg"), "changed")
              .otherwise("same").as("change"),
            dbl(col("a.bal")).as("old_bal"), dbl(col("b.bal")).as("new_bal"))
          .filter(col("change") =!= "same")
          .orderBy(col("k"))
      },
      Some("""WITH a AS (SELECT c_custkey AS k, CAST(c_acctbal AS DECIMAL(12,2)) AS bal,
    c_mktsegment AS seg FROM customer),
b AS (SELECT k, CASE WHEN k % 5 = 0 THEN bal + 10 ELSE bal END AS bal, seg
    FROM a WHERE k % 17 <> 0
  UNION ALL
  SELECT k + 100000, bal, seg FROM a WHERE k % 13 = 0),
d AS (SELECT coalesce(a.k, b.k) AS k,
    CASE WHEN a.k IS NULL THEN 'added' WHEN b.k IS NULL THEN 'removed'
         WHEN a.bal <> b.bal OR a.seg <> b.seg THEN 'changed'
         ELSE 'same' END AS change,
    CAST(a.bal AS DOUBLE) AS old_bal, CAST(b.bal AS DOUBLE) AS new_bal
  FROM a FULL OUTER JOIN b ON a.k = b.k)
SELECT k, change, old_bal, new_bal FROM d WHERE change <> 'same'
ORDER BY k NULLS FIRST""")),

    // Snapshot time travel: q96's diff re-expressed over a VERSIONED table —
    // two snapshot versions are COMMITTED through the parquet+manifest
    // layout (write data, then atomically publish the manifest pointer:
    // the Delta/Iceberg protocol reduced to its load-bearing parts), read
    // back as `VERSION AS OF` 1 and latest, and reconciled with the same
    // full-outer keyed diff. The oracle replays the logical v1/v2
    // definitions directly — storage round-trip and time-travel resolution
    // must be bit-invisible. At 100 TB each snapshot read is an ordinary
    // parquet scan (pruning/pushdown/splits unchanged), and the manifest
    // listing costs one directory list, not a data scan.
    GQuery("q110_time_travel_diff",
      (s, d) => {
        import graft.sources.VersionedTable
        val root = graft.Scratch.dir("timetravel", d)
        val a = t(s, d, "customer").select(col("c_custkey").as("k"),
          dec2(col("c_acctbal")).as("bal"), col("c_mktsegment").as("seg"))
        val b = a.filter(col("k") % 17 =!= 0)
          .withColumn("bal",
            when(col("k") % 5 === 0, col("bal") + 10).otherwise(col("bal")))
          .unionByName(a.filter(col("k") % 13 === 0)
            .select((col("k") + 100000L).as("k"), col("bal"), col("seg")))
        VersionedTable.reset(s, root)
        VersionedTable.commit(a, root)
        VersionedTable.commit(b, root)
        val va = VersionedTable.snapshot(s, root, asOf = Some(1))
        val vb = VersionedTable.snapshot(s, root) // latest = 2
        va.as("a").join(vb.as("b"), col("a.k") === col("b.k"), "full_outer")
          .select(coalesce(col("a.k"), col("b.k")).as("k"),
            when(col("a.k").isNull, "added")
              .when(col("b.k").isNull, "removed")
              .when(col("a.bal") =!= col("b.bal")
                || col("a.seg") =!= col("b.seg"), "changed")
              .otherwise("same").as("change"),
            dbl(col("a.bal")).as("old_bal"), dbl(col("b.bal")).as("new_bal"))
          .filter(col("change") =!= "same")
          .orderBy(col("k"))
      },
      Some("""WITH a AS (SELECT c_custkey AS k, CAST(c_acctbal AS DECIMAL(12,2)) AS bal,
    c_mktsegment AS seg FROM customer),
b AS (SELECT k, CASE WHEN k % 5 = 0 THEN bal + 10 ELSE bal END AS bal, seg
    FROM a WHERE k % 17 <> 0
  UNION ALL
  SELECT k + 100000, bal, seg FROM a WHERE k % 13 = 0),
d AS (SELECT coalesce(a.k, b.k) AS k,
    CASE WHEN a.k IS NULL THEN 'added' WHEN b.k IS NULL THEN 'removed'
         WHEN a.bal <> b.bal OR a.seg <> b.seg THEN 'changed'
         ELSE 'same' END AS change,
    CAST(a.bal AS DOUBLE) AS old_bal, CAST(b.bal AS DOUBLE) AS new_bal
  FROM a FULL OUTER JOIN b ON a.k = b.k)
SELECT k, change, old_bal, new_bal FROM d WHERE change <> 'same'
ORDER BY k NULLS FIRST""")),

    // TPC-H Q15 shape: aggregate → max-of-aggregate → join back ("the top
    // revenue supplier(s)"). Q15 defines the revenue relation as a VIEW used
    // twice; Spark's inline-CTE plan would aggregate the fact TWICE (a
    // scalar subquery does not share exchanges with the join side — verified
    // on the executed plan), so the view is materialized ONCE via
    // localCheckpoint — the same materialize-the-expensive-artifact move as
    // the near-dup pair table — and both consumers (the tiny broadcast MAX
    // and the supplier join) read the materialized rows. The equality
    // filters on the EXACT decimal sum (doubles could tie-break differently
    // across engines); only the final projection converts to DOUBLE.
    GQuery("q97_top_revenue_supplier",
      (s, d) => {
        val rev = t(s, d, "lineitem")
          .filter(col("l_shipdate") >= "1996-01-01"
            && col("l_shipdate") < "1996-04-01")
          .groupBy(col("l_suppkey"))
          .agg(sum(dec2(col("l_extendedprice"))).as("r"))
          .localCheckpoint()
        val mx = rev.agg(max(col("r")).as("mr"))
        rev.join(broadcast(mx), col("r") === col("mr"))
          .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), dbl(col("r")).as("total_rev"))
          .orderBy(col("s_suppkey"))
      },
      Some("""WITH rev AS (
  SELECT l_suppkey AS sk, sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS r
  FROM lineitem
  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_rev
FROM supplier JOIN rev ON s_suppkey = sk
WHERE r = (SELECT max(r) FROM rev)
ORDER BY s_suppkey NULLS FIRST""")),

    // TPC-H Q18 shape: IN over a GROUP BY ... HAVING on the same fact — the
    // "large-volume orders" probe. The HAVING aggregate filters the key set
    // FIRST (one fact aggregate, exact decimal threshold), the IN becomes a
    // semi join on the already-aggregated keys, and the outer 3-table join
    // re-aggregates only the qualifying orders. At 100 TB the inner
    // aggregate is the cheap pass (one column) and the semi join prunes the
    // expensive one.
    GQuery("q98_large_volume_orders",
      (s, d) => {
        Tables.registerViews(s, d, Seq("customer", "orders", "lineitem"))
        s.sql("""SELECT c_name, o_orderkey,
  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
FROM customer JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 150)
GROUP BY c_name, o_orderkey ORDER BY o_orderkey""")
      },
      Some("""SELECT c_name, o_orderkey,
  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
FROM customer JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 150)
GROUP BY c_name, o_orderkey ORDER BY o_orderkey NULLS FIRST""")),

    // TPC-H Q4 shape: EXISTS-gated priority counts ("orders where at least
    // one line shipped after the order date"). The EXISTS decorrelates to a
    // semi join on o_orderkey with the date inequality as residual — one
    // pass over each table, counts grouped on the dim attribute.
    GQuery("q99_priority_check",
      (s, d) => {
        Tables.registerViews(s, d, Seq("orders", "lineitem"))
        s.sql("""SELECT o_orderpriority, count(*) AS n
FROM orders
WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority ORDER BY o_orderpriority""")
      },
      Some("""SELECT o_orderpriority, count(*) AS n
FROM orders
WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority ORDER BY o_orderpriority NULLS FIRST""")),

    // Time-series gap fill: a generated date spine LEFT-joins sparse daily
    // aggregates so empty days surface as explicit zero rows — the
    // resampling step every downstream window/trend computation assumes
    // (a missing day silently skews a moving average; an explicit zero does
    // not). The spine generates from one tiny min/max aggregate
    // (sequence + explode — no driver loop); at 100 TB the spine is |days|
    // rows against hash-partitioned daily partials, a broadcast join.
    // value >= 250 keeps ~0.6% of events, leaving genuinely empty days.
    GQuery("q100_gapfill_daily",
      (s, d) => {
        val ev = Tables.events(s, d).filter(col("value") >= 250.0)
          .select(to_date(col("ts")).as("day"), dec2(col("value")).as("v2"))
        val daily = ev.groupBy(col("day"))
          .agg(count(lit(1)).as("n"), sum(col("v2")).as("sv"))
        val spine = Tables.events(s, d)
          .agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
          .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
        spine.join(daily, Seq("day"), "left")
          .select(col("day"), coalesce(col("n"), lit(0L)).as("n"),
            dbl(coalesce(col("sv"), lit(0).cast("decimal(12,2)"))).as("sv"))
          .orderBy(col("day"))
      },
      Some("""WITH b AS (SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
  FROM events),
spine AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM b),
daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n,
    sum(CAST(value AS DECIMAL(12,2))) AS sv
  FROM events WHERE value >= 250.0 GROUP BY 1)
SELECT s.day, coalesce(d.n, 0) AS n,
  CAST(coalesce(d.sv, 0) AS DOUBLE) AS sv
FROM spine s LEFT JOIN daily d USING (day)
ORDER BY s.day NULLS FIRST""")),

    // Funnel / event-sequence analytics: staged view → click → purchase
    // conversion per user, each stage strictly after the previous and within
    // a 7-day window of it — the ordered-pattern query (MATCH_RECOGNIZE's
    // most common use) expressed as successive min-after-anchor aggregations,
    // which decorrelate to hash joins + groupBys (no per-row re-scans, no
    // window over the full event stream). All arithmetic on the exact ns
    // BIGINT. At 100 TB each stage shuffles by user_id once and the funnel
    // table stays |users| rows; stage aggregates are map-side combinable.
    GQuery("q101_funnel",
      (s, d) => {
        val wk = 604800000000L // 7 days in us
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            Tables.tsUs.as("ts_us"))
        val v = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts_us")).as("t1"))
        val c = ev.filter(col("event_type") === "click").join(v, "user_id")
          .filter(col("ts_us") > col("t1") && col("ts_us") < col("t1") + wk)
          .groupBy(col("user_id"), col("t1")).agg(min(col("ts_us")).as("t2"))
        val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
          .filter(col("ts_us") > col("t2") && col("ts_us") < col("t2") + wk)
          .groupBy(col("user_id"), col("t1"), col("t2"))
          .agg(min(col("ts_us")).as("t3"))
        v.join(c.select(col("user_id"), col("t2")), Seq("user_id"), "left")
          .join(p.select(col("user_id"), col("t3")), Seq("user_id"), "left")
          .select(col("user_id"),
            when(col("t3").isNotNull, 3L).when(col("t2").isNotNull, 2L)
              .otherwise(1L).as("stage"),
            (col("t3") - col("t1")).as("conv_us"))
          .groupBy(col("stage"))
          .agg(count(lit(1)).as("n_users"), sum(col("conv_us")).as("total_conv_us"))
          .orderBy(col("stage"))
      },
      Some("""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
v AS (SELECT user_id, min(ts_us) AS t1 FROM ev
  WHERE event_type = 'view' GROUP BY 1),
c AS (SELECT e.user_id, v.t1, min(e.ts_us) AS t2
  FROM ev e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts_us > v.t1
    AND e.ts_us < v.t1 + 604800000000 GROUP BY 1, 2),
p AS (SELECT e.user_id, c.t2, min(e.ts_us) AS t3
  FROM ev e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts_us > c.t2
    AND e.ts_us < c.t2 + 604800000000 GROUP BY 1, 2),
staged AS (SELECT v.user_id,
    CASE WHEN p.t3 IS NOT NULL THEN 3
         WHEN c.t2 IS NOT NULL THEN 2 ELSE 1 END AS stage,
    p.t3 - v.t1 AS conv_us
  FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id))
SELECT CAST(stage AS BIGINT) AS stage, count(*) AS n_users,
  CAST(sum(conv_us) AS BIGINT) AS total_conv_us
FROM staged GROUP BY 1 ORDER BY stage NULLS FIRST""")),

    // Winsorization — the robust-stats outlier gate (clip a metric to its
    // per-group [p05, p95] before averaging; what you run on doc lengths /
    // quality scores before they feed a mixture weight). Spark's exact
    // `percentile` interpolates identically to DuckDB's quantile_cont
    // (probed bit-for-bit), the tiny per-type percentile table broadcasts
    // back onto the fact, and the winsorized mean sums decimal(18,6)-cast
    // values so merge order can't move it. At 100 TB the exact percentile
    // swaps for approx_percentile (same shape) or a two-pass count.
    GQuery("q102_winsorize",
      (s, d) => {
        val ev = Tables.events(s, d).select(col("event_type"), col("value"))
        val pct = ev.groupBy(col("event_type")).agg(
          expr("percentile(value, 0.05)").as("p05"),
          expr("percentile(value, 0.95)").as("p95"))
        ev.join(broadcast(pct), "event_type")
          .select(col("event_type"),
            least(greatest(col("value"), col("p05")), col("p95")).as("wv"),
            (col("value") < col("p05")).cast("long").as("lo"),
            (col("value") > col("p95")).cast("long").as("hi"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("lo")).as("n_lo"), sum(col("hi")).as("n_hi"),
            (sum(col("wv").cast("decimal(18,6)")).cast("double") /
              count(lit(1))).cast("decimal(18,6)").cast("double").as("wmean"))
          .orderBy(col("event_type"))
      },
      Some("""WITH pct AS (SELECT event_type, quantile_cont(value, 0.05) AS p05,
    quantile_cont(value, 0.95) AS p95 FROM events GROUP BY 1),
w AS (SELECT e.event_type,
    least(greatest(e.value, p.p05), p.p95) AS wv,
    CASE WHEN e.value < p.p05 THEN 1 ELSE 0 END AS lo,
    CASE WHEN e.value > p.p95 THEN 1 ELSE 0 END AS hi
  FROM events e JOIN pct p USING (event_type))
SELECT event_type, count(*) AS n,
  CAST(sum(lo) AS BIGINT) AS n_lo, CAST(sum(hi) AS BIGINT) AS n_hi,
  CAST(CAST(CAST(sum(CAST(wv AS DECIMAL(18,6))) AS DOUBLE) / count(*)
    AS DECIMAL(18,6)) AS DOUBLE) AS wmean
FROM w GROUP BY 1 ORDER BY event_type NULLS FIRST""")),

    // XML envelope codec (Spark 4 to_xml/from_xml, no external package):
    // each customer row serializes to an XML fragment and parses back —
    // entity escaping (&, <) round-trips losslessly, exercised by every
    // c_name. The oracle replays the identity projection: XML is pure
    // transport here, any codec asymmetry surfaces as a hash mismatch.
    // Completes the envelope-format matrix (CSV q45 / JSON q46 / ORC q47 /
    // Avro q74 / Variant q32). Per-row codec, no shuffle beyond the sort.
    GQuery("q103_xml_roundtrip",
      (s, d) => {
        val xml = t(s, d, "customer")
          .select(to_xml(struct(col("c_custkey"), col("c_name"),
            col("c_mktsegment"), col("c_acctbal"))).as("x"))
        xml.select(from_xml(col("x"), lit(
            "struct<c_custkey: bigint, c_name: string, c_mktsegment: string, c_acctbal: double>"))
            .as("r"))
          .select(col("r.c_custkey").as("c_custkey"),
            col("r.c_name").as("c_name"),
            col("r.c_mktsegment").as("c_mktsegment"),
            dbl(dec2(col("r.c_acctbal"))).as("bal"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name, c_mktsegment,
  CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal
FROM customer ORDER BY c_custkey NULLS FIRST""")),

    // Time-weighted average (TWAP): each observation holds its value until
    // the group's next observation, so irregular sampling can't bias the
    // mean — the time-series aggregate sensors/prices need that a plain AVG
    // gets wrong. duration = lead(ts) - ts in exact µs; value×duration stays
    // in DECIMAL (exact cents×µs integers, merge-order-free); the final
    // ratio runs in double on the two exact sums. One window + one groupBy,
    // both shuffled by the same key — Catalyst reuses the partitioning.
    GQuery("q104_twap",
      (s, d) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("ts_us"), col("event_id"))
        Tables.events(s, d)
          .select(col("event_type"), col("event_id"),
            Tables.tsUs.as("ts_us"), dec2(col("value")).as("v2"))
          .withColumn("dur", lead(col("ts_us"), 1).over(w) - col("ts_us"))
          .filter(col("dur").isNotNull)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_obs"), sum(col("dur")).as("total_dur_us"),
            (sum(col("v2") * col("dur")).cast("double") /
              sum(col("dur")).cast("double"))
              .cast("decimal(18,6)").cast("double").as("twap"),
            (sum(col("v2")).cast("double") / count(lit(1)))
              .cast("decimal(18,6)").cast("double").as("plain_mean"))
          .orderBy(col("event_type"))
      },
      Some("""WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
    CAST(value AS DECIMAL(12,2)) AS v2 FROM events),
l AS (SELECT event_type, v2,
    lead(ts_us) OVER (PARTITION BY event_type ORDER BY ts_us, event_id)
      - ts_us AS dur
  FROM e)
SELECT event_type, count(*) AS n_obs,
  CAST(sum(dur) AS BIGINT) AS total_dur_us,
  CAST(CAST(CAST(sum(v2 * dur) AS DOUBLE) / CAST(sum(dur) AS DOUBLE)
    AS DECIMAL(18,6)) AS DOUBLE) AS twap,
  CAST(CAST(CAST(sum(v2) AS DOUBLE) / count(*) AS DECIMAL(18,6)) AS DOUBLE)
    AS plain_mean
FROM l WHERE dur IS NOT NULL
GROUP BY 1 ORDER BY event_type NULLS FIRST""")),

    // OHLC bars (candlesticks): per-day open/high/low/close over the value
    // stream — open/close are the endpoint rows of the (ts, event_id) order,
    // selected by two row_number windows over the SAME day partitioning
    // (one sort each direction, no self-join), high/low/count fold in the
    // same groupBy. The resample-to-bars step every time-series store runs;
    // at 100 TB the day partitioning is the table's natural layout and the
    // windows lower to per-partition sorts.
    GQuery("q105_ohlc_bars",
      (s, d) => {
        val asc = Window.partitionBy(col("day"))
          .orderBy(col("ts_us"), col("event_id"))
        val desc = Window.partitionBy(col("day"))
          .orderBy(col("ts_us").desc, col("event_id").desc)
        Tables.events(s, d)
          .select(to_date(col("ts")).as("day"), col("event_id"),
            Tables.tsUs.as("ts_us"), dec2(col("value")).as("v2"))
          .withColumn("rn_o", row_number().over(asc))
          .withColumn("rn_c", row_number().over(desc))
          .groupBy(col("day"))
          .agg(dbl(max(when(col("rn_o") === 1, col("v2")))).as("open"),
            dbl(max(col("v2"))).as("high"), dbl(min(col("v2"))).as("low"),
            dbl(max(when(col("rn_c") === 1, col("v2")))).as("close"),
            count(lit(1)).as("n"))
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

    // Order-invariant table checksum — "are these two replicas identical?"
    // answered with one aggregate per table and 16 bytes over the wire,
    // the cheap precursor to q96's row-level diff. Each row renders to a
    // canonical '|'-joined string (fixed-scale decimals and dates — never
    // raw doubles, whose formatting is engine-specific), md5-hashes, and the
    // top 60 bits fold with XOR: associative + commutative, so partitioning,
    // parallelism and row order can never move the checksum — and no
    // overflow semantics to disagree on. At 100 TB this is an embarrassingly
    // parallel scan per replica with a 1-row result.
    GQuery("q106_table_checksum",
      (s, d) => {
        def h(repr: Column): Column =
          expr("CAST(conv(substr(md5(__r), 1, 15), 16, 10) AS BIGINT)")
        def one(tbl: String, repr: Column): DataFrame =
          t(s, d, tbl).select(repr.as("__r"))
            .select(lit(tbl).as("tbl"), h(repr).as("h"))
            .groupBy(col("tbl"))
            .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("checksum"))
        val cust = one("customer", concat_ws("|", col("c_custkey"),
          col("c_name"), col("c_mktsegment"),
          dec2(col("c_acctbal")).cast("string"), col("c_nationkey")))
        val ord = one("orders", concat_ws("|", col("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"),
          dec2(col("o_totalprice")).cast("string"),
          col("o_orderdate").cast("date").cast("string")))
        cust.union(ord).orderBy(col("tbl"))
      },
      Some("""WITH c AS (SELECT concat_ws('|', c_custkey, c_name, c_mktsegment,
    CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR), c_nationkey) AS r
  FROM customer),
o AS (SELECT concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
    CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR),
    CAST(CAST(o_orderdate AS DATE) AS VARCHAR)) AS r
  FROM orders),
h AS (SELECT 'customer' AS tbl,
    CAST(concat('0x', substr(md5(r), 1, 15)) AS BIGINT) AS h FROM c
  UNION ALL
  SELECT 'orders' AS tbl,
    CAST(concat('0x', substr(md5(r), 1, 15)) AS BIGINT) AS h FROM o)
SELECT tbl, count(*) AS n_rows, bit_xor(h) AS checksum
FROM h GROUP BY 1 ORDER BY tbl NULLS FIRST""")),

    // EWMA (exponential smoothing, α=0.2) — the recursive time-series
    // aggregate (v_t = αx_t + (1-α)v_{t-1}) that has no windowed-SQL form.
    // THE MERGEABLE FORMULATION (the 100 TB path the r9 verdict asked for):
    // each observation is the affine transform v → 0.8·v + 0.2·x, and
    // affine transforms compose associatively — a time-contiguous SEGMENT
    // of observations collapses to one (a, b) pair, and segments compose
    // in time order: (a2,b2)∘(a1,b1) = (a2·a1, a2·b1 + b2). Seeding the
    // fold at v0 = x_first reproduces the v1 = x1 convention exactly
    // (0.8·x1 + 0.2·x1 = x1 up to 1 ulp). Shape: segments are CALENDAR
    // DAYS, so the shuffle key is (event_type, day) — per-key history
    // splits across #days tasks instead of the old one-task-per-key
    // serial fold (5 → 150 folds at sf0.1; years of segments at 100 TB) —
    // then one tiny per-key reduction over ≤#days (a,b) pairs. Per-task
    // state is O(1); the per-key final state is O(#days), not O(rows).
    // Cross-engine exactness: floating-point composition is NOT
    // bit-associative, so the oracle replays the IDENTICAL two-level op
    // sequence (list_reduce over per-day pair lists, then list_reduce over
    // day pairs — Spark `aggregate` HOF ≡ DuckDB list_reduce, both
    // left-to-right) rather than the flat sequential fold, and both
    // engines produce the same doubles bit-for-bit before rounding.
    GQuery("q107_ewma",
      (s, d) => {
        import s.implicits._
        val dayUs = 86400000000L
        val segs = Tables.events(s, d)
          .select(col("event_type"), Tables.tsUs.as("ts_us"),
            col("event_id"), dec2(col("value")).cast("double").as("x"))
          .withColumn("bucket", expr(s"ts_us div $dayUs"))
          .select(col("event_type"), col("bucket"), col("ts_us"),
            col("event_id"), col("x"))
          .repartition(col("event_type"), col("bucket"))
          .sortWithinPartitions(col("event_type"), col("bucket"),
            col("ts_us"), col("event_id"))
          .as[(String, Long, Long, Long, Double)]
          .mapPartitions { it =>
            val buf = it.buffered
            new Iterator[(String, Long, Double, Double, Double, Long)] {
              def hasNext: Boolean = buf.hasNext
              def next(): (String, Long, Double, Double, Double, Long) = {
                val (key, bucket, _, _, x0) = buf.next()
                // seed = the first observation's own pair (0.8, 0.2·x0),
                // matching list_reduce's acc-starts-at-element-one
                var a = 0.8; var b = 0.2 * x0; var n = 1L
                while (buf.hasNext && buf.head._1 == key
                    && buf.head._2 == bucket) {
                  val x = buf.next()._5
                  a = 0.8 * a
                  b = 0.8 * b + 0.2 * x   // p.a·acc.b + p.b, p = (0.8, 0.2x)
                  n += 1L
                }
                (key, bucket, a, b, x0, n)
              }
            }
          }
          .toDF("event_type", "bucket", "a", "b", "fx", "n")
        segs
          .groupBy(col("event_type"))
          .agg(sort_array(collect_list(struct(col("bucket"), col("a"),
            col("b"), col("fx")))).as("segs"),
            sum(col("n")).as("n"))
          .select(col("event_type"), col("n"),
            expr("""aggregate(
                slice(segs, 2, greatest(size(segs) - 1, 0)),
                named_struct('a', segs[0].a, 'b', segs[0].b),
                (acc, s) -> named_struct('a', s.a * acc.a,
                                         'b', s.a * acc.b + s.b))""").as("ab"),
            col("segs")(0).getField("fx").as("fx"))
          .select(col("event_type"), col("n"),
            (col("ab.a") * col("fx") + col("ab.b"))
              .cast("decimal(18,6)").cast("double").as("ewma"))
          .orderBy(col("event_type"))
      },
      Some("""WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
    CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS x FROM events),
b AS (SELECT event_type, ts_us // 86400000000 AS bucket, ts_us, event_id, x
  FROM e),
seg AS (SELECT event_type, bucket,
    list(struct_pack(a := CAST(0.8 AS DOUBLE), b := 0.2 * x)
      ORDER BY ts_us, event_id) AS ps,
    first(x ORDER BY ts_us, event_id) AS fx,
    count(*) AS n
  FROM b GROUP BY 1, 2),
segf AS (SELECT event_type, bucket, fx, n,
    list_reduce(ps, (acc, p) ->
      struct_pack(a := p.a * acc.a, b := p.a * acc.b + p.b)) AS ab
  FROM seg),
k AS (SELECT event_type,
    list(struct_pack(a := ab.a, b := ab.b) ORDER BY bucket) AS pairs,
    first(fx ORDER BY bucket) AS fx,
    sum(n) AS n
  FROM segf GROUP BY 1),
f AS (SELECT event_type, n, fx,
    list_reduce(pairs, (acc, p) ->
      struct_pack(a := p.a * acc.a, b := p.a * acc.b + p.b)) AS ab
  FROM k)
SELECT event_type, CAST(n AS BIGINT) AS n,
  CAST(CAST(ab.a * fx + ab.b AS DECIMAL(18,6)) AS DOUBLE) AS ewma
FROM f ORDER BY event_type NULLS FIRST""")),

    // Markov transition matrix over per-user event sequences: lead() pairs
    // each event with the user's next one (one shuffle by user, windows
    // lower to per-key sorts), counts land per (from, to) cell, and row
    // probabilities normalize by a window sum over the from-state — integer
    // counts divided once in double. The behavioral-model counterpart of
    // q101's funnel: the funnel asks "did the path happen", this measures
    // every path edge's likelihood. |types|² output regardless of input.
    GQuery("q108_markov_transitions",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            Tables.tsUs.as("ts_us"), col("event_type"))
          .withColumn("to_type", lead(col("event_type"), 1).over(w))
          .filter(col("to_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("p",
            (col("n").cast("double") / sum(col("n")).over(
              Window.partitionBy(col("from_type"))))
              .cast("decimal(18,6)").cast("double"))
          .orderBy(col("from_type"), col("to_type"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
  FROM events),
l AS (SELECT event_type AS from_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
      AS to_type
  FROM e),
c AS (SELECT from_type, to_type, count(*) AS n FROM l
  WHERE to_type IS NOT NULL GROUP BY 1, 2)
SELECT from_type, to_type, n,
  CAST(CAST(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type)
    AS DECIMAL(18,6)) AS DOUBLE) AS p
FROM c ORDER BY from_type NULLS FIRST, to_type NULLS FIRST""")),

    // Constraint / referential-integrity audit — the data-quality report a
    // lake runs before promoting a snapshot: FK orphan counts (anti joins —
    // each plans as a broadcast/shuffled anti, never a subquery re-scan),
    // null-rate and range-violation counts, one row per rule. Rules that
    // pass report 0 rather than vanishing, so the report's shape is stable
    // for diffing run-over-run. Each rule is one aggregate over one scan;
    // the union is |rules| rows.
    GQuery("q109_integrity_audit",
      (s, d) => {
        def rule(name: String, df: DataFrame): DataFrame =
          df.agg(count(lit(1)).as("n_violations"))
            .select(lit(name).as("rule"), col("n_violations"))
        val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
        val c = t(s, d, "customer"); val n = t(s, d, "nation")
        rule("fk_lineitem_orders",
            li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti"))
          .union(rule("fk_orders_customer",
            o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")))
          .union(rule("fk_customer_nation",
            c.join(n, c("c_nationkey") === n("n_nationkey"), "left_anti")))
          .union(rule("null_customer_name", c.filter(col("c_name").isNull)))
          .union(rule("range_event_value", Tables.events(s, d)
            .filter(col("value") < 0.0 || col("value") > 400.0)))
          .orderBy(col("rule"))
      },
      Some("""SELECT 'fk_customer_nation' AS rule, count(*) AS n_violations
  FROM customer c WHERE NOT EXISTS
    (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
UNION ALL
SELECT 'fk_lineitem_orders', count(*) FROM lineitem l WHERE NOT EXISTS
  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'fk_orders_customer', count(*) FROM orders o WHERE NOT EXISTS
  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'null_customer_name', count(*) FROM customer WHERE c_name IS NULL
UNION ALL
SELECT 'range_event_value', count(*) FROM events
  WHERE value < 0.0 OR value > 400.0
ORDER BY rule NULLS FIRST""")),

    // Q111: distribution window functions — ntile / percent_rank / cume_dist,
    // the ANSI trio the window battery (q18/q19/q20) did not yet cover.
    // All three are rank-derived (ntile = bucketed row_number,
    // percent_rank = (rank-1)/(n-1), cume_dist = n_le/n), so with a
    // deterministic total ORDER BY (price, then linenumber key) every value
    // is an exact small-integer ratio — the doubles agree bit-for-bit
    // across engines; decimal(18,6) quantization guards the presentation.
    // Scale: one hash exchange on the partition key, in-partition sort —
    // the canonical window shape.
    GQuery("q111_distribution_windows",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
        t(s, d, "lineitem")
          .filter(col("l_orderkey") % 7 === 0)
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice"),
            ntile(8).over(w).cast("long").as("octile"),
            percent_rank().over(w).cast("decimal(18,6)").cast("double")
              .as("pct_rank"),
            cume_dist().over(w).cast("decimal(18,6)").cast("double")
              .as("cume"))
          .orderBy(col("l_returnflag"), col("l_extendedprice"),
            col("l_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
  CAST(ntile(8) OVER w AS BIGINT) AS octile,
  CAST(CAST(percent_rank() OVER w AS DECIMAL(18,6)) AS DOUBLE) AS pct_rank,
  CAST(CAST(cume_dist() OVER w AS DECIMAL(18,6)) AS DOUBLE) AS cume
FROM lineitem WHERE l_orderkey % 7 = 0
WINDOW w AS (PARTITION BY l_returnflag
  ORDER BY l_extendedprice, l_orderkey, l_linenumber)
ORDER BY l_returnflag NULLS FIRST, l_extendedprice NULLS FIRST,
  l_orderkey NULLS FIRST, l_linenumber NULLS FIRST""")),

    // Q112: retention cohort matrix — the classic product-analytics rollup
    // the sequence family (funnel q101, markov q108, sessionize q76) did
    // not yet cover: users are grouped into cohorts by FIRST-ACTIVE week,
    // and each (cohort, week-offset) cell reports how many of them were
    // active that many weeks later. Week indices are pure integer µs
    // arithmetic ((ts_us div 86400e6) div 7) — no date_trunc('week'), whose
    // return TYPE differs across engines. Scale: one (user, week) distinct
    // shuffle + a mergeable per-user min; cohort sizes are a |weeks|-row
    // broadcast. The activity matrix never re-touches raw events.
    GQuery("q112_retention_cohorts",
      (s, d) => {
        val act = Tables.events(s, d)
          .select(col("user_id"),
            expr("((ts_ns div 1000) div 86400000000) div 7").as("wk"))
          .distinct()
        val cohorts = act.groupBy(col("user_id")).agg(min(col("wk")).as("cwk"))
        val sizes = cohorts.groupBy(col("cwk"))
          .agg(count(lit(1)).as("cohort_users"))
        act.join(cohorts, "user_id")
          .groupBy(col("cwk"), (col("wk") - col("cwk")).as("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_active"))
          .join(broadcast(sizes), "cwk")
          .select(col("cwk").as("cohort_week"), col("week_offset"),
            col("n_active"), col("cohort_users"),
            (col("n_active").cast("double") / col("cohort_users").cast("double"))
              .cast("decimal(18,6)").cast("double").as("retention"))
          .orderBy(col("cohort_week"), col("week_offset"))
      },
      Some("""WITH act AS (SELECT DISTINCT user_id,
    (epoch_us(ts) // 86400000000) // 7 AS wk FROM events),
coh AS (SELECT user_id, min(wk) AS cwk FROM act GROUP BY user_id),
sz AS (SELECT cwk, count(*) AS cohort_users FROM coh GROUP BY cwk),
r AS (SELECT c.cwk, a.wk - c.cwk AS week_offset,
    count(DISTINCT a.user_id) AS n_active
  FROM act a JOIN coh c USING (user_id) GROUP BY 1, 2)
SELECT r.cwk AS cohort_week, week_offset, n_active, cohort_users,
  CAST(CAST(CAST(n_active AS DOUBLE) / cohort_users AS DECIMAL(18,6)) AS DOUBLE)
    AS retention
FROM r JOIN sz ON r.cwk = sz.cwk
ORDER BY cohort_week NULLS FIRST, week_offset NULLS FIRST""")),

    // Q113: one-scan column profiling report — the pre-ingest data-quality
    // summary (null counts, exact distinct cardinality, min/max) for a set
    // of measure columns, produced in ONE aggregate pass and unpivoted to
    // a row per column via stack(). The multi-countDistinct expands the
    // input 4-way inside the single shuffle; at 100 TB the same report
    // swaps in approx_count_distinct (q35's lane) — exact here because the
    // oracle demands it. min/max quantize through double (values are
    // decimal(12,2)-scale — exact).
    GQuery("q113_column_profile",
      (s, d) => {
        val li = t(s, d, "lineitem")
        // null count as count(*) - count(col): pure integer arithmetic, no
        // SUM over anything column-derived (DeterminismAuditSpec's rule)
        def nNull(c: String) = count(lit(1)) - count(col(c))
        val a = li.agg(
          count(lit(1)).as("n"),
          nNull("l_quantity").as("z1"), countDistinct(col("l_quantity")).as("d1"),
          min(col("l_quantity")).cast("double").as("mn1"),
          max(col("l_quantity")).cast("double").as("mx1"),
          nNull("l_extendedprice").as("z2"), countDistinct(col("l_extendedprice")).as("d2"),
          min(col("l_extendedprice")).cast("double").as("mn2"),
          max(col("l_extendedprice")).cast("double").as("mx2"),
          nNull("l_discount").as("z3"), countDistinct(col("l_discount")).as("d3"),
          min(col("l_discount")).cast("double").as("mn3"),
          max(col("l_discount")).cast("double").as("mx3"),
          nNull("l_tax").as("z4"), countDistinct(col("l_tax")).as("d4"),
          min(col("l_tax")).cast("double").as("mn4"),
          max(col("l_tax")).cast("double").as("mx4"))
        a.select(col("n").as("n_rows"), expr(
            """stack(4,
              'l_quantity', z1, d1, mn1, mx1,
              'l_extendedprice', z2, d2, mn2, mx2,
              'l_discount', z3, d3, mn3, mx3,
              'l_tax', z4, d4, mn4, mx4)
              AS (col_name, n_null, n_distinct, min_v, max_v)"""))
          .select(col("col_name"), col("n_rows"), col("n_null"),
            col("n_distinct"), col("min_v"), col("max_v"))
          .orderBy(col("col_name"))
      },
      Some("""WITH a AS (SELECT count(*) AS n,
  count(*) - count(l_quantity) AS z1,
  count(DISTINCT l_quantity) AS d1,
  CAST(min(l_quantity) AS DOUBLE) AS mn1, CAST(max(l_quantity) AS DOUBLE) AS mx1,
  count(*) - count(l_extendedprice) AS z2,
  count(DISTINCT l_extendedprice) AS d2,
  CAST(min(l_extendedprice) AS DOUBLE) AS mn2, CAST(max(l_extendedprice) AS DOUBLE) AS mx2,
  count(*) - count(l_discount) AS z3,
  count(DISTINCT l_discount) AS d3,
  CAST(min(l_discount) AS DOUBLE) AS mn3, CAST(max(l_discount) AS DOUBLE) AS mx3,
  count(*) - count(l_tax) AS z4,
  count(DISTINCT l_tax) AS d4,
  CAST(min(l_tax) AS DOUBLE) AS mn4, CAST(max(l_tax) AS DOUBLE) AS mx4
  FROM lineitem)
SELECT 'l_quantity' AS col_name, n AS n_rows, z1 AS n_null, d1 AS n_distinct,
  mn1 AS min_v, mx1 AS max_v FROM a
UNION ALL SELECT 'l_extendedprice', n, z2, d2, mn2, mx2 FROM a
UNION ALL SELECT 'l_discount', n, z3, d3, mn3, mx3 FROM a
UNION ALL SELECT 'l_tax', n, z4, d4, mn4, mx4 FROM a
ORDER BY col_name NULLS FIRST""")),

    // Q114: BATCH session windows — the same session_window operator the
    // streaming lane uses (s04/s33), run as a plain batch aggregation:
    // Spark lowers it to a sort-based gap-merge per user inside one
    // shuffle, no state store. Sessionization is the canonical "needs a
    // custom operator elsewhere" query — here it is one declarative
    // groupBy, and the SAME definition serves batch backfill and the live
    // stream (the lambda-architecture parity a 100 TB pipeline needs: the
    // backfill job and the streaming job must agree on what a session IS).
    // Oracle = the lag-based gap-numbering replay (s04's), which is also
    // the portable SQL a warehouse would run.
    GQuery("q114_batch_session_window",
      (s, d) => Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), dbl(sum(dec2(col("value")))).as("sv"))
        .select(col("user_id"),
          col("session_window.start").cast("long").as("ss"),
          col("session_window.end").cast("long").as("se"),
          col("n"), col("sv"))
        .orderBy(col("user_id"), col("ss")),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
l AS (SELECT user_id, us, value,
  CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
         OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
       THEN 1 ELSE 0 END AS nf FROM e),
g AS (SELECT user_id, us, value, SUM(nf) OVER (PARTITION BY user_id ORDER BY us
  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM l)
SELECT user_id, min(us) // 1000000 AS ss, (max(us) + 1800000000) // 1000000 AS se,
  count(*) AS n, CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv
FROM g GROUP BY user_id, sid ORDER BY user_id NULLS FIRST, ss NULLS FIRST""")),

    // Q115: Unicode normalization battery — the canonicalization a
    // dedup-robust pipeline runs BEFORE fingerprinting: the same visible
    // text arrives as different byte sequences (decomposed e+◌́ vs
    // precomposed é), and md5/shingle/MinHash identity breaks on bytes,
    // not glyphs. Spark has no NFC/accent-strip builtins, so these are
    // native codegen expressions (graft.functions.{NfcNormalize,
    // StripAccents}, JDK java.text.Normalizer) — and DuckDB HAS both
    // (nfc_normalize / strip_accents), making this battery exactly
    // hash-checkable cross-engine, including the length collapse of
    // decomposed sequences under NFC. Literals cover decomposed +
    // precomposed twins, combining-mark accents, a horn-mark Vietnamese
    // word, and the ß/Đ base letters both engines must NOT strip.
    GQuery("q115_unicode_normalization",
      (s, d) => {
        import s.implicits._
        val fns = graft.functions.GraftFunctions
        Seq((0L, "café"), (1L, "café"), (2L, "naïve"),
          (3L, "Ångström"), (4L, "niño"),
          (5L, "Đường"), (6L, "straße"),
          (7L, "plain ascii"))
          .toDF("id", "raw")
          .select(col("id"),
            fns.nfc_normalize(col("raw")).as("nfc_s"),
            fns.strip_accents(col("raw")).as("stripped"),
            length(col("raw")).as("n_raw"),
            length(fns.nfc_normalize(col("raw"))).as("n_nfc"))
          .orderBy(col("id"))
      },
      Some("""WITH v(id, raw) AS (VALUES
  (0, 'café'), (1, 'café'), (2, 'naïve'),
  (3, 'Ångström'), (4, 'niño'),
  (5, 'Đường'), (6, 'straße'), (7, 'plain ascii'))
SELECT CAST(id AS BIGINT) AS id, nfc_normalize(raw) AS nfc_s,
  strip_accents(raw) AS stripped,
  CAST(length(raw) AS INTEGER) AS n_raw,
  CAST(length(nfc_normalize(raw)) AS INTEGER) AS n_nfc
FROM v ORDER BY id NULLS FIRST""")),

    // Q113b: the approx profiling lane q113's comment promises — the SAME
    // one-scan stack() report with approx_count_distinct (HLL++, rsd 2%)
    // in place of exact countDistinct. Why this is the 100 TB default:
    // exact multi-countDistinct EXPANDS the input 4-way inside the
    // aggregate (one replica per distinct column) and keeps every distinct
    // value as state; the HLL sketches are fixed-size, mergeable in the
    // normal partial-agg pass, and need NO expand — the plan is a plain
    // two-phase hash aggregate over one scan. G-class (sketch estimates
    // are engine-specific, so no DuckDB hash-compare is possible);
    // ExtensionPointsSpec bounds every per-column estimate within 5%
    // relative error of q113's exact counts (the q35/X11 idiom), and the
    // no-expand plan shape is pinned in PlanAuditSpec.
    GQuery("q113b_column_profile_approx",
      (s, d) => {
        val li = t(s, d, "lineitem")
        def nNull(c: String) = count(lit(1)) - count(col(c))
        def dApx(c: String) = approx_count_distinct(col(c), 0.02)
        val a = li.agg(
          count(lit(1)).as("n"),
          nNull("l_quantity").as("z1"), dApx("l_quantity").as("d1"),
          min(col("l_quantity")).cast("double").as("mn1"),
          max(col("l_quantity")).cast("double").as("mx1"),
          nNull("l_extendedprice").as("z2"), dApx("l_extendedprice").as("d2"),
          min(col("l_extendedprice")).cast("double").as("mn2"),
          max(col("l_extendedprice")).cast("double").as("mx2"),
          nNull("l_discount").as("z3"), dApx("l_discount").as("d3"),
          min(col("l_discount")).cast("double").as("mn3"),
          max(col("l_discount")).cast("double").as("mx3"),
          nNull("l_tax").as("z4"), dApx("l_tax").as("d4"),
          min(col("l_tax")).cast("double").as("mn4"),
          max(col("l_tax")).cast("double").as("mx4"))
        a.select(col("n").as("n_rows"), expr(
            """stack(4,
              'l_quantity', z1, d1, mn1, mx1,
              'l_extendedprice', z2, d2, mn2, mx2,
              'l_discount', z3, d3, mn3, mx3,
              'l_tax', z4, d4, mn4, mx4)
              AS (col_name, n_null, n_distinct_approx, min_v, max_v)"""))
          .select(col("col_name"), col("n_rows"), col("n_null"),
            col("n_distinct_approx"), col("min_v"), col("max_v"))
          .orderBy(col("col_name"))
      },
      None),

    // Q116: SQL-defined UDFs (Spark 4 `CREATE TEMPORARY FUNCTION ... RETURN
    // <expr>`) — the DECLARATIVE extension surface next to the ~22 native
    // codegen expressions: the function body is SQL, so Catalyst INLINES it
    // into the caller's plan (constant folding, pushdown and whole-stage
    // codegen all apply — nothing like the black-box JVM UDF cliff). A
    // scalar pricing UDF in the exact q13 decimal idiom plus a tier
    // classifier composed ON TOP of it; the oracle replays the inlined
    // bodies. Session-scoped temporaries: name-spaced q116_* to keep the
    // shared harness session clean.
    GQuery("q116_sql_udf",
      (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("li_q116")
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION q116_disc_price(
            p DOUBLE, dd DOUBLE) RETURNS DECIMAL(16,4)
          RETURN CAST(CAST(p AS DECIMAL(12,2))
            * CAST(1 - CAST(dd AS DECIMAL(4,2)) AS DECIMAL(4,2))
            AS DECIMAL(16,4))""")
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION q116_tier(
            v DECIMAL(16,4)) RETURNS STRING
          RETURN CASE WHEN v < 1000 THEN 'low'
                      WHEN v < 30000 THEN 'mid' ELSE 'high' END""")
        s.sql("""SELECT q116_tier(q116_disc_price(l_extendedprice, l_discount)) AS tier,
            count(*) AS n,
            CAST(SUM(q116_disc_price(l_extendedprice, l_discount)) AS DOUBLE) AS revenue
          FROM li_q116 GROUP BY tier ORDER BY tier NULLS FIRST""")
      },
      Some("""WITH v AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2))
    * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))
    AS DECIMAL(16,4)) AS dp FROM lineitem)
SELECT CASE WHEN dp < 1000 THEN 'low' WHEN dp < 30000 THEN 'mid' ELSE 'high' END AS tier,
  count(*) AS n, CAST(SUM(dp) AS DOUBLE) AS revenue
FROM v GROUP BY 1 ORDER BY tier NULLS FIRST""")),

    // Q117: AGGREGATE PUSHDOWN into the custom DSv2 source — count/min/max
    // over the replay log answered from the OFFSET INDEX alone (file
    // backend: idx length; kafka backend: ListOffsets), no payload bytes
    // read: counting a 100 TB topic becomes one O(1) metadata read per
    // partition. The plan's BatchScan says "INDEX-ONLY PushedAggregation"
    // (PlanAuditSpec pins it); Spark's final aggregate merges the per-
    // partition pre-aggregated rows (partial-pushdown contract). The oracle
    // recomputes the same statistics from the events table the log was
    // built from (partition = event_id % 3, offsets dense from 0).
    GQuery("q117_agg_pushdown",
      (s, d) => {
        val log = graft.sources.replay.ReplayLog.ensureLog(s, d)
        s.read.format("graft-replay").option("path", log).load()
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("n"), min(col("offset")).as("min_off"),
            max(col("offset")).as("max_off"))
          .orderBy(col("partition"))
      },
      Some("""SELECT CAST(event_id % 3 AS INT) AS "partition", count(*) AS n,
  CAST(0 AS BIGINT) AS min_off, count(*) - 1 AS max_off
FROM events GROUP BY 1 ORDER BY "partition" NULLS FIRST"""))
  )
}
