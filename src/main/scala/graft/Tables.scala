package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table access for the driver-generated testdata (TESTDATA.md / FIXTURES.md).
  *
  * `events.ts` has been regenerated by the driver with different physical
  * parquet encodings across rounds: nanosecond-precision INT64
  * (`TIMESTAMP(NANOS)`, rounds ≤6) and microsecond `timestamp[us]` (round 7+).
  * The engine therefore detects the read dtype and adapts instead of pinning
  * either encoding:
  *
  *   - legacy ns path: Spark 4 refuses `TIMESTAMP(NANOS)` unless
  *     `spark.sql.legacy.parquet.nanosAsLong=true`, which surfaces the column
  *     as a BIGINT of nanoseconds since the epoch — that long IS `ts_ns`.
  *   - µs path: the column arrives as a real `TIMESTAMP`/`TIMESTAMP_NTZ`;
  *     `ts_ns = unix_micros(ts) * 1000` (exact — the source has µs precision).
  *
  * Either way every consumer sees the SAME normalized pair: exact ns epoch
  * long `ts_ns` plus a µs-precision `TimestampType` `ts`, both reproduced
  * bit-for-bit by DuckDB (`epoch_ns(ts)` / `epoch_us(ts)` on µs parquet).
  * All µs arithmetic goes through [[tsUs]] — no inline `div 1000` at call
  * sites, so a future encoding change lands in exactly one place.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  // Plan-level DataFrame reuse (NOT a data cache): repeated table() calls in
  // a registry run would otherwise re-list files and re-read footers per
  // query — measurable fixed overhead across 69 queries.
  // Keyed by the session itself (not its identity hash, which two live
  // sessions can share). Reading legacy ns-encoded events needs
  // `nanosAsLong`, which GraftSession sets on every harness session.
  private val dfCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), DataFrame]

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    dfCache.getOrElseUpdate((spark, dir, name),
      spark.read.parquet(s"$dir/$name.parquet"))

  /** The raw `events` schema as the current testdata actually reads (LongType
    * ts under nanosAsLong for legacy ns parquet; Timestamp[NTZ] for µs).
    * Streaming file sources need an explicit schema — this is the one that
    * matches the files on disk, whatever the driver last generated. */
  def eventSchema(spark: SparkSession, dir: String): StructType =
    table(spark, dir, "events").schema

  /** Microsecond epoch of the normalized event time — THE one shared helper
    * for event-time arithmetic (VERDICT r7: no inline `div 1000` anywhere).
    * Exact under both encodings: ts_ns is ns from a ns long or µs*1000. */
  def tsUs: Column = expr("ts_ns div 1000")

  /** ts normalization shared by batch and streaming reads: exact ns epoch
    * (`ts_ns`) plus µs-precision TimestampType `ts` (session TZ is pinned
    * UTC, so renderings match DuckDB's naive ts). Adapts to the physical
    * encoding — see the object Scaladoc. Column order is preserved
    * (`ts_ns` sits where `ts` was; `ts` is appended) to match the legacy
    * layout downstream code was built against. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    val withNs = df.schema("ts").dataType match {
      case LongType => // legacy ns-as-long: the long already is ns
        df.withColumnRenamed("ts", "ts_ns")
      case TimestampType | TimestampNTZType =>
        // cast NTZ→TZ is value-preserving under the pinned UTC session TZ
        df.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts_ns", expr("unix_micros(cast(ts_ns as timestamp)) * 1000L"))
      case other =>
        throw new IllegalStateException(
          s"testdata schema changed: events.ts is now $other " +
            "(expected TIMESTAMP, TIMESTAMP_NTZ, or legacy ns BIGINT) — " +
            "extend Tables.normalizeEventTs for the new encoding")
    }
    withNs.withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
  }

  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(table(spark, dir, "events"))

  /** Human-readable tag of the events.ts physical encoding AS READ —
    * printed by Verify every run so a driver regeneration that flips the
    * encoding is visible in the round log even when the adaptive path
    * handles it silently. */
  def eventTsEncoding(spark: SparkSession, dir: String): String =
    table(spark, dir, "events").schema.find(_.name == "ts") match {
      case None => "MISSING ts column"
      case Some(f) => f.dataType match {
        case LongType => "legacy ns INT64 (BIGINT of nanoseconds)"
        case TimestampType => "timestamp[us] (TIMESTAMP)"
        case TimestampNTZType => "timestamp[us] (TIMESTAMP_NTZ)"
        case other => s"UNSUPPORTED ($other) — normalizeEventTs will refuse"
      }
    }

  /** Loud canary for driver testdata regenerations (VERDICT r7 #4): asserts
    * the read dtype of every fixture column the engine's plumbing depends on.
    * Returns human-readable problems; empty = all good. A dtype flip yields
    * ONE diagnostic line instead of 68 scattered query failures. */
  def schemaCanary(spark: SparkSession, dir: String): Seq[String] = {
    // each table probes independently: one absent/corrupt fixture reports
    // as THAT table's problem line, and the remaining tables still check
    def check(tbl: String, expected: (String, Seq[DataType])*): Seq[String] =
      scala.util.Try(table(spark, dir, tbl).schema) match {
        case scala.util.Failure(e) =>
          Seq(s"testdata fixture unreadable: $tbl " +
            s"(${e.getClass.getSimpleName}: ${e.getMessage})")
        case scala.util.Success(schema) =>
          expected.flatMap { case (colName, ok) =>
            schema.find(_.name == colName) match {
              case None =>
                Seq(s"testdata schema changed: $tbl.$colName is missing")
              case Some(f) if !ok.contains(f.dataType) =>
                Seq(s"testdata schema changed: $tbl.$colName is now ${f.dataType} " +
                  s"(engine expects one of ${ok.mkString("/")})")
              case _ => Nil
            }
          }
      }
    check("events",
      "event_id" -> Seq(LongType),
      "ts" -> Seq(LongType, TimestampType, TimestampNTZType),
      "user_id" -> Seq(LongType),
      "event_type" -> Seq(StringType),
      "value" -> Seq(DoubleType),
      "props" -> Seq(StringType)) ++
    check("documents",
      "doc_id" -> Seq(LongType),
      "text" -> Seq(StringType),
      "lang" -> Seq(StringType),
      "source" -> Seq(StringType),
      "n_chars" -> Seq(LongType)) ++
    check("embeddings",
      "vec_id" -> Seq(LongType),
      "embedding" -> Seq(ArrayType(FloatType, containsNull = true),
        ArrayType(FloatType, containsNull = false))) ++
    check("lineitem",
      "l_orderkey" -> Seq(LongType),
      "l_quantity" -> Seq(DoubleType),
      "l_extendedprice" -> Seq(DoubleType),
      "l_shipdate" -> Seq(TimestampType, TimestampNTZType, DateType)) ++
    check("orders",
      "o_orderkey" -> Seq(LongType),
      "o_totalprice" -> Seq(DoubleType),
      "o_orderdate" -> Seq(TimestampType, TimestampNTZType, DateType))
  }

  /** Register temp views (events gets the ts_ns/ts treatment) for SQL-surface
    * queries (subqueries, grouping sets) that go through `spark.sql`. */
  def registerViews(spark: SparkSession, dir: String, tables: Seq[String] = names): Unit =
    tables.foreach { n =>
      val df = if (n == "events") events(spark, dir) else table(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
}
