package graft

import org.apache.spark.sql.SparkSession

/** The one way the harness mains (Bench, Verify, JobCountProbe, PlanDump)
  * and the test suites build their Spark session. Each caller layers only
  * what is its own on top: Verify its fault-mode master and cluster confs,
  * a suite its app name. */
object GraftSession {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the testdata ships one parquet FILE per table (the DuckDB oracle
      // needs that layout), so the default 128 MB split size reads a whole
      // table as ONE task and serializes every pre-shuffle stage (generate/
      // shingle/join chains measured 5+ min single-threaded at sf1). 16 MB
      // splits restore scan parallelism; row groups are ~4 MB so splits
      // stay real. On a real cluster the table is many files and the
      // default is right — this tracks the file:core ratio, not data size.
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PART_BYTES", (16L << 20).toString))
      // legacy ns-encoded events.ts is unreadable without it (see Tables);
      // inert for µs parquet. A builder conf, so every newSession()/clone
      // of this session inherits it.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Parse a `k=v;k=v` conf list (the SPARK_GRAFT_EXTRA_CONF and
    * SPARK_GRAFT_STREAM_CONF seams). Blank segments are skipped; a segment
    * with no `=` fails naming the variable it came from. */
  def parseConfs(envName: String, spec: String): Seq[(String, String)] =
    spec.split(';').iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k.trim -> v.trim
        case _ => sys.error(
          s"$envName segment '$kv' has no '=' (want k=v;k=v)")
      }
    }.toSeq
}
