package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** A setup artifact that several registry lanes share (a pair table, a
  * trained index, bucketed tables), built once per (session, sfDir) and
  * read by every consumer in the process. The contract, for every one:
  *
  *  - Keyed by the session object and the data directory string. Nothing
  *    fingerprints the input files, so a fixture rewritten under the same
  *    path inside one JVM would be served stale.
  *  - A DataFrame in the value is an eager `localCheckpoint`: the build runs
  *    its jobs before it returns, and the blocks live outside the SQL
  *    relation cache, so a per-query `catalog.clearCache()` keeps them.
  *  - Concurrent readers of a cold artifact cause one build. The build runs
  *    outside the map's lock, so it may read other artifacts (the clusters
  *    read the pairs, the cells read the coarse codebook) and run Spark
  *    jobs. A build that throws is not kept; the next read retries it.
  *  - [[reset]] runs only between passes, never while a lane reads the
  *    artifact. It releases, without blocking, the checkpoint RDD under
  *    every DataFrame the value holds (`Dataset.unpersist` frees nothing for
  *    a local checkpoint), and the next read rebuilds.
  *  - Bench builds the artifacts as named setup lines ([[setupName]], one
  *    line per name, in the order of [[SharedArtifact.all]]), so their cost
  *    shows as its own line instead of landing on whichever lane reads them
  *    first. Standalone runs (`SPARK_GRAFT_BENCH_ONLY`, Verify, the specs)
  *    have no setup lines: the first reader pays the build, as a cold
  *    process would.
  */
private[graft] final class SharedArtifact[A](val setupName: String)(
    build: (SparkSession, String) => A) {

  private final class Cell(s: SparkSession, d: String) {
    @volatile var value: Option[A] = None
    def get: A = value.getOrElse(synchronized {
      value.getOrElse { val a = build(s, d); value = Some(a); a }
    })
  }

  private val cells =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Cell]()

  def apply(s: SparkSession, d: String): A =
    cells.computeIfAbsent((s, d), k => new Cell(k._1, k._2)).get

  /** The value if it is built already; never builds. */
  def ifBuilt(s: SparkSession, d: String): Option[A] =
    Option(cells.get((s, d))).flatMap(_.value)

  def reset(): Unit = cells.keySet.forEach { k =>
    Option(cells.remove(k)).flatMap(_.value)
      .foreach(a => SharedArtifact.frames(a).foreach(SharedArtifact.release))
  }
}

private[graft] object SharedArtifact {

  /** Every shared artifact, in Bench's setup order;
    * `PipelineQueries.resetMemo()` resets them all. */
  lazy val all: Seq[SharedArtifact[_]] = {
    import PipelineShared._, PipelineSimilarityQueries._
    Seq(scoredPairs025, RelationalQueries3.bucketTables, coarseIndex,
      cellsIndex, pqIndex, langid2Memo, nearDupClusters)
  }

  /** Bench's setup lines in order: each name with the artifacts it builds. */
  def setupLines: Seq[(String, Seq[SharedArtifact[_]])] =
    all.map(_.setupName).distinct.map(n => n -> all.filter(_.setupName == n))

  /** Build the unbuilt ones of `arts` as overlapped jobs, so independent
    * chains over the same scan back-fill each other's task tails (guide
    * §2.6). One cold artifact builds on the caller's thread; none, no-op. */
  def warm(s: SparkSession, d: String, arts: Seq[SharedArtifact[_]]): Unit = {
    val cold = arts.filter(_.ifBuilt(s, d).isEmpty)
    if (cold.size <= 1) cold.foreach(_(s, d))
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cold.size)
      try {
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutorService(pool)
        cold.map(a => Future(a(s, d)))
          .foreach(Await.result(_, Duration(600, "s")))
      } finally pool.shutdown()
    }
  }

  /** The DataFrames a value holds: itself, or the fields of a tuple. */
  private def frames(a: Any): Seq[Dataset[_]] = a match {
    case df: Dataset[_] => Seq(df)
    case p: Product => p.productIterator.flatMap(frames).toSeq
    case _ => Nil
  }

  private def release(df: Dataset[_]): Unit =
    df.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
}
