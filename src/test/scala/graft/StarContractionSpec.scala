package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Star-contraction connected components (GraftOps.dedupClustersStar) vs
  * min-label propagation (GraftOps.minLabelClusters, the distributed loop
  * GraftOps.dedupClusters runs on large edge sets): same labels on random
  * graphs, and O(log n) rounds on a high-diameter path graph where min-label
  * would need O(n) rounds. */
class StarContractionSpec extends SparkSpec {

  private def pairsDf(edges: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    edges.toDF("doc_a", "doc_b")
  }

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("star-contraction matches min-label propagation on random graphs") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val nNodes = 40
      val edges = Seq.fill(45) {
        val a = rnd.nextInt(nNodes).toLong
        val b = rnd.nextInt(nNodes).toLong
        (a, if (a == b) (b + 1) % nNodes else b)
      }
      val pairs = pairsDf(edges)
      val viaMinLabel = labelsOf(
        GraftOps.minLabelClusters(pairs, col("doc_a"), col("doc_b")))
      val viaStar = labelsOf(
        GraftOps.dedupClustersStar(pairs, col("doc_a"), col("doc_b")))
      assert(viaStar === viaMinLabel, s"label mismatch for seed=$seed")
    }
  }

  test("path graph: star-contraction converges in O(log n) rounds") {
    // 0-1-2-...-256: component diameter 256. Min-label moves the minimum one
    // hop per round (needs ~256); star-contraction roughly halves the path
    // every large/small round pair.
    val path = pairsDf((0L until 256L).map(i => (i, i + 1)))
    val (labels, rounds) =
      GraftOps.starContraction(path, col("doc_a"), col("doc_b"), maxIter = 20)
    val got = labelsOf(labels)
    assert(got.size === 257)
    assert(got.values.forall(_ == 0L))
    assert(rounds <= 15, s"expected O(log n) convergence, took $rounds rounds")
  }

  test("path graph: min-label propagation needs O(diameter) rounds") {
    val path = pairsDf((0L until 256L).map(i => (i, i + 1)))
    assertThrows[IllegalStateException] {
      GraftOps.minLabelClusters(path, col("doc_a"), col("doc_b"), maxIter = 12)
        .count()
    }
  }
}
