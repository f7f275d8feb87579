package graft.operators

import graft.GQuery
import org.apache.spark.sql.SparkSession

/** LLM-data-pipeline operators (SURVEY.md §2.4 X01–X05): dedup (exact,
  * MinHash-LSH, SimHash, exact n-gram Jaccard), vector similarity search
  * (brute-force + LSH-bucketed), text analysis (stats, tf-idf, lang-id,
  * fingerprinting), and multimodal binary columns.
  *
  * Scale notes (the 100 TB stance): every operator is a shuffle-conscious
  * composition — hash-partitioned groupBys, inverted-index joins instead of
  * all-pairs cross products, band-bucket joins for LSH, broadcast for the
  * small query side of ANN. Driver-side collects happen only under a stated
  * size bound. Near-dup clustering is one: `GraftOps.dedupClusters`
  * collects the pair graph and runs a union-find on the driver while it has
  * at most `GraftOps.ClusterEdgesPerPartition` (1M) directed edges (~16 MB
  * of ids), and runs a distributed min-label loop above that.
  */
object PipelineQueries {

  /** Reset every [[SharedArtifact]]. */
  private[graft] def resetMemo(): Unit = SharedArtifact.all.foreach(_.reset())

  /** Build the shared pair table (`setup_pair_memo`). */
  private[graft] def warmPairMemo(s: SparkSession, d: String): Unit = {
    PipelineShared.scoredPairs025(s, d); ()
  }

  /** Build the shared cluster assignment (`setup_cc_memo`). */
  private[graft] def warmCcMemo(s: SparkSession, d: String): Unit = {
    PipelineShared.nearDupClusters(s, d); ()
  }

  /** The registry, in family order. Query bodies live in the five family
    * files (round-11 split, VERDICT r10 #9); every name and oracle is
    * byte-identical to the pre-split registry. */
  val all: Seq[GQuery] =
    PipelineDedupQueries.queries ++ PipelineSimilarityQueries.queries ++
      PipelineTextQueries.queries ++ PipelineDecontamQueries.queries ++
      PipelineReleaseQueries.queries ++ PipelineCurationQueries.queries
}
