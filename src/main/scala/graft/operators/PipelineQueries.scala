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

  /** Drop memoized pair/ANN tables (Bench calls this between registry reps
    * so a repeat pass re-pays generation instead of timing a cache hit). */
  private[graft] def resetMemo(): Unit = {
    PipelineShared.resetMemo()
    PipelineSimilarityQueries.resetAnnMemo()
  }

  /** Materialize the shared pair table eagerly as Bench's NAMED
    * `setup_pair_memo` step (see PipelineShared for why). */
  private[graft] def warmPairMemo(s: SparkSession, d: String): Unit =
    PipelineShared.warmPairMemo(s, d)

  /** Materialize the shared ANN training artifacts eagerly as Bench's NAMED
    * `setup_ann_memo` step (see PipelineSimilarityQueries for why). */
  private[graft] def warmAnnMemo(s: SparkSession, d: String): Unit =
    PipelineSimilarityQueries.warmAnnMemo(s, d)

  /** Materialize the shared NB language-id predictions eagerly as Bench's
    * NAMED `setup_langid_memo` step (see PipelineShared for why). */
  private[graft] def warmLangidMemo(s: SparkSession, d: String): Unit =
    PipelineShared.warmLangidMemo(s, d)

  /** Materialize the shared near-dup cluster assignment eagerly as Bench's
    * NAMED `setup_cc_memo` step (see PipelineShared for why). */
  private[graft] def warmCcMemo(s: SparkSession, d: String): Unit =
    PipelineShared.warmCcMemo(s, d)

  /** The registry, in family order. Query bodies live in the five family
    * files (round-11 split, VERDICT r10 #9); every name and oracle is
    * byte-identical to the pre-split registry. */
  val all: Seq[GQuery] =
    PipelineDedupQueries.queries ++ PipelineSimilarityQueries.queries ++
      PipelineTextQueries.queries ++ PipelineDecontamQueries.queries ++
      PipelineReleaseQueries.queries ++ PipelineCurationQueries.queries
}
