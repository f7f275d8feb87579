package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators.PipelineQueries

/** dedup_pipeline: closed batch. Each pass drops the shared memos, builds
  * the pair memo and the cluster memo, then runs a fixed list of registry
  * dedup lanes into the noop sink. Throughput is documents over the median
  * pass time; a document's latency is the time from the start of its pass
  * until its cluster id exists (the cluster memo is built). */
final class DedupPipeline(ctx: Ctx) extends Workload {
  import DedupPipeline._
  private val spark = ctx.spark
  private val corpus = ctx.tracer.span("input", "generate_corpus") {
    Corpus.generate(ctx.opts.seed, Docs, Families)
  }
  private val truth = corpus.clusters
  private var dir: String = _
  private val units = new UnitLog(ctx)

  override def loadThreads: Int = 0
  override def setupRounds: Int = Rounds

  override def setupRound(round: Int): Unit = {
    if (round == 0) dir = ctx.tracer.span("input", "write_corpus") {
      val d = ctx.freshDir("corpus")
      spark.createDataFrame(java.util.Arrays.asList(corpus.rows: _*), Schema)
        .repartition(1).write.parquet(s"$d/documents.parquet")
      d
    }
    pass(mutable.Map.empty)
  }

  override def measure(deadlineNs: Long): Unit = units.run(deadlineNs, MinPasses)(pass)

  private def timed(layer: String, name: String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    ctx.tracer.span(layer, name)(body)
    (System.nanoTime() - t0) / 1e9
  }

  private def pass(layers: mutable.Map[String, Double]): Double = {
    val t0 = System.nanoTime()
    PipelineQueries.resetMemo()
    layers("memo.pair_build_s") = timed("memo", "pair")(PipelineQueries.warmPairMemo(spark, dir))
    layers("memo.cc_build_s") = timed("memo", "cc")(PipelineQueries.warmCcMemo(spark, dir))
    // every document's cluster id exists from here on
    layers("e2e.latency_ms") = (System.nanoTime() - t0) / 1e6
    layers("memo.bytes") = spark.sparkContext.getRDDStorageInfo
      .map(i => (i.memSize + i.diskSize).toDouble).sum
    Lanes.foreach { l =>
      layers(s"lane.${l}_s") = timed("lane", l) {
        SparkEntry.queries(l)(spark, dir).write.mode("overwrite").format("noop").save()
      }
    }
    spark.catalog.clearCache()
    val seconds = (System.nanoTime() - t0) / 1e9
    check()
    seconds
  }

  /** x07's clusters against the planted families: every family member must
    * share one label no other family uses, and no unplanted document may be
    * clustered. */
  private def check(): Unit = {
    val got = SparkEntry.queries("x07_dedup_clusters")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val labelFamilies = truth.toSeq.flatMap { case (f, ds) =>
      ds.flatMap(got.get).map(_ -> f) }.groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).toSet }
    var wrong = 0L
    truth.foreach { case (f, ds) =>
      val labels = ds.map(got.get)
      val ok = labels.size == 1 && labels.head.exists(l => labelFamilies(l) == Set(f))
      if (!ok) wrong += ds.size
    }
    val planted = truth.values.flatten.toSet
    wrong += got.keys.count(d => !planted(d))
    ctx.check(planted.size, wrong, "dedup_pipeline clusters")
  }

  override def endToEnd(m: Metrics): Unit = {
    m.put("throughput_rps", Docs / Stats.median(units.untraced), "1/s")
    // the cluster memo is built in bulk, so every document waits the same
    // time for its cluster id: the two percentiles coincide by construction
    val latency = Stats.median(units.untracedValues("latency_ms"))
    m.put("latency_p50_ms", latency, "ms")
    m.put("latency_p99_ms", latency, "ms")
  }

  override def perLayer(m: Metrics): Unit = units.perLayer(m)
}

object DedupPipeline {
  val Docs = 500
  val Families = 50
  /** Registry lanes run every pass, in this order. */
  val Lanes: Seq[String] = Seq("x01_exact_dedup", "x02_ngram_jaccard",
    "x07_dedup_clusters")
  val Rounds = 3
  val MinPasses = 7
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
}
