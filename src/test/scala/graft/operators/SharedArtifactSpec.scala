package graft.operators

import graft.SparkSpec
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The [[SharedArtifact]] contract: one build per cold key under
  * concurrency, nested builds, a reset that frees the checkpoints, and no
  * caching of a failed build. */
class SharedArtifactSpec extends SparkSpec {

  private def checkpointIds(df: DataFrame): Seq[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }

  test("concurrent reads of a cold artifact cause exactly one build") {
    val builds = new AtomicInteger(0)
    val art = new SharedArtifact[DataFrame]("setup_test")((s, _) => {
      builds.incrementAndGet()
      s.range(100).toDF().localCheckpoint()
    })
    val n = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    val got = try {
      val fs = (1 to n).map(_ => pool.submit(() => { start.await(); art(spark, sf) }))
      start.countDown()
      fs.map(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(builds.get == 1)
    assert(got.forall(_ eq got.head))
    assert(art.ifBuilt(spark, sf).exists(_ eq got.head))
    art.reset()
  }

  test("the cluster artifact built cold also builds the pair artifact") {
    PipelineQueries.resetMemo()
    assert(PipelineShared.scoredPairs025.ifBuilt(spark, sf).isEmpty)
    val cc = PipelineShared.nearDupClusters(spark, sf)
    assert(PipelineShared.scoredPairs025.ifBuilt(spark, sf).isDefined)
    assert(cc.count() > 0)
  }

  test("reset frees the pair, cluster and language-id checkpoints; the next read rebuilds") {
    val arts = Seq(PipelineShared.scoredPairs025,
      PipelineShared.nearDupClusters, PipelineShared.langid2Memo)
    val before = arts.map(_(spark, sf))
    val ids = before.flatMap(checkpointIds)
    assert(ids.size == arts.size)
    assert(ids.forall(spark.sparkContext.getPersistentRDDs.contains))
    PipelineQueries.resetMemo()
    assert(SharedArtifact.all.forall(_.ifBuilt(spark, sf).isEmpty))
    val held = spark.sparkContext.getPersistentRDDs.keySet
    assert(ids.filter(held).isEmpty, "checkpoint RDDs still persisted after reset")
    val after = arts.map(_(spark, sf))
    before.zip(after).foreach { case (b, a) => assert(!(a eq b)) }
    assert(after.flatMap(checkpointIds).forall(id => !ids.contains(id)))
  }

  test("a build that throws is not kept, and the next read retries it") {
    val builds = new AtomicInteger(0)
    val art = new SharedArtifact[String]("setup_test")((_, d) =>
      if (builds.incrementAndGet() == 1) sys.error("first build fails") else d)
    intercept[RuntimeException](art(spark, sf))
    assert(art.ifBuilt(spark, sf).isEmpty)
    assert(art(spark, sf) == sf)
    assert(builds.get == 2)
    assert(art(spark, sf) == sf && builds.get == 2)
  }
}
