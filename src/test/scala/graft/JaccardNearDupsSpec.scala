package graft

import graft.GraftOps.DfCapPolicy
import org.apache.spark.scheduler.SparkListener
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

/** [[GraftOps.jaccardNearDups]]' two paths: the driver solve it takes on
  * small shingle sets and the distributed plan behind
  * [[GraftOps.indexJoinNearDups]] return equal rows and schemas on the
  * inputs where they could part ways, and the plan releases what it
  * persists. */
class JaccardNearDupsSpec extends SparkSpec {
  import spark.implicits._

  private val policies =
    Seq(DfCapPolicy.Exact, DfCapPolicy.Fixed(2L), DfCapPolicy.Auto)

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** Both paths on `corpus` under every policy; the driver path's rows. */
  private def bothPaths(corpus: DataFrame, threshold: Double = 0.5)
      : Map[DfCapPolicy, Seq[Row]] =
    policies.map { p =>
      val local = GraftOps.jaccardNearDups(corpus, col("doc_id"), col("text"),
        threshold = threshold, maxDf = p)
      val plan = GraftOps.indexJoinNearDups(corpus, col("doc_id"),
        col("text"), threshold = threshold, maxDf = p)
      assert(local.schema === plan.schema, s"$p: schemas differ")
      val rows = sorted(local)
      assert(rows === sorted(plan), s"$p: driver solve and plan differ")
      p -> rows
    }.toMap

  private val base = "a b c d e f g h i j k l"
  private val near = "a b c d e f g h i j k zz"

  test("a null id and a null text row: counted in df, never paired") {
    // the null-id row repeats doc 1's text, so the shared shingles have
    // df 3 and Fixed(2) prunes them on both paths
    val corpus = Seq[(Option[Long], String)](
      (Some(1L), base), (Some(2L), near), (None, base), (Some(3L), null),
      (Some(4L), "unrelated words only here and nowhere else at all"))
      .toDF("doc_id", "text")
    val got = bothPaths(corpus)
    assert(got(DfCapPolicy.Exact).map(r => (r.getLong(0), r.getLong(1))) ===
      Seq((1L, 2L)))
    assert(got(DfCapPolicy.Fixed(2L)).isEmpty)
  }

  test("an int id column keeps its type on both paths") {
    val corpus = Seq((1, base), (2, near), (3, "x y z w v u t s"))
      .toDF("doc_id", "text")
    val got = bothPaths(corpus)
    assert(got(DfCapPolicy.Auto).map(r => (r.getInt(0), r.getInt(1))) ===
      Seq((1, 2)))
    val schema = GraftOps.jaccardNearDups(corpus, col("doc_id"), col("text"))
      .schema
    assert(schema("doc_a").dataType === org.apache.spark.sql.types.IntegerType)
  }

  test("duplicate ids give the plan's rows") {
    val corpus = Seq((1L, base), (1L, near), (2L, near), (3L, base))
      .toDF("doc_id", "text")
    assert(bothPaths(corpus)(DfCapPolicy.Exact).nonEmpty)
  }

  test("an empty input gives no rows and the plan's schema") {
    val corpus = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(bothPaths(corpus).values.forall(_.isEmpty))
  }

  test("a pair at exactly the threshold is kept") {
    // 7 words give 3 five-word shingles; the docs share 2: j = 2/(3+3-2)
    val corpus = Seq((1L, "p q r s t u v"), (2L, "p q r s t u zz"))
      .toDF("doc_id", "text")
    bothPaths(corpus).values.foreach(rows =>
      assert(rows === Seq(Row(1L, 2L, 0.5))))
    assert(bothPaths(corpus, threshold = 0.5000001).values.forall(_.isEmpty))
  }

  test("past the entry bound jaccardNearDups takes the plan") {
    // 5000 docs of 205 words: 201 shingles each, 1,005,000 entries; doc
    // 2m+1 differs from doc 2m in its first word only, so j = 200/202
    val nDocs = 5000L
    val corpus = spark.range(nDocs).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(204)), i =>
        when(i === 0, concat(lit("u"), col("id").cast("string")))
          .otherwise(concat(lit("w"),
            ((col("id") / 2).cast("long") * 205 + i).cast("string")))))
        .as("text"))
    assert(nDocs * 201 > GraftOps.NearDupDriverEntries)
    val windows = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent)
          : Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains("Window") =>
          windows.incrementAndGet(); ()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val got = GraftOps.jaccardNearDups(corpus, col("doc_id"), col("text"))
      assert(got.count() === nDocs / 2)
      assert(got.filter(col("j") =!= 200.0 / 202).isEmpty)
      // the df window runs only in the distributed plan
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (windows.get == 0 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(windows.get > 0, "no Window ran: the driver solve was taken")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("both paths leave only the result's checkpoint persisted") {
    val corpus = Seq((1L, base), (2L, near), (3L, "x y z w v u t s"))
      .toDF("doc_id", "text")
    def checkpointIds(df: DataFrame): Set[Int] =
      df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet
    Seq(DfCapPolicy.Exact, DfCapPolicy.Auto).foreach { p =>
      Seq[DataFrame => DataFrame](
        c => GraftOps.indexJoinNearDups(c, col("doc_id"), col("text"), maxDf = p),
        c => GraftOps.jaccardNearDups(c, col("doc_id"), col("text"), maxDf = p))
        .foreach { run =>
          val before = spark.sparkContext.getPersistentRDDs.keySet
          val out = run(corpus)
          val added = spark.sparkContext.getPersistentRDDs.keySet -- before
          assert(checkpointIds(out).size === 1)
          assert(added === checkpointIds(out), s"$p: intermediates still persisted")
          assert(out.count() === 1)
        }
    }
  }
}
