package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import scala.util.control.NonFatal
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Optimization-round harness: run named registry queries (noop sink) with a
  * listener counting jobs / stages / tasks — a pure declarative query should
  * cost ~1 job plus broadcast builds, so a high job count is a recompute /
  * eager-work signal worth reading the query body for. Every lane starts
  * with the shared setup artifacts reset, so it pays its own builds and its
  * count does not depend on where it sits in the list. Evidence capture
  * only; not part of the driver contract. */
object JobCountProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names: Seq[String] =
      if (args.length > 1) args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else SparkEntry.registry.map(_.name)
        .filter(n => !n.startsWith("s")) // batch lanes only by default
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = { tasks.incrementAndGet(); () }
    })
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    // warmup (mirror Bench)
    try SparkEntry.entry(spark).write.mode("overwrite").format("noop").save()
    catch { case NonFatal(e) => System.err.println(s"[bench] warmup failed: $e") }
    println("name\tsec\tjobs\tstages\ttasks")
    names.foreach { n =>
      val q = byName(n)
      operators.PipelineQueries.resetMemo()
      spark.sparkContext.setJobDescription(s"probe: $n")
      Thread.sleep(50) // let listener drain
      val (j0, s0, t0) = (jobs.get, stages.get, tasks.get)
      val w0 = System.nanoTime()
      try {
        q.fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val dt = (System.nanoTime() - w0) / 1e9
        Thread.sleep(100)
        println(f"$n\t$dt%.2f\t${jobs.get - j0}\t${stages.get - s0}\t${tasks.get - t0}")
      } catch { case NonFatal(e) =>
        println(s"$n\tFAILED\t${e.getMessage.take(80)}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
