package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Order statistics over measured samples. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** A percentile is only reported when at least ten samples lie beyond it;
    * otherwise the caller gets None and must not print a number. */
  def percentile(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.length * (1.0 - q) >= 10.0 - 1e-9) Some(quantile(xs, q)) else None

  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}

/** One span: a timed call from the harness into a layer of graft or Spark.
  * Times are System.nanoTime. `parent` is -1 for a root. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    t0: Long, t1: Long)

/** In-memory span recorder. Off in untraced runs: `span` then only runs its
  * body. In a traced run `active` is flipped between measured passes so that
  * traced and untraced passes alternate inside one process, which is how the
  * tracing overhead is measured. */
final class Tracer(val enabled: Boolean) {
  @volatile var active: Boolean = enabled
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def currentParent: Int = stack.get().headOption.getOrElse(-1)

  /** Time `body` as a span under the innermost open span of this thread. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!active) body
    else {
      val id = ids.incrementAndGet()
      val p = currentParent
      val t0 = System.nanoTime()
      stack.set(id :: stack.get())
      try body
      finally {
        stack.set(stack.get().tail)
        spans.add(Span(id, p, layer, name, t0, System.nanoTime()))
      }
    }

  /** Record an already-finished interval (per-trigger spans rebuilt from
    * streaming progress, or calls timed on a load thread). */
  def record(layer: String, name: String, parent: Int, t0: Long, t1: Long): Int =
    if (!active) -1
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, layer, name, t0, t1))
      id
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.t0)

  /** Per-layer count, busy ms (union of the layer's intervals, so calls that
    * overlap on several threads are not double-counted) and self ms (each
    * span minus the part of it its children cover). */
  def layerTable: Seq[(String, Int, Double, Double)] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    def union(iv: Seq[(Long, Long)]): Long = {
      var total = 0L; var end = Long.MinValue
      iv.sortBy(_._1).foreach { case (a, b) =>
        if (a >= end) { total += b - a; end = b }
        else if (b > end) { total += b - end; end = b }
      }
      total
    }
    ss.groupBy(_.layer).toSeq.map { case (layer, xs) =>
      val busy = union(xs.map(s => (s.t0, s.t1))) / 1e6
      val self = xs.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.t0, s.t0), math.min(c.t1, s.t1)))
          .filter { case (a, b) => b > a }
        (s.t1 - s.t0 - union(kids)) / 1e6
      }.sum
      (layer, xs.length, busy, self)
    }.sortBy(-_._3)
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("{\"spans\":[")
    all.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(',')
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","t0_ns":${s.t0},"t1_ns":${s.t1}}""")
    }
    sb.append("],\"layers\":[")
    layerTable.zipWithIndex.foreach { case ((l, n, busy, self), i) =>
      if (i > 0) sb.append(',')
      sb.append(f"""{"layer":"$l","count":$n,"busy_ms":$busy%.3f,"self_ms":$self%.3f}""")
    }
    sb.append("]}")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Task and job ends as Spark's own listener bus reports them. Kept raw and
  * attributed to measured windows afterwards by launch time, because the bus
  * delivers asynchronously and may lag the harness's pass boundaries. */
final class TaskLog extends SparkListener {
  final class Task(val stage: Int, val launchMs: Long, val runMs: Long, val cpuNs: Long,
      val gcMs: Long, val shuffleWrite: Long, val shuffleRead: Long, val fetchWaitMs: Long)
  val tasks = new ConcurrentLinkedQueue[Task]()
  val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.add(e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val r = m.shuffleReadMetrics
      tasks.add(new Task(e.stageId, e.taskInfo.launchTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        r.remoteBytesRead + r.localBytesRead, r.fetchWaitTime))
    }
  }

  /** Wait until the bus has delivered everything up to now: the count stops
    * growing for 300 ms (bounded at 5 s). */
  def settle(): Unit = {
    var last = -1; var stable = 0; var waited = 0
    while (stable < 3 && waited < 50) {
      Thread.sleep(100); waited += 1
      val n = tasks.size
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
  }

  /** Totals for tasks launched inside any of the wall-clock windows (ms). */
  def within(windows: Seq[(Long, Long)]): Seq[Task] = {
    def in(t: Long) = windows.exists { case (a, b) => t >= a && t <= b }
    tasks.asScala.toSeq.filter(t => in(t.launchMs))
  }
  def jobsWithin(windows: Seq[(Long, Long)]): Int =
    jobStarts.asScala.count(t => windows.exists { case (a, b) => t >= a && t <= b })
}

/** Host CPU accounting from /proc/stat over an interval: the share of all
  * CPU time that was busy, and the share stolen by the hypervisor. */
final class HostStat {
  private def read(): Array[Long] = {
    val f = new java.io.File("/proc/stat")
    if (!f.canRead) return Array.fill(8)(0L)
    val line = scala.io.Source.fromFile(f).getLines().next()
    line.trim.split("\\s+").drop(1).take(8).map(_.toLong)
  }
  private val start = read()
  /** (busy_frac, steal_frac) since construction. */
  def sample(): (Double, Double) = {
    val now = read()
    val d = now.zip(start).map { case (a, b) => a - b }
    val total = d.sum.toDouble
    if (total <= 0) (0.0, 0.0)
    else {
      val idle = d(3) + d(4)
      ((total - idle - d(7)) / total, d(7) / total)
    }
  }
}

/** A fixed single-threaded reference loop that touches no graft or Spark
  * code: dependent reads over a 32 MB array, timed in ms (median of five).
  * A virtual machine can share its cores, caches and memory with others
  * without that showing as steal; a run whose reference loop is slow ran on
  * a slow host, not on slow code. */
final class HostCalib {
  private val data = Array.tabulate(1 << 22)(i => (i.toLong * 0x9E3779B97F4A7C15L) >>> 42)
  @volatile private var sink = 0L
  def ms(): Double = Stats.median((0 until 5).map { _ =>
    val t0 = System.nanoTime()
    var h = 0L; var i = 0
    while (i < data.length) { h += data(((h + i) & (data.length - 1)).toInt); i += 1 }
    sink ^= h
    (System.nanoTime() - t0) / 1e6
  })
}

/** JIT compile time, GC time and classes loaded by this JVM since
  * construction. */
final class JvmStat {
  import java.lang.management.ManagementFactory
  private def jit(): Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }
  private def gc(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  private def classes(): Long = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount
  private val jit0 = jit(); private val gc0 = gc(); private val cls0 = classes()
  def jitMs: Double = (jit() - jit0).toDouble
  def classesLoaded: Double = (classes() - cls0).toDouble
  def gcMs: Double = (gc() - gc0).toDouble
}

/** Collects named metrics for the final JSON line. Insertion-ordered. */
final class Metrics {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = m(name) = (value, unit)
  def get(name: String): Option[Double] = m.get(name).map(_._1)
  def toSeq: Seq[(String, Double, String)] = m.toSeq.map { case (k, (v, u)) => (k, v, u) }
}
