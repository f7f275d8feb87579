package graft

/** Optimization-round harness: dump `.explain("formatted")` for named
  * registry queries to files (plans/rNN/<name>_<tag>.txt). Not part of the
  * driver contract — evidence capture only.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> <name1,name2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, namesCsv) = args.take(4)
    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val q = byName.getOrElse(n,
        throw new IllegalArgumentException(s"unknown query: $n"))
      spark.sparkContext.setJobDescription(s"plandump: $n")
      val df = q.fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${n}_$tag.txt"), plan)
      println(s"[plandump] wrote $outDir/${n}_$tag.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
