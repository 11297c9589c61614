package graft.tools

/** Round-18 evidence tool: dumps every SparkEntry query's formatted plan
  * to <outDir>/<name>.txt (no execution) for offline pattern greps —
  * e.g. the InferFiltersFromGenerate expensive-clone census. */
object PlanCensus {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Bench.session(cpus)
    graft.queries.AnnQueries.ensureAll(spark, sfDir)
    graft.queries.DocQueries.ensureAll(spark, sfDir)
    graft.queries.CoreQueries.ensureSegments(spark, sfDir)
    graft.queries.LifecycleQueries.ensureAll(spark, sfDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for ((q, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)) {
      val txt = try {
        fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      } catch { case e: Throwable => s"ERROR: ${e.getMessage}" }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"$q.txt"), txt)
    }
    spark.stop()
    println(s"[census] dumped ${graft.SparkEntry.queries.size} plans to $outDir")
  }
}
