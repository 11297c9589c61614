package graft.tools

/** Writes `.explain("formatted")` output for named SparkEntry queries to
  * files (round-17 optimization evidence: plans/r17/<query>_<tag>.txt).
  * The session is Bench's, so the captured plans are the benched ones.
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.PlanDump <outDir> <tag> <query>..."
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Bench.session(cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // tag suffix "_final": execute the query first and dump the
    // POST-AQE executed plan (shows runtime exchange reuse / coalescing)
    val finalMode = tag.endsWith("final")
    for (q <- names) {
      val txt = try {
        val df = graft.SparkEntry.queries(q)(spark, sfDir)
        if (finalMode) {
          df.collect() // executes THIS plan so AQE finalizes it
          df.queryExecution.executedPlan.toString
        } else df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      } catch { case e: Throwable => s"ERROR: ${e.getMessage}" }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${q}_$tag.txt"), txt)
      println(s"[plandump] wrote ${q}_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
