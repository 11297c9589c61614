package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Warm per-query phase profiler (round-17 optimization): splits a
  * query's warm time into DF-construction (driver-side: ensure calls,
  * manifest reads, planning embedded in the query fn) vs action time,
  * and counts the Spark jobs each phase launches. Second run reported,
  * TimeQ convention.
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.ProfQ <query>..."
  */
object ProfQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Bench.session(cpus)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ()
    })
    val reps = sys.env.getOrElse("PROFQ_REPS", "5").toInt
    for (name <- args) {
      val fn = graft.SparkEntry.queries(name)
      fn(spark, sfDir).count() // warm-up
      val builds = new Array[Double](reps)
      val actions = new Array[Double](reps)
      // per-rep job counts (round 18, ADVICE): the last-rep-only counts
      // could pair a median time with an unrepresentative rep (a cache
      // warming on rep 1); report the median count with its range
      val bJobs = new Array[Int](reps); val aJobs = new Array[Int](reps)
      for (r <- 0 until reps) {
        Thread.sleep(100)
        val j0 = jobs.get()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        val j1 = jobs.get()
        df.count()
        val t2 = System.nanoTime()
        Thread.sleep(100)
        val j2 = jobs.get()
        builds(r) = (t1 - t0) / 1e9; actions(r) = (t2 - t1) / 1e9
        bJobs(r) = j1 - j0; aJobs(r) = j2 - j1
      }
      def med(a: Array[Double]) = a.sorted.apply(a.length / 2)
      def jstat(a: Array[Int]) = {
        val s = a.sorted
        val m = s(a.length / 2)
        if (s.head == s.last) s"$m jobs" else s"$m jobs [${s.head}..${s.last}]"
      }
      println(f"[profq] $name build med=${med(builds)}%.3f min=${builds.min}%.3f " +
        f"(${jstat(bJobs)})  action med=${med(actions)}%.3f min=${actions.min}%.3f (${jstat(aJobs)})")
    }
    spark.stop()
  }
}
