package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Headline bench: times every SparkEntry query at SPARK_GRAFT_SF_DIR.
  * Index artifacts are pre-built untimed (the CREATE INDEX phase); timed
  * queries only read them. Emits ONE JSON line on stdout and mirrors it
  * to bench_out.json for machine parsing. */
object Bench {
  /** Host-capacity control (round 13): the VM's effective CPU drifts
    * with HOST load even when the guest shows 100% idle (round-5 / r12
    * diagnosis pattern — a uniformly-inflated bench total with zero
    * code change). 32 threads each run a fixed integer multiply-add
    * loop. It runs before and after the timed passes; the wall times are
    * emitted as host_control_pre_sec / host_control_post_sec
    * (host_control_sec repeats the pre value for older readers), so a
    * slow total can be adjudicated WITHOUT re-measuring, and a host that
    * got loaded DURING the passes shows in the post value. Healthy reference on
    * this box: ~0.55 s (record in CLAUDE.md; a 1.5x+ value means the
    * host was loaded and the totals are not comparable). JIT-warmed by
    * a single-thread pre-run. */
  private def hostControlSec(): Double = {
    def work(): Long = {
      var x = 0L; var i = 0L
      while (i < 400000000L) { x += i * i; i += 1 }
      x
    }
    work() // JIT warmup
    val t0 = System.nanoTime()
    val threads = (1 to 32).map(_ => new Thread(() => work()))
    threads.foreach(_.start()); threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** One timed pass over `queries` in order: (failed (query, error
    * class), timed (query, seconds)). A query that throws is not timed:
    * it is reported with its error class and left out of the timings. */
  private[graft] def timedPass(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : (Seq[(String, String)], Seq[(String, Double)]) =
    queries.partitionMap { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        Right(name -> (System.nanoTime() - t0) / 1e9)
      } catch { case NonFatal(e) => Left(name -> e.getClass.getName) }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val hostPre = hostControlSec()
    val spark = session(cpus)
    graft.queries.AnnQueries.ensureAll(spark, sfDir)
    graft.queries.DocQueries.ensureAll(spark, sfDir)
    graft.queries.CoreQueries.ensureSegments(spark, sfDir)
    graft.queries.LifecycleQueries.ensureAll(spark, sfDir)
    // untimed warmup: JIT + codegen + parquet reader init
    SparkEntry.queries("q_topk_l2")(spark, sfDir).count()
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    val (failedCold, results) = timedPass(spark, sfDir, queries)
    // second pass = WARM numbers (planning/codegen amortized — the
    // steady-state a long-lived session sees; cold-vs-warm is ~2x on the
    // heavy dedup chains and regressions are only diagnosable against
    // like-for-like). The headline total stays COLD for cross-round
    // comparability.
    val (failedWarm, warm) = timedPass(spark, sfDir, queries)
    spark.stop()
    val hostPost = hostControlSec()
    // Round 18: the driver contract expects the per-query `queries` map ON
    // STDOUT (PERF_r17 had per_query:{} / now_bench_ok:false because round 7
    // demoted stdout to a total-only short line). Print the full map as the
    // FINAL stdout line, ms-rounded so the line stays compact; the
    // full-precision line (plus the warm map) still mirrors to
    // bench_out.json for local profiling.
    def ms(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val total = results.map(_._2).sum
    def jmap(rs: Seq[(String, Double)], f: Double => String) =
      rs.map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    val failed = (failedCold.map((_, "cold")) ++ failedWarm.map((_, "warm")))
      .map { case ((q, err), pass) =>
        s"""{"query":"$q","pass":"$pass","error":"$err"}""" }
      .mkString("[", ",", "]")
    val host = s""""host_control_sec":${ms(hostPre)},"host_control_pre_sec":${ms(hostPre)},"host_control_post_sec":${ms(hostPost)}"""
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(results, _.toString)},"warm":${jmap(warm, _.toString)},"warm_total":${warm.map(_._2).sum},"failed":$failed,$host,"sf":"$sfDir"}"""
    val stdoutLine = s"""{"metric":"total","value":${ms(total)},"unit":"sec","n":${results.size},"queries":${jmap(results, ms)},"warm":${jmap(warm, ms)},"failed":$failed,$host,"sf":"$sfDir"}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"), fullLine + "\n")
    println(stdoutLine)
  }

  /** The measuring session shared by Bench and `graft.tools.Qps`,
    * `PlanDump`, `PlanCensus` and `ProfQ`, so they time and plan queries
    * under one config: `cpus` local cores and shuffle partitions, UTC,
    * the graft extensions, no UI. */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // static conf, default 100: a 215-query pass generates far more
      // distinct codegen units than that, so the Janino cache thrashes
      // and the warm pass re-COMPILES most stages. 2000 entries keeps
      // every generated class of a full pass resident (round 10 —
      // measured cold/warm win; weak-ref keys, bounded metaspace)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
