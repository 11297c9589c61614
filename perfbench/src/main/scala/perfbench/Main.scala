package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, ledger: Ledger, trace: Trace,
    corpus: Corpus, seconds: Int, traced: Boolean, runDir: String, cores: Int) {
  /** In a traced run every other timed operation is traced; the untraced
    * ones give the in-run baseline for the tracing overhead. */
  def traceOp(i: Int): Boolean = traced && i % 2 == 0
}

/** What a workload measured. Main turns it into the result line. */
final class Outcome {
  /** Seconds of the set-up (corpus + index), session excluded. */
  var setupS = Double.NaN
  var residentMb = Double.NaN
  /** Latency samples (ms, traced?) of the workload's timed operation,
    * passed operations only. */
  val samples = mutable.ArrayBuffer.empty[(Double, Boolean)]
  def latMs: Seq[Double] = samples.map(_._1).toSeq
  var work = 0.0
  var workSecs = 0.0
  val recalls = mutable.ArrayBuffer.empty[Double]
  /** Distance pairs the traced IVF operations of kind `kernelKind` scored,
    * derived from list sizes and routing; feeds functions.kernel_share. */
  var kernelPairs = 0L
  var kernelOps = 0
  var kernelKind = ""
  var kernelBusyMs = 0L
  /** Per-workload metric names (topk_p50_ms, ...), for the run record. */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.LinkedHashMap.empty[String, String]

  def sample(ms: Double, traced: Boolean): Unit = samples += ((ms, traced))
}

object Main {
  val Dims = 64
  val CorpusRows = 5000

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    if (args.contains("--self-test")) { sys.exit(SelfTest.run(opts("run-dir"))) }
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val runDir = opts("run-dir")
    require(Workloads.names.contains(workload),
      s"unknown workload $workload (expected ${Workloads.names.mkString(", ")})")

    val cores = Runtime.getRuntime.availableProcessors
    val controlPre = HostControl.seconds(cores)
    val t0 = System.nanoTime()
    val spark = Session.create(cores, runDir)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = new Trace
    if (traced) trace.attach(spark.sparkContext)
    val ledger = new Ledger(trace)
    val corpus = new Corpus(seed, CorpusRows, Dims)
    val ctx = Ctx(spark, ledger, trace, corpus, seconds, traced, runDir, cores)

    val out = Workloads.run(workload, ctx)
    if (traced) {
      trace.listener.drain()
      Layers.sparkMetrics(ctx, out)
      Layers.kernelMetrics(out)
    }
    spark.stop()
    val controlPost = HostControl.seconds(cores)

    val setupS = sessionS + out.setupS
    val p50 = Stats.pct(out.latMs, 0.5)
    val p95 = Stats.pct(out.latMs, 0.95)
    val endToEnd = Seq(
      "setup_s" -> Json.metric(setupS, "s"),
      "resident_mb" -> Json.metric(out.residentMb, "MB"),
      "op_p50_ms" -> Json.metric(p50, "ms"),
      "op_p95_ms" -> Json.metric(p95, "ms"),
      "work_per_s" -> Json.metric(out.work / out.workSecs, "1/s"),
      "recall_at_10" -> Json.metric(Stats.mean(out.recalls.toSeq), "share"))
    val perLayer = Layers.Names.map { case (name, unit) =>
      name -> Json.metric(out.layer.getOrElse(name, 0.0), unit)
    }
    val record = Json.obj(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "seconds" -> seconds.toString,
      "trace" -> traced.toString,
      "cores" -> cores.toString,
      "session_config" -> Json.obj(Session.conf(cores, runDir).map {
        case (k, v) => k -> Json.str(v) }: _*),
      "host_control_pre_s" -> Json.num(controlPre),
      "host_control_post_s" -> Json.num(controlPost),
      "corpus" -> Json.obj("rows" -> CorpusRows.toString, "dims" -> Dims.toString,
        "clusters" -> corpus.Clusters.toString, "labels" -> corpus.Labels.toString),
      "session_start_s" -> Json.num(sessionS),
      "setup_body_s" -> Json.num(out.setupS),
      "samples" -> out.latMs.length.toString,
      "attempted" -> ledger.attempted.toString,
      "failed" -> ledger.failed.toString,
      "failed_share" -> Json.num(ledger.failedShare),
      "failures" -> ledger.failuresJson,
      "named_metrics" -> Json.obj(out.named.toSeq.map { case (k, (v, u)) =>
        k -> Json.metric(v, u) }: _*),
      "notes" -> Json.obj(out.notes.toSeq: _*),
      "spans" -> (if (!traced) "[]" else Json.arr(trace.table.map {
        case (n, c, total, self) => Json.obj("name" -> Json.str(n),
          "count" -> c.toString, "total_ms" -> Json.num(total),
          "self_ms" -> Json.num(self)) })))
    println(Json.obj("run_record" -> record))
    val metrics = if (traced) perLayer else endToEnd
    println(Json.obj(
      "correct" -> (ledger.failed == 0).toString,
      "attempted" -> ledger.attempted.toString,
      "failed" -> ledger.failed.toString,
      "metrics" -> Json.obj(metrics: _*)))
  }
}

/** The one session configuration every workload runs under, mirroring the
  * repository's headline bench: GraftExtensions, shuffle partitions =
  * cores, a codegen cache large enough for a full pass, UI off, UTC. All
  * state goes under the run directory. */
object Session {
  def conf(cores: Int, runDir: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.graft.index.root" -> s"$runDir/indexes",
    "spark.sql.warehouse.dir" -> s"$runDir/warehouse",
    "spark.local.dir" -> s"$runDir/spark-local")

  def create(cores: Int, runDir: String): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    conf(cores, runDir).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.registerAll(spark)
    spark
  }
}

/** Host-capacity control: one thread per core runs a fixed integer loop;
  * the wall time shows whether the host was loaded during a run. */
object HostControl {
  private def work(): Long = {
    var x = 0L; var i = 0L
    while (i < 200000000L) { x += i * i; i += 1 }
    x
  }

  def seconds(threads: Int): Double = {
    work() // JIT warmup
    val t0 = System.nanoTime()
    val ts = (1 to threads).map(_ => new Thread(() => { work(); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}
