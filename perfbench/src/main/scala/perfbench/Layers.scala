package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import graft.functions.{BitKernels, DenseKernels, F16Kernels, SparseKernels}

/** Per-layer metrics of the traced run. Every name is printed on every
  * workload; a layer the workload does not exercise reads 0. */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "index.sql_parse_ms" -> "ms",
    "index.create_index_s.hnsw" -> "s",
    "index.create_index_s.ivf" -> "s",
    "index.create_index_s.incr_hnsw" -> "s",
    "index.bytes_per_input_byte.hnsw" -> "ratio",
    "index.bytes_per_input_byte.ivf" -> "ratio",
    "plans.optimize_ms" -> "ms",
    "plans.physical_ms" -> "ms",
    "plans.rewrite_ratio" -> "share",
    "spark.jobs_per_op" -> "count",
    "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.sched_delay_ms" -> "ms",
    "spark.task_busy_s" -> "s",
    "spark.task_skew" -> "ratio",
    "spark.shuffle_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.gc_ms" -> "ms",
    "spark.exec_ms" -> "ms",
    "operators.hnsw_walk_us" -> "us",
    "operators.ivf_route_us" -> "us",
    "operators.graphcache_hit_ratio" -> "share",
    "operators.graphcache_loads" -> "count",
    "operators.append_s" -> "s",
    "operators.delete_s" -> "s",
    "operators.incr_ensure_s" -> "s",
    "operators.side_graphs" -> "count",
    "operators.vacuum_s" -> "s",
    "functions.l2sq_ns_per_pair.d64" -> "ns",
    "functions.l2sq_ns_per_pair.d768" -> "ns",
    "functions.dot_ns_per_pair.d64" -> "ns",
    "functions.f16_l2sq_ns_per_pair.d64" -> "ns",
    "functions.sparse_dot_ns_per_pair" -> "ns",
    "functions.hamming_ns_per_pair" -> "ns",
    "functions.pairs_per_query" -> "count",
    "functions.kernel_share" -> "share",
    "trace.overhead_ms" -> "ms",
    "trace.self_time_coverage" -> "share",
    "trace.spans_per_op" -> "count")

  private def medianOr0(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Span- and listener-derived metrics over the traced operations. */
  def sparkMetrics(ctx: Ctx, out: Outcome): Unit = {
    val tr = ctx.trace
    val ops = math.max(1, tr.opKinds.size).toDouble
    val all = tr.listener.totals.values
    val tasks = all.map(_.tasks).sum
    val l = out.layer
    l("index.sql_parse_ms") = medianOr0(tr.durationsMs("index.sql"))
    l("plans.optimize_ms") = medianOr0(tr.durationsMs("plans.optimize"))
    l("plans.physical_ms") = medianOr0(tr.durationsMs("plans.physical"))
    l("spark.exec_ms") = medianOr0(tr.durationsMs("spark.execute"))
    l("spark.jobs_per_op") = all.map(_.jobs).sum / ops
    l("spark.stages_per_op") = all.map(_.stages).sum / ops
    l("spark.tasks_per_op") = tasks / ops
    l("spark.sched_delay_ms") = all.map(_.schedDelayMs).sum.toDouble / math.max(1L, tasks)
    l("spark.task_busy_s") = all.map(_.runMs).sum / ops / 1000.0
    l("spark.task_skew") = tr.listener.worstSkew
    l("spark.shuffle_bytes") = all.map(_.shuffleBytes).sum / ops
    l("spark.spill_bytes") = all.map(_.spillBytes).sum / ops
    l("spark.gc_ms") = all.map(_.gcMs).sum / ops
    val (tracedLat, plainLat) = out.samples.partition(_._2)
    if (tracedLat.nonEmpty && plainLat.nonEmpty)
      l("trace.overhead_ms") =
        Stats.median(tracedLat.map(_._1).toSeq) - Stats.median(plainLat.map(_._1).toSeq)
    // share of the traced operations' wall time that the layer spans
    // cover: what remains as the root span's own self time ran outside
    // every layer span
    val roots = tr.spans.filter(_.parent < 0)
    val rootNs = roots.map(s => s.end - s.start).sum.toDouble
    if (rootNs > 0) {
      val self = tr.selfNanos
      l("trace.self_time_coverage") = 1.0 - roots.map(s => self(s.id)).sum / rootNs
    }
    l("trace.spans_per_op") = tr.spans.length / ops
    if (out.kernelOps > 0) {
      l("functions.pairs_per_query") = out.kernelPairs.toDouble / out.kernelOps
      val busyMs = tr.opKinds.collect { case (id, k) if k.startsWith(out.kernelKind) =>
        tr.listener.totals.get(s"op-$id").map(_.runMs).getOrElse(0L) }.sum
      out.notes("kernel_pairs") = out.kernelPairs.toString
      out.notes("kernel_busy_ms") = busyMs.toString
      out.notes("kernel_share_of") = Json.str(out.kernelKind)
      out.kernelBusyMs = busyMs
    }
  }

  /** ns per call of `f` over `pairs` index pairs, after a warm-up pass. */
  private def nsPerPair(pairs: Int, n: Int)(f: (Int, Int) => Double): Double = {
    var sink = 0.0
    def pass(): Unit = {
      var p = 0
      while (p < pairs) { sink += f(p % n, (p * 7 + 3) % n); p += 1 }
    }
    pass(); pass()
    val t0 = System.nanoTime()
    pass()
    val ns = (System.nanoTime() - t0).toDouble / pairs
    if (sink == 42.0) println("") // keep `sink` live
    ns
  }

  /** Spark-free kernel timings; the benchmark's own inputs, no engine IO. */
  def kernelMetrics(out: Outcome): Unit = {
    val rnd = new java.util.SplittableRandom(99)
    def dense(n: Int, d: Int) = Array.fill(n)(
      UnsafeArrayData.fromPrimitiveArray(Array.fill(d)(rnd.nextDouble().toFloat * 2 - 1)))
    val d64 = dense(256, 64)
    val d768 = dense(64, 768)
    val f16 = d64.map(F16Kernels.toBits)
    val sparse = Array.fill(256) {
      val idx = rnd.ints(64, 0, 4096).distinct().sorted().toArray
      SparseKernels.mk(4096, idx, Array.fill(idx.length)(rnd.nextDouble().toFloat))
    }
    val bits = d768.map(BitKernels.binarize)
    val l = out.layer
    l("functions.l2sq_ns_per_pair.d64") =
      nsPerPair(2000000, d64.length)((i, j) => DenseKernels.l2sq(d64(i), d64(j)))
    l("functions.l2sq_ns_per_pair.d768") =
      nsPerPair(200000, d768.length)((i, j) => DenseKernels.l2sq(d768(i), d768(j)))
    l("functions.dot_ns_per_pair.d64") =
      nsPerPair(2000000, d64.length)((i, j) => DenseKernels.dot(d64(i), d64(j)))
    l("functions.f16_l2sq_ns_per_pair.d64") =
      nsPerPair(1000000, f16.length)((i, j) => F16Kernels.l2sq(f16(i), f16(j)))
    l("functions.sparse_dot_ns_per_pair") =
      nsPerPair(1000000, sparse.length)((i, j) => SparseKernels.dot(sparse(i), sparse(j)))
    l("functions.hamming_ns_per_pair") =
      nsPerPair(2000000, bits.length)((i, j) => BitKernels.hamming(bits(i), bits(j)))
    if (out.kernelBusyMs > 0)
      l("functions.kernel_share") = out.kernelPairs *
        l("functions.l2sq_ns_per_pair.d64") / (out.kernelBusyMs * 1e6)
  }

  /** µs per `FlatGraph.search` (k=10, ef=100) on the largest graph file in
    * `dir`, loaded through the executor-local `GraphCache`. */
  def walkMetrics(ctx: Ctx, out: Outcome, dir: String, qs: Array[Array[Float]]): Unit = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".bin"))
    files.sortBy(-_.length()).headOption.foreach { f =>
      val g = graft.operators.Hnsw.GraphCache.get(f.getAbsolutePath,
        ctx.spark.sparkContext.hadoopConfiguration)
      qs.take(32).foreach(g.search(_, 10, 100))
      val reps = math.max(1, 512 / qs.length)
      val t0 = System.nanoTime()
      (0 until reps).foreach(_ => qs.foreach(g.search(_, 10, 100)))
      out.layer("operators.hnsw_walk_us") = (System.nanoTime() - t0) / 1e3 / (reps * qs.length)
    }
  }

  /** µs per `IvfIndex.Model.rankLists` (the IVF probe order). */
  def routeMetrics(out: Outcome, model: graft.operators.IvfIndex.Model,
      qs: Array[Array[Float]]): Unit = {
    qs.take(64).foreach(model.rankLists)
    val reps = math.max(1, 4096 / qs.length)
    val t0 = System.nanoTime()
    (0 until reps).foreach(_ => qs.foreach(model.rankLists))
    out.layer("operators.ivf_route_us") = (System.nanoTime() - t0) / 1e3 / (reps * qs.length)
  }

  /** Rows per IVF list of an IVF data artifact. */
  def listSizes(spark: SparkSession, dataDir: String): Map[Int, Long] =
    spark.read.parquet(dataDir).groupBy("list_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
}
