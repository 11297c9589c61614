package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.index.IndexCatalog
import graft.operators.{CodedHnsw, Hnsw, IncrHnsw, IvfIndex, ResidentSearch, Segments, Sq8Quant}
import graft.plans.AnnPushdown

/** Single-query graph searches run on the driver over the resident
  * graphs and come back as a local relation.
  *
  * The locked digests are SHA-256 over the (id, dist bits) rows of 3
  * seeded queries, produced by the per-query Spark job that preceded
  * [[ResidentSearch]] over this same fixture: the driver-side walk must
  * return bit-identical rows. Collecting an unfiltered search (or
  * planning the rewritten top-k statement) must then run no Spark job,
  * and equal distances must come back in id order across graph files. */
class ResidentSearchSpec extends SparkSpec {
  private val Dims = 16
  private val K = 10

  private lazy val dir = Files.createTempDirectory("graft_resident").toString
  private lazy val path = s"$dir/embeddings.parquet"
  private lazy val rows: Seq[(Long, Array[Float])] = {
    val rnd = new java.util.Random(7)
    val centers = Array.fill(5)(Array.fill(Dims)((rnd.nextGaussian() * 1.5).toFloat))
    (0 until 1500).map { i =>
      val c = centers(i % 5)
      (i.toLong * 7 + 3, Array.tabulate(Dims)(j => (c(j) + rnd.nextGaussian()).toFloat))
    }
  }
  private lazy val table: DataFrame = {
    import spark.implicits._
    rows.toDF("id", "embedding").write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }
  private lazy val queries: Seq[Array[Float]] = {
    val rnd = new java.util.Random(99)
    Seq.fill(3)(Array.fill(Dims)((rnd.nextGaussian() * 1.5).toFloat))
  }
  /** A narrow beam, so approximate answers differ from the exact ones. */
  private val Ef = 10

  /** A 3-file graph artifact written directly (rows dealt round-robin,
    * inserted in id order), so its graphs do not depend on a k-means
    * partitioning; cos graphs hold normalized vectors, as built. */
  private def graphs(metric: String): String = {
    val out = new java.io.File(dir, s"graphs_$metric")
    out.mkdirs()
    rows.zipWithIndex.groupBy(_._2 % 3).toSeq.sortBy(_._1).foreach { case (f, part) =>
      val g = new Hnsw.Graph(metric, 12, 64)
      part.map(_._1).sortBy(_._1).foreach { case (id, v) =>
        g.insert(id, if (metric == "cos") IvfIndex.Kernels.normalize(v) else v)
      }
      val o = new java.io.DataOutputStream(new java.io.FileOutputStream(
        new java.io.File(out, f"graph-$f%05d.bin")))
      try Hnsw.FlatGraph.write(o, g.snapshot) finally o.close()
    }
    out.getAbsolutePath
  }
  private lazy val l2Dir = graphs("l2")
  private lazy val cosDir = graphs("cos")
  // one-graph builds: deterministic without the k-means partitioning
  private lazy val sqlDir = Hnsw.ensure(spark, "resident_l2", table, dir,
    "id", "embedding", "l2", parts = 1, efConstruction = 64)
  private lazy val (sq8, sq8Dir) = CodedHnsw.ensure(spark, "resident_sq8",
    table, dir, "id", "embedding", parts = 1, Sq8Quant, efConstruction = 64)

  /** A segment store with appends (a third of them re-inserts of live
    * ids), deletes, a side graph, and deletes after the last ensure. */
  private lazy val (incrName, segDir) = {
    import spark.implicits._
    val rnd = new java.util.Random(23)
    def rows(ids: Seq[Long]): DataFrame =
      ids.map(i => (i, Array.fill(Dims)(rnd.nextGaussian().toFloat)))
        .toDF("id", "embedding")
    val seg = Files.createTempDirectory("graft_resident_seg").toString
    val name = "resident_incr"
    IndexCatalog.drop(spark, name)
    Segments.init(spark, seg, rows(0L until 600L), "id")
    IncrHnsw.ensure(spark, name, seg, "id", "embedding", efConstruction = 64)
    Segments.append(spark, seg, rows((600L until 700L) ++ (0L until 150L by 3)), "id")
    Segments.delete(spark, seg, (10L until 400L by 9).toDF("id"), "id")
    IncrHnsw.ensure(spark, name, seg, "id", "embedding", efConstruction = 64)
    Segments.delete(spark, seg, (5L until 650L by 13).toDF("id"), "id")
    (name, seg)
  }

  private def topkStatement(q: Array[Float]): DataFrame =
    spark.read.parquet(path)
      .select(col("id"), graft.functions.l2sq(col("embedding"), typedLit(q)).as("dist"))
      .orderBy(col("dist")).limit(K)

  /** Run `body` with the one-graph l2 index registered for the rewrite,
    * for the `sql_topk` search only: the other searches run unregistered
    * (the coded search's rerank is itself a filtered top-k over `path`). */
  private def within[T](name: String)(body: => T): T =
    if (name == "sql_topk") withRewrite(body) else body

  private def withRewrite[T](body: => T): T = {
    sqlDir
    AnnPushdown.install(spark)
    AnnPushdown.register(path, AnnPushdown.IndexedTable("resident_l2", "id", "embedding"))
    spark.conf.set("spark.graft.ann.enabled", "true")
    try body
    finally {
      spark.conf.set("spark.graft.ann.enabled", "false")
      AnnPushdown.unregister(path)
    }
  }

  private def norm(q: Array[Float]) = IvfIndex.Kernels.normalize(q)

  /** Every locked search, by name: query => its result frame. */
  private lazy val searches: Seq[(String, Array[Float] => DataFrame)] = Seq(
    "hnsw_l2" -> (q => Hnsw.searchIndex(spark, l2Dir, "id", q, K, efSearch = Ef)),
    "hnsw_l2_exact" -> (q => Hnsw.searchIndex(spark, l2Dir, "id", q, K, exact = true)),
    "hnsw_cos" -> (q => Hnsw.searchIndex(spark, cosDir, "id", norm(q), K, efSearch = Ef)),
    "hnsw_cos_exact" -> (q => Hnsw.searchIndex(spark, cosDir, "id", norm(q), K, exact = true)),
    "hnsw_metric_dot" -> (q => Hnsw.searchIndexMetric(spark, l2Dir, "id", q, K, "dot",
      efSearch = Ef)),
    "coded_sq8" -> (q => CodedHnsw.searchIndex(spark, sq8Dir, table, "id", "embedding",
      q, K, sq8, efSearch = Ef)),
    "incr" -> (q => IncrHnsw.search(spark, incrName, segDir, "id", q, K, efSearch = Ef)),
    "incr_exact" -> (q => IncrHnsw.search(spark, incrName, segDir, "id", q, K, exact = true)),
    "sql_topk" -> (q => topkStatement(q)))

  private val locked = Map(
    "hnsw_l2" ->
      "3e63bd3bbca935e4c051631991a8b5ebecea2630da2b8c2029cdd485cb289e82",
    "hnsw_l2_exact" ->
      "63cba1aeae75a46eab15eca66831969fe8ac00a5d31c29d3afdd8400136bb16f",
    "hnsw_cos" ->
      "70a73563582eaa2750b5cf3df6c0ef72f752f92da326fd21fa46cccc502f7d30",
    "hnsw_cos_exact" ->
      "ee80e8991669df60a324c980074e22d72fee905a409af975e9a28c77a2a16a43",
    "hnsw_metric_dot" ->
      "25a0cae26f1a4f30f150db4f9c846b5214f2ef4281989dd14d5b820793c56095",
    "coded_sq8" ->
      "e3b0ea62646cb2cf801b1e141c1b86e3634ec3acd16d345f249e2dea9f9032bc",
    "incr" ->
      "cf6afb0641f47dc832c489a39d110e29b7eba24f32c55778c25e89b1790032de",
    "incr_exact" ->
      "cf6afb0641f47dc832c489a39d110e29b7eba24f32c55778c25e89b1790032de",
    "sql_topk" ->
      "7cd65b224b056d1a3c7be711c00280b02fa5072ed4538dde58d08e44ff9d35e2")

  private def rowsOf(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def digest(results: Seq[Seq[(Long, Double)]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(16)
    results.foreach(_.foreach { case (id, d) =>
      buf.clear()
      buf.putLong(id).putLong(java.lang.Double.doubleToRawLongBits(d))
      md.update(buf.array())
    })
    md.digest().map("%02x".format(_)).mkString
  }

  /** Jobs started while `body` runs on this thread, counted by job group.
    * A sentinel job in a second group flushes the listener bus: events
    * arrive in order, so once the sentinel's start is seen, every start
    * of `body`'s group has been too. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val group = s"resident-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    val counted = new AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => counted.incrementAndGet()
          case Some(`sentinel`) => flushed.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "resident search", interruptOnCancel = false)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "listener flush", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the sentinel job")
      (out, counted.get)
    } finally sc.removeSparkListener(listener)
  }

  test("driver-side searches return rows bit-identical to the per-query job") {
    val plan = withRewrite(topkStatement(queries.head).queryExecution.optimizedPlan.toString)
    assert(!plan.contains("embeddings.parquet"), s"top-k did not rewrite:\n$plan")
    val got = searches.map { case (name, run) =>
      name -> within(name)(digest(queries.map(q => rowsOf(run(q)))))
    }
    got.foreach { case (name, d) => info(s"$name $d") }
    got.foreach { case (name, d) => assert(d == locked(name), name) }
  }

  test("collecting an unfiltered graph search runs no Spark job") {
    for ((name, run) <- searches; q <- queries) within(name) {
      val df = run(q)
      val (rows, jobs) = jobsDuring(df.collect())
      assert(rows.length == K, name)
      // the coded search's exact rerank re-reads the table by id
      if (name == "coded_sq8") assert(jobs > 0, name)
      else assert(jobs == 0, s"$name ran $jobs job(s) in collect()")
    }
    // the coded frontier itself is local: building the search runs no job
    val (_, buildJobs) = jobsDuring(CodedHnsw.searchIndex(spark, sq8Dir, table,
      "id", "embedding", queries.head, K, sq8))
    assert(buildJobs == 0, s"coded search build ran $buildJobs job(s)")
    val plan = withRewrite(topkStatement(queries.head).queryExecution.executedPlan)
    assert(plan.collectLeaves().forall(_.nodeName == "LocalTableScan"),
      s"rewritten top-k is not a local scan:\n$plan")
  }

  test("equal distances come back in id order across graph files") {
    import spark.implicits._
    // duplicate vectors at +e0 (even ids) and -e0 (odd ids), one graph
    // file each: the origin is at l2sq 1.0 from every row, so the order
    // of the answer is decided by id alone, across the two files
    val rows = (0L until 40L).map { i =>
      (i, Array.tabulate(4)(j => if (j > 0) 0f else if (i % 2 == 0) 1f else -1f))
    }
    val tdir = Files.createTempDirectory("graft_resident_ties").toString
    val gdir = Hnsw.ensure(spark, "resident_ties", rows.toDF("id", "embedding"), tdir,
      "id", "embedding", "l2", parts = 2, efConstruction = 32)
    try {
      val files = new java.io.File(gdir).listFiles().filter(_.getName.startsWith("graph-"))
      val parity = files.map { f =>
        Hnsw.GraphCache.get(f.getAbsolutePath, spark.sparkContext.hadoopConfiguration)
          .ids.map(_ % 2).toSet
      }
      assert(parity.toSet == Set(Set(0L), Set(1L)), "the two sides must be separate files")
      val origin = Array.fill(4)(0f)
      // exact: every row ties, so the answer is the smallest ids of both files
      assert(rowsOf(Hnsw.searchIndex(spark, gdir, "id", origin, 6, exact = true)) ==
        (0L until 6L).map(i => (i, 1.0)))
      // approximate: which tied rows a beam keeps is the walk's choice,
      // but they still come back in id order
      val approx = rowsOf(Hnsw.searchIndex(spark, gdir, "id", origin, 6, efSearch = 64))
      assert(approx.length == 6 && approx.forall(_._2 == 1.0), approx)
      assert(approx.map(_._1) == approx.map(_._1).sorted, approx)
      assert(approx.map(_._1 % 2).toSet == Set(0L, 1L), approx)
    } finally IndexCatalog.drop(spark, "resident_ties")
  }

  test("the merge orders like Spark: -0.0 equals 0.0, NaN last, ties by id") {
    val perFile = Map(
      "a" -> Seq((5L, Double.NaN), (4L, 0.0), (9L, 1.0)),
      "b" -> Seq((3L, -0.0), (1L, Double.NaN), (2L, 0.0)))
    val df = ResidentSearch.topK(spark, Seq("a", "b"), "id", 5)(perFile(_).iterator)
    assert(df.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val got = rowsOf(df)
    assert(got.map(_._1) == Seq(2L, 3L, 4L, 9L, 1L), got)
    assert(got.map(_._1) == rowsOf(spark.createDataFrame(perFile.values.flatten.toSeq)
      .toDF("id", "dist").orderBy(col("dist"), col("id")).limit(5)).map(_._1))
  }
}
