package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.index.IndexCatalog
import graft.operators.{Hnsw, IvfIndex, PartitionedIndex}
import graft.plans.AnnPushdown

/** Single-query IVF top-k runs on the driver over the probed lists held
  * in [[Hnsw.GraphCache]] and comes back as a local relation.
  *
  * The locked digests are SHA-256 over the (id, dist bits) rows of 3
  * seeded queries, produced by the per-statement Spark job that preceded
  * the driver-side scan over this same fixture: the resident search must
  * return bit-identical rows, with the same result schema. Building and
  * collecting an unfiltered search must run no Spark job, cold or warm.
  * The artifacts are written from fixed centroids (no k-means), so their
  * lists do not depend on a training run. */
class ResidentIvfSpec extends SparkSpec {
  private val Dims = 16
  private val K = 10
  private val NList = 8
  private val Probes = 3

  private lazy val dir = Files.createTempDirectory("graft_resident_ivf").toString
  private lazy val rows: Seq[(Long, Array[Float])] = {
    val rnd = new java.util.Random(7)
    val centers = Array.fill(5)(Array.fill(Dims)((rnd.nextGaussian() * 1.5).toFloat))
    val base = (0 until 1500).map { i =>
      val c = centers(i % 5)
      (i.toLong * 7 + 3, Array.tabulate(Dims)(j => (c(j) + rnd.nextGaussian()).toFloat))
    }
    // every 50th row repeats an earlier row's vector: equal distances
    // within a list, decided by id
    base.indices.map(i => if (i % 50 == 49) (base(i)._1, base(i - 25)._2) else base(i))
  }
  private lazy val queries: Seq[Array[Float]] = {
    val rnd = new java.util.Random(99)
    Seq.fill(3)(Array.fill(Dims)((rnd.nextGaussian() * 1.5).toFloat))
  }
  private lazy val centroids: Array[Array[Float]] = {
    val rnd = new java.util.Random(5)
    Array.fill(NList)(Array.fill(Dims)((rnd.nextGaussian() * 1.5).toFloat))
  }

  private def longTable(rs: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    rs.toDF("id", "embedding")
  }
  private def intTable(rs: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    rs.map { case (id, v) => (id.toInt, v) }.toDF("id", "embedding")
  }
  private def writeSource(name: String, df: DataFrame): String = {
    val p = s"$dir/$name.parquet"
    df.write.mode("overwrite").parquet(p)
    p
  }

  /** The IVF build's artifact layout over fixed centroids (cos
    * normalizes rows and centroids, as the build does). */
  private def artifact(df: => DataFrame, source: String, metric: String)(
      dataDir: String): IndexCatalog.Manifest = {
    val cs = if (metric == "cos") centroids.map(IvfIndex.Kernels.normalize) else centroids
    IvfIndex.assign(df, "embedding", IvfIndex.Model(metric, cs))
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(dataDir)
    IndexCatalog.Manifest("ivf", source, metric, Map("nlist" -> NList.toString),
      centroids = cs)
  }

  private def ensureIvf(name: String, source: String, metric: String,
      df: => DataFrame): (IvfIndex.Model, String) = {
    val m = IndexCatalog.ensure(spark, name, source, "ivf")(artifact(df, source, metric))
    (IvfIndex.Model(m.metric, m.centroids), IndexCatalog.dataDir(spark, name))
  }

  private lazy val longSrc = writeSource("long", longTable(rows))
  private lazy val intSrc = writeSource("int", intTable(rows))
  private lazy val indexes: Map[String, (IvfIndex.Model, String)] = {
    Seq("resident_ivf_l2", "resident_ivf_cos", "resident_ivf_dot", "resident_ivf_int")
      .foreach(IndexCatalog.drop(spark, _))
    Map(
      "l2" -> ensureIvf("resident_ivf_l2", longSrc, "l2", longTable(rows)),
      "cos" -> ensureIvf("resident_ivf_cos", longSrc, "cos", longTable(rows)),
      "dot" -> ensureIvf("resident_ivf_dot", longSrc, "dot", longTable(rows)),
      "int" -> ensureIvf("resident_ivf_int", intSrc, "l2", intTable(rows)))
  }

  /** Three sub-indexes of a parent named `resident_ivf_part`, one per
    * `id % 3` slice. */
  private lazy val partValues: Seq[String] = {
    val values = Seq("0", "1", "2")
    values.foreach { v =>
      val sub = PartitionedIndex.subName("resident_ivf_part", v)
      IndexCatalog.drop(spark, sub)
      val slice = rows.filter(_._1 % 3 == v.toLong)
      ensureIvf(sub, writeSource(s"part_$v", longTable(slice)), "l2", longTable(slice))
    }
    values
  }

  private def search(metric: String, nprobe: Int)(q: Array[Float]): DataFrame = {
    val (model, data) = indexes(metric)
    IvfIndex.search(spark, data, model, "id", "embedding", q, K, nprobe)
  }

  private def topkStatement(q: Array[Float]): DataFrame =
    spark.read.parquet(longSrc)
      .select(col("id"), graft.functions.l2sq(col("embedding"), typedLit(q)).as("dist"))
      .orderBy(col("dist")).limit(K)

  /** Run `body` with the l2 index registered for the rewrite at
    * nprobe = [[Probes]]. */
  private def withRewrite[T](body: => T): T = {
    indexes
    AnnPushdown.install(spark)
    AnnPushdown.register(longSrc,
      AnnPushdown.IndexedTable("resident_ivf_l2", "id", "embedding"))
    spark.conf.set("spark.graft.ann.enabled", "true")
    spark.conf.set("spark.graft.ann.nprobe", Probes.toString)
    try body
    finally {
      spark.conf.set("spark.graft.ann.enabled", "false")
      spark.conf.unset("spark.graft.ann.nprobe")
      AnnPushdown.unregister(longSrc)
    }
  }

  /** Every locked search, by name: query => its result frame. */
  private lazy val searches: Seq[(String, Array[Float] => DataFrame)] = Seq(
    "ivf_l2" -> search("l2", Probes),
    "ivf_l2_all" -> search("l2", NList),
    "ivf_cos" -> search("cos", Probes),
    "ivf_cos_all" -> search("cos", NList),
    "ivf_dot" -> search("dot", Probes),
    "ivf_dot_all" -> search("dot", NList),
    "ivf_int" -> search("int", Probes),
    "ivf_part" -> (q => PartitionedIndex.searchIvf(spark, "resident_ivf_part", dir,
      "cat", "id", "embedding", q, K, Probes, values = Some(partValues))),
    "sql_topk" -> topkStatement)

  private def within[T](name: String)(body: => T): T =
    if (name == "sql_topk") withRewrite(body) else body

  private val locked = Map(
    "ivf_l2" ->
      "0d28caddd70ed87d27932fd13c73cf8f94d09d3c9840351a6c94065647e42464",
    "ivf_l2_all" ->
      "9a61bfba2d04141f05d6c865169d90349c42e7cef5ee838a450ad615c2d142dd",
    "ivf_cos" ->
      "6acb38c434b2a63dc9fa522221ceb8db2acb71829fbd6cbeb0f7f68af467b20e",
    "ivf_cos_all" ->
      "bac4004012c7d0b33d1f5408465ebf760fc183df8729323ab2b479f7f099235e",
    "ivf_dot" ->
      "6d4b90072a7d1ac0f1d876ef7ba276ff9310f13597aa3fa1fed5b443f96cd749",
    "ivf_dot_all" ->
      "c9d47559445b515897ed50b09c6a842e3caf7bbb26c963cb3345873a415ad2dd",
    "ivf_int" ->
      "0d28caddd70ed87d27932fd13c73cf8f94d09d3c9840351a6c94065647e42464",
    "ivf_part" ->
      "0d28caddd70ed87d27932fd13c73cf8f94d09d3c9840351a6c94065647e42464",
    "sql_topk" ->
      "0d28caddd70ed87d27932fd13c73cf8f94d09d3c9840351a6c94065647e42464")

  /** The result schemas the per-statement job returned. */
  private val lockedSchema = Map(
    "ivf_l2" -> ("""{"type":"struct","fields":[""" +
      """{"name":"id","type":"long","nullable":true,"metadata":{}},""" +
      """{"name":"dist","type":"double","nullable":true,"metadata":{}}]}"""),
    "ivf_int" -> ("""{"type":"struct","fields":[""" +
      """{"name":"id","type":"integer","nullable":true,"metadata":{}},""" +
      """{"name":"dist","type":"double","nullable":true,"metadata":{}}]}"""))

  private def rowsOf(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.get(0).asInstanceOf[Number].longValue, r.getDouble(1))).toSeq

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

  private def digestOf(run: Array[Float] => DataFrame): String =
    digest(queries.map(q => rowsOf(run(q))))

  /** Jobs started while `body` runs on this thread, counted by job group.
    * A sentinel job in a second group flushes the listener bus: events
    * arrive in order, so once the sentinel's start is seen, every start
    * of `body`'s group has been too. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val group = s"resident-ivf-${java.util.UUID.randomUUID()}"
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
      sc.setJobGroup(group, "resident ivf search", interruptOnCancel = false)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "listener flush", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the sentinel job")
      (out, counted.get)
    } finally sc.removeSparkListener(listener)
  }

  test("resident IVF searches return the per-statement job's rows and schema") {
    val got = searches.map { case (name, run) => name -> within(name)(digestOf(run)) }
    got.foreach { case (name, d) => info(s"$name $d") }
    val schemas = lockedSchema.keys.toSeq.sorted.map { name =>
      name -> searches.toMap.apply(name)(queries.head).schema.json
    }
    schemas.foreach { case (name, s) => info(s"schema $name $s") }
    got.foreach { case (name, d) => assert(d == locked(name), name) }
    schemas.foreach { case (name, s) => assert(s == lockedSchema(name), name) }
  }

  test("building and collecting an unfiltered IVF search runs no Spark job, cold or warm") {
    for ((name, run) <- searches; cold <- Seq(true, false); q <- queries) within(name) {
      // the statement's own `spark.read.parquet` infers a schema with a
      // job, so it is built first; its collect() runs the rewrite
      val stmt = if (name == "sql_topk") Some(run(q)) else None
      if (cold) Hnsw.GraphCache.clearForTest()
      val (rows, jobs) = jobsDuring(stmt.getOrElse(run(q)).collect())
      assert(rows.length == K, name)
      assert(jobs == 0, s"$name (cold = $cold) ran $jobs job(s)")
    }
    val plan = withRewrite(topkStatement(queries.head).queryExecution.executedPlan)
    assert(plan.collectLeaves().forall(_.nodeName == "LocalTableScan"),
      s"rewritten IVF top-k is not a local scan:\n$plan")
  }

  test("a cold search loads each probed list file once and no other list") {
    val (model, data) = indexes("l2")
    val q = queries.head
    def dataFiles(l: Int) = Option(new java.io.File(s"$data/list_id=$l").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .count(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    val probed = model.rankLists(q).take(Probes)
    assert(probed.map(dataFiles).sum > 0 && (0 until NList).map(dataFiles).sum > probed.map(dataFiles).sum)
    Hnsw.GraphCache.clearForTest()
    val (_, l0) = Hnsw.GraphCache.counters
    search("l2", Probes)(q).collect()
    val (_, l1) = Hnsw.GraphCache.counters
    assert(l1 - l0 == probed.map(dataFiles).sum)
    assert(Hnsw.GraphCache.residentCount == probed.map(dataFiles).sum)
    search("l2", Probes)(q).collect()
    assert(Hnsw.GraphCache.counters._2 == l1, "a warm search reloaded a list")
  }

  test("a 1-byte cache budget still returns the locked rows") {
    Hnsw.GraphCache.setBudgetForTest(1L)
    try searches.foreach { case (name, run) =>
      assert(within(name)(digestOf(run)) == locked(name), name)
    } finally Hnsw.GraphCache.setBudgetForTest(-1L)
  }

  test("an in-place rebuild and a REINDEX serve the new rows") {
    val name = "resident_ivf_rebuild"
    IndexCatalog.drop(spark, name)
    val q = queries.head
    def exact(rs: Seq[(Long, Array[Float])]): Seq[(Long, Double)] =
      rs.map { case (id, v) => (id, IvfIndex.Kernels.l2sq(v, q)) }
        .sortBy(r => (r._2, r._1))(Ordering.Tuple2(Ordering.Double.TotalOrdering,
          Ordering.Long)).take(K)
    def searched(): Seq[(Long, Double)] = {
      val m = IndexCatalog.load(spark, name).get
      rowsOf(IvfIndex.search(spark, IndexCatalog.dataDir(spark, name),
        IvfIndex.Model(m.metric, m.centroids), "id", "embedding", q, K, NList))
    }
    try {
      val (_, first) = ensureIvf(name, writeSource("rebuild_a", longTable(rows)), "l2",
        longTable(rows))
      assert(searched() == exact(rows))
      // a new source rebuilds into the same data dir
      val moved = rows.map { case (id, v) => (id + 1, v.map(_ * 0.5f)) }
      val (_, second) = ensureIvf(name, writeSource("rebuild_b", longTable(moved)), "l2",
        longTable(moved))
      assert(second == first)
      assert(searched() == exact(moved))
      // REINDEX swaps in a data-r<gen> dir
      val again = rows.map { case (id, v) => (id + 2, v.map(_ * 2f)) }
      IndexCatalog.reindex(spark, name)(artifact(longTable(again),
        IndexCatalog.load(spark, name).get.source, "l2"))
      assert(IndexCatalog.dataDir(spark, name) != first)
      assert(searched() == exact(again))
    } finally IndexCatalog.drop(spark, name)
  }

  test("a search whose probed lists hold no rows keeps the artifact's schema") {
    val data = s"$dir/empty_list_artifact"
    // a ninth centroid far from every row: its list has no files
    val far = Array.fill(Dims)(1000f)
    val model = IvfIndex.Model("l2", centroids :+ far)
    IvfIndex.assign(intTable(rows), "embedding", model)
      .write.mode("overwrite").partitionBy("list_id").parquet(data)
    assert(!new java.io.File(s"$data/list_id=$NList").exists())
    val (df, jobs) = jobsDuring(IvfIndex.search(spark, data, model, "id", "embedding",
      far, K, 1))
    assert(jobs == 0)
    assert(df.collect().isEmpty)
    assert(df.schema.json == lockedSchema("ivf_int"))
  }

  test("a stored row of other dims throws the kernel's dimension error") {
    import spark.implicits._
    val data = s"$dir/dims_artifact"
    (rows.take(20) :+ (99999L, Array.fill(Dims - 1)(0.5f))).toDF("id", "embedding")
      .withColumn("list_id", lit(0)).write.mode("overwrite").partitionBy("list_id")
      .parquet(data)
    val model = IvfIndex.Model("l2", Array(Array.fill(Dims)(0f)))
    val e = intercept[Exception] {
      IvfIndex.search(spark, data, model, "id", "embedding", queries.head, K, 1).collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("vectors differ in dimensions")), e)
  }
}
