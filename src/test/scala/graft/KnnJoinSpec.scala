package graft

import org.apache.spark.sql.functions._
import graft.operators.{BvecPayload, F16Payload, Hnsw, IvfIndex, KnnJoin,
  KnnJoinKernels, SvecPayload}
import org.apache.spark.sql.catalyst.util.GenericArrayData

class KnnJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ivf(d: String) =
    graft.queries.AnnQueries.ivf(spark, d, "l2")

  test("exact knn join equals the brute-force cross product") {
    val (m, path) = ivf(sf0001)
    val queries = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") % 25 === 0)
    val got = KnnJoin.join(spark, queries, "vec_id", "embedding", path, m,
      "vec_id", "embedding", k = 5, nprobe = m.nlist)
      .select("qid", "vec_id", "rn").as[(Long, Long, Int)].collect().toSet

    import org.apache.spark.sql.expressions.Window
    val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col("cid"))
    val want = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .crossJoin(corpus)
      .select(col("qid"), col("cid"),
        graft.functions.l2sq(col("cv"), col("qv")).as("dist"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("qid", "cid", "rn").as[(Long, Long, Int)].collect().toSet
    assert(got == want)
  }

  test("MaxSim table-valued join: exact == Σ-of-maxes brute force; " +
      "exhaustive candidates reproduce it; bounded candidates keep recall") {
    import graft.operators.MaxSimJoin
    val (m, path) = ivf(sf0001)
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val corpus = e.filter(col("vec_id") >= 40)
      .select(expr("vec_id div 4").as("gid"), col("vec_id"), col("embedding"))
    val qdocs = e.filter(col("vec_id") < 40)
      .select(expr("vec_id div 4").as("qdoc"),
        (col("vec_id") % 4).as("qpos"), col("embedding"))
    val exact = MaxSimJoin.joinExact(spark, qdocs, "qdoc", "qpos",
      "embedding", positions = 4, corpus, "gid", "embedding", k = 5)
      .select("qdoc", "gid").as[(Long, Long)].collect().toSet
    // independent brute-force spelling: per-(qdoc,gid,qpos) max over an
    // explicit pair frame, then the fixed 4-term sum
    import org.apache.spark.sql.expressions.Window
    val pairs = corpus.select(col("gid"), col("embedding").as("dv"))
      .crossJoin(qdocs.select(col("qdoc"), col("qpos"), col("embedding").as("qv")))
      .select(col("qdoc"), col("gid"), col("qpos"),
        (-graft.functions.negdot(col("dv"), col("qv"))).as("dotv"))
      .groupBy(col("qdoc"), col("gid"), col("qpos"))
      .agg(max(col("dotv")).as("mx"))
    def pm(i: Int) = max(when(col("qpos") === i, col("mx"))).as(s"m$i")
    val w = Window.partitionBy(col("qdoc")).orderBy(col("score").desc, col("gid"))
    val want = pairs.groupBy(col("qdoc"), col("gid"))
      .agg(pm(0), pm(1), pm(2), pm(3))
      .select(col("qdoc"), col("gid"),
        (col("m0") + col("m1") + col("m2") + col("m3")).as("score"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("qdoc", "gid").as[(Long, Long)].collect().toSet
    assert(exact == want, "joinExact must equal the brute-force spelling")
    // exhaustive candidates (kPerPos >= corpus rows, nprobe = nlist):
    // every gid is a candidate, so the approximate path must reproduce
    // the exact join verbatim
    val full = MaxSimJoin.join(spark, qdocs, "qdoc", "qpos", "embedding",
      positions = 4, path, m, corpus, "gid", "vec_id", "embedding",
      k = 5, kPerPos = 100, nprobe = m.nlist)
      .select("qdoc", "gid").as[(Long, Long)].collect().toSet
    assert(full == exact, "exhaustive candidates must reproduce exact")
    // bounded candidates: pair recall against exact
    val approx = MaxSimJoin.join(spark, qdocs, "qdoc", "qpos", "embedding",
      positions = 4, path, m, corpus, "gid", "vec_id", "embedding",
      k = 5, kPerPos = 20, nprobe = m.nlist)
      .select("qdoc", "gid").as[(Long, Long)].collect().toSet
    val rec = (approx & exact).size.toDouble / exact.size
    info(s"maxsim join pair recall (kPerPos=20) = $rec")
    assert(rec >= 0.8, s"maxsim join recall $rec")
    // HNSW-backed candidate pass (round 11): on the single-graph
    // artifact with ef >= n the beam IS the exact per-token top-k, so
    // the candidate set equals the IVF nprobe=nlist form's and the
    // rescore must reproduce exact verbatim
    val hnsw1 = graft.queries.AnnQueries.hnsw(spark, sf0001, 1)
    val fullH = MaxSimJoin.joinHnsw(spark, qdocs, "qdoc", "qpos",
      "embedding", positions = 4, hnsw1, "vec_id", corpus, "gid",
      "embedding", k = 5, kPerPos = 100, efSearch = 500)
      .select("qdoc", "gid").as[(Long, Long)].collect().toSet
    assert(fullH == exact, "HNSW exhaustive candidates must reproduce exact")
    // routed bounded candidates (the q_maxsim_hnsw_join shape) keep recall
    val hnsw4 = graft.queries.AnnQueries.hnsw(spark, sf0001, 4)
    val approxH = MaxSimJoin.joinHnsw(spark, qdocs, "qdoc", "qpos",
      "embedding", positions = 4, hnsw4, "vec_id", corpus, "gid",
      "embedding", k = 5, kPerPos = 40, efSearch = 100, probeGraphs = 2)
      .select("qdoc", "gid").as[(Long, Long)].collect().toSet
    val recH = (approxH & exact).size.toDouble / exact.size
    info(s"maxsim HNSW join pair recall (kPerPos=40, 2-of-4) = $recH")
    assert(recH >= 0.8, s"maxsim hnsw join recall $recH")
  }

  test("MaxSim join drops partial query docs instead of NULL scores") {
    import graft.operators.MaxSimJoin
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val corpus = e.filter(col("vec_id") >= 40)
      .select(expr("vec_id div 4").as("gid"), col("embedding"))
    // qdoc 2 loses its qpos=1 token (the null/non-finite-filtered shape)
    val qdocs = e.filter(col("vec_id") < 40)
      .filter(!(col("vec_id") === 9)) // 9 div 4 = 2, 9 % 4 = 1
      .select(expr("vec_id div 4").as("qdoc"),
        (col("vec_id") % 4).as("qpos"), col("embedding"))
    val res = MaxSimJoin.joinExact(spark, qdocs, "qdoc", "qpos",
      "embedding", positions = 4, corpus, "gid", "embedding", k = 5)
    assert(res.filter(col("score").isNull).count() === 0,
      "no NULL-scored rows may be emitted")
    assert(res.filter(col("qdoc") === 2).count() === 0,
      "a partial query doc drops entirely")
    assert(res.filter(col("qdoc") === 3).count() === 5,
      "complete query docs are unaffected")
  }

  test("probe kernel reproduces Model.rankLists ordering (radii and raw)") {
    val rnd = new scala.util.Random(7)
    val dims = 16
    val centroids = Array.fill(12)(Array.fill(dims)(rnd.nextFloat()))
    val radii = Array.fill(12)(rnd.nextFloat() * 2f)
    for (metric <- Seq("l2", "cos", "dot"); useRadii <- Seq(true, false)) {
      val m = IvfIndex.Model(metric, centroids, if (useRadii) radii else null)
      for (_ <- 1 to 20) {
        val q0 = Array.fill(dims)(rnd.nextFloat() * 2f - 1f)
        val q = if (metric == "cos") IvfIndex.Kernels.normalize(q0) else q0
        val want = m.rankLists(q0).take(5).toSeq
        val got = KnnJoinKernels.probeLists(
          new GenericArrayData(q.map(x => x: Any)),
          new GenericArrayData(centroids.flatten.map(x => x: Any)),
          new GenericArrayData(
            (if (useRadii) radii else Array.empty[Float]).map(x => x: Any)),
          5, KnnJoinKernels.metricCode(metric), dims).toIntArray().toSeq
        assert(got == want, s"metric=$metric radii=$useRadii")
      }
    }
  }

  test("null and non-finite query vectors produce no output rows") {
    val (m, path) = ivf(sf0001)
    val queries = Seq(
      (900L, Array(0.1f, 0.2f) ++ Array.fill(62)(0.0f)),
      (901L, null.asInstanceOf[Array[Float]]),
      (902L, Array(Float.NaN) ++ Array.fill(63)(0.0f))
    ).toDF("vec_id", "embedding")
    val out = KnnJoin.join(spark, queries, "vec_id", "embedding", path, m,
      "vec_id", "embedding", k = 3, nprobe = m.nlist)
    val qids = out.select("qid").distinct().as[Long].collect().toSet
    assert(qids == Set(900L))
  }

  test("range join equals the brute-force cross filter (exact at any radius)") {
    val (m, path) = ivf(sf0001)
    val queries = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") % 25 === 0)
    val got = KnnJoin.rangeJoin(spark, queries, "vec_id", "embedding",
      path, m, "vec_id", "embedding", r = 1.5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val want = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .crossJoin(corpus)
      .select(col("qid"), col("cid"),
        graft.functions.l2sq(col("cv"), col("qv")).as("dist"))
      .filter(col("dist") <= 1.5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    assert(got == want)
    assert(got.nonEmpty) // self pairs at dist 0 guarantee matches
  }

  test("range kernel keeps exactly the rangeScan lists and prunes when radii are tight") {
    val rnd = new scala.util.Random(11)
    val dims = 8
    // well-separated centroids with small radii: pruning must bite
    val centroids = Array.tabulate(6)(c => Array.tabulate(dims)(i =>
      if (i == c) 10f else 0f))
    val radii = Array.fill(6)(0.25f) // stored as squared radius
    for (metric <- Seq("l2", "cos", "dot")) {
      val mc = KnnJoinKernels.metricCode(metric)
      for (_ <- 1 to 30) {
        val q0 = Array.fill(dims)(rnd.nextFloat() * 4f - 2f)
        val q = if (metric == "cos") IvfIndex.Kernels.normalize(q0) else q0
        val r = rnd.nextDouble() * 4.0
        val got = KnnJoinKernels.rangeLists(
          new GenericArrayData(q.map(x => x: Any)),
          new GenericArrayData(centroids.flatten.map(x => x: Any)),
          new GenericArrayData(radii.map(x => x: Any)),
          r, mc, dims).toIntArray().toSet
        // replicate the driver-side rangeScan{,Cos,Dot} list filters
        val qn = math.sqrt(IvfIndex.Kernels.dot(q, q))
        val want = centroids.indices.filter { i =>
          val rad = math.sqrt(radii(i).toDouble)
          metric match {
            case "l2" =>
              math.sqrt(IvfIndex.Kernels.l2sq(centroids(i), q)) - rad <= math.sqrt(r) + 1e-9
            case "cos" =>
              1.0 - IvfIndex.Kernels.dot(centroids(i), q) - rad <= r + 1e-6
            case _ =>
              -(IvfIndex.Kernels.dot(centroids(i), q) + rad * qn) <= r + 1e-9
          }
        }.toSet
        assert(got == want, s"metric=$metric r=$r")
      }
    }
    // l2, small radius near one centroid: only that list survives
    val near0 = centroids(0).clone(); near0(1) = 0.1f
    val one = KnnJoinKernels.rangeLists(
      new GenericArrayData(near0.map(x => x: Any)),
      new GenericArrayData(centroids.flatten.map(x => x: Any)),
      new GenericArrayData(radii.map(x => x: Any)),
      1.0, KnnJoinKernels.L2, dims).toIntArray().toSet
    assert(one == Set(0))
  }

  test("range join without radii stats keeps every list (still exact)") {
    val m = IvfIndex.Model("l2",
      Array(Array(0f, 0f), Array(1f, 1f), Array(2f, 2f)), null)
    val all = KnnJoinKernels.rangeLists(
      new GenericArrayData(Array(0.5f, 0.5f).map(x => x: Any)),
      new GenericArrayData(m.centroids.flatten.map(x => x: Any)),
      new GenericArrayData(Array.empty[Float].map(x => x: Any)),
      0.01, KnnJoinKernels.L2, 2).toIntArray().toSet
    assert(all == Set(0, 1, 2))
  }

  test("typed probe kernel reproduces TypedAnn.rankLists (l2/dot with radii, raw cos)") {
    import graft.operators.TypedAnn
    val rnd = new scala.util.Random(23)
    val dims = 12
    val centroids = Array.fill(10)(Array.fill(dims)(rnd.nextFloat() * 2f - 1f))
    val radii = Array.fill(10)(rnd.nextFloat() * 2f)
    // hamming/jaccard map to the l2 bounds; cos maps to cosraw (radii
    // ignored) — the joinTyped rankMetric table
    for ((metric, code) <- Seq("l2" -> "l2", "hamming" -> "l2",
        "dot" -> "dot", "cos" -> "cosraw"); useRadii <- Seq(true, false)) {
      val m = IvfIndex.Model("l2", centroids, if (useRadii) radii else null)
      for (_ <- 1 to 20) {
        val q = Array.fill(dims)(rnd.nextFloat() * 2f - 1f)
        val want = TypedAnn.rankLists(m, q, metric).take(4).toSeq
        val got = KnnJoinKernels.probeLists(
          new GenericArrayData(q.map(x => x: Any)),
          new GenericArrayData(centroids.flatten.map(x => x: Any)),
          new GenericArrayData(
            (if (useRadii) radii else Array.empty[Float]).map(x => x: Any)),
          4, KnnJoinKernels.metricCode(code), dims).toIntArray().toSeq
        assert(got == want, s"metric=$metric radii=$useRadii")
      }
    }
  }

  test("typed table joins: exact mode equals each family's brute force") {
    import graft.operators.KnnJoin
    import graft.functions._
    import org.apache.spark.sql.expressions.Window
    def spar(c: org.apache.spark.sql.Column) =
      transform(c, x => when(abs(x) > lit(0.15), x).otherwise(lit(0.0f)))
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col("cid"))

    // bvec hamming
    locally {
      val (m, path) = graft.queries.AnnQueries.bvecAnn(spark, sf0001)
      val qs = emb.filter(col("vec_id") % 25 === 0)
      val got = KnnJoin.joinTyped(spark, qs, "vec_id", "embedding", path, m,
        "vec_id", BvecPayload, k = 5, nprobe = m.nlist)
        .select("qid", "vec_id", "rn").as[(Long, Long, Int)].collect().toSet
      val want = qs.select(col("vec_id").as("qid"), col("embedding").as("qv"))
        .crossJoin(emb.select(col("vec_id").as("cid"), col("embedding").as("cv")))
        .select(col("qid"), col("cid"),
          bvecHamming(binarize(col("cv")), binarize(col("qv"))).as("dist"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select("qid", "cid", "rn").as[(Long, Long, Int)].collect().toSet
      assert(got == want, "bvec")
    }
    // svec l2 (CSR ≡ dense l2 on the sparsified views)
    locally {
      val (m, path) = graft.queries.AnnQueries.svecAnn(spark, sf0001)
      val qs = emb.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id"), spar(col("embedding")).as("qd"))
      val got = KnnJoin.joinTyped(spark, qs, "vec_id", "qd", path, m,
        "vec_id", SvecPayload, k = 5, nprobe = m.nlist)
        .select("qid", "vec_id", "rn").as[(Long, Long, Int)].collect().toSet
      val want = qs.select(col("vec_id").as("qid"), col("qd").as("qv"))
        .crossJoin(emb.select(col("vec_id").as("cid"),
          spar(col("embedding")).as("cv")))
        .select(col("qid"), col("cid"), l2sq(col("cv"), col("qv")).as("dist"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select("qid", "cid", "rn").as[(Long, Long, Int)].collect().toSet
      assert(got == want, "svec")
    }
    // f16 l2 over the 4-dim customer features
    locally {
      val (m, path) = graft.queries.AnnQueries.f16Ann(spark, sf0001)
      val cust = spark.read.parquet(s"$sf0001/customer.parquet")
        .select(col("c_custkey"), array(col("c_nationkey").cast("float"),
          (col("c_custkey") % 100).cast("float"),
          (col("c_custkey") % 7).cast("float"),
          (col("c_custkey") % 13).cast("float")).as("v4"))
      val qs = cust.filter(col("c_custkey") % 25 === 0)
      val got = KnnJoin.joinTyped(spark, qs, "c_custkey", "v4", path, m,
        "c_custkey", F16Payload, k = 5, nprobe = m.nlist)
        .select("qid", "c_custkey", "rn").as[(Long, Long, Int)].collect().toSet
      val want = qs.select(col("c_custkey").as("qid"), col("v4").as("qv"))
        .crossJoin(cust.select(col("c_custkey").as("cid"), col("v4").as("cv")))
        .select(col("qid"), col("cid"),
          f16L2sq(toF16Bits(col("cv")), toF16Bits(col("qv"))).as("dist"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select("qid", "cid", "rn").as[(Long, Long, Int)].collect().toSet
      assert(got == want, "f16")
    }
  }

  test("hard negatives: self excluded, ranks dense 1..n, matches brute force") {
    val (m, path) = ivf(sf0001)
    val queries = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") % 25 === 0)
    val got = KnnJoin.hardNegatives(spark, queries, "vec_id", "embedding",
      path, m, "vec_id", "embedding", nNeg = 5, nprobe = m.nlist)
    val rows = got.select("qid", "vec_id", "neg_rank")
      .as[(Long, Long, Int)].collect()
    assert(rows.forall { case (q, c, _) => q != c }) // no self matches
    val perAnchor = rows.groupBy(_._1)
    assert(perAnchor.values.forall(_.map(_._3).sorted.toSeq == Seq(1, 2, 3, 4, 5)))

    // brute force: top-5 excluding self (fixture has no duplicate
    // vectors, so drop-self-then-rank == rank-then-drop-self here)
    import org.apache.spark.sql.expressions.Window
    val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col("cid"))
    val want = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .crossJoin(corpus).filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        graft.functions.l2sq(col("cv"), col("qv")).as("dist"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("qid", "cid", "rn").as[(Long, Long, Int)].collect().toSet
    assert(rows.map { case (q, c, r) => (q, c, r) }.toSet == want)
  }

  test("hnsw knn join: exact mode equals brute force; walk mode has high recall") {
    val path1 = graft.queries.AnnQueries.hnsw(spark, sf0001, 1)
    val path4 = graft.queries.AnnQueries.hnsw(spark, sf0001, 4)
    val queries = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") % 25 === 0)
    val got = Hnsw.knnJoin(spark, path1, "vec_id", queries, "vec_id",
      "embedding", k = 5, exact = true)
      .select("qid", "vec_id", "rn").as[(Long, Long, Int)].collect().toSet

    import org.apache.spark.sql.expressions.Window
    val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col("cid"))
    val want = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .crossJoin(corpus)
      .select(col("qid"), col("cid"),
        graft.functions.l2sq(col("cv"), col("qv")).as("dist"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("qid", "cid", "rn").as[(Long, Long, Int)].collect().toSet
    assert(got == want)

    // multi-graph walk mode: union of per-graph beams, judged by recall
    val exactIds = want.map { case (q, c, _) => (q, c) }
    val approx = Hnsw.knnJoin(spark, path4, "vec_id", queries, "vec_id",
      "embedding", k = 5, efSearch = 100)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val recall = approx.intersect(exactIds).size.toDouble / exactIds.size
    assert(recall >= 0.95, s"recall@5 = $recall")
  }

  test("routed hnsw join: sidecar aligns, range join stays exact, " +
      "top-g recall high on clustered data, exact mode ignores routing") {
    // 4 well-separated blobs: spatial k-means partitioning recovers
    // them, so routing bounds carry real pruning power (the fixture
    // shape routing is FOR — hash-partitioned graphs bound nothing)
    val dims = 8; val nPer = 120
    val rnd = new scala.util.Random(7)
    val rows = (0 until 4).flatMap { c =>
      (0 until nPer).map { i =>
        val v = Array.tabulate(dims)(j =>
          (if (j == c * 2) 10f * (c + 1) else 0f) + rnd.nextFloat() * 0.5f)
        (c.toLong * 1000 + i, v)
      }
    }
    val src = java.nio.file.Files.createTempDirectory("graft_routed").toString
    rows.toDF("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(src)
    val name = "routedspec_hnsw"
    graft.index.IndexCatalog.drop(spark, name)
    val path = Hnsw.ensure(spark, name, spark.read.parquet(src), src,
      "vec_id", "embedding", "l2", parts = 4)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.globStatus(
        new org.apache.hadoop.fs.Path(path, "graph-*.bin"))
      .map(_.getPath.toString).sorted.toSeq
    val routing = Hnsw.Routing.read(fs, new org.apache.hadoop.fs.Path(path))
    assert(routing.isDefined, "routing sidecar missing after spatial ensure")
    val (met, ents) = routing.get
    assert(met == "l2")
    assert(Hnsw.Routing.align(files, ents).isDefined,
      "routing entries do not cover every graph file")

    val queries = spark.read.parquet(src).filter(col("vec_id") % 7 === 0)
    import org.apache.spark.sql.expressions.Window
    val corpus = spark.read.parquet(src)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val qd = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .crossJoin(corpus)
      .select(col("qid"), col("cid"),
        graft.functions.l2sq(col("cv"), col("qv")).as("dist"))

    // range join: routed pruning is SOUND — pairs equal the brute force
    // at a radius where most graphs are provably unreachable per query
    val gotRange = Hnsw.rangeJoin(spark, path, "vec_id", queries,
      "vec_id", "embedding", r = 2.0)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val wantRange = qd.filter(col("dist") < 2.0)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    assert(gotRange == wantRange, "routed range join diverged from brute force")

    // top-g routing: g=1 of 4 on separated blobs keeps (pair) recall ~1
    val want = qd.withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist"), col("cid"))))
      .filter(col("rn") <= 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val routed = Hnsw.knnJoin(spark, path, "vec_id", queries, "vec_id",
      "embedding", k = 5, probeGraphs = 1)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val recall = routed.intersect(want).size.toDouble / want.size
    assert(recall >= 0.9, s"routed pair recall@5 = $recall")

    // exact mode NEVER routes: probeGraphs is ignored and the per-graph
    // flat-scan union equals the brute force — the oracle contract
    val exactRouted = Hnsw.knnJoin(spark, path, "vec_id", queries,
      "vec_id", "embedding", k = 5, exact = true, probeGraphs = 1)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    assert(exactRouted == want, "exact mode must ignore probeGraphs")

    // scalar searchIndex routes the same way: driver-side graph ranking,
    // top-1-of-4 on separated blobs keeps recall ~1; exact never routes
    val q0 = rows.head._2
    val exactTop = Hnsw.searchIndex(spark, path, "vec_id", q0, k = 10,
        exact = true, probeGraphs = 1)
      .collect().map(_.getLong(0)).toSet
    val bruteTop = spark.read.parquet(src)
      .select(col("vec_id"),
        graft.functions.l2sq(col("embedding"), typedLit(q0)).as("d"))
      .orderBy(col("d"), col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    assert(exactTop == bruteTop, "exact searchIndex must ignore probeGraphs")
    val routedTop = Hnsw.searchIndex(spark, path, "vec_id", q0, k = 10,
        probeGraphs = 1)
      .collect().map(_.getLong(0)).toSet
    val sRecall = routedTop.intersect(bruteTop).size.toDouble / bruteTop.size
    assert(sRecall >= 0.9, s"routed scalar recall@10 = $sRecall")
    graft.index.IndexCatalog.drop(spark, name)
  }

  test("AutoProbe: ⌈√G⌉ floor-2 policy, auto == explicit g, exact ignores it") {
    // the policy itself — sublinear in G, floor 2, matching the round-8
    // measured 2-of-4 routed setting at G=4
    assert(Hnsw.autoProbeGraphs(1) == 1)
    assert(Hnsw.autoProbeGraphs(2) == 2)
    assert(Hnsw.autoProbeGraphs(4) == 2)
    assert(Hnsw.autoProbeGraphs(9) == 3)
    assert(Hnsw.autoProbeGraphs(16) == 4)
    assert(Hnsw.autoProbeGraphs(100) == 10)

    val dims = 8; val nPer = 60
    val rnd = new scala.util.Random(11)
    val rows = (0 until 4).flatMap { c =>
      (0 until nPer).map { i =>
        val v = Array.tabulate(dims)(j =>
          (if (j == c * 2) 10f * (c + 1) else 0f) + rnd.nextFloat() * 0.5f)
        (c.toLong * 1000 + i, v)
      }
    }
    val src = java.nio.file.Files.createTempDirectory("graft_autoprobe").toString
    rows.toDF("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(src)
    val name = "autoprobespec_hnsw"
    graft.index.IndexCatalog.drop(spark, name)
    val path = Hnsw.ensure(spark, name, spark.read.parquet(src), src,
      "vec_id", "embedding", "l2", parts = 4)
    // this clustered fixture separates: the guard keeps AUTO routed and
    // the manifest surfaces it
    assert(graft.index.IndexCatalog.load(spark, name).get
      .params.get("routable").contains("yes"))
    val queries = spark.read.parquet(src).filter(col("vec_id") % 11 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vec_id").as[(Long, Long)].collect().toSet
    // auto at G=4 resolves to the same deterministic routed result as
    // an explicit probeGraphs=2 — same ranked graph choice per query
    val auto = pairs(Hnsw.knnJoin(spark, path, "vec_id", queries,
      "vec_id", "embedding", k = 5, probeGraphs = Hnsw.AutoProbe))
    val g2 = pairs(Hnsw.knnJoin(spark, path, "vec_id", queries,
      "vec_id", "embedding", k = 5, probeGraphs = 2))
    assert(auto == g2, "AutoProbe(G=4) must equal explicit probeGraphs=2")
    // exact mode never routes, auto or not: equals the brute force
    import org.apache.spark.sql.expressions.Window
    val corpus = spark.read.parquet(src)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val want = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .crossJoin(corpus)
      .select(col("qid"), col("cid"),
        graft.functions.l2sq(col("cv"), col("qv")).as("dist"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist"), col("cid"))))
      .filter(col("rn") <= 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val exactAuto = pairs(Hnsw.knnJoin(spark, path, "vec_id", queries,
      "vec_id", "embedding", k = 5, exact = true,
      probeGraphs = Hnsw.AutoProbe))
    assert(exactAuto == want, "exact mode must ignore AutoProbe")
    // scalar searchIndex: same resolution
    val q0 = rows.head._2
    val sAuto = Hnsw.searchIndex(spark, path, "vec_id", q0, k = 10,
      probeGraphs = Hnsw.AutoProbe).collect().map(_.getLong(0)).toSeq
    val s2 = Hnsw.searchIndex(spark, path, "vec_id", q0, k = 10,
      probeGraphs = 2).collect().map(_.getLong(0)).toSeq
    assert(sAuto == s2, "scalar AutoProbe(G=4) must equal probeGraphs=2")
    graft.index.IndexCatalog.drop(spark, name)
  }

  test("separability guard: AUTO falls back to all-graphs on a " +
      "non-separated partitioning; explicit g still routes") {
    val dims = 8; val n = 240
    val rnd = new scala.util.Random(17)
    // near-uniform corpus: k-means cannot separate it — covering radii
    // span the corpus while centroids crowd together
    val rows = (0 until n).map { i =>
      (i.toLong, Array.fill(dims)(rnd.nextFloat() * 2f - 1f))
    }
    val src = java.nio.file.Files.createTempDirectory("graft_sepguard").toString
    rows.toDF("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(src)
    val name = "sepguardspec_hnsw"
    graft.index.IndexCatalog.drop(spark, name)
    val path = Hnsw.ensure(spark, name, spark.read.parquet(src), src,
      "vec_id", "embedding", "l2", parts = 4)
    // the sidecar's own geometry says "did not separate"
    val dirPath = new org.apache.hadoop.fs.Path(path)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (_, ents) = Hnsw.Routing.read(fs, dirPath).get
    val aligned = ents.toSeq.sortBy(_._1).map(_._2).toArray
    val sep = Hnsw.Routing.separability(aligned)
    assert(sep > Hnsw.Routing.SepThreshold,
      s"uniform fixture must measure non-separable (got $sep)")
    assert(Hnsw.Routing.autoResolve(Hnsw.AutoProbe, 4, aligned) == 0,
      "AUTO on a non-separable sidecar must resolve to unrouted")
    assert(Hnsw.Routing.autoResolve(2, 4, aligned) == 2,
      "explicit probeGraphs is an informed override — never guarded")
    // manifest surfaces the flag (the q_index_stat contract)
    val mf = graft.index.IndexCatalog.load(spark, name).get
    assert(mf.params.get("routable").contains("no"))
    assert(mf.params.get("routing").contains(graft.operators.Hnsw.RoutingGen))
    // the round-16 advisory: suggest_parts = the final spatial cell
    // count (== files here — a uniform fixture never splits cells)
    assert(mf.params.get("suggest_parts") === mf.params.get("files"))
    // end to end: AUTO == unrouted on this artifact (fallback fired),
    // while explicit g=2 genuinely routes (differs from unrouted for at
    // least one query on a corpus where top-g pruning loses rows)
    val queries = spark.read.parquet(src).filter(col("vec_id") % 13 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val auto = pairs(Hnsw.knnJoin(spark, path, "vec_id", queries,
      "vec_id", "embedding", k = 5, probeGraphs = Hnsw.AutoProbe))
    val unrouted = pairs(Hnsw.knnJoin(spark, path, "vec_id", queries,
      "vec_id", "embedding", k = 5, probeGraphs = 0))
    assert(auto == unrouted, "guarded AUTO must equal the unrouted join")
    val routed2 = pairs(Hnsw.knnJoin(spark, path, "vec_id", queries,
      "vec_id", "embedding", k = 5, probeGraphs = 2))
    assert(routed2 != unrouted,
      "explicit probeGraphs=2 must still route on this corpus")
    // scalar path: same resolution
    val q0 = rows.head._2
    val sAuto = Hnsw.searchIndex(spark, path, "vec_id", q0, k = 10,
      probeGraphs = Hnsw.AutoProbe).collect().map(_.getLong(0)).toSeq
    val sUnrouted = Hnsw.searchIndex(spark, path, "vec_id", q0, k = 10,
      probeGraphs = 0).collect().map(_.getLong(0)).toSeq
    assert(sAuto == sUnrouted, "guarded scalar AUTO must equal unrouted")
    // the clustered AutoProbe-spec fixture measures separable — the
    // threshold splits the two corpus shapes (routable=yes surfaced
    // there via the same manifest param)
    graft.index.IndexCatalog.drop(spark, name)
  }

  test("graph probe calibration (round 12): separable fleets store a " +
      "hint, AUTO resolves max(ceil-sqrt, hint), guard still wins") {
    val dims = 8; val nPer = 60
    val rnd = new scala.util.Random(41)
    // 4 well-separated clusters: separable by construction
    val rows = (0 until 4).flatMap { c =>
      (0 until nPer).map { i =>
        val v = Array.tabulate(dims)(j =>
          (if (j == c * 2) 8f * (c + 1) else 0f) + rnd.nextFloat() * 0.3f)
        (c.toLong * 1000 + i, v)
      }
    }
    val src = java.nio.file.Files.createTempDirectory("graft_ghint").toString
    rows.toDF("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(src)
    val name = "ghintspec_hnsw"
    graft.index.IndexCatalog.drop(spark, name)
    val path = Hnsw.ensure(spark, name, spark.read.parquet(src), src,
      "vec_id", "embedding", "l2", parts = 4)
    val dirPath = new org.apache.hadoop.fs.Path(path)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (_, ents, hint) = Hnsw.Routing.readFull(fs, dirPath).get
    val aligned = ents.toSeq.sortBy(_._1).map(_._2).toArray
    assert(Hnsw.Routing.separable(aligned),
      "clustered fixture must measure separable")
    assert(hint >= 1 && hint <= 4,
      s"separable fleet must store a calibrated hint in [1, parts], got $hint")
    // manifest surfaces it (the q_index_stat contract, routable=yes rows)
    val mf = graft.index.IndexCatalog.load(spark, name).get
    assert(mf.params.get("routable").contains("yes"))
    assert(mf.params.get("probe_hint").contains(hint.toString))
    // AUTO resolution: the heuristic is the floor, the hint raises it
    assert(Hnsw.Routing.autoResolve(Hnsw.AutoProbe, 4, aligned, 0) == 2,
      "no hint: AUTO = ceil(sqrt(4)) = 2")
    assert(Hnsw.Routing.autoResolve(Hnsw.AutoProbe, 4, aligned, 3) == 3,
      "a hint above the heuristic must raise the resolution")
    assert(Hnsw.Routing.autoResolve(Hnsw.AutoProbe, 4, aligned, 1) == 2,
      "a hint below the heuristic never lowers it")
    assert(Hnsw.Routing.autoResolve(Hnsw.AutoProbe, 4, aligned, 99) == 4,
      "the hint is clamped to the fleet size")
    // explicit values never consult the hint
    assert(Hnsw.Routing.autoResolve(1, 4, aligned, 4) == 1)
    // the guard still wins: a non-separable sidecar ignores its hint
    val spread = aligned.map { case (_, c) => (1e6, c) }
    assert(!Hnsw.Routing.separable(spread))
    assert(Hnsw.Routing.autoResolve(Hnsw.AutoProbe, 4, spread, 4) == 0,
      "non-separable: AUTO must stay unrouted regardless of the hint")
    // end to end: AUTO-routed scalar search on this clustered fixture
    // returns the true top-k (neighborhoods live inside one cluster)
    val q0 = rows.head._2
    val sAuto = Hnsw.searchIndex(spark, path, "vec_id", q0, k = 10,
      probeGraphs = Hnsw.AutoProbe).collect().map(_.getLong(0)).toSet
    val sExact = Hnsw.searchIndex(spark, path, "vec_id", q0, k = 10,
      exact = true).collect().map(_.getLong(0)).toSet
    assert(sAuto == sExact,
      "routed AUTO must find the within-cluster top-k on separated data")
    // ALTER/RESET of probe_hint must reach the SIDECAR (what searches
    // read), not just the manifest — round-12 review finding. alterAll
    // is the STATEMENT surface's path (ALTER ... SET goes through it).
    graft.index.IndexCatalog.alterAll(spark, name, Map("probe_hint" -> "4"))
    val (_, _, altered) = Hnsw.Routing.readFull(fs, dirPath).get
    assert(altered === 4, "SET probe_hint must rewrite the sidecar hint")
    graft.index.IndexCatalog.resetAll(spark, name, Seq("probe_hint"))
    val (_, ents2, reset) = Hnsw.Routing.readFull(fs, dirPath).get
    assert(reset === 0, "RESET probe_hint must zero the sidecar hint")
    assert(ents2.keySet === ents.keySet,
      "the hint rewrite must preserve the routing entries")
    assert(graft.index.IndexCatalog.load(spark, name).get
      .params.get("probe_hint").isEmpty)
    graft.index.IndexCatalog.drop(spark, name)
  }

  test("metric-override knn join: exact == typed brute force, routed " +
      "override ranking keeps recall on clustered data") {
    val dims = 8; val nPer = 80
    val rnd = new scala.util.Random(23)
    val rows = (0 until 4).flatMap { c =>
      (0 until nPer).map { i =>
        val v = Array.tabulate(dims)(j =>
          (if (j == c * 2) 10f * (c + 1) else 0f) + rnd.nextFloat() * 0.5f)
        (c.toLong * 1000 + i, v)
      }
    }
    val src = java.nio.file.Files.createTempDirectory("graft_ovr").toString
    rows.toDF("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(src)
    val name = "ovrspec_hnsw"
    graft.index.IndexCatalog.drop(spark, name)
    val path = Hnsw.ensure(spark, name, spark.read.parquet(src), src,
      "vec_id", "embedding", "l2", parts = 4)
    val queries = spark.read.parquet(src).filter(col("vec_id") % 7 === 0)
    import org.apache.spark.sql.expressions.Window
    val corpus = spark.read.parquet(src)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    // exact mode flat-scans every graph with the DOT override kernel —
    // must equal the brute-force negdot window
    val want = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .crossJoin(corpus)
      .select(col("qid"), col("cid"),
        graft.functions.negdot(col("cv"), col("qv")).as("dist"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist"), col("cid"))))
      .filter(col("rn") <= 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val exactJ = Hnsw.knnJoinMetric(spark, path, "vec_id", queries,
        "vec_id", "embedding", k = 5, metric = "dot", exact = true,
        probeGraphs = 1)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    assert(exactJ == want,
      "exact override join must equal the typed brute force (and ignore routing)")
    // routed 1-of-4 via the override (Cauchy-Schwarz dot) ranking:
    // separated blobs keep pair recall high
    val routed = Hnsw.knnJoinMetric(spark, path, "vec_id", queries,
        "vec_id", "embedding", k = 5, metric = "dot", probeGraphs = 1)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val recall = routed.intersect(want).size.toDouble / want.size
    assert(recall >= 0.9, s"routed override pair recall@5 = $recall")
    graft.index.IndexCatalog.drop(spark, name)
  }

  test("recall@10 at default nprobe stays useful on the driver fixture") {
    val (m, path) = ivf(sf0001)
    val queries = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") % 10 === 0)
    def ids(np: Int) = KnnJoin.join(spark, queries, "vec_id", "embedding",
      path, m, "vec_id", "embedding", k = 10, nprobe = np)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val exact = ids(m.nlist)
    val approx = ids(10)
    val recall = approx.intersect(exact).size.toDouble / exact.size
    // near-random fixture at nprobe 10 / nlist 16: the probed-fraction
    // regime (RECALL.json note) — the clustered number lives in RECALL.json
    assert(recall >= 0.8, s"recall@10 = $recall")
  }

  test("wrong-dimension query rows error in the join kernels (error.slt)") {
    val (m, path) = ivf(sf0001)
    val queries = Seq((1L, Array(0.1f, 0.2f, 0.3f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      KnnJoin.join(spark, queries, "vec_id", "embedding", path, m,
        "vec_id", "embedding", k = 3, nprobe = 2).collect()
    }
    assert(e.toString.contains("dimension of a vector") ||
      Option(e.getCause).exists(_.toString.contains("dimension of a vector")))
    val e2 = intercept[Exception] {
      KnnJoin.rangeJoin(spark, queries, "vec_id", "embedding", path, m,
        "vec_id", "embedding", r = 1.0).collect()
    }
    assert(e2.toString.contains("dimension of a vector") ||
      Option(e2.getCause).exists(_.toString.contains("dimension of a vector")))
  }

  test("nondeterministic query sides skip the static prune, stay exact") {
    val (m, path) = ivf(sf0001)
    val det = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") % 50 === 0)
    // a rand() column marks the PLAN nondeterministic even though the
    // vectors themselves are stable — the static INSET must be skipped
    // (a re-drawn second evaluation could probe different lists)
    val nondet = det.withColumn("noise", rand(7))
    // tight radius so the static prune keeps a strict subset of lists
    def planOf(q: org.apache.spark.sql.DataFrame) =
      KnnJoin.rangeJoin(spark, q, "vec_id", "embedding", path, m,
        "vec_id", "embedding", r = 0.05).queryExecution.executedPlan.toString
    assert(planOf(det).contains("INSET"),
      "deterministic query side should keep the static prune")
    val np = planOf(nondet)
    assert(!np.contains("INSET"),
      s"nondeterministic query side must skip the static prune:\n$np")
    // and the result is still the exact cross filter
    val got = KnnJoin.rangeJoin(spark, nondet, "vec_id", "embedding", path, m,
      "vec_id", "embedding", r = 0.05)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val want = det.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .crossJoin(corpus)
      .select(col("qid"), col("cid"),
        graft.functions.l2sq(col("cv"), col("qv")).as("dist"))
      .filter(col("dist") <= 0.05)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    assert(got == want)
    assert(got.nonEmpty) // self pairs at dist 0
  }

  test("static prune is gated on query-side shape and cost: " +
      "sampled/limited/large sides launch NO job at plan-build time") {
    val (m, path) = ivf(sf0001)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    // cheap deterministic scans keep the prune...
    assert(KnnJoin.staticPruneWorthwhile(emb.filter(col("vec_id") % 10 === 0)))
    // ...plan-level row-subset nondeterminism skips it even though every
    // EXPRESSION is deterministic (the stale-INSET hazard)
    assert(!KnnJoin.staticPruneWorthwhile(emb.sample(0.5, seed = 7)))
    assert(!KnnJoin.staticPruneWorthwhile(emb.limit(10)))
    // ...and a query side estimated over the byte threshold skips it:
    // the prune's extra full pass over a huge table buys ≤nlist ints
    val prev = spark.conf.getOption("spark.graft.join.staticPruneMaxBytes")
    spark.conf.set("spark.graft.join.staticPruneMaxBytes", "1")
    try {
      assert(!KnnJoin.staticPruneWorthwhile(emb))
      // end to end: building the join against a too-large query side
      // must not launch the prune's distinct+collect jobs. Baseline the
      // incidental plan-build jobs (parquet schema inference) with a
      // CHEAP query side where the prune DOES fire, then assert the
      // large side builds with strictly fewer jobs.
      val tracker = spark.sparkContext.statusTracker
      // count jobs in a THREAD-LOCAL job group: suites run in parallel
      // on the shared context, and counting all jobs made this flake
      // whenever another suite's jobs landed inside the window
      def jobsDuring(f: => Unit): Int = {
        val g = s"prunegate-${java.util.UUID.randomUUID()}"
        spark.sparkContext.setJobGroup(g, "static-prune gate",
          interruptOnCancel = false)
        try f finally spark.sparkContext.clearJobGroup()
        Thread.sleep(500) // job-start events post asynchronously
        tracker.getJobIdsForGroup(g).length
      }
      spark.conf.set("spark.graft.join.staticPruneMaxBytes",
        (256L << 20).toString)
      val withPrune = jobsDuring {
        KnnJoin.join(spark, emb.filter(col("vec_id") % 10 === 0), "vec_id",
          "embedding", path, m, "vec_id", "embedding", k = 5, nprobe = 2)
      }
      spark.conf.set("spark.graft.join.staticPruneMaxBytes", "1")
      var df: org.apache.spark.sql.DataFrame = null
      val withoutPrune = jobsDuring {
        df = KnnJoin.join(spark, emb, "vec_id", "embedding", path, m,
          "vec_id", "embedding", k = 5, nprobe = 2)
      }
      assert(withoutPrune < withPrune,
        s"large query side should skip the prune's jobs " +
          s"($withoutPrune vs $withPrune at plan-build)")
      assert(df.limit(1).count() == 1) // the join itself still runs
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.join.staticPruneMaxBytes", v)
      case None => spark.conf.unset("spark.graft.join.staticPruneMaxBytes")
    }
  }

  test("Routing.reachable keeps the rangeLists sqrt-space l2 slack " +
      "(an absolute squared-space epsilon would drop boundary graphs)") {
    // a graph whose covering ball touches the query radius boundary:
    // droot - rad = sqrt(r) + 5e-10 — INSIDE the 1e-9 sqrt-space slack
    // rangeLists uses, but the squared lower bound exceeds r + 1e-9 by
    // ~1e-8 (squared-space noise scales with 2*sqrt(r)*eps), so the old
    // `lowerBound < r + 1e-9` prune would silently drop the graph and
    // with it any boundary pair — breaking exact-at-any-radius.
    val c = Array.fill(4)(0f)
    val q = Array(20f, 0f, 0f, 0f) // droot = 20 from the origin centroid
    val r = 100.0
    val rad = 20.0 - math.sqrt(r) - 5e-10
    assert(Hnsw.Routing.reachable("l2", q, 20.0, c, rad, r),
      "boundary graph must stay reachable under the sqrt-space slack")
    assert(Hnsw.Routing.lowerBound("l2", q, 20.0, c, rad) > r + 1e-9,
      "the squared-space epsilon the fix replaced really was tighter")
    // well-separated graphs still prune
    assert(!Hnsw.Routing.reachable("l2", q, 20.0, c, rad - 1.0, r))
  }
}
