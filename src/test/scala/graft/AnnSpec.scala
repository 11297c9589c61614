package graft

import org.apache.spark.sql.functions._
import graft.functions._
import graft.operators.{BvecPayload, CodedFlat, F16Payload, Hnsw, IvfIndex, PqQuant,
  RabitqQuant, Sq8Quant, SvecPayload}

/** Recall@k harness vs the brute-force flat oracle — the Spark analog of
  * the reference CLI's precision measurement (crates/cli/src/main.rs:20-33). */
class AnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf001/embeddings.parquet").cache()
  private lazy val q: Array[Float] =
    emb.filter($"vec_id" === 0).select($"embedding").head().getSeq[Float](0).toArray

  private def flatTopk(k: Int, metric: String): Set[Long] = {
    val d = metric match {
      case "l2" => l2sq($"embedding", typedLit(q))
      case "cos" => cosdist($"embedding", typedLit(q))
    }
    emb.select($"vec_id", d.as("dist")).orderBy($"dist", $"vec_id")
      .limit(k).as[(Long, Double)].collect().map(_._1).toSet
  }

  private def recall(got: Seq[Long], want: Set[Long]): Double =
    got.count(want.contains).toDouble / want.size

  test("IVF l2: k rows, recall@50 >= 0.9 at nprobe=10/nlist=16") {
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString
    val model = IvfIndex.build(emb, "embedding", "l2", 16, dir)
    val got = IvfIndex.search(spark, dir, model, "vec_id", "embedding", q, 50, 10)
      .as[(Long, Double)].collect()
    assert(got.length == 50)
    assert(recall(got.map(_._1), flatTopk(50, "l2")) >= 0.9)
    // full probe = exact
    val all = IvfIndex.search(spark, dir, model, "vec_id", "embedding", q, 50, 16)
      .as[(Long, Double)].collect()
    assert(all.map(_._1).toSet == flatTopk(50, "l2"))
  }

  test("IVF cos: normalize-then-dot rewrite gives cos ordering (+1 offset)") {
    val dir = java.nio.file.Files.createTempDirectory("ivfc").toString
    val model = IvfIndex.build(emb, "embedding", "cos", 16, dir)
    val got = IvfIndex.search(spark, dir, model, "vec_id", "embedding", q, 20, 16)
      .as[(Long, Double)].collect()
    assert(got.map(_._1).toSet == flatTopk(20, "cos"))
    // reported distance = cosine distance (1 + negdot on unit vectors)
    val exact = emb.filter($"vec_id" === got.head._1)
      .select(cosdist($"embedding", typedLit(q))).as[Double].head()
    assert(math.abs(got.head._2 - exact) < 1e-5)
  }

  test("HNSW: k rows, recall@50 >= 0.9") {
    val name = "annspec_hnsw_p4"
    graft.index.IndexCatalog.drop(spark, name)
    try {
      val path = Hnsw.ensure(spark, name, emb.toDF(),
        s"$sf001/embeddings.parquet", "vec_id", "embedding", "l2", parts = 4)
      val got = Hnsw.searchIndex(spark, path, "vec_id", q, 50)
        .as[(Long, Double)].collect()
      assert(got.length == 50)
      assert(recall(got.map(_._1), flatTopk(50, "l2")) >= 0.9)
    } finally graft.index.IndexCatalog.drop(spark, name)
  }

  test("search_mode basic = one fetch (may underfill); vbase refills to k") {
    val path = graft.queries.AnnQueries.hnsw(spark, sf0001, 1)
    val src = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val pred = col("label") === 3 && col("vec_id") % 7 === 0 // selective
    val full = Hnsw.searchIndexFiltered(spark, path, "vec_id", q, 100, src,
      pred, exact = true).as[(Long, Double)].collect()
    val cands = Hnsw.searchIndex(spark, path, "vec_id", q, 400, exact = true)
    val basic = src.filter(pred).select($"vec_id")
      .join(broadcast(cands), Seq("vec_id")).as[(Long, Double)].collect()
    assert(basic.length < full.length,
      s"expected basic single-fetch to underfill: ${basic.length} vs ${full.length}")
    assert(basic.map(_._1).toSet.subsetOf(full.map(_._1).toSet))
    // the conf routes the query-level entry
    val prev = spark.conf.get("spark.graft.search.mode", "vbase")
    try {
      spark.conf.set("spark.graft.search.mode", "basic")
      val got = SparkEntry.queries("q_hnsw_filtered_topk")(spark, sf0001)
      assert(got.count() <= 100)
    } finally spark.conf.set("spark.graft.search.mode", prev)
  }

  test("MaxSim via IVF candidates: recall@50 >= 0.9 vs the exact twin") {
    val exact = SparkEntry.queries("q_maxsim_topk")(spark, sf001)
      .select($"gid").as[Long].collect().toSet
    val approx = SparkEntry.queries("q_maxsim_ivf")(spark, sf001)
      .select($"gid").as[Long].collect()
    assert(approx.length == 50)
    assert(recall(approx.toSeq, exact) >= 0.9,
      s"maxsim recall too low: ${recall(approx.toSeq, exact)}")
  }

  test("HNSW filtered search: exact in every regime, incl. exhaustion") {
    val dir = graft.queries.AnnQueries.hnsw(spark, sf001, 1)
    def brute(pred: org.apache.spark.sql.Column, k: Int) =
      emb.filter(pred)
        .select($"vec_id", l2sq($"embedding", typedLit(q)).as("dist"))
        .orderBy($"dist", $"vec_id").limit(k)
        .as[(Long, Double)].collect().toSeq
    // moderately selective: k survivors found in round 1 (prefix proof)
    val p1 = col("label") < 5
    val got1 = Hnsw.searchIndexFiltered(spark, dir, "vec_id", q, 20,
      emb, p1, exact = true).as[(Long, Double)].collect().toSeq
    assert(got1 == brute(p1, 20))
    // so selective that fewer than k rows pass: the quadrupling loop must
    // hit the exhaustion round and return ALL survivors, still ranked
    val p2 = col("label") === 3 && col("vec_id") % 7 === 0
    val want2 = brute(p2, 20)
    assert(want2.length < 20, "fixture must make the predicate starve k")
    val got2 = Hnsw.searchIndexFiltered(spark, dir, "vec_id", q, 20,
      emb, p2, exact = true).as[(Long, Double)].collect().toSeq
    assert(got2 == want2)
    // approximate traversal still honors the predicate and returns k
    val got3 = Hnsw.searchIndexFiltered(spark, dir, "vec_id", q, 20, emb, p1)
      .as[(Long, Double)].collect()
    assert(got3.length == 20)
    val labels = emb.filter(p1).select($"vec_id").as[Long].collect().toSet
    assert(got3.forall(r => labels.contains(r._1)))
  }

  test("typed IVF: bvector Hamming + vecf16 L2, k rows and recall >= 0.9") {
    import graft.operators.TypedAnn
    val src = s"$sf001/embeddings.parquet"
    // bvector: brute-force Hamming oracle on binarized embeddings
    val bvName = "annspec_bvec"
    graft.index.IndexCatalog.drop(spark, bvName)
    val (bm, bPath) = TypedAnn.ensure(spark, BvecPayload, bvName, emb.toDF(),
      src, "vec_id", "embedding", nlist = 16)
    val bTrue = emb.select($"vec_id",
        bvecHamming(binarize($"embedding"), binarize(typedLit(q))).as("d"))
      .orderBy($"d", $"vec_id").limit(50).as[(Long, Double)].collect()
    // integer Hamming distances tie heavily: recall counts any hit within
    // the true kth distance (tie-aware recall)
    val bKth = bTrue.map(_._2).max
    val bGot = TypedAnn.search(spark, BvecPayload, bPath, bm, "vec_id", q, 50,
      nprobe = 8, metric = "hamming")
      .as[(Long, Double)].collect()
    assert(bGot.length == 50)
    assert(bGot.count(_._2 <= bKth) / 50.0 >= 0.9)
    val bExact = TypedAnn.search(spark, BvecPayload, bPath, bm, "vec_id", q,
      50, nprobe = 16, metric = "hamming")
      .as[(Long, Double)].collect()
    assert(bExact.map(_._1).toSet == bTrue.map(_._1).toSet)
    graft.index.IndexCatalog.drop(spark, bvName)
    // vecf16: brute-force f16 l2 oracle on the rounded embeddings
    val fName = "annspec_f16"
    graft.index.IndexCatalog.drop(spark, fName)
    val (fm, fPath) = TypedAnn.ensure(spark, F16Payload, fName, emb.toDF(), src,
      "vec_id", "embedding", nlist = 16)
    val fTrue = emb.select($"vec_id",
        f16L2sq(toF16Bits($"embedding"), toF16Bits(typedLit(q))).as("d"))
      .orderBy($"d", $"vec_id").limit(50).as[(Long, Double)]
      .collect().map(_._1).toSet
    val fGot = TypedAnn.search(spark, F16Payload, fPath, fm, "vec_id", q, 50,
      nprobe = 10, metric = "l2")
      .as[(Long, Double)].collect()
    assert(fGot.length == 50)
    assert(recall(fGot.map(_._1), fTrue) >= 0.9)
    val fExact = TypedAnn.search(spark, F16Payload, fPath, fm, "vec_id", q, 50,
      nprobe = 16, metric = "l2")
      .as[(Long, Double)].collect()
    assert(fExact.map(_._1).toSet == fTrue)
    graft.index.IndexCatalog.drop(spark, fName)
  }

  test("typed IVF alternate metrics: bvec jaccard/dot, f16 cos/dot") {
    import graft.operators.TypedAnn
    val src = s"$sf001/embeddings.parquet"
    // one artifact per type family serves every metric of that family
    val bvName = "annspec_bvec_m"
    graft.index.IndexCatalog.drop(spark, bvName)
    val (bm, bPath) = TypedAnn.ensure(spark, BvecPayload, bvName, emb.toDF(),
      src, "vec_id", "embedding", nlist = 16)
    for (metric <- Seq("jaccard", "dot")) {
      val d = metric match {
        case "jaccard" => bvecJaccard(binarize($"embedding"), binarize(typedLit(q)))
        case "dot" => bvecNegdot(binarize($"embedding"), binarize(typedLit(q)))
      }
      val bTrue = emb.select($"vec_id", d.as("d"))
        .orderBy($"d", $"vec_id").limit(50).as[(Long, Double)].collect()
      val kth = bTrue.map(_._2).max
      // exact mode = brute force
      val exact = TypedAnn.search(spark, BvecPayload, bPath, bm, "vec_id", q,
        50, nprobe = 16, metric = metric).as[(Long, Double)].collect()
      assert(exact.map(_._1).toSet == bTrue.map(_._1).toSet, s"bvec $metric exact")
      // pruned probe: tie-aware recall (integer-ish distances tie
      // heavily). Jaccard pruning through Hamming-space clustering is
      // intrinsically weaker on near-random bits — hence the wider probe
      // and softer bar than the Hamming test.
      val got = TypedAnn.search(spark, BvecPayload, bPath, bm, "vec_id", q, 50,
        nprobe = 10, metric = metric).as[(Long, Double)].collect()
      assert(got.length == 50)
      // measured on this fixture: jaccard >=0.8, dot 0.78 — random bits
      // are the worst case for centroid pruning; the bar guards against
      // regressions, not absolute quality
      assert(got.count(_._2 <= kth) / 50.0 >= 0.75, s"bvec $metric recall")
    }
    graft.index.IndexCatalog.drop(spark, bvName)

    val fName = "annspec_f16_m"
    graft.index.IndexCatalog.drop(spark, fName)
    val (fm, fPath) = TypedAnn.ensure(spark, F16Payload, fName, emb.toDF(), src,
      "vec_id", "embedding", nlist = 16)
    for (metric <- Seq("cos", "dot")) {
      val d = metric match {
        case "cos" => f16Cosdist(toF16Bits($"embedding"), toF16Bits(typedLit(q)))
        case "dot" => f16NegDot(toF16Bits($"embedding"), toF16Bits(typedLit(q)))
      }
      val fTrue = emb.select($"vec_id", d.as("d"))
        .orderBy($"d", $"vec_id").limit(50).as[(Long, Double)]
        .collect().map(_._1).toSet
      val exact = TypedAnn.search(spark, F16Payload, fPath, fm, "vec_id", q, 50,
        nprobe = 16, metric = metric).as[(Long, Double)].collect()
      assert(exact.map(_._1).toSet == fTrue, s"f16 $metric exact")
      val got = TypedAnn.search(spark, F16Payload, fPath, fm, "vec_id", q, 50,
        nprobe = 10, metric = metric).as[(Long, Double)].collect()
      assert(got.length == 50)
      assert(recall(got.map(_._1), fTrue) >= 0.85, s"f16 $metric recall")
    }
    graft.index.IndexCatalog.drop(spark, fName)
  }

  test("typed HNSW metric override: one graph artifact serves the family's metrics") {
    import graft.queries.AnnQueries
    // bvector family: jaccard + dot ranked on the shared hamming-built
    // 0/1 graph (exact twin must be BIT-identical to the typed kernels —
    // integer counts / exact-ratio doubles)
    val bPath = AnnQueries.bvecHnsw(spark, sf001, 1)
    val q01 = q.map(x => if (x > 0f) 1f else 0f)
    for (metric <- Seq("jaccard", "dot")) {
      val d = metric match {
        case "jaccard" => bvecJaccard(binarize($"embedding"), binarize(typedLit(q)))
        case "dot" => bvecNegdot(binarize($"embedding"), binarize(typedLit(q)))
      }
      val want = emb.select($"vec_id", d.as("dist"))
        .orderBy($"dist", $"vec_id").limit(50).as[(Long, Double)].collect().toSeq
      val exact = Hnsw.searchIndexMetric(spark, bPath, "vec_id", q01, 50,
        metric, exact = true).as[(Long, Double)].collect().toSeq
      assert(exact == want, s"bvec $metric exact twin must be bit-identical")
      val kth = want.map(_._2).max
      val approx = Hnsw.searchIndexMetric(spark, bPath, "vec_id", q01, 50,
        metric).as[(Long, Double)].collect()
      assert(approx.length == 50)
      val rec = approx.count(_._2 <= kth) / 50.0
      info(s"bvec $metric override recall@50 = $rec")
      assert(rec >= 0.9, s"bvec $metric override recall $rec")
    }

    // vecf16 family: direct-cos + dot on the shared l2-built graph of
    // f16-rounded small-int vectors (f16-exact -> kernels replay exactly)
    val fPath = AnnQueries.f16Hnsw(spark, sf001, 1)
    val cust = spark.read.parquet(s"$sf001/customer.parquet")
      .select($"c_custkey", array($"c_nationkey".cast("float"),
        ($"c_custkey" % 100).cast("float"), ($"c_custkey" % 7).cast("float"),
        ($"c_custkey" % 13).cast("float")).as("v4"))
    val qf = Array(12f, 50f, 3f, 7f)
    for (metric <- Seq("cos", "dot")) {
      val d = metric match {
        case "cos" => f16Cosdist(toF16Bits($"v4"), toF16Bits(typedLit(qf)))
        case "dot" => f16NegDot(toF16Bits($"v4"), toF16Bits(typedLit(qf)))
      }
      val want = cust.select($"c_custkey".cast("long"), d.as("dist"))
        .orderBy($"dist", $"c_custkey").limit(50).as[(Long, Double)].collect().toSeq
      val exact = Hnsw.searchIndexMetric(spark, fPath, "c_custkey", qf, 50,
        metric, exact = true).as[(Long, Double)].collect().toSeq
      assert(exact == want, s"f16 $metric exact twin must be bit-identical")
      val kth = want.map(_._2).max
      val approx = Hnsw.searchIndexMetric(spark, fPath, "c_custkey", qf, 50,
        metric).as[(Long, Double)].collect()
      assert(approx.length == 50)
      val rec = approx.count(_._2 <= kth) / 50.0
      info(s"f16 $metric override recall@50 = $rec")
      assert(rec >= 0.9, s"f16 $metric override recall $rec")
    }

    // svector family: direct-cos + dot on the shared l2-built graph of
    // densified sparsified vectors (zeros contribute exactly +0.0)
    val sPath = AnnQueries.svecHnsw(spark, sf001, 1)
    val qs = q.map(x => if (math.abs(x.toDouble) > 0.15) x else 0.0f)
    val spv = svecFromDense(transform($"embedding",
      x => when(abs(x) > lit(0.15), x).otherwise(lit(0.0f))))
    for (metric <- Seq("cos", "dot")) {
      val d = metric match {
        case "cos" => svecCosdist(spv, svecFromDense(typedLit(qs)))
        case "dot" => svecNegdot(spv, svecFromDense(typedLit(qs)))
      }
      val want = emb.select($"vec_id", d.as("dist"))
        .orderBy($"dist", $"vec_id").limit(50).as[(Long, Double)].collect().toSeq
      val exact = Hnsw.searchIndexMetric(spark, sPath, "vec_id", qs, 50,
        metric, exact = true).as[(Long, Double)].collect().toSeq
      assert(exact == want, s"svec $metric exact twin must be bit-identical")
      val kth = want.map(_._2).max
      val approx = Hnsw.searchIndexMetric(spark, sPath, "vec_id", qs, 50,
        metric).as[(Long, Double)].collect()
      assert(approx.length == 50)
      val rec = approx.count(_._2 <= kth) / 50.0
      info(s"svec $metric override recall@50 = $rec")
      assert(rec >= 0.9, s"svec $metric override recall $rec")
    }
  }

  test("sparse pruned postings: ADAPTIVE impact pruning — skewed corpora " +
      "cap lists, flat-impact corpora degrade to the exact posting index") {
    import graft.operators.SparseSearch
    val sv = emb.select($"vec_id",
      graft.functions.svecFromDense(
        transform($"embedding", x => when(abs(x) > lit(0.15), x).otherwise(lit(0.0f))))
        .as("sv"))
    val qTerms = sv.filter($"vec_id" === 0)
      .select($"sv.indexes", $"sv.values").head()
    val terms = qTerms.getSeq[Int](0).zip(qTerms.getSeq[Float](1))
    val exact = SparseSearch
      .search(SparseSearch.buildPostings(sv, "vec_id", "sv"), "vec_id", terms, 50)
      .select("vec_id").as[Long].collect().toSet
    def build(name: String, df: org.apache.spark.sql.DataFrame, src: String,
        m: Int): (String, String) = {
      graft.index.IndexCatalog.drop(spark, name)
      val path = SparseSearch.ensurePruned(spark, name, df, src,
        "vec_id", "sv", topM = m)
      (path, graft.index.IndexCatalog.load(spark, name)
        .get.params("pruning"))
    }
    // this corpus has a 64-token vocabulary with near-flat impacts:
    // top-64 captures only ~0.64 of the |value| mass, so the adaptive
    // build SKIPS pruning — the index degrades to the exact posting
    // join instead of silently losing recall
    val (p64, d64) = build("annspec_sparsepr_64", sv,
      s"$sf001/embeddings.parquet", 64)
    assert(d64 == "skipped", s"flat-impact corpus must skip pruning: $d64")
    val r64 = SparseSearch.searchIndex(spark, p64, "vec_id", terms, 50)
      .select("vec_id").as[Long].collect().toSet
    assert(r64 == exact, "skipped-pruning index must equal the exact search")
    // at m=192 the kept mass is 1.0 (no list exceeds 139): APPLIED
    val (p192, d192) = build("annspec_sparsepr_192", sv,
      s"$sf001/embeddings.parquet", 192)
    assert(d192 == "applied", s"vacuous cap must stay applied: $d192")
    val maxLen = spark.read.parquet(p192)
      .groupBy($"token").count().agg(max($"count")).as[Long].head()
    assert(maxLen <= 192, s"posting list exceeded cap: $maxLen")
    // genuinely SKEWED corpus (32 big-impact docs per token over a 268-doc
    // low-impact tail: kept mass at m=64 ≈ 0.985): pruning applies, the
    // cap truly cuts (300-row lists -> 64), and the big-impact top-k
    // survives — the corpus shape static pruning was built for
    val skew = spark.range(300).select($"id".cast("long").as("vec_id"),
      graft.functions.svecFromDense(array((0 until 8).map(_ =>
        when($"id" < 32, lit(5.0f)).otherwise(lit(0.01f))): _*)).as("sv"))
    val skewSrc = java.nio.file.Files.createTempDirectory("graft_sparseskew").toString
    skew.coalesce(1).write.mode("overwrite").parquet(skewSrc)
    val (pSkew, dSkew) = build("annspec_sparsepr_skew",
      spark.read.parquet(skewSrc), skewSrc, 64)
    assert(dSkew == "applied", s"skewed corpus must keep pruning: $dSkew")
    val skewMax = spark.read.parquet(pSkew)
      .groupBy($"token").count().agg(max($"count")).as[Long].head()
    assert(skewMax == 64, s"cap must actually cut: $skewMax")
    val skewTerms = (0 until 8).map(t => (t, 5.0f))
    val skewExact = SparseSearch
      .search(SparseSearch.buildPostings(skew, "vec_id", "sv"), "vec_id",
        skewTerms, 50).select("vec_id").as[Long].collect().toSet
    val skewPruned = SparseSearch.searchIndex(spark, pSkew, "vec_id",
      skewTerms, 50).select("vec_id").as[Long].collect().toSet
    assert((skewPruned & skewExact).size >= 45,
      s"pruned recall on the skewed corpus: ${(skewPruned & skewExact).size}/50")
    Seq("annspec_sparsepr_64", "annspec_sparsepr_192", "annspec_sparsepr_skew")
      .foreach(graft.index.IndexCatalog.drop(spark, _))
  }

  test("HNSW flat artifact: binary roundtrip preserves search; cache resident") {
    val g = new Hnsw.Graph("l2")
    emb.select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1).take(2000)
      .foreach { case (id, v) => g.insert(id, v) }
    val flat = g.snapshot
    // snapshot searches identically to the builder
    assert(flat.search(q, 50) == g.search(q, 50))
    // on the f32 fixture the graph is connected: exhaustive-ef traversal
    // agrees with the provable flat scan (exact mode uses the latter)
    assert(flat.search(q, 50, 1 << 22) == flat.bruteForce(q, 50))
    // binary roundtrip (NO Java object serialization) is lossless
    val bos = new java.io.ByteArrayOutputStream()
    Hnsw.FlatGraph.write(new java.io.DataOutputStream(bos), flat)
    val back = Hnsw.FlatGraph.read(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray)))
    assert(back.search(q, 50) == flat.search(q, 50))
    // a searchIndex over a persisted artifact leaves graphs resident in
    // the executor-local cache (repeat queries do no artifact I/O)
    val name = "hnswspec_cache"
    graft.index.IndexCatalog.drop(spark, name)
    val path = Hnsw.ensure(spark, name, emb.toDF(), s"$sf001/embeddings.parquet",
      "vec_id", "embedding", "l2", parts = 2)
    Hnsw.searchIndex(spark, path, "vec_id", q, 10).collect()
    assert(Hnsw.GraphCache.residentCount >= 2)
    // batched search answers each query identically to a per-query search
    val q1 = emb.filter($"vec_id" === 1).select($"embedding")
      .head().getSeq[Float](0).toArray
    val batch = Hnsw.searchIndexBatch(spark, path, "vec_id",
        Seq((0L, q), (1L, q1)), k = 10)
      .select($"qid", $"vec_id", $"dist").as[(Long, Long, Double)]
      .collect().groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSeq).toMap
    val single0 = Hnsw.searchIndex(spark, path, "vec_id", q, 10)
      .as[(Long, Double)].collect().toSeq
    val single1 = Hnsw.searchIndex(spark, path, "vec_id", q1, 10)
      .as[(Long, Double)].collect().toSeq
    assert(batch(0L) == single0 && batch(1L) == single1)
    graft.index.IndexCatalog.drop(spark, name)
  }

  test("svector HNSW: graph recall over the densified view; exact twin = svec brute force") {
    val name = "annspec_svhnsw"
    graft.index.IndexCatalog.drop(spark, name)
    val sv = emb.select($"vec_id",
      svecFromDense(transform($"embedding",
        x => when(abs(x) > lit(0.15), x).otherwise(lit(0.0f)))).as("sv"))
    val path = Hnsw.ensure(spark, name,
      sv.select($"vec_id", svecToDense($"sv").as("dv")),
      s"$sf001/embeddings.parquet", "vec_id", "dv", "l2", parts = 2)
    val qs = q.map(x => if (math.abs(x.toDouble) > 0.15) x else 0.0f)
    // true svector l2 top-50 via the CSR kernel
    val want = sv.select($"vec_id", svecL2sq($"sv", svecFromDense(typedLit(qs))).as("d"))
      .orderBy($"d", $"vec_id").limit(50).as[(Long, Double)].collect()
    val got = Hnsw.searchIndex(spark, path, "vec_id", qs, 50)
      .as[(Long, Double)].collect()
    assert(got.length == 50)
    assert(recall(got.map(_._1), want.map(_._1).toSet) >= 0.9)
    // exact mode (flat scan) reproduces the svector kernel bit-for-bit
    val exact = Hnsw.searchIndexExact(spark, path, "vec_id", qs, 50)
      .as[(Long, Double)].collect()
    assert(exact.toSeq == want.toSeq)
    graft.index.IndexCatalog.drop(spark, name)
  }

  test("svector IVF: l2/cos/dot exact at full probe; pruned recall") {
    import graft.operators.TypedAnn
    val name = "annspec_svec"
    graft.index.IndexCatalog.drop(spark, name)
    val sv = emb.select($"vec_id",
      svecFromDense(transform($"embedding",
        x => when(abs(x) > lit(0.15), x).otherwise(lit(0.0f)))).as("sv"))
    val (m, path) = TypedAnn.ensure(spark, SvecPayload, name, sv,
      s"$sf001/embeddings.parquet", "vec_id", "sv", nlist = 16)
    val qs = q.map(x => if (math.abs(x.toDouble) > 0.15) x else 0.0f)
    val qsv = svecFromDense(typedLit(qs))
    for (metric <- Seq("l2", "cos", "dot")) {
      val d = metric match {
        case "l2" => svecL2sq($"sv", qsv)
        case "cos" => svecCosdist($"sv", qsv)
        case "dot" => svecNegdot($"sv", qsv)
      }
      val want = sv.select($"vec_id", d.as("d"))
        .orderBy($"d", $"vec_id").limit(50).as[(Long, Double)]
        .collect().map(_._1).toSet
      val exact = TypedAnn.search(spark, SvecPayload, path, m, "vec_id", qs, 50,
        nprobe = 16, metric = metric).as[(Long, Double)].collect()
      assert(exact.map(_._1).toSet == want, s"svec $metric exact")
      val got = TypedAnn.search(spark, SvecPayload, path, m, "vec_id", qs, 50,
        nprobe = 8, metric = metric).as[(Long, Double)].collect()
      assert(got.length == 50)
      assert(recall(got.map(_._1), want) >= 0.7, s"svec $metric recall")
    }
    graft.index.IndexCatalog.drop(spark, name)
  }

  test("HNSW×SQ8: coded artifact ~4x smaller, recall@50 >= 0.9 at defaults, rerank exact") {
    import graft.operators.CodedHnsw
    val name = "annspec_hnswsq"
    graft.index.IndexCatalog.drop(spark, name)
    val (codec, path) = CodedHnsw.ensure(spark, name, emb.toDF(),
      s"$sf001/embeddings.parquet", "vec_id", "embedding", parts = 2,
      quant = Sq8Quant)
    // coded graphs store 1 byte/dim vs 4: the artifact must be at least
    // the 3-bytes/dim vector saving smaller than the raw-f32 graphs over
    // the same rows (adjacency bytes are identical on both sides)
    def duGraphs(p: String, prefix: String): Long = {
      val f = new java.io.File(new java.net.URI("file://" + p))
      Option(f.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(prefix)).map(_.length()).sum
    }
    val rawName = "annspec_hnswsq_raw"
    graft.index.IndexCatalog.drop(spark, rawName)
    val rawPath = Hnsw.ensure(spark, rawName, emb.toDF(),
      s"$sf001/embeddings.parquet", "vec_id", "embedding", "l2", parts = 2)
    val n = emb.count(); val dims = q.length
    val sqBytes = duGraphs(path, "sqgraph-")
    val rawBytes = duGraphs(rawPath, "graph-")
    assert(sqBytes <= rawBytes - 2L * n * dims,
      s"coded artifact not smaller: sq=$sqBytes raw=$rawBytes n=$n dims=$dims")
    graft.index.IndexCatalog.drop(spark, rawName)
    // defaults: ef=100 frontier, exact rerank
    val got = CodedHnsw.searchIndex(spark, path, emb.toDF(), "vec_id",
      "embedding", q, 50, codec)
      .as[(Long, Double)].collect()
    assert(got.length == 50)
    assert(recall(got.map(_._1), flatTopk(50, "l2")) >= 0.9)
    // reranked distances are TRUE distances
    val exact = emb.filter($"vec_id" === got.head._1)
      .select(l2sq($"embedding", typedLit(q))).as[Double].head()
    assert(got.head._2 == exact)
    // exact mode is provably the flat top-k
    val ex = CodedHnsw.searchIndex(spark, path, emb.toDF(), "vec_id",
      "embedding", q, 50, codec, exact = true)
      .as[(Long, Double)].collect()
    assert(ex.map(_._1).toSet == flatTopk(50, "l2"))
    // binary roundtrip of the coded graph
    val g = new Hnsw.Graph("l2")
    emb.select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1).take(500)
      .foreach { case (id, v) => g.insert(id, v) }
    val sq = codec.encode(g.snapshot)
    val bos = new java.io.ByteArrayOutputStream()
    CodedHnsw.CodedGraph.write(new java.io.DataOutputStream(bos), sq)
    val back = CodedHnsw.CodedGraph.read(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray)))
    assert(back.searchFrontier(codec.probe(q), 64) ==
      sq.searchFrontier(codec.probe(q), 64))
    graft.index.IndexCatalog.drop(spark, name)
  }

  test("HNSW×PQ: m-byte coded graphs, recall@50 at defaults, rerank exact") {
    import graft.operators.CodedHnsw
    val name = "annspec_hnswpq"
    graft.index.IndexCatalog.drop(spark, name)
    val (codec, path) = CodedHnsw.ensure(spark, name, emb.toDF(),
      s"$sf001/embeddings.parquet", "vec_id", "embedding", parts = 2,
      quant = PqQuant())
    // codes are m bytes per node (8 vs 256 raw): artifact must be at
    // least (dims*4 - m) bytes/node smaller than raw graphs
    val rawName = "annspec_hnswpq_raw"
    graft.index.IndexCatalog.drop(spark, rawName)
    val rawPath = Hnsw.ensure(spark, rawName, emb.toDF(),
      s"$sf001/embeddings.parquet", "vec_id", "embedding", "l2", parts = 2)
    def duGraphs(p: String, prefix: String): Long = {
      val f = new java.io.File(new java.net.URI("file://" + p))
      Option(f.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(prefix)).map(_.length()).sum
    }
    val n = emb.count(); val dims = q.length
    assert(duGraphs(path, "pqgraph-") <= duGraphs(rawPath, "graph-") - 3L * n * dims,
      "pq-coded artifact not smaller than raw graphs")
    graft.index.IndexCatalog.drop(spark, rawName)
    val got = CodedHnsw.searchIndex(spark, path, emb.toDF(), "vec_id",
      "embedding", q, 50, codec)
      .as[(Long, Double)].collect()
    assert(got.length == 50)
    // PQ traversal is coarser than SQ8 (8 bytes/node): softer bar
    assert(recall(got.map(_._1), flatTopk(50, "l2")) >= 0.8)
    val exact = emb.filter($"vec_id" === got.head._1)
      .select(l2sq($"embedding", typedLit(q))).as[Double].head()
    assert(got.head._2 == exact)
    val ex = CodedHnsw.searchIndex(spark, path, emb.toDF(), "vec_id",
      "embedding", q, 50, codec, exact = true)
      .as[(Long, Double)].collect()
    assert(ex.map(_._1).toSet == flatTopk(50, "l2"))
    graft.index.IndexCatalog.drop(spark, name)
  }

  test("HNSW×RaBitQ: bit-coded graphs, estimator traversal, rerank exact") {
    import graft.operators.CodedHnsw
    val name = "annspec_hnswrq"
    graft.index.IndexCatalog.drop(spark, name)
    val (codec, path) = CodedHnsw.ensure(spark, name, emb.toDF(),
      s"$sf001/embeddings.parquet", "vec_id", "embedding", parts = 2,
      quant = RabitqQuant)
    // sign bits + 8 correction bytes per node: must beat raw by at least
    // 3 bytes/dim (the PQ/SQ8 assertions' sibling)
    val rawName = "annspec_hnswrq_raw"
    graft.index.IndexCatalog.drop(spark, rawName)
    val rawPath = Hnsw.ensure(spark, rawName, emb.toDF(),
      s"$sf001/embeddings.parquet", "vec_id", "embedding", "l2", parts = 2)
    def duGraphs(p: String, prefix: String): Long = {
      val f = new java.io.File(new java.net.URI("file://" + p))
      Option(f.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(prefix)).map(_.length()).sum
    }
    val n = emb.count(); val dims = q.length
    assert(duGraphs(path, "rqgraph-") <= duGraphs(rawPath, "graph-") - 3L * n * dims,
      "bit-coded artifact not smaller than raw graphs")
    graft.index.IndexCatalog.drop(spark, rawName)
    val got = CodedHnsw.searchIndex(spark, path, emb.toDF(), "vec_id",
      "embedding", q, 50, codec)
      .as[(Long, Double)].collect()
    assert(got.length == 50)
    // 1-bit estimator is the coarsest of the composition matrix
    assert(recall(got.map(_._1), flatTopk(50, "l2")) >= 0.7)
    val exact = emb.filter($"vec_id" === got.head._1)
      .select(l2sq($"embedding", typedLit(q))).as[Double].head()
    assert(got.head._2 == exact)
    val ex = CodedHnsw.searchIndex(spark, path, emb.toDF(), "vec_id",
      "embedding", q, 50, codec, exact = true)
      .as[(Long, Double)].collect()
    assert(ex.map(_._1).toSet == flatTopk(50, "l2"))
    graft.index.IndexCatalog.drop(spark, name)
  }

  test("HNSW graph cache: evicts by BYTE budget, not graph count") {
    def mkArtifact(seedId: Long): (String, Long) = {
      val g = new Hnsw.Graph("l2")
      emb.select($"vec_id", $"embedding").as[(Long, Array[Float])]
        .collect().sortBy(_._1).take(500)
        .foreach { case (id, v) => g.insert(id + seedId, v) }
      val flat = g.snapshot
      val f = java.io.File.createTempFile(s"graftcache$seedId", ".bin")
      f.deleteOnExit()
      val out = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(new java.io.FileOutputStream(f)))
      try Hnsw.FlatGraph.write(out, flat) finally out.close()
      (f.getAbsolutePath, Hnsw.GraphCache.estBytes(flat))
    }
    val (f1, b1) = mkArtifact(0)
    val (f2, b2) = mkArtifact(1000000)
    val (f3, _) = mkArtifact(2000000)
    val conf = new org.apache.hadoop.conf.Configuration()
    Hnsw.GraphCache.clearForTest()
    try {
      // budget fits two graphs but not three
      Hnsw.GraphCache.setBudgetForTest(b1 + b2 + 64)
      Hnsw.GraphCache.get(f1, conf)
      Hnsw.GraphCache.get(f2, conf)
      assert(Hnsw.GraphCache.residentCount == 2)
      Hnsw.GraphCache.get(f3, conf)
      // one graph was evicted to respect the byte budget (count alone
      // would have kept all three)
      assert(Hnsw.GraphCache.residentCount == 2)
      assert(Hnsw.GraphCache.residentBytes <= b1 + b2 + 64)
      // the newest entry always survives
      Hnsw.GraphCache.get(f3, conf)
      assert(Hnsw.GraphCache.residentCount == 2)
      // a budget smaller than any single graph still retains the newest
      Hnsw.GraphCache.setBudgetForTest(64)
      Hnsw.GraphCache.get(f1, conf)
      assert(Hnsw.GraphCache.residentCount == 1)
    } finally {
      Hnsw.GraphCache.setBudgetForTest(-1)
      Hnsw.GraphCache.clearForTest()
    }
  }

  test("SQ8: k rows, recall@50 >= 0.9; distances exact after rerank") {
    val codec = Sq8Quant.train(emb, "embedding")
    val encoded = emb.withColumn("codes", codec.encode($"embedding"))
    val got = CodedFlat.search(encoded, "vec_id", "embedding", q, 50, codec)
      .as[(Long, Double)].collect()
    assert(got.length == 50)
    assert(recall(got.map(_._1), flatTopk(50, "l2")) >= 0.9)
    val exact = emb.filter($"vec_id" === got.head._1)
      .select(l2sq($"embedding", typedLit(q))).as[Double].head()
    assert(got.head._2 == exact)
  }
}
