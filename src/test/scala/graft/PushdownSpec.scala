package graft

import org.apache.spark.sql.functions._
import graft.plans.AnnPushdown
import graft.queries.AnnQueries

/** pushdown_plan.slt analog: `ORDER BY l2sq(vec, q) LIMIT k` over a
  * registered table rewrites to the IVF index scan; identical results at
  * nprobe = nlist; plan reads the index artifact. */
class PushdownSpec extends SparkSpec {
  import spark.implicits._

  private val tablePath = s"$sf001/embeddings.parquet"

  private lazy val q: Array[Float] =
    spark.read.parquet(s"$sf001/embeddings.parquet")
      .filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).toArray

  private def topkDf = spark.read.parquet(s"$sf001/embeddings.parquet")
    .select(col("vec_id"),
      graft.functions.l2sq(col("embedding"), typedLit(q)).as("dist"))
    .orderBy(col("dist")).limit(10)

  private def withPushdown(body: String => Unit): Unit = {
    val (_, dataDir) = AnnQueries.ivf(spark, sf001, "l2")
    AnnPushdown.install(spark)
    AnnPushdown.register(s"$sf001/embeddings.parquet",
      AnnPushdown.IndexedTable(s"ivf_l2_${sf001.replaceAll("[^a-zA-Z0-9]", "_")}",
        "vec_id", "embedding"))
    try body(dataDir)
    finally {
      spark.conf.set("spark.graft.ann.enabled", "false")
      spark.conf.set("spark.graft.ann.nprobe", "10")
      AnnPushdown.unregister(s"$sf001/embeddings.parquet")
    }
  }

  test("ann pushdown rewrites to the index scan and preserves results") {
    withPushdown { dataDir =>

    spark.conf.set("spark.graft.ann.enabled", "false")
    val baseline = topkDf.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // exact mode: probe every list — identical results, index plan
    spark.conf.set("spark.graft.ann.enabled", "true")
    spark.conf.set("spark.graft.ann.nprobe", "16")
    val pushed = topkDf
    val plan = pushed.queryExecution.optimizedPlan
    assert(!AnnPushdown.scansSource(plan, tablePath),
      s"plan does not read the index:\n$plan")
    val got = pushed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == baseline)

    // approximate mode still returns k rows
    spark.conf.set("spark.graft.ann.nprobe", "4")
    assert(topkDf.count() == 10)

    // off: plan reads the base table again
    spark.conf.set("spark.graft.ann.enabled", "false")
    assert(AnnPushdown.scansSource(topkDf.queryExecution.optimizedPlan, tablePath))
    }
  }

  test("inline-sort top-k (no dist alias) rewrites; extra columns bail") {
    withPushdown { dataDir =>
      spark.conf.set("spark.graft.ann.enabled", "true")
      spark.conf.set("spark.graft.ann.nprobe", "16")
      val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
      // exact-mode baseline id set (order-insensitive: dist is dropped)
      val want = topkDf.collect().map(_.getLong(0)).toSet
      val inline = emb
        .orderBy(graft.functions.l2sq(col("embedding"), typedLit(q)))
        .select(col("vec_id")).limit(10)
      val plan = inline.queryExecution.optimizedPlan
      assert(!AnnPushdown.scansSource(plan, tablePath),
        s"inline-sort top-k did not rewrite:\n$plan")
      assert(inline.collect().map(_.getLong(0)).toSet === want)
      // filtered inline form: WHERE + inline ORDER BY routes through
      // the filtered dispatch (exact at nprobe=nlist within the
      // selective-filter contract of the alias-form gate)
      val fwant = emb.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"),
          graft.functions.l2sq(col("embedding"), typedLit(q)).as("dist"))
        .orderBy(col("dist")).limit(10).collect().map(_.getLong(0)).toSet
      val finline = emb.filter(col("vec_id") % 7 === 0)
        .orderBy(graft.functions.l2sq(col("embedding"), typedLit(q)))
        .select(col("vec_id")).limit(10)
      val fplan = finline.queryExecution.executedPlan.toString
      assert(fplan.contains(dataDir) && fplan.contains("list_id"),
        s"filtered inline-sort top-k did not rewrite:\n$fplan")
      assert(finline.collect().map(_.getLong(0)).toSet === fwant)
      // a projection beyond the id column cannot be served by the
      // (id, dist) search output — must stay unrewritten, never error
      val wide = emb
        .orderBy(graft.functions.l2sq(col("embedding"), typedLit(q)))
        .select(col("vec_id"), col("label")).limit(10)
      assert(AnnPushdown.scansSource(wide.queryExecution.optimizedPlan, tablePath),
        "inline arm must bail when extra columns are projected")
      assert(wide.count() === 10)
    }
  }

  test("filtered ANN top-k rewrites; exact at nprobe=nlist with selective filter") {
    withPushdown { dataDir =>
    // selective predicate: keeps ~1/7 of rows
    def filteredDf = spark.read.parquet(s"$sf001/embeddings.parquet")
      .filter(col("vec_id") % 7 === 0)
      .select(col("vec_id"),
        graft.functions.l2sq(col("embedding"), typedLit(q)).as("dist"))
      .orderBy(col("dist")).limit(10)

    spark.conf.set("spark.graft.ann.enabled", "false")
    val baseline = filteredDf.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    spark.conf.set("spark.graft.ann.enabled", "true")
    spark.conf.set("spark.graft.ann.nprobe", "16")
    val pushed = filteredDf
    val plan = pushed.queryExecution.executedPlan.toString
    assert(plan.contains(dataDir), s"plan does not scan the index:\n$plan")
    assert(plan.contains("list_id"), "plan lost the partition-pruning filter")
    val got = pushed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == baseline)

    // over-probe: nprobe=2 with overfetch 4 probes 8 lists and still
    // fills k from the survivors
    spark.conf.set("spark.graft.ann.nprobe", "2")
    assert(filteredDf.count() == 10)

    // a projection with extra columns must NOT rewrite (columns would be
    // dropped silently)
    val extra = spark.read.parquet(s"$sf001/embeddings.parquet")
      .filter(col("vec_id") % 7 === 0)
      .select(col("vec_id"), col("label"),
        graft.functions.l2sq(col("embedding"), typedLit(q)).as("dist"))
      .orderBy(col("dist")).limit(10)
    assert(!extra.queryExecution.executedPlan.toString.contains(dataDir))
    assert(extra.columns.toSeq == Seq("vec_id", "label", "dist"))
    }
  }

  test("cos top-k pushdown matches the cos IVF index") {
    val (_, dataDir) = AnnQueries.ivf(spark, sf001, "cos")
    AnnPushdown.install(spark)
    AnnPushdown.register(s"$sf001/embeddings.parquet",
      AnnPushdown.IndexedTable(s"ivf_cos_${sf001.replaceAll("[^a-zA-Z0-9]", "_")}",
        "vec_id", "embedding", "cos"))
    try {
      def cosDf = spark.read.parquet(s"$sf001/embeddings.parquet")
        .select(col("vec_id"),
          graft.functions.cosdist(col("embedding"), typedLit(q)).as("dist"))
        .orderBy(col("dist")).limit(10)
      spark.conf.set("spark.graft.ann.enabled", "false")
      val baseline = cosDf.collect().map(_.getLong(0)).toSeq
      spark.conf.set("spark.graft.ann.enabled", "true")
      spark.conf.set("spark.graft.ann.nprobe", "16")
      val pushed = cosDf
      val plan = pushed.queryExecution.optimizedPlan
      assert(!AnnPushdown.scansSource(plan, tablePath),
        s"plan does not read the cos index:\n$plan")
      // same ids; values differ only by the normalize-at-build float
      // rounding the index stores (the q_ivf_exact_cos contract)
      assert(pushed.collect().map(_.getLong(0)).toSeq == baseline)
    } finally {
      spark.conf.set("spark.graft.ann.enabled", "false")
      spark.conf.set("spark.graft.ann.nprobe", "10")
      AnnPushdown.unregister(s"$sf001/embeddings.parquet")
    }
  }

  test("partial index: matching filter resolves to it, non-matching falls back") {
    withPushdown { fullDir =>
    val (_, partDir) = AnnQueries.ivfPartial(spark, sf001)
    AnnPushdown.registerPartial(spark, s"$sf001/embeddings.parquet",
      AnnPushdown.IndexedTable(
        s"ivf_l2_part7_${sf001.replaceAll("[^a-zA-Z0-9]", "_")}",
        "vec_id", "embedding"), "vec_id % 7 = 0")
    def q7 = spark.read.parquet(s"$sf001/embeddings.parquet")
      .filter(col("vec_id") % 7 === 0)
      .select(col("vec_id"),
        graft.functions.l2sq(col("embedding"), typedLit(q)).as("dist"))
      .orderBy(col("dist")).limit(10)
    spark.conf.set("spark.graft.ann.enabled", "false")
    val baseline = q7.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    spark.conf.set("spark.graft.ann.enabled", "true")
    spark.conf.set("spark.graft.ann.nprobe", "8")
    val plan = q7.queryExecution.executedPlan.toString
    assert(plan.contains(partDir), s"matching filter should scan the PARTIAL artifact:\n$plan")
    assert(q7.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == baseline)
    // a different predicate must NOT use the partial artifact
    spark.conf.set("spark.graft.ann.nprobe", "16")
    val q5 = spark.read.parquet(s"$sf001/embeddings.parquet")
      .filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"),
        graft.functions.l2sq(col("embedding"), typedLit(q)).as("dist"))
      .orderBy(col("dist")).limit(10)
    val plan5 = q5.queryExecution.executedPlan.toString
    assert(!plan5.contains(partDir), "non-matching filter must not use the partial index")
    assert(plan5.contains(fullDir), "non-matching filter should fall back to the full index")

    // soundness: a partial index built with a standalone IS NOT NULL
    // conjunct must NOT match a broader query predicate (its artifact is
    // missing the NULL-label rows). Clean registry: ONLY the narrower
    // partial registered — the query must not rewrite at all.
    AnnPushdown.unregister(s"$sf001/embeddings.parquet")
    AnnPushdown.registerPartial(spark, s"$sf001/embeddings.parquet",
      AnnPushdown.IndexedTable(
        s"ivf_l2_part7_${sf001.replaceAll("[^a-zA-Z0-9]", "_")}",
        "vec_id", "embedding"), "label IS NOT NULL AND vec_id % 7 = 0")
    val plan7 = q7.queryExecution.executedPlan.toString
    assert(!plan7.contains(partDir),
      "a narrower partial predicate must not claim a broader query")
    }
  }

  test("hnsw-registered table: ORDER BY l2sq LIMIT k rewrites to the graph search") {
    val src = s"$sf001/embeddings.parquet"
    AnnQueries.hnsw(spark, sf001, 1)
    AnnPushdown.install(spark)
    AnnPushdown.register(src, AnnPushdown.IndexedTable(
      s"hnsw_l2_p1_${sf001.replaceAll("[^a-zA-Z0-9]", "_")}",
      "vec_id", "embedding"))
    try {
      spark.conf.set("spark.graft.ann.enabled", "false")
      val baseline = topkDf.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      // exact mode (ef=∞ analog): flat scan of the 1-partition artifact —
      // identical results to the brute-force baseline
      spark.conf.set("spark.graft.ann.enabled", "true")
      spark.conf.set("spark.graft.hnsw.exact", "true")
      val pushed = topkDf
      val plan = pushed.queryExecution.executedPlan.toString
      assert(!plan.contains("embeddings.parquet"),
        s"plan still scans the base table:\n$plan")
      val got = pushed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == baseline)
      // approximate graph traversal still returns k rows
      spark.conf.set("spark.graft.hnsw.exact", "false")
      assert(topkDf.count() == 10)
      // unparseable probe conf values resolve to AUTO instead of
      // throwing from inside the optimizer rule (ADVICE r9)
      for (bad <- Seq("Auto", "", "2.0")) {
        spark.conf.set("spark.graft.hnsw.probe", bad)
        assert(topkDf.count() == 10, s"probe conf '$bad' must not break the rule")
      }
      spark.conf.unset("spark.graft.hnsw.probe")
    } finally {
      spark.conf.set("spark.graft.ann.enabled", "false")
      spark.conf.unset("spark.graft.hnsw.exact")
      spark.conf.unset("spark.graft.hnsw.probe")
      AnnPushdown.unregister(src)
    }
  }

  test("hnsw-only registration: sphere range rewrites to the resident flat scan") {
    val src = s"$sf001/embeddings.parquet"
    val san = sf001.replaceAll("[^a-zA-Z0-9]", "_")
    AnnQueries.hnsw(spark, sf001, 4)
    AnnQueries.hnsw(spark, sf001, 4, "cos")
    AnnPushdown.install(spark)
    AnnPushdown.register(src, AnnPushdown.IndexedTable(
      s"hnsw_l2_p4_$san", "vec_id", "embedding"))
    AnnPushdown.register(src, AnnPushdown.IndexedTable(
      s"hnsw_cos_p4_$san", "vec_id", "embedding", "cos"))
    try {
      def l2Range = spark.read.parquet(src)
        .select(col("vec_id"),
          graft.functions.l2sq(col("embedding"), typedLit(q)).as("dist"))
        .filter(col("dist") < 1.5)
      spark.conf.set("spark.graft.ann.enabled", "false")
      val baseline = l2Range.collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      spark.conf.set("spark.graft.ann.enabled", "true")
      val plan = l2Range.queryExecution.executedPlan.toString
      assert(!plan.contains("embeddings.parquet"),
        s"plan still scans the base table:\n$plan")
      val got = l2Range.collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      assert(got == baseline, "flat-scan range must equal the exact filter")

      // cos: normalized-replay convention — ids equal the exact set
      // computed on normalize-at-build vectors, dist = 1 - dot
      def cosRange = spark.read.parquet(src)
        .select(col("vec_id"),
          graft.functions.cosdist(col("embedding"), typedLit(q)).as("dist"))
        .filter(col("dist") < 0.8)
      val gotCos = cosRange.collect().map(_.getLong(0)).toSet
      val wantCos = spark.read.parquet(src)
        .select(col("vec_id"), graft.functions.cosdist(
          graft.functions.vectorNormalize(col("embedding")),
          typedLit(graft.operators.IvfIndex.Kernels.normalize(q))).as("dist"))
        .filter(col("dist") < 0.8).collect().map(_.getLong(0)).toSet
      assert(gotCos == wantCos)
    } finally {
      spark.conf.set("spark.graft.ann.enabled", "false")
      AnnPushdown.unregister(src)
    }
  }

  test("hnsw-only registration: filtered top-k rewrites to the one-shot candidate join") {
    val src = s"$sf001/embeddings.parquet"
    val san = sf001.replaceAll("[^a-zA-Z0-9]", "_")
    AnnQueries.hnsw(spark, sf001, 4)
    AnnPushdown.install(spark)
    AnnPushdown.register(src, AnnPushdown.IndexedTable(
      s"hnsw_l2_p4_$san", "vec_id", "embedding"))
    try {
      def filtered = spark.read.parquet(src)
        .filter(col("label") < 5)
        .select(col("vec_id"),
          graft.functions.l2sq(col("embedding"), typedLit(q)).as("dist"))
        .orderBy(col("dist")).limit(10)
      spark.conf.set("spark.graft.ann.enabled", "false")
      val baseline = filtered.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      // exact mode + moderately selective predicate: the k·overfetch
      // distance-prefix holds >= k survivors -> exact filtered top-k
      spark.conf.set("spark.graft.ann.enabled", "true")
      spark.conf.set("spark.graft.hnsw.exact", "true")
      val plan = filtered.queryExecution.optimizedPlan.toString
      assert(plan.contains("Join"), s"filtered top-k did not rewrite:\n$plan")
      val got = filtered.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == baseline, "basic-mode exact prefix must equal brute force here")
      // approximate traversal still honors the predicate, returns k rows
      spark.conf.set("spark.graft.hnsw.exact", "false")
      val approx = filtered.collect()
      assert(approx.length == 10)
      val passing = spark.read.parquet(src).filter(col("label") < 5)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      assert(approx.forall(r => passing.contains(r.getLong(0))))
    } finally {
      spark.conf.set("spark.graft.ann.enabled", "false")
      spark.conf.unset("spark.graft.hnsw.exact")
      AnnPushdown.unregister(src)
    }
  }

  test("cos/dot sphere-range pushdown prunes lists per metric bound") {
    val src = s"$sf001/embeddings.parquet"
    val san = sf001.replaceAll("[^a-zA-Z0-9]", "_")
    val (_, cosDir) = AnnQueries.ivf(spark, sf001, "cos")
    val (_, dotDir) = AnnQueries.ivf(spark, sf001, "dot")
    AnnPushdown.install(spark)
    AnnPushdown.register(src,
      AnnPushdown.IndexedTable(s"ivf_cos_$san", "vec_id", "embedding", "cos"))
    AnnPushdown.register(src,
      AnnPushdown.IndexedTable(s"ivf_dot_$san", "vec_id", "embedding", "dot"))
    try {
      spark.conf.set("spark.graft.ann.enabled", "true")
      // cos: values follow the normalized-replay convention (the index
      // stores normalize-at-build vectors)
      def cosRange = spark.read.parquet(src)
        .select(col("vec_id"),
          graft.functions.cosdist(col("embedding"), typedLit(q)).as("dist"))
        .filter(col("dist") < 0.8)
      val plan = cosRange.queryExecution.executedPlan.toString
      assert(plan.contains(cosDir) && plan.contains("list_id"),
        s"cos range did not rewrite:\n$plan")
      val got = cosRange.collect().map(_.getLong(0)).toSet
      val want = spark.read.parquet(src)
        .select(col("vec_id"), graft.functions.cosdist(
          graft.functions.vectorNormalize(col("embedding")), typedLit(q)).as("dist"))
        .filter(col("dist") < 0.8).collect().map(_.getLong(0)).toSet
      assert(got == want, "cos range row set mismatch")
      // dot: raw-vector artifact -> bit-exact vs the unrewritten plan
      spark.conf.set("spark.graft.ann.enabled", "false")
      def dotRange = spark.read.parquet(src)
        .select(col("vec_id"),
          graft.functions.negdot(col("embedding"), typedLit(q)).as("dist"))
        .filter(col("dist") < 0.0)
      val base = dotRange.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      spark.conf.set("spark.graft.ann.enabled", "true")
      val plan2 = dotRange.queryExecution.executedPlan.toString
      assert(plan2.contains(dotDir) && plan2.contains("list_id"),
        s"dot range did not rewrite:\n$plan2")
      assert(dotRange.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet == base)
    } finally {
      spark.conf.set("spark.graft.ann.enabled", "false")
      AnnPushdown.unregister(src)
    }
  }

  test("typed opclasses route through the planner: f16 l2, bvec hamming, svec dot") {
    import graft.functions._
    import graft.operators.{BvecPayload, F16Payload, SvecPayload, TypedAnn}
    val src = s"$sf001/embeddings.parquet"
    val san = sf001.replaceAll("[^a-zA-Z0-9]", "_")
    val emb = spark.read.parquet(src)
    val (mF16, dirF16) = TypedAnn.ensure(spark, F16Payload, s"pdf16_$san", emb,
      src, "vec_id", "embedding", nlist = 8)
    val (mBv, dirBv) = TypedAnn.ensure(spark, BvecPayload, s"pdbv_$san", emb,
      src, "vec_id", "embedding", nlist = 8)
    val (mSv, dirSv) = TypedAnn.ensure(spark, SvecPayload, s"pdsv_$san",
      emb.select(col("vec_id"), svecFromDense(col("embedding")).as("sv")),
      src, "vec_id", "sv", nlist = 8)
    AnnPushdown.install(spark)
    AnnPushdown.register(src, AnnPushdown.IndexedTable(
      s"pdf16_$san", "vec_id", "embedding", "f16:l2"))
    AnnPushdown.register(src, AnnPushdown.IndexedTable(
      s"pdbv_$san", "vec_id", "embedding", "bvec:hamming"))
    AnnPushdown.register(src, AnnPushdown.IndexedTable(
      s"pdsv_$san", "vec_id", "embedding", "svec:dot"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    try {
      spark.conf.set("spark.graft.ann.enabled", "true")
      spark.conf.set("spark.graft.ann.nprobe", "8") // = nlist -> exact
      // f16: dual-wrapped spelling over the f32 base column
      def f16Df = spark.read.parquet(src).select(col("vec_id"),
          f16L2sq(toF16Bits(col("embedding")),
            toF16Bits(typedLit(q))).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(10)
      val plan = f16Df.queryExecution.optimizedPlan.toString
      assert(plan.contains("list_id"), s"f16 top-k did not rewrite:\n$plan")
      assert(pairs(f16Df) == pairs(
        TypedAnn.search(spark, F16Payload, dirF16, mF16, "vec_id", q, 10, 8,
          metric = "l2")))
      // bvec hamming
      def bvDf = spark.read.parquet(src).select(col("vec_id"),
          bvecHamming(binarize(col("embedding")),
            binarize(typedLit(q))).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(10)
      assert(bvDf.queryExecution.optimizedPlan.toString.contains("list_id"),
        "bvec top-k did not rewrite")
      assert(pairs(bvDf) == pairs(
        TypedAnn.search(spark, BvecPayload, dirBv, mBv, "vec_id", q, 10, 8,
          metric = "hamming")))
      // svec dot
      def svDf = spark.read.parquet(src).select(col("vec_id"),
          svecNegdot(svecFromDense(col("embedding")),
            svecFromDense(typedLit(q))).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(10)
      assert(svDf.queryExecution.optimizedPlan.toString.contains("list_id"),
        "svec top-k did not rewrite")
      assert(pairs(svDf) == pairs(
        TypedAnn.search(spark, SvecPayload, dirSv, mSv, "vec_id", q, 10, 8,
          metric = "dot")))
      // a dense registration must NOT satisfy the typed spelling
      spark.conf.set("spark.graft.ann.enabled", "false")
      val off = pairs(f16Df)
      spark.conf.set("spark.graft.ann.enabled", "true")
      assert(pairs(f16Df) == off, "exact typed rewrite must be value-identical")
    } finally {
      spark.conf.set("spark.graft.ann.enabled", "false")
      spark.conf.set("spark.graft.ann.nprobe", "10")
      AnnPushdown.unregister(src)
    }
  }

  test("typed sphere-range pushdown prunes lists, stays exact: f16/bvec/svec") {
    import graft.functions._
    import graft.operators.{BvecPayload, F16Payload, SvecPayload, TypedAnn}
    val src = s"$sf001/embeddings.parquet"
    val san = sf001.replaceAll("[^a-zA-Z0-9]", "_")
    val emb = spark.read.parquet(src)
    TypedAnn.ensure(spark, F16Payload, s"pdf16_$san", emb, src,
      "vec_id", "embedding", nlist = 8)
    TypedAnn.ensure(spark, BvecPayload, s"pdbv_$san", emb, src,
      "vec_id", "embedding", nlist = 8)
    TypedAnn.ensure(spark, SvecPayload, s"pdsv_$san",
      emb.select(col("vec_id"), svecFromDense(col("embedding")).as("sv")),
      src, "vec_id", "sv", nlist = 8)
    AnnPushdown.install(spark)
    AnnPushdown.register(src, AnnPushdown.IndexedTable(
      s"pdf16_$san", "vec_id", "embedding", "f16:l2"))
    AnnPushdown.register(src, AnnPushdown.IndexedTable(
      s"pdbv_$san", "vec_id", "embedding", "bvec:hamming"))
    AnnPushdown.register(src, AnnPushdown.IndexedTable(
      s"pdsv_$san", "vec_id", "embedding", "svec:l2"))
    AnnPushdown.register(src, AnnPushdown.IndexedTable(
      s"pdbv_$san", "vec_id", "embedding", "bvec:dot"))
    AnnPushdown.register(src, AnnPushdown.IndexedTable(
      s"pdsv_$san", "vec_id", "embedding", "svec:dot"))
    AnnPushdown.register(src, AnnPushdown.IndexedTable(
      s"pdf16_$san", "vec_id", "embedding", "f16:dot"))
    def ranged(dist: org.apache.spark.sql.Column, r: Double) =
      spark.read.parquet(src).select(col("vec_id"), dist.as("dist"))
        .filter(col("dist") < lit(r))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val cases = Seq(
      ("f16", f16L2sq(toF16Bits(col("embedding")), toF16Bits(typedLit(q))), 1.6),
      ("bvec", bvecHamming(binarize(col("embedding")), binarize(typedLit(q))), 27.0),
      ("svec", svecL2sq(svecFromDense(col("embedding")),
        svecFromDense(typedLit(q))), 1.6),
      ("bvec:dot", bvecNegdot(binarize(col("embedding")),
        binarize(typedLit(q))), -25.0),
      ("svec:dot", svecNegdot(svecFromDense(col("embedding")),
        svecFromDense(typedLit(q))), -0.30),
      ("f16:dot", f16NegDot(toF16Bits(col("embedding")),
        toF16Bits(typedLit(q))), -0.30))
    try {
      for ((fam, dist, r) <- cases) {
        spark.conf.set("spark.graft.ann.enabled", "false")
        val brute = pairs(ranged(dist, r))
        assert(brute.nonEmpty, s"$fam: degenerate radius, nothing in range")
        spark.conf.set("spark.graft.ann.enabled", "true")
        val df = ranged(dist, r)
        val plan = df.queryExecution.optimizedPlan.toString
        assert(plan.contains("list_id"), s"$fam range did not rewrite:\n$plan")
        assert(pairs(df) == brute, s"$fam range rewrite must be value-identical")
      }
    } finally {
      spark.conf.set("spark.graft.ann.enabled", "false")
      AnnPushdown.unregister(src)
    }
  }

  test("typed PARTIAL index absorbs an exactly-matching filter; broader filters stay") {
    import graft.operators.{BvecPayload, F16Payload, SvecPayload, TypedAnn}
    val src = s"$sf001/embeddings.parquet"
    val san = sf001.replaceAll("[^a-zA-Z0-9]", "_")
    val emb = spark.read.parquet(src)
    TypedAnn.ensure(spark, BvecPayload, s"pdbvpart_$san",
      emb.filter(col("vec_id") % 7 === 0), src, "vec_id", "embedding", nlist = 8)
    AnnPushdown.install(spark)
    val prevReg = AnnPushdown.snapshot(src)
    AnnPushdown.registerPartial(spark, src, AnnPushdown.IndexedTable(
      s"pdbvpart_$san", "vec_id", "embedding", "bvec:hamming"), "vec_id % 7 = 0")
    val prevNp = spark.conf.getOption("spark.graft.ann.nprobe")
    spark.conf.set("spark.graft.ann.nprobe", "8") // = nlist -> exact
    spark.conf.set("spark.graft.ann.enabled", "true")
    try {
      def run(pred: org.apache.spark.sql.Column) =
        spark.read.parquet(src).filter(pred)
          .select(col("vec_id"), graft.functions.bvecHamming(
            graft.functions.binarize(col("embedding")),
            graft.functions.binarize(typedLit(q))).as("dist"))
          .orderBy(col("dist"), col("vec_id")).limit(50)
      val df = run(col("vec_id") % 7 === 0)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("list_id"), s"typed partial did not rewrite:\n$plan")
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      spark.conf.set("spark.graft.ann.enabled", "false")
      val brute = run(col("vec_id") % 7 === 0).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      spark.conf.set("spark.graft.ann.enabled", "true")
      assert(got == brute, "partial-absorbed rewrite must be value-identical")
      // a different predicate must NOT be claimed by the typed partial
      val other = run(col("vec_id") % 3 === 0)
      assert(!other.queryExecution.optimizedPlan.toString.contains("list_id"),
        "broader filter wrongly absorbed by the typed partial index")
    } finally {
      spark.conf.set("spark.graft.ann.enabled", "false")
      prevNp match {
          case Some(v) => spark.conf.set("spark.graft.ann.nprobe", v)
          case None => spark.conf.unset("spark.graft.ann.nprobe")
        }
      AnnPushdown.restore(src, prevReg)
    }
  }

  test("GraftExtensions injects the rewrite rule via spark.sql.extensions") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext)
    val rules = org.apache.spark.sql.graftshim.Shims.optimizerRulesOf(ext, spark)
    assert(rules.exists(_.isInstanceOf[graft.plans.AnnRewriteRule]),
      s"extensions did not contribute AnnRewriteRule: $rules")
  }

  test("range (sphere) predicate pushdown prunes lists, stays exact") {
    withPushdown { dataDir =>
    def rangeDf = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id"), col("label"),
        graft.functions.l2sq(col("embedding"), typedLit(q)).as("dist"))
      .filter(col("dist") < 1.5)

    spark.conf.set("spark.graft.ann.enabled", "false")
    val baseline = rangeDf.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet

    spark.conf.set("spark.graft.ann.enabled", "true")
    val pushed = rangeDf
    val plan = pushed.queryExecution.executedPlan.toString
    assert(plan.contains(dataDir), s"plan does not scan the index:\n$plan")
    val got = pushed.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    spark.conf.set("spark.graft.ann.enabled", "false")
    assert(got == baseline)
    }
  }

  test("range JOIN pushdown: distance-predicate join rewrites, stays exact") {
    withPushdown { dataDir =>
    val src = s"$sf001/embeddings.parquet"
    def joinDf = {
      val corpus = spark.read.parquet(src)
      val queries = spark.read.parquet(src)
        .filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      queries.join(corpus,
          graft.functions.l2sq(corpus("embedding"), queries("qvec")) < lit(1.2))
        .select(queries("qid"), corpus("vec_id"),
          graft.functions.l2sq(corpus("embedding"), queries("qvec")).as("dist"))
    }

    spark.conf.set("spark.graft.ann.enabled", "false")
    val baseline = joinDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val offPlan = joinDf.queryExecution.optimizedPlan.toString
    assert(!offPlan.contains("range_lists"))

    spark.conf.set("spark.graft.ann.enabled", "true")
    val pushed = joinDf
    val logical = pushed.queryExecution.optimizedPlan.toString
    assert(logical.contains("range_lists"),
      s"join did not rewrite onto the list join:\n$logical")
    val physical = pushed.queryExecution.executedPlan.toString
    assert(physical.contains(dataDir), s"plan does not scan the index:\n$physical")
    assert(!physical.contains("BroadcastNestedLoopJoin"),
      "rewritten join still nested-loop")
    // the rewrite is EXACT at any radius: sound lower-bound list pruning
    val got = pushed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == baseline)
    spark.conf.set("spark.graft.ann.enabled", "false")
    }
  }

  test("range JOIN pushdown composes under an aggregate: the declarative " +
      "decontamination shape rewrites with a pruned projection (round 8)") {
    withPushdown { dataDir =>
    val src = s"$sf001/embeddings.parquet"
    // eval-vs-train contamination count: every eval (query) row joined
    // to the train corpus within r, then aggregated per eval row — the
    // optimizer prunes the projection between the Aggregate and the
    // Join down to {qid}, so the arm must rewrite WITHOUT a dist alias
    // or corpus id in the projection
    def aggDf = {
      val corpus = spark.read.parquet(src)
      val queries = spark.read.parquet(src)
        .filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      queries.join(corpus,
          graft.functions.l2sq(corpus("embedding"), queries("qvec")) < lit(1.2))
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_contaminated"))
    }
    spark.conf.set("spark.graft.ann.enabled", "false")
    val baseline = aggDf.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set("spark.graft.ann.enabled", "true")
    val pushed = aggDf
    val logical = pushed.queryExecution.optimizedPlan.toString
    assert(logical.contains("range_lists"),
      s"aggregate-over-range-join did not rewrite:\n$logical")
    assert(!pushed.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    // multiplicity preserved -> counts identical (exact at any radius)
    val got = pushed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == baseline)
    spark.conf.set("spark.graft.ann.enabled", "false")
    }
  }

  test("range JOIN pushdown: cos metric normalizes the query side in-plan") {
    val (_, dataDir) = AnnQueries.ivf(spark, sf001, "cos")
    val src = s"$sf001/embeddings.parquet"
    AnnPushdown.install(spark)
    val prev = AnnPushdown.snapshot(src)
    AnnPushdown.register(src, AnnPushdown.IndexedTable(
      s"ivf_cos_${sf001.replaceAll("[^a-zA-Z0-9]", "_")}",
      "vec_id", "embedding", "cos"))
    spark.conf.set("spark.graft.ann.enabled", "true")
    try {
      def joinDf = {
        val corpus = spark.read.parquet(src)
        val queries = spark.read.parquet(src)
          .filter(col("vec_id") % 25 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        queries.join(corpus,
            graft.functions.cosdist(corpus("embedding"), queries("qvec")) < lit(0.35))
          .select(queries("qid"), corpus("vec_id"),
            graft.functions.cosdist(corpus("embedding"), queries("qvec")).as("dist"))
      }
      spark.conf.set("spark.graft.ann.enabled", "false")
      // cos replay convention: pairs must agree; dists agree to fp noise
      val baseline = joinDf.collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      spark.conf.set("spark.graft.ann.enabled", "true")
      val pushed = joinDf
      assert(pushed.queryExecution.optimizedPlan.toString.contains("range_lists"))
      val got = pushed.collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(got.keySet == baseline.keySet,
        s"pair sets differ: +${(got.keySet -- baseline.keySet).take(3)} " +
        s"-${(baseline.keySet -- got.keySet).take(3)}")
      got.foreach { case (k, d) =>
        assert(math.abs(d - baseline(k)) < 1e-6, s"$k: $d vs ${baseline(k)}") }
    } finally {
      spark.conf.set("spark.graft.ann.enabled", "false")
      AnnPushdown.restore(src, prev)
    }
  }

  test("KNN window-join pushdown: cross join + row_number <= k rewrites") {
    withPushdown { dataDir =>
    val src = s"$sf001/embeddings.parquet"
    import org.apache.spark.sql.expressions.{Window => W}
    def joinDf = {
      val corpus = spark.read.parquet(src)
      val queries = spark.read.parquet(src)
        .filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      queries.crossJoin(corpus)
        .select(queries("qid"), corpus("vec_id"),
          graft.functions.l2sq(corpus("embedding"), queries("qvec")).as("dist"))
        .withColumn("rn", row_number().over(
          W.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
        .filter(col("rn") <= 5)
    }
    spark.conf.set("spark.graft.ann.enabled", "false")
    val baseline = joinDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet

    // exact: probe all lists — identical rows, artifact in the plan
    spark.conf.set("spark.graft.ann.enabled", "true")
    spark.conf.set("spark.graft.ann.nprobe", "16")
    val pushed = joinDf
    val logical = pushed.queryExecution.optimizedPlan.toString
    assert(logical.contains("probe_lists"),
      s"window join did not rewrite:\n$logical")
    val physical = pushed.queryExecution.executedPlan.toString
    assert(physical.contains(dataDir))
    assert(!physical.contains("BroadcastNestedLoopJoin"))
    val got = pushed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got == baseline)

    // approximate: fewer probes, still k rows per query
    spark.conf.set("spark.graft.ann.nprobe", "4")
    val approx = joinDf.collect()
    assert(approx.length == baseline.size, "approx mode lost result rows")
    spark.conf.set("spark.graft.ann.nprobe", "10")
    spark.conf.set("spark.graft.ann.enabled", "false")
    }
  }

  test("hard-negative window-join spelling: self-exclusion inequality " +
      "rewrites on dense IVF, stays exact at nprobe=nlist (round 8)") {
    withPushdown { dataDir =>
    val src = s"$sf001/embeddings.parquet"
    import org.apache.spark.sql.expressions.{Window => W}
    // anchors drawn from the indexed corpus (the contrastive-training
    // shape): the dist-0 self match must not burn a negative slot, so
    // the spelling filters qid != corpus id between the join and the
    // window — which the optimizer pushes into the join condition
    def negDf = {
      val corpus = spark.read.parquet(src)
      val anchors = spark.read.parquet(src)
        .filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      anchors.crossJoin(corpus)
        .filter(anchors("qid") =!= corpus("vec_id"))
        .select(anchors("qid"), corpus("vec_id"),
          graft.functions.l2sq(corpus("embedding"), anchors("qvec")).as("dist"))
        .withColumn("rn", row_number().over(
          W.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
        .filter(col("rn") <= 5)
    }
    spark.conf.set("spark.graft.ann.enabled", "false")
    val baseline = negDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(baseline.nonEmpty &&
      baseline.forall { case (q, c, _, _) => q != c })

    spark.conf.set("spark.graft.ann.enabled", "true")
    spark.conf.set("spark.graft.ann.nprobe", "16") // = nlist: exact
    val pushed = negDf
    val logical = pushed.queryExecution.optimizedPlan.toString
    assert(logical.contains("probe_lists"),
      s"self-exclusion window join did not rewrite:\n$logical")
    assert(!pushed.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    val got = pushed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got == baseline)

    // any OTHER inequality (not anchor-vs-corpus-id) must bail
    val corpus = spark.read.parquet(src)
    val anchors = spark.read.parquet(src).filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").as("qvec"))
    val other = anchors.crossJoin(corpus)
      .filter(anchors("qlabel") =!= corpus("label"))
      .select(anchors("qid"), corpus("vec_id"),
        graft.functions.l2sq(corpus("embedding"), anchors("qvec")).as("dist"))
      .withColumn("rn", row_number().over(
        W.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
      .filter(col("rn") <= 5)
    assert(!other.queryExecution.optimizedPlan.toString.contains("probe_lists"),
      "non-self-exclusion join conditions must not rewrite")
    spark.conf.set("spark.graft.ann.nprobe", "10")
    spark.conf.set("spark.graft.ann.enabled", "false")
    }
  }

  test("KNN window-join pushdown guards: rank(), corpus-side partition bail") {
    withPushdown { _ =>
    val src = s"$sf001/embeddings.parquet"
    import org.apache.spark.sql.expressions.{Window => W}
    spark.conf.set("spark.graft.ann.enabled", "true")
    val corpus = spark.read.parquet(src)
    val queries = spark.read.parquet(src).filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val base = queries.crossJoin(corpus)
      .select(queries("qid"), corpus("vec_id"),
        graft.functions.l2sq(corpus("embedding"), queries("qvec")).as("dist"))
    // rank() is not row_number(): ties could admit >k rows — must bail
    val ranked = base.withColumn("rn", rank().over(
        W.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
      .filter(col("rn") <= 5)
    assert(!ranked.queryExecution.optimizedPlan.toString.contains("probe_lists"))
    // partitioning by the CORPUS id is per-corpus-row top-k, not a KNN
    // join — must bail
    val wrongPart = base.withColumn("rn", row_number().over(
        W.partitionBy(col("vec_id")).orderBy(col("dist"))))
      .filter(col("rn") <= 5)
    assert(!wrongPart.queryExecution.optimizedPlan.toString.contains("probe_lists"))
    }
  }

  test("join pushdowns fire from spark.sql text") {
    withPushdown { _ =>
    val src = s"$sf001/embeddings.parquet"
    graft.functions.registerAll(spark)
    spark.read.parquet(src).createOrReplaceTempView("corpus_pd")
    spark.read.parquet(src).filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      .createOrReplaceTempView("queries_pd")
    val rangeSql =
      """SELECT q.qid, c.vec_id, l2sq_distance(c.embedding, q.qvec) AS dist
         FROM queries_pd q JOIN corpus_pd c
           ON l2sq_distance(c.embedding, q.qvec) < 1.2D"""
    // the window form: the analyzer extracts the ORDER BY distance into
    // its own _w0 alias — a SECOND alias of the same expression the
    // matcher must accept
    val knnSql =
      """SELECT qid, vec_id, dist, rn FROM (
           SELECT q.qid, c.vec_id, l2sq_distance(c.embedding, q.qvec) AS dist,
                  row_number() OVER (PARTITION BY q.qid
                    ORDER BY l2sq_distance(c.embedding, q.qvec), c.vec_id) AS rn
           FROM queries_pd q CROSS JOIN corpus_pd c)
         WHERE rn <= 5"""
    try {
      spark.conf.set("spark.graft.ann.enabled", "false")
      val rangeBase = spark.sql(rangeSql).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val knnBase = spark.sql(knnSql).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      spark.conf.set("spark.graft.ann.enabled", "true")
      spark.conf.set("spark.graft.ann.nprobe", "16")
      val rangePushed = spark.sql(rangeSql)
      assert(rangePushed.queryExecution.optimizedPlan.toString
        .contains("range_lists"), "SQL range join did not rewrite")
      assert(rangePushed.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet == rangeBase)
      val knnPushed = spark.sql(knnSql)
      assert(knnPushed.queryExecution.optimizedPlan.toString
        .contains("probe_lists"), "SQL window join did not rewrite")
      assert(knnPushed.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet == knnBase)
    } finally {
      spark.conf.set("spark.graft.ann.nprobe", "10")
      spark.catalog.dropTempView("corpus_pd")
      spark.catalog.dropTempView("queries_pd")
    }
    }
  }

  test("KNN window-join pushdown dispatches HNSW-kind registrations") {
    val src = s"$sf001/embeddings.parquet"
    val dataDir = AnnQueries.hnsw(spark, sf001, 4)
    AnnPushdown.install(spark)
    val prev = AnnPushdown.snapshot(src)
    AnnPushdown.register(src, AnnPushdown.IndexedTable(
      s"hnsw_l2_p4_${sf001.replaceAll("[^a-zA-Z0-9]", "_")}",
      "vec_id", "embedding", "l2"))
    import org.apache.spark.sql.expressions.{Window => W}
    def joinDf = {
      val corpus = spark.read.parquet(src)
      val queries = spark.read.parquet(src)
        .filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      queries.crossJoin(corpus)
        .select(queries("qid"), corpus("vec_id"),
          graft.functions.l2sq(corpus("embedding"), queries("qvec")).as("dist"))
        .withColumn("rn", row_number().over(
          W.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
        .filter(col("rn") <= 5)
    }
    try {
      spark.conf.set("spark.graft.ann.enabled", "false")
      val baseline = joinDf.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      spark.conf.set("spark.graft.ann.enabled", "true")
      spark.conf.set("spark.graft.hnsw.exact", "true")
      val pushed = joinDf
      val logical = pushed.queryExecution.optimizedPlan.toString
      assert(logical.contains("MapPartitions"),
        s"hnsw window join did not rewrite:\n$logical")
      assert(logical.contains("knnJoin") || !logical.contains("probe_lists"))
      // exact flat-scan mode: per-graph union contains the global top-k
      val got = pushed.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      assert(got == baseline)
      // approximate beam mode still fills k rows per query
      spark.conf.set("spark.graft.hnsw.exact", "false")
      assert(joinDf.collect().length == baseline.size)
    } finally {
      spark.conf.set("spark.graft.ann.enabled", "false")
      spark.conf.set("spark.graft.hnsw.exact", "false")
      AnnPushdown.restore(src, prev)
    }
  }

  test("range JOIN pushdown dispatches HNSW-kind registrations (exact flat scans)") {
    val src = s"$sf001/embeddings.parquet"
    AnnQueries.hnsw(spark, sf001, 4)
    AnnPushdown.install(spark)
    val prev = AnnPushdown.snapshot(src)
    AnnPushdown.register(src, AnnPushdown.IndexedTable(
      s"hnsw_l2_p4_${sf001.replaceAll("[^a-zA-Z0-9]", "_")}",
      "vec_id", "embedding", "l2"))
    def joinDf = {
      val corpus = spark.read.parquet(src)
      val queries = spark.read.parquet(src)
        .filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      queries.join(corpus,
          graft.functions.l2sq(corpus("embedding"), queries("qvec")) < lit(1.2))
        .select(queries("qid"), corpus("vec_id"),
          graft.functions.l2sq(corpus("embedding"), queries("qvec")).as("dist"))
    }
    try {
      spark.conf.set("spark.graft.ann.enabled", "false")
      val baseline = joinDf.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      spark.conf.set("spark.graft.ann.enabled", "true")
      val pushed = joinDf
      val logical = pushed.queryExecution.optimizedPlan.toString
      assert(logical.contains("MapPartitions"),
        s"hnsw range join did not rewrite:\n$logical")
      val got = pushed.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == baseline)
    } finally {
      spark.conf.set("spark.graft.ann.enabled", "false")
      AnnPushdown.restore(src, prev)
    }
  }

  test("typed KNN window-join pushdown: f16 and svec spellings rewrite, stay exact") {
    import graft.functions._
    import graft.operators.{BvecPayload, F16Payload, SvecPayload, TypedAnn}
    import org.apache.spark.sql.expressions.{Window => W}
    val src = s"$sf001/embeddings.parquet"
    val san = sf001.replaceAll("[^a-zA-Z0-9]", "_")
    val emb = spark.read.parquet(src)
    TypedAnn.ensure(spark, F16Payload, s"pdf16_$san", emb, src,
      "vec_id", "embedding", nlist = 8)
    TypedAnn.ensure(spark, SvecPayload, s"pdsv_$san",
      emb.select(col("vec_id"), svecFromDense(col("embedding")).as("sv")),
      src, "vec_id", "sv", nlist = 8)
    AnnPushdown.install(spark)
    val prev = AnnPushdown.snapshot(src)
    AnnPushdown.register(src, AnnPushdown.IndexedTable(
      s"pdf16_$san", "vec_id", "embedding", "f16:l2"))
    AnnPushdown.register(src, AnnPushdown.IndexedTable(
      s"pdsv_$san", "vec_id", "embedding", "svec:l2"))
    def windowed(dist: (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) => org.apache.spark.sql.Column) = {
      val corpus = spark.read.parquet(src)
      val queries = spark.read.parquet(src)
        .filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      queries.crossJoin(corpus)
        .select(queries("qid"), corpus("vec_id"),
          dist(corpus, queries).as("dist"))
        .withColumn("rn", row_number().over(
          W.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
        .filter(col("rn") <= 5)
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    try {
      def f16Df = windowed((c, q) =>
        f16L2sq(toF16Bits(c("embedding")), toF16Bits(q("qvec"))))
      def svDf = windowed((c, q) =>
        svecL2sq(svecFromDense(c("embedding")), svecFromDense(q("qvec"))))
      spark.conf.set("spark.graft.ann.enabled", "false")
      val f16Base = rows(f16Df)
      val svBase = rows(svDf)
      spark.conf.set("spark.graft.ann.enabled", "true")
      spark.conf.set("spark.graft.ann.nprobe", "8") // = nlist -> exact
      val f16Pushed = f16Df
      assert(f16Pushed.queryExecution.optimizedPlan.toString
        .contains("probe_lists"), "f16 window join did not rewrite")
      assert(rows(f16Pushed) == f16Base)
      val svPushed = svDf
      assert(svPushed.queryExecution.optimizedPlan.toString
        .contains("probe_lists"), "svec window join did not rewrite")
      assert(rows(svPushed) == svBase)
    } finally {
      spark.conf.set("spark.graft.ann.enabled", "false")
      spark.conf.set("spark.graft.ann.nprobe", "10")
      AnnPushdown.restore(src, prev)
    }
  }

  test("FILTERED range join pushes the corpus predicate into the scan; guards bail") {
    withPushdown { _ =>
    val src = s"$sf001/embeddings.parquet"
    def filteredDf = {
      val corpus = spark.read.parquet(src)
      val queries = spark.read.parquet(src)
        .filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      queries.join(corpus.filter(col("label") > 2),
          graft.functions.l2sq(corpus("embedding"), queries("qvec")) < lit(1.2))
        .select(queries("qid"), corpus("vec_id"),
          graft.functions.l2sq(corpus("embedding"), queries("qvec")).as("dist"))
    }
    spark.conf.set("spark.graft.ann.enabled", "false")
    val baseline = filteredDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    spark.conf.set("spark.graft.ann.enabled", "true")
    // dense IVF artifacts store full source rows: the corpus predicate
    // remaps onto the pruned scan and the rewrite stays exact (sound
    // list pruning is filter-independent)
    val pushed = filteredDf
    assert(pushed.queryExecution.optimizedPlan.toString.contains("range_lists"),
      "filtered range join did not rewrite")
    val got = pushed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == baseline)
    val corpus = spark.read.parquet(src)
    val queries = spark.read.parquet(src).limit(5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // a predicate on the VECTOR column must bail (cos artifacts store
    // normalize-at-build vectors; the rule is uniform across metrics)
    val vecPred = queries.join(
        corpus.filter(size(corpus("embedding")) > 1),
        graft.functions.l2sq(corpus("embedding"), queries("qvec")) < lit(1.2))
      .select(queries("qid"), corpus("vec_id"),
        graft.functions.l2sq(corpus("embedding"), queries("qvec")).as("dist"))
    assert(!vecPred.queryExecution.optimizedPlan.toString.contains("range_lists"),
      "rewrote a join whose corpus predicate touches the vector column")
    // >= comparison is not the range shape — must NOT rewrite
    val wrongOp = queries.join(corpus,
        graft.functions.l2sq(corpus("embedding"), queries("qvec")) >= lit(1.2))
      .select(queries("qid"), corpus("vec_id"),
        graft.functions.l2sq(corpus("embedding"), queries("qvec")).as("dist"))
    assert(!wrongOp.queryExecution.optimizedPlan.toString.contains("range_lists"))

    // a STANDALONE corpus-side IS NOT NULL is a selective user predicate:
    // it must survive as an extra (remapped into the dense scan), never
    // be silently dropped — the rewrite still fires and the result set
    // matches the unrewritten join exactly
    def nnDf = {
      val c2 = spark.read.parquet(src)
      val q2 = spark.read.parquet(src).filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      q2.join(c2.filter(c2("label").isNotNull),
          graft.functions.l2sq(c2("embedding"), q2("qvec")) < lit(1.2))
        .select(q2("qid"), c2("vec_id"),
          graft.functions.l2sq(c2("embedding"), q2("qvec")).as("dist"))
    }
    spark.conf.set("spark.graft.ann.enabled", "false")
    val nnBase = nnDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    spark.conf.set("spark.graft.ann.enabled", "true")
    val nnPushed = nnDf
    val nnPlan = nnPushed.queryExecution.optimizedPlan.toString
    assert(nnPlan.contains("range_lists"),
      "standalone IsNotNull should remap like any other corpus predicate")
    assert(nnPlan.contains("isnotnull(label"),
      s"standalone IsNotNull must survive in the rewritten plan:\n$nnPlan")
    assert(nnPushed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet == nnBase)
    }
  }

  test("FILTERED KNN window-join pushes the corpus predicate; exact at nprobe=nlist") {
    withPushdown { _ =>
    val src = s"$sf001/embeddings.parquet"
    import org.apache.spark.sql.expressions.{Window => W}
    def filteredDf = {
      val corpus = spark.read.parquet(src)
      val queries = spark.read.parquet(src)
        .filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      queries.crossJoin(corpus.filter(col("label") > 2))
        .select(queries("qid"), corpus("vec_id"),
          graft.functions.l2sq(corpus("embedding"), queries("qvec")).as("dist"))
        .withColumn("rn", row_number().over(
          W.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
        .filter(col("rn") <= 5)
    }
    spark.conf.set("spark.graft.ann.enabled", "false")
    val baseline = filteredDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    spark.conf.set("spark.graft.ann.enabled", "true")
    spark.conf.set("spark.graft.ann.nprobe", "16")
    val pushed = filteredDf
    assert(pushed.queryExecution.optimizedPlan.toString.contains("probe_lists"),
      "filtered window join did not rewrite")
    val got = pushed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got == baseline)
    spark.conf.set("spark.graft.ann.nprobe", "10")
    }
  }

  test("multiple indexes on one column: l2/cos/dot spellings each dispatch their own (index.slt)") {
    import graft.queries.AnnQueries
    val src = s"$sf001/embeddings.parquet"
    val san = sf001.replaceAll("[^a-zA-Z0-9]", "_")
    // three indexes on the same column, one per metric (index.slt's
    // "multiple index on single column" block)
    AnnQueries.ivf(spark, sf001, "l2")
    AnnQueries.ivf(spark, sf001, "cos")
    AnnQueries.ivf(spark, sf001, "dot")
    AnnPushdown.install(spark)
    val prev = AnnPushdown.snapshot(src)
    Seq("l2", "cos", "dot").foreach(m => AnnPushdown.register(src,
      AnnPushdown.IndexedTable(s"ivf_${m}_$san", "vec_id", "embedding", m)))
    try {
      spark.conf.set("spark.graft.ann.enabled", "true")
      spark.conf.set("spark.graft.ann.nprobe", "16")
      def run(dist: org.apache.spark.sql.Column) = {
        val df = spark.read.parquet(src)
          .select(col("vec_id"), dist.as("dist"))
          .orderBy(col("dist")).limit(10)
        assert(!AnnPushdown.scansSource(df.queryExecution.optimizedPlan, src),
          "spelling did not dispatch to its metric's index")
        df.collect().map(_.getLong(0)).toSeq
      }
      // each operator spelling must pick ITS index — results equal the
      // unrewritten plan per metric (exact at nprobe = nlist)
      spark.conf.set("spark.graft.ann.enabled", "false")
      val bL2 = spark.read.parquet(src).select(col("vec_id"),
          graft.functions.l2sq(col("embedding"), typedLit(q)).as("dist"))
        .orderBy(col("dist")).limit(10).collect().map(_.getLong(0)).toSeq
      val bCos = spark.read.parquet(src).select(col("vec_id"),
          graft.functions.cosdist(col("embedding"), typedLit(q)).as("dist"))
        .orderBy(col("dist")).limit(10).collect().map(_.getLong(0)).toSeq
      val bDot = spark.read.parquet(src).select(col("vec_id"),
          graft.functions.negdot(col("embedding"), typedLit(q)).as("dist"))
        .orderBy(col("dist")).limit(10).collect().map(_.getLong(0)).toSeq
      spark.conf.set("spark.graft.ann.enabled", "true")
      assert(run(graft.functions.l2sq(col("embedding"), typedLit(q))) == bL2)
      assert(run(graft.functions.cosdist(col("embedding"), typedLit(q))) == bCos)
      assert(run(graft.functions.negdot(col("embedding"), typedLit(q))) == bDot)
    } finally {
      spark.conf.set("spark.graft.ann.enabled", "false")
      spark.conf.set("spark.graft.ann.nprobe", "10")
      AnnPushdown.restore(src, prev)
    }
  }

  test("partitioned parent: top-k dispatches across sub-indexes; partition predicates prune") {
    import graft.operators.PartitionedIndex
    val srcDir = sys.props("java.io.tmpdir") + "/graft_partpush_src"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete()
    }
    rm(new java.io.File(srcDir))
    spark.read.parquet(s"$sf001/embeddings.parquet")
      .filter(col("vec_id") < 150)
      .select(col("vec_id"), col("embedding"), (col("vec_id") % 3).as("category"))
      .write.mode("overwrite").partitionBy("category").parquet(srcDir)
    val name = "partpush_idx"
    Seq("0", "1", "2").foreach(v =>
      graft.index.IndexCatalog.drop(spark, PartitionedIndex.subName(name, v)))
    graft.index.IndexCatalog.drop(spark, name)
    PartitionedIndex.ensureHnsw(spark, name, srcDir, "category",
      "vec_id", "embedding", "l2")
    assert(graft.index.IndexCatalog.load(spark, name)
      .exists(m => m.kind == "hnsw_part" &&
        m.params("values") == "0,1,2"), "parent manifest missing")
    AnnPushdown.install(spark)
    AnnPushdown.register(srcDir,
      AnnPushdown.IndexedTable(name, "vec_id", "embedding"))
    def df(pred: Option[org.apache.spark.sql.Column], k: Int) = {
      val base = spark.read.parquet(srcDir)
      pred.map(base.filter).getOrElse(base)
        .select(col("vec_id"),
          graft.functions.l2sq(col("embedding"), typedLit(q)).as("dist"))
        .orderBy(col("dist")).limit(k)
    }
    def vals(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    try {
      spark.conf.set("spark.graft.ann.enabled", "false")
      val base = vals(df(None, 12))
      val base1 = vals(df(Some(col("category") === 1), 8))
      val base12 = vals(df(Some(col("category").isin(1, 2)), 8))
      spark.conf.set("spark.graft.ann.enabled", "true")
      spark.conf.set("spark.graft.hnsw.exact", "true")
      // parent top-k: all three sub-indexes, merged, no base-table scan
      val full = df(None, 12)
      assert(!full.queryExecution.executedPlan.toString.contains("FileScan"),
        "parent top-k still scans the base table")
      assert(vals(full) == base)
      // equality and IN predicates prune to sub-indexes, still exact
      val p1 = df(Some(col("category") === 1), 8)
      assert(!p1.queryExecution.executedPlan.toString.contains("FileScan"))
      assert(vals(p1) == base1)
      assert(vals(df(Some(col("category") === 1), 8)) == base1)
      assert(vals(df(Some(col("category").isin(1, 2)), 8)) == base12)
      // a non-partition predicate bails to the unrewritten plan
      val bail = df(Some(col("vec_id") < 100), 8)
      assert(bail.queryExecution.executedPlan.toString.contains("FileScan"),
        "non-partition predicates must not be absorbed")
      // a predicate naming a value with no partition bails too
      assert(df(Some(col("category") === 9), 8)
        .queryExecution.executedPlan.toString.contains("FileScan"))
    } finally {
      spark.conf.set("spark.graft.ann.enabled", "false")
      spark.conf.unset("spark.graft.hnsw.exact")
      AnnPushdown.unregister(srcDir)
      Seq("0", "1", "2").foreach(v =>
        graft.index.IndexCatalog.drop(spark, PartitionedIndex.subName(name, v)))
      graft.index.IndexCatalog.drop(spark, name)
      rm(new java.io.File(srcDir))
    }
  }

  test("partitioned parent: Hive-escaped STRING values prune through the " +
      "pushdown literal path in user space (round 8)") {
    import graft.operators.PartitionedIndex
    val srcDir = sys.props("java.io.tmpdir") + "/graft_partpush_esc"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete()
    }
    rm(new java.io.File(srcDir))
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
      .filter(col("vec_id") < 120)
      .select(col("vec_id"), col("embedding"),
        when(col("vec_id") % 2 === 0, "north region")
          .otherwise("south:east").as("category"))
    emb.write.mode("overwrite").partitionBy("category").parquet(srcDir)
    val name = "partpush_esc"
    Seq("north region", "south:east").foreach(v =>
      graft.index.IndexCatalog.drop(spark, PartitionedIndex.subName(name, v)))
    graft.index.IndexCatalog.drop(spark, name)
    PartitionedIndex.ensureHnsw(spark, name, srcDir, "category",
      "vec_id", "embedding", "l2")
    AnnPushdown.install(spark)
    AnnPushdown.register(srcDir,
      AnnPushdown.IndexedTable(name, "vec_id", "embedding"))
    spark.conf.set("spark.graft.ann.enabled", "true")
    spark.conf.set("spark.graft.hnsw.exact", "true")
    try {
      // 'south:east' is Hive-escaped on disk (category=south%3Aeast);
      // the pushdown literal is user-space and must still prune + match
      val df = spark.read.parquet(srcDir)
        .filter(col("category") === "south:east")
        .select(col("vec_id"),
          graft.functions.l2sq(col("embedding"), typedLit(q)).as("dist"))
        .orderBy(col("dist")).limit(10)
      assert(!df.queryExecution.executedPlan.toString.contains("FileScan"),
        "escaped-value partition predicate was not absorbed")
      val want = emb.filter(col("category") === "south:east")
        .select(col("vec_id"),
          graft.functions.l2sq(col("embedding"), typedLit(q)).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == want)
    } finally {
      spark.conf.set("spark.graft.ann.enabled", "false")
      spark.conf.unset("spark.graft.hnsw.exact")
      AnnPushdown.unregister(srcDir)
      Seq("north region", "south:east").foreach(v =>
        graft.index.IndexCatalog.drop(spark, PartitionedIndex.subName(name, v)))
      graft.index.IndexCatalog.drop(spark, name)
      rm(new java.io.File(srcDir))
    }
  }

  test("partitioned parent JOIN arms: partition predicates prune, " +
      "non-partition predicates bail, range-join drift bails (round 8)") {
    import graft.operators.PartitionedIndex
    import org.apache.spark.sql.expressions.Window
    val srcDir = sys.props("java.io.tmpdir") + "/graft_partjoin_src"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete()
    }
    rm(new java.io.File(srcDir))
    spark.read.parquet(s"$sf001/embeddings.parquet")
      .filter(col("vec_id") < 150)
      .select(col("vec_id"), col("embedding"), (col("vec_id") % 3).as("category"))
      .write.mode("overwrite").partitionBy("category").parquet(srcDir)
    val name = "partjoin_idx"
    Seq("0", "1", "2").foreach(v =>
      graft.index.IndexCatalog.drop(spark, PartitionedIndex.subName(name, v)))
    graft.index.IndexCatalog.drop(spark, name)
    PartitionedIndex.ensureHnsw(spark, name, srcDir, "category",
      "vec_id", "embedding", "l2", parts = 2)
    AnnPushdown.install(spark)
    AnnPushdown.register(srcDir,
      AnnPushdown.IndexedTable(name, "vec_id", "embedding"))
    def queries = spark.read.parquet(s"$sf001/embeddings.parquet")
      .filter(col("vec_id") % 20 === 0 && col("vec_id") < 150)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def windowDf(pred: Option[org.apache.spark.sql.Column]) = {
      val base = spark.read.parquet(srcDir)
      val corpus = pred.map(base.filter).getOrElse(base)
      val qs = queries
      qs.crossJoin(corpus)
        .select(qs("qid"), corpus("vec_id"),
          graft.functions.l2sq(corpus("embedding"), qs("qvec")).as("dist"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
        .filter(col("rn") <= 4)
    }
    def rangeDf(pred: Option[org.apache.spark.sql.Column]) = {
      val base = spark.read.parquet(srcDir)
      val corpus = pred.map(base.filter).getOrElse(base)
      val qs = queries
      qs.join(corpus,
          graft.functions.l2sq(corpus("embedding"), qs("qvec")) < lit(1.5))
        .select(qs("qid"), corpus("vec_id"),
          graft.functions.l2sq(corpus("embedding"), qs("qvec")).as("dist"))
    }
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select(col("qid"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def rewritten(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.optimizedPlan.toString.contains("MapPartitions")
    try {
      spark.conf.set("spark.graft.ann.enabled", "false")
      val baseW = rows(windowDf(Some(col("category") === 1)))
      val baseR = rows(rangeDf(Some(col("category").isin(0, 2))))
      spark.conf.set("spark.graft.ann.enabled", "true")
      spark.conf.set("spark.graft.hnsw.exact", "true")
      // window arm: partition predicate absorbed by sub-index pruning,
      // values identical to the brute-force window
      val w1 = windowDf(Some(col("category") === 1))
      assert(rewritten(w1), "parent window-join arm did not rewrite")
      assert(rows(w1) == baseW)
      // range arm: IN-predicate pruning, exact at any radius
      val r1 = rangeDf(Some(col("category").isin(0, 2)))
      assert(rewritten(r1), "parent range-join arm did not rewrite")
      assert(rows(r1) == baseR)
      // non-partition corpus predicates bail on BOTH arms (graph
      // payloads carry nothing to re-filter)
      assert(!rewritten(windowDf(Some(col("vec_id") < 100))))
      assert(!rewritten(rangeDf(Some(col("vec_id") < 100))))
      // layout drift bails the range-join arm (window-arm drift is
      // covered in PartitionedIndexSpec)
      new java.io.File(s"$srcDir/category=9").mkdirs()
      try assert(!rewritten(rangeDf(None)),
        "range-join arm must bail on layout drift")
      finally rm(new java.io.File(s"$srcDir/category=9"))
    } finally {
      spark.conf.set("spark.graft.ann.enabled", "false")
      spark.conf.unset("spark.graft.hnsw.exact")
      AnnPushdown.unregister(srcDir)
      Seq("0", "1", "2").foreach(v =>
        graft.index.IndexCatalog.drop(spark, PartitionedIndex.subName(name, v)))
      graft.index.IndexCatalog.drop(spark, name)
      rm(new java.io.File(srcDir))
    }
  }

  test("partitioned parent: sphere range dispatches across sub-indexes, " +
      "partition predicates prune, layout drift bails (round 8)") {
    import graft.operators.PartitionedIndex
    val srcDir = sys.props("java.io.tmpdir") + "/graft_partrange_src"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete()
    }
    rm(new java.io.File(srcDir))
    spark.read.parquet(s"$sf001/embeddings.parquet")
      .filter(col("vec_id") < 150)
      .select(col("vec_id"), col("embedding"), (col("vec_id") % 3).as("category"))
      .write.mode("overwrite").partitionBy("category").parquet(srcDir)
    val name = "partrange_idx"
    Seq("0", "1", "2").foreach(v =>
      graft.index.IndexCatalog.drop(spark, PartitionedIndex.subName(name, v)))
    graft.index.IndexCatalog.drop(spark, name)
    PartitionedIndex.ensureHnsw(spark, name, srcDir, "category",
      "vec_id", "embedding", "l2")
    AnnPushdown.install(spark)
    AnnPushdown.register(srcDir,
      AnnPushdown.IndexedTable(name, "vec_id", "embedding"))
    val r = 2.5
    def df(pred: Option[org.apache.spark.sql.Column]) = {
      val base = spark.read.parquet(srcDir)
      pred.map(base.filter).getOrElse(base)
        .select(col("vec_id"),
          graft.functions.l2sq(col("embedding"), typedLit(q)).as("dist"))
        .filter(col("dist") < lit(r))
    }
    def vals(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(x => (x.getLong(0), x.getDouble(1))).toSet
    try {
      spark.conf.set("spark.graft.ann.enabled", "false")
      val base = vals(df(None))
      val base1 = vals(df(Some(col("category") === 1)))
      assert(base.nonEmpty && base1.nonEmpty && base1 != base)
      spark.conf.set("spark.graft.ann.enabled", "true")
      // parent range: sub-index flat scans, exact at any radius, no
      // base-table scan
      val full = df(None)
      assert(!full.queryExecution.executedPlan.toString.contains("FileScan"),
        "parent range still scans the base table")
      assert(vals(full) == base)
      // partition predicate prunes to one sub-index, still exact
      val p1 = df(Some(col("category") === 1))
      assert(!p1.queryExecution.executedPlan.toString.contains("FileScan"))
      assert(vals(p1) == base1)
      // a non-partition predicate conjunct bails
      assert(df(Some(col("vec_id") < 100)).queryExecution.executedPlan
        .toString.contains("FileScan"),
        "non-partition predicates must not be absorbed by the range arm")
      // LAYOUT DRIFT: a partition added since ensure — the sub-index set
      // no longer covers the table; both range and top-k arms must bail
      // to the unrewritten plan rather than silently dropping its rows
      new java.io.File(s"$srcDir/category=3").mkdirs()
      assert(df(None).queryExecution.executedPlan.toString.contains("FileScan"),
        "range arm must bail on layout drift")
      val topk = spark.read.parquet(srcDir)
        .select(col("vec_id"),
          graft.functions.l2sq(col("embedding"), typedLit(q)).as("dist"))
        .orderBy(col("dist")).limit(5)
      assert(topk.queryExecution.executedPlan.toString.contains("FileScan"),
        "top-k arm must bail on layout drift")
      rm(new java.io.File(s"$srcDir/category=3"))
      assert(!df(None).queryExecution.executedPlan.toString.contains("FileScan"),
        "rewrite must come back once the layout matches again")
    } finally {
      spark.conf.set("spark.graft.ann.enabled", "false")
      AnnPushdown.unregister(srcDir)
      Seq("0", "1", "2").foreach(v =>
        graft.index.IndexCatalog.drop(spark, PartitionedIndex.subName(name, v)))
      graft.index.IndexCatalog.drop(spark, name)
      rm(new java.io.File(srcDir))
    }
  }

  test("typed opclasses dispatch HNSW-kind registrations: bvec hamming/jaccard, f16 l2") {
    import graft.operators.Hnsw
    val src = s"$sf001/embeddings.parquet"
    // shared 0/1-densified graph artifact (the bvector-on-hnsw AM shape)
    AnnQueries.bvecHnsw(spark, sf001, 1)
    val name = s"hnswbv_p1_${sf001.replaceAll("[^a-zA-Z0-9]", "_")}"
    AnnPushdown.install(spark)
    val prevReg = AnnPushdown.snapshot(src)
    spark.conf.set("spark.graft.ann.enabled", "true")
    spark.conf.set("spark.graft.hnsw.exact", "true")
    try {
      val q01 = q.map(x => if (x > 0f) 1f else 0f)
      // hamming: rewrite fires and equals the operator's exact flat scan
      AnnPushdown.register(src, AnnPushdown.IndexedTable(
        name, "vec_id", "embedding", "bvec:hamming"))
      val ham = spark.read.parquet(src)
        .select(col("vec_id"),
          graft.functions.bvecHamming(graft.functions.binarize(col("embedding")),
            graft.functions.binarize(typedLit(q))).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(50)
      assert(!ham.queryExecution.optimizedPlan.toString
        .contains("embeddings.parquet"), "bvec:hamming hnsw dispatch missing")
      val wantHam = Hnsw.searchIndexExact(spark,
          graft.index.IndexCatalog.dataDir(spark, name), "vec_id", q01, 50)
        .orderBy(col("dist"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(ham.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        == wantHam)
      // hamming sphere range over the same registration: the resident
      // flat scan of the shared graphs equals the unrewritten filter
      def hamRange = spark.read.parquet(src)
        .select(col("vec_id"),
          graft.functions.bvecHamming(graft.functions.binarize(col("embedding")),
            graft.functions.binarize(typedLit(q))).as("dist"))
        .filter(col("dist") < lit(27.0))
      def rangeRows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      val rangePlan = hamRange.queryExecution.optimizedPlan
      assert(!AnnPushdown.scansSource(rangePlan, src),
        s"bvec:hamming hnsw range did not rewrite:\n$rangePlan")
      val gotRange = rangeRows(hamRange)
      spark.conf.set("spark.graft.ann.enabled", "false")
      val wantRange = rangeRows(hamRange)
      spark.conf.set("spark.graft.ann.enabled", "true")
      assert(wantRange.nonEmpty && gotRange == wantRange)
      // hamming window join over the same registration: per-query
      // `row_number() <= 10` equals the brute force. The queries come
      // from a TEMP parquet, so only the corpus side reads `src`.
      val qsrc = java.nio.file.Files.createTempDirectory("graft_bvq").toFile
      try {
        spark.read.parquet(src).filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
          .write.mode("overwrite").parquet(qsrc.getPath)
        def hamJoin = {
          val corpus = spark.read.parquet(src)
          val queries = spark.read.parquet(qsrc.getPath)
          queries.crossJoin(corpus)
            .select(queries("qid"), corpus("vec_id"),
              graft.functions.bvecHamming(
                graft.functions.binarize(corpus("embedding")),
                graft.functions.binarize(queries("qvec"))).as("dist"))
            .withColumn("rn", row_number().over(
              org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
                .orderBy(col("dist"), col("vec_id"))))
            .filter(col("rn") <= 10)
        }
        def joinRows(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
          .sorted.toSeq
        val joinPlan = hamJoin.queryExecution.optimizedPlan
        assert(!AnnPushdown.scansSource(joinPlan, src),
          s"bvec:hamming hnsw window join did not rewrite:\n$joinPlan")
        val gotJoin = joinRows(hamJoin)
        spark.conf.set("spark.graft.ann.enabled", "false")
        val wantJoin = joinRows(hamJoin)
        spark.conf.set("spark.graft.ann.enabled", "true")
        assert(wantJoin.nonEmpty && gotJoin == wantJoin)
      } finally {
        Option(qsrc.listFiles()).getOrElse(Array.empty[java.io.File])
          .foreach(_.delete())
        qsrc.delete()
      }
      // jaccard override on the same shared graphs
      AnnPushdown.restore(src, prevReg)
      AnnPushdown.register(src, AnnPushdown.IndexedTable(
        name, "vec_id", "embedding", "bvec:jaccard"))
      val jac = spark.read.parquet(src)
        .select(col("vec_id"),
          graft.functions.bvecJaccard(graft.functions.binarize(col("embedding")),
            graft.functions.binarize(typedLit(q))).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(50)
      assert(!jac.queryExecution.optimizedPlan.toString
        .contains("embeddings.parquet"), "bvec:jaccard hnsw dispatch missing")
      val wantJac = Hnsw.searchIndexMetric(spark,
          graft.index.IndexCatalog.dataDir(spark, name), "vec_id", q01, 50,
          metric = "jaccard", exact = true)
        .orderBy(col("dist"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(jac.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        == wantJac)
      AnnPushdown.restore(src, prevReg)

      // f16 l2 over a TEMP parquet whose vector is a real column (the
      // registration path keys on relation attributes)
      val f16src = java.nio.file.Files.createTempDirectory("graft_f16hnsw").toString
      spark.read.parquet(src).limit(300)
        .select(col("vec_id"),
          graft.functions.f16ToVector(graft.functions.toF16Bits(col("embedding")))
            .as("v16"))
        .write.mode("overwrite").parquet(f16src)
      val fname = "pushspec_f16_hnsw"
      graft.index.IndexCatalog.drop(spark, fname)
      Hnsw.ensure(spark, fname, spark.read.parquet(f16src), f16src,
        "vec_id", "v16", "l2", parts = 1)
      AnnPushdown.register(f16src, AnnPushdown.IndexedTable(
        fname, "vec_id", "v16", "f16:l2"))
      try {
        val q16 = q.map(x =>
          graft.types.Fp16.halfToFloat(graft.types.Fp16.floatToHalf(x)))
        val f16 = spark.read.parquet(f16src)
          .select(col("vec_id"),
            graft.functions.f16L2sq(graft.functions.toF16Bits(col("v16")),
              graft.functions.toF16Bits(typedLit(q))).as("dist"))
          .orderBy(col("dist"), col("vec_id")).limit(50)
        assert(!f16.queryExecution.optimizedPlan.toString
          .contains(f16src.split('/').last), "f16:l2 hnsw dispatch missing")
        val wantF16 = Hnsw.searchIndexExact(spark,
            graft.index.IndexCatalog.dataDir(spark, fname), "vec_id", q16, 50)
          .orderBy(col("dist"), col("vec_id"))
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(f16.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          == wantF16)
      } finally {
        AnnPushdown.unregister(f16src)
        graft.index.IndexCatalog.drop(spark, fname)
      }
    } finally {
      spark.conf.set("spark.graft.ann.enabled", "false")
      spark.conf.unset("spark.graft.hnsw.exact")
      AnnPushdown.restore(src, prevReg)
    }
  }

  test("svec l2/dot spellings dispatch a RAW-vector HNSW registration") {
    import graft.operators.Hnsw
    val src = s"$sf001/embeddings.parquet"
    // the DENSE l2 graph over raw embeddings: svec_l2sq(svec_from_dense(x), q)
    // == l2sq(x, qdense) exactly (zero terms are exact identities), so a
    // RAW-vector artifact satisfies the registration invariant for svec keys
    AnnQueries.hnsw(spark, sf001, 1)
    val name = s"hnsw_l2_p1_${sf001.replaceAll("[^a-zA-Z0-9]", "_")}"
    AnnPushdown.install(spark)
    val prevReg = AnnPushdown.snapshot(src)
    spark.conf.set("spark.graft.ann.enabled", "true")
    spark.conf.set("spark.graft.hnsw.exact", "true")
    try {
      AnnPushdown.register(src, AnnPushdown.IndexedTable(
        name, "vec_id", "embedding", "svec:l2"))
      val df = spark.read.parquet(src)
        .select(col("vec_id"),
          graft.functions.svecL2sq(graft.functions.svecFromDense(col("embedding")),
            graft.functions.svecFromDense(typedLit(q))).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(50)
      assert(!df.queryExecution.optimizedPlan.toString
        .contains("embeddings.parquet"), "svec:l2 hnsw dispatch missing")
      val want = Hnsw.searchIndexExact(spark,
          graft.index.IndexCatalog.dataDir(spark, name), "vec_id", q, 50)
        .orderBy(col("dist"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        == want)
      // ... and the graph dist values equal the svec kernel's own
      val brute = spark.read.parquet(src)
        .select(col("vec_id"),
          graft.functions.svecL2sq(graft.functions.svecFromDense(col("embedding")),
            graft.functions.svecFromDense(typedLit(q))).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(50)
      spark.conf.set("spark.graft.ann.enabled", "false")
      val wantKernel = brute.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(want == wantKernel, "graph l2 must equal the svec CSR kernel")
    } finally {
      spark.conf.set("spark.graft.ann.enabled", "false")
      spark.conf.unset("spark.graft.hnsw.exact")
      AnnPushdown.restore(src, prevReg)
    }
  }
}
