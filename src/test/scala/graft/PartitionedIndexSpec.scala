package graft

import java.io.File
import org.apache.spark.sql.functions._
import graft.index.IndexCatalog
import graft.operators.PartitionedIndex

/** Partitioned-table indexes (reference tests/sqllogictest/partition.slt):
  * one HNSW artifact per Hive-layout partition, parent searches compose
  * across partitions, partition predicates prune to sub-indexes, and a
  * re-ingested partition rebuilds ONLY its own artifact. */
class PartitionedIndexSpec extends SparkSpec {
  import spark.implicits._

  private def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete()
  }

  test("parent search merges partitions exactly; predicates prune; staleness is per-partition") {
    val srcDir = sys.props("java.io.tmpdir") + "/graft_partspec_src"
    rm(new File(srcDir))
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") < 120)
      .select(col("vec_id"), col("embedding"), (col("vec_id") % 3).as("category"))
    emb.write.mode("overwrite").partitionBy("category").parquet(srcDir)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray

    val name = "partspec_idx"
    Seq("0", "1", "2").foreach(v =>
      IndexCatalog.drop(spark, PartitionedIndex.subName(name, v)))
    assert(PartitionedIndex.partitionValues(spark, srcDir, "category") ==
      Seq("0", "1", "2"))
    // sub-name encoding is INJECTIVE: distinct values can never collide
    // onto one sub-index (a lossy sanitizer would silently overwrite)
    assert(PartitionedIndex.subName("n", "a_b") != PartitionedIndex.subName("n", "a b"))
    assert(PartitionedIndex.subName("n", "v+1") != PartitionedIndex.subName("n", "v_1"))
    assert(PartitionedIndex.subName("n", "2024-06-01") ==
      "n__p2024-06-01") // plain values stay readable
    PartitionedIndex.ensureHnsw(spark, name, srcDir, "category",
      "vec_id", "embedding", "l2")

    def brute(pred: org.apache.spark.sql.Column, k: Int) =
      emb.filter(pred)
        .select(col("vec_id"),
          graft.functions.l2sq(col("embedding"), typedLit(q)).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def got(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // parent-table exact top-k == brute force over every partition
    assert(got(PartitionedIndex.searchHnsw(spark, name, srcDir, "category",
      "vec_id", q, k = 30, exact = true)) == brute(lit(true), 30))
    // partition predicate prunes to one sub-index, same values as the
    // filtered brute force
    assert(got(PartitionedIndex.searchHnsw(spark, name, srcDir, "category",
        "vec_id", q, k = 20, exact = true, values = Some(Seq("1")))) ==
      brute(col("category") === 1, 20))
    // multi-partition pruning (FOR VALUES IN (1, 2) analog)
    assert(got(PartitionedIndex.searchHnsw(spark, name, srcDir, "category",
        "vec_id", q, k = 20, exact = true, values = Some(Seq("1", "2")))) ==
      brute(col("category") === 1 || col("category") === 2, 20))
    intercept[IllegalArgumentException] {
      PartitionedIndex.searchHnsw(spark, name, srcDir, "category",
        "vec_id", q, k = 5, values = Some(Seq("9")))
    }
    // a partition present in the layout but never ensured is a clear
    // error, not a silent empty contribution
    new File(s"$srcDir/category=3").mkdirs()
    val e3 = intercept[IllegalArgumentException] {
      PartitionedIndex.searchHnsw(spark, name, srcDir, "category",
        "vec_id", q, k = 5).collect()
    }
    assert(e3.getMessage.contains("run ensureHnsw"))
    rm(new File(s"$srcDir/category=3"))
    // comma-carrying partition values are rejected at ensure (they are
    // comma-joined in the parent manifest)
    val commaSrc = sys.props("java.io.tmpdir") + "/graft_partspec_comma"
    rm(new File(commaSrc))
    new File(s"$commaSrc/category=a,b").mkdirs()
    intercept[IllegalArgumentException] {
      PartitionedIndex.ensureHnsw(spark, "partspec_comma", commaSrc,
        "category", "vec_id", "embedding", "l2")
    }
    rm(new File(commaSrc))

    // per-partition staleness: re-ingest partition 1 -> only its
    // sub-index rebuilds; partitions 0/2 artifacts stay mtime-stable
    def graphMtimes(v: String): Map[String, Long] = {
      val dd = new File(IndexCatalog.dataDir(spark,
        PartitionedIndex.subName(name, v)))
      Option(dd.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".bin"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val stable = Map("0" -> graphMtimes("0"), "2" -> graphMtimes("2"))
    Thread.sleep(1100) // mtime granularity
    emb.filter(col("category") === 1).select(col("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(s"$srcDir/category=1")
    // fingerprint memoization TTL: force a fresh walk
    Thread.sleep(5100)
    PartitionedIndex.ensureHnsw(spark, name, srcDir, "category",
      "vec_id", "embedding", "l2")
    assert(graphMtimes("0") == stable("0") && graphMtimes("2") == stable("2"),
      "untouched partitions must not rebuild")
    // and the rebuilt partition still answers exactly
    assert(got(PartitionedIndex.searchHnsw(spark, name, srcDir, "category",
        "vec_id", q, k = 20, exact = true, values = Some(Seq("1")))) ==
      brute(col("category") === 1, 20))

    Seq("0", "1", "2").foreach(v =>
      IndexCatalog.drop(spark, PartitionedIndex.subName(name, v)))
    rm(new File(srcDir))
  }

  test("Hive-escaped partition values compare in USER space end to end") {
    // Spark writes 'north region' as 'category=north%20region'; listing
    // must unescape so operator `values` args and pushdown literals (both
    // user-space) match, and sub-source paths must re-escape on the way
    // back down
    val srcDir = sys.props("java.io.tmpdir") + "/graft_partspec_esc"
    rm(new File(srcDir))
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") < 80)
      .select(col("vec_id"), col("embedding"),
        when(col("vec_id") % 2 === 0, "north region")
          .otherwise("south:east").as("category"))
    emb.write.mode("overwrite").partitionBy("category").parquet(srcDir)
    // the dir names on disk are escaped (':' -> %3A; note Spark's Hive
    // codec does NOT escape spaces)...
    val raw = new File(srcDir).listFiles().map(_.getName)
      .filter(_.startsWith("category=")).sorted.toSeq
    assert(raw.exists(_.contains("%3A")), s"expected Hive escapes in $raw")
    // ...but the listing is user-space
    assert(PartitionedIndex.partitionValues(spark, srcDir, "category") ==
      Seq("north region", "south:east"))
    val name = "partspec_esc"
    Seq("north region", "south:east").foreach(v =>
      IndexCatalog.drop(spark, PartitionedIndex.subName(name, v)))
    PartitionedIndex.ensureHnsw(spark, name, srcDir, "category",
      "vec_id", "embedding", "l2")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    // user-space value selects the right partition's rows
    val got = PartitionedIndex.searchHnsw(spark, name, srcDir, "category",
        "vec_id", q, k = 10, exact = true,
        values = Some(Seq("north region")))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = emb.filter(col("category") === "north region")
      .select(col("vec_id"),
        graft.functions.l2sq(col("embedding"), typedLit(q)).as("dist"))
      .orderBy(col("dist"), col("vec_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
    Seq("north region", "south:east").foreach(v =>
      IndexCatalog.drop(spark, PartitionedIndex.subName(name, v)))
    rm(new File(srcDir))
  }

  test("subName encoding is injective over arbitrary value strings") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val genVal = Gen.listOfN(8, Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf(' ', '_', '+', ',', '%', '/', '.', '-', 'é')))
      .map(_.mkString)
    val params = Gen.Parameters.default
    val values = (0 until 300).flatMap(i =>
      genVal(params, Seed(i.toLong)).toSeq)
    val collisions = values.distinct
      .groupBy(v => PartitionedIndex.subName("n", v))
      .filter(_._2.length > 1)
    assert(collisions.isEmpty, s"colliding encodings: $collisions")
    // and round-trip readability: plain values encode as themselves
    assert(PartitionedIndex.subName("n", "abc42") == "n__pabc42")
  }

  test("parent table-valued joins: exact == brute force; routing prunes soundly; pushdown bails on drift") {
    import org.apache.spark.sql.expressions.Window
    val srcDir = sys.props("java.io.tmpdir") + "/graft_partspec_join_src"
    rm(new File(srcDir))
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") < 120)
      .select(col("vec_id"), col("embedding"), (col("vec_id") % 3).as("category"))
    emb.write.mode("overwrite").partitionBy("category").parquet(srcDir)
    val name = "partspec_join"
    Seq("0", "1", "2").foreach(v =>
      IndexCatalog.drop(spark, PartitionedIndex.subName(name, v)))
    // parts=2 -> every sub-index carries a routing sidecar, so the
    // parent joins route (knn) / prune (range) across all 6 graphs
    PartitionedIndex.ensureHnsw(spark, name, srcDir, "category",
      "vec_id", "embedding", "l2", parts = 2)
    val queries = emb.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id"), col("embedding"))

    def bruteJoin(pred: org.apache.spark.sql.Column, k: Int) =
      queries.toDF("qid", "qv").crossJoin(emb.filter(pred))
        .select(col("qid"), col("vec_id"),
          graft.functions.l2sq(col("embedding"), col("qv")).as("dist"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
        .filter(col("rn") <= k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    def got(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("vec_id"), col("dist"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet

    // exact parent knn join == brute-force window over the union
    assert(got(PartitionedIndex.knnJoinHnsw(spark, name, srcDir, "category",
      "vec_id", queries, "vec_id", "embedding", k = 5, exact = true)) ==
      bruteJoin(lit(true), 5))
    // values pruning replays the partition predicate
    assert(got(PartitionedIndex.knnJoinHnsw(spark, name, srcDir, "category",
        "vec_id", queries, "vec_id", "embedding", k = 5, exact = true,
        values = Some(Seq("1", "2")))) ==
      bruteJoin(col("category") === 1 || col("category") === 2, 5))
    // routed joins keep the k-rows-per-query shape
    val routed = PartitionedIndex.knnJoinHnsw(spark, name, srcDir,
      "category", "vec_id", queries, "vec_id", "embedding", k = 5,
      probeGraphs = 2)
    assert(routed.groupBy("qid").count().collect()
      .forall(_.getLong(1) == 5L))
    // routed SCALAR parent search (cross-partition top-g, driver-side
    // ranking) keeps the k-row shape; exact mode never routes, so the
    // exact result is unchanged by the probeGraphs knob
    val q0 = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    assert(PartitionedIndex.searchHnsw(spark, name, srcDir, "category",
      "vec_id", q0, k = 10, probeGraphs = 2).count() == 10)
    assert(PartitionedIndex.searchHnsw(spark, name, srcDir, "category",
        "vec_id", q0, k = 10, exact = true, probeGraphs = 2)
        .collect().map(_.getLong(0)).toSeq ==
      PartitionedIndex.searchHnsw(spark, name, srcDir, "category",
        "vec_id", q0, k = 10, exact = true)
        .collect().map(_.getLong(0)).toSeq)
    // range join is EXACT at any radius even with routing pruning
    val r = 1.5
    val bruteRange = queries.toDF("qid", "qv").crossJoin(emb)
      .select(col("qid"), col("vec_id"),
        graft.functions.l2sq(col("embedding"), col("qv")).as("dist"))
      .filter(col("dist") < r)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
    assert(got(PartitionedIndex.rangeJoinHnsw(spark, name, srcDir,
      "category", "vec_id", queries, "vec_id", "embedding", r)) == bruteRange)

    // declarative window join over the parent: rewrites when the layout
    // matches the manifest, BAILS (plan unchanged, still correct) when a
    // partition appears without re-ensure
    import graft.plans.AnnPushdown
    AnnPushdown.install(spark)
    val prevReg = AnnPushdown.snapshot(srcDir)
    AnnPushdown.register(srcDir,
      AnnPushdown.IndexedTable(name, "vec_id", "embedding"))
    val prevEnabled = spark.conf.get("spark.graft.ann.enabled", "false")
    val prevExact = spark.conf.get("spark.graft.hnsw.exact", "false")
    spark.conf.set("spark.graft.ann.enabled", "true")
    spark.conf.set("spark.graft.hnsw.exact", "true")
    try {
      def joinPlan() = {
        val corpus = spark.read.parquet(srcDir)
        val qs = queries.select(col("vec_id").as("qid"),
          col("embedding").as("qvec"))
        qs.crossJoin(corpus)
          .select(qs("qid"), corpus("vec_id"),
            graft.functions.l2sq(corpus("embedding"), qs("qvec")).as("dist"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
          .filter(col("rn") <= 5)
      }
      assert(joinPlan().queryExecution.optimizedPlan.toString
        .contains("MapPartitions"), "expected the parent join rewrite")
      new File(s"$srcDir/category=9").mkdirs()
      try assert(!joinPlan().queryExecution.optimizedPlan.toString
        .contains("MapPartitions"),
        "layout drift must bail to the unrewritten plan")
      finally rm(new File(s"$srcDir/category=9"))
      // a DROPPED sub-index (parent manifest + layout intact) is the
      // other staleness mode: the rule must BAIL, never throw — the
      // operators' hard requires are for direct API calls only
      IndexCatalog.drop(spark, PartitionedIndex.subName(name, "2"))
      try assert(!joinPlan().queryExecution.optimizedPlan.toString
        .contains("MapPartitions"),
        "dropped sub-index must bail to the unrewritten plan")
      finally PartitionedIndex.ensureHnsw(spark, name, srcDir, "category",
        "vec_id", "embedding", "l2", parts = 2)
    } finally {
      spark.conf.set("spark.graft.ann.enabled", prevEnabled)
      spark.conf.set("spark.graft.hnsw.exact", prevExact)
      AnnPushdown.restore(srcDir, prevReg)
    }
    Seq("0", "1", "2").foreach(v =>
      IndexCatalog.drop(spark, PartitionedIndex.subName(name, v)))
    rm(new File(srcDir))
  }

  test("parent probe_hint alters propagate to sub manifests and sidecars") {
    // the parent serves max(sub SIDECAR hints) (gatherGraphs), so a
    // parent-level ALTER/RESET that stopped at the parent manifest
    // would silently change nothing — round-12 review finding
    val srcDir = sys.props("java.io.tmpdir") + "/graft_partspec_hint_src"
    rm(new File(srcDir))
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") < 120)
      .select(col("vec_id"), col("embedding"), (col("vec_id") % 2).as("category"))
    emb.write.mode("overwrite").partitionBy("category").parquet(srcDir)
    val name = "partspec_hint"
    Seq("0", "1").foreach(v =>
      IndexCatalog.drop(spark, PartitionedIndex.subName(name, v)))
    IndexCatalog.drop(spark, name)
    PartitionedIndex.ensureHnsw(spark, name, srcDir, "category",
      "vec_id", "embedding", "l2", parts = 2)
    def subHints: Seq[Int] = Seq("0", "1").map { v =>
      val sub = PartitionedIndex.subName(name, v)
      val dirPath = new org.apache.hadoop.fs.Path(
        IndexCatalog.dataDir(spark, sub))
      val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      graft.operators.Hnsw.Routing.readFull(fs, dirPath).get._3
    }
    IndexCatalog.alterAll(spark, name, Map("probe_hint" -> "3"))
    assert(subHints == Seq(3, 3),
      "a parent probe_hint alter must reach every sub sidecar")
    assert(Seq("0", "1").forall(v => IndexCatalog
      .load(spark, PartitionedIndex.subName(name, v)).get
      .params.get("probe_hint").contains("3")),
      "...and every sub manifest")
    IndexCatalog.resetAll(spark, name, Seq("probe_hint"))
    assert(subHints == Seq(0, 0),
      "a parent RESET must zero every sub sidecar hint")
    assert(Seq("0", "1").forall(v => IndexCatalog
      .load(spark, PartitionedIndex.subName(name, v)).get
      .params.get("probe_hint").isEmpty))
    Seq("0", "1").foreach(v =>
      IndexCatalog.drop(spark, PartitionedIndex.subName(name, v)))
    IndexCatalog.drop(spark, name)
    rm(new File(srcDir))
  }

  test("partitioned IVF: two pruning levels compose, exact at nprobe=nlist") {
    val srcDir = sys.props("java.io.tmpdir") + "/graft_partspec_ivf_src"
    rm(new File(srcDir))
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") < 120)
      .select(col("vec_id"), col("embedding"), (col("vec_id") % 3).as("category"))
    emb.write.mode("overwrite").partitionBy("category").parquet(srcDir)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val name = "partspec_ivf"
    Seq("0", "1", "2").foreach(v =>
      IndexCatalog.drop(spark, PartitionedIndex.subName(name, v)))
    IndexCatalog.drop(spark, name)
    PartitionedIndex.ensureIvf(spark, name, srcDir, "category",
      "embedding", "l2", nlist = 4)
    // round 8: the IVF parent is dispatchable like the HNSW one
    assert(IndexCatalog.load(spark, name)
      .exists(m => m.kind == "ivf_part" && m.params("values") == "0,1,2"),
      "ivf_part parent manifest missing")
    def brute(pred: org.apache.spark.sql.Column, k: Int) =
      emb.filter(pred)
        .select(col("vec_id"),
          graft.functions.l2sq(col("embedding"), typedLit(q)).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def got(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got(PartitionedIndex.searchIvf(spark, name, srcDir, "category",
      "vec_id", "embedding", q, k = 30, nprobe = 4)) == brute(lit(true), 30))
    assert(got(PartitionedIndex.searchIvf(spark, name, srcDir, "category",
        "vec_id", "embedding", q, k = 15, nprobe = 4,
        values = Some(Seq("2")))) ==
      brute(col("category") === 2, 15))
    // approximate (nprobe < nlist) still returns k rows per the contract
    assert(PartitionedIndex.searchIvf(spark, name, srcDir, "category",
      "vec_id", "embedding", q, k = 15, nprobe = 1).count() == 15)

    // declarative dispatch: ORDER BY dist LIMIT k on the parent rewrites
    // onto the per-partition pruned scans (exact at nprobe=nlist); a
    // partition predicate prunes; layout drift bails
    import graft.plans.AnnPushdown
    AnnPushdown.install(spark)
    AnnPushdown.register(srcDir,
      AnnPushdown.IndexedTable(name, "vec_id", "embedding"))
    spark.conf.set("spark.graft.ann.enabled", "true")
    spark.conf.set("spark.graft.ann.nprobe", "4")
    try {
      def df(pred: Option[org.apache.spark.sql.Column], k: Int) = {
        val base = spark.read.parquet(srcDir)
        pred.map(base.filter).getOrElse(base)
          .select(col("vec_id"),
            graft.functions.l2sq(col("embedding"), typedLit(q)).as("dist"))
          .orderBy(col("dist")).limit(k)
      }
      val full = df(None, 30)
      assert(!AnnPushdown.scansSource(full.queryExecution.optimizedPlan, srcDir),
        "parent IVF top-k did not dispatch to the sub-indexes")
      assert(full.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
        brute(lit(true), 30))
      val p2 = df(Some(col("category") === 2), 15)
      assert(!AnnPushdown.scansSource(p2.queryExecution.optimizedPlan, srcDir))
      assert(p2.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
        brute(col("category") === 2, 15))
      new File(s"$srcDir/category=9").mkdirs()
      try assert(AnnPushdown.scansSource(df(None, 15).queryExecution.optimizedPlan,
          srcDir), "ivf_part drift must bail")
      finally rm(new File(s"$srcDir/category=9"))

      // round 9: the JOIN arms dispatch ivf_part parents too
      import org.apache.spark.sql.expressions.Window
      val queries = emb.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"), col("embedding"))
      def bruteJoin(pred: org.apache.spark.sql.Column, k: Int) =
        queries.toDF("qid", "qv").crossJoin(emb.filter(pred))
          .select(col("qid"), col("vec_id"),
            graft.functions.l2sq(col("embedding"), col("qv")).as("dist"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
          .filter(col("rn") <= k)
          .select("qid", "vec_id", "dist")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toSet
      def gotJ(df: org.apache.spark.sql.DataFrame) =
        df.select(col("qid"), col("vec_id"), col("dist"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toSet
      // operator API: exact at nprobe = nlist per sub; values prune
      assert(gotJ(PartitionedIndex.knnJoinIvf(spark, name, srcDir,
        "category", "vec_id", "embedding", queries, "vec_id", "embedding",
        k = 5, nprobe = 4)) == bruteJoin(lit(true), 5))
      assert(gotJ(PartitionedIndex.knnJoinIvf(spark, name, srcDir,
          "category", "vec_id", "embedding", queries, "vec_id", "embedding",
          k = 5, nprobe = 4, values = Some(Seq("1", "2")))) ==
        bruteJoin(col("category") === 1 || col("category") === 2, 5))
      // range join: exact at any radius even at nprobe-free pruning
      val bruteRange = queries.toDF("qid", "qv").crossJoin(emb)
        .select(col("qid"), col("vec_id"),
          graft.functions.l2sq(col("embedding"), col("qv")).as("dist"))
        .filter(col("dist") < 1.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(gotJ(PartitionedIndex.rangeJoinIvf(spark, name, srcDir,
        "category", "vec_id", "embedding", queries, "vec_id", "embedding",
        r = 1.5, strict = true)) == bruteRange)
      // declarative window-join dispatch + drift bail
      def joinPlan() = {
        val corpus = spark.read.parquet(srcDir)
        val qs = queries.select(col("vec_id").as("qid"),
          col("embedding").as("qvec"))
        qs.crossJoin(corpus)
          .select(qs("qid"), corpus("vec_id"),
            graft.functions.l2sq(corpus("embedding"), qs("qvec")).as("dist"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
          .filter(col("rn") <= 5)
      }
      assert(joinPlan().queryExecution.optimizedPlan.toString
        .contains("list_id"), "ivf_part window-join arm must dispatch")
      assert(joinPlan().collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet ==
        bruteJoin(lit(true), 5))
      new File(s"$srcDir/category=9").mkdirs()
      try assert(!joinPlan().queryExecution.optimizedPlan.toString
          .contains("list_id"), "ivf_part join-arm drift must bail")
      finally rm(new File(s"$srcDir/category=9"))
      // declarative range-join dispatch
      def rangePlan() = {
        val corpus = spark.read.parquet(srcDir)
        val qs = queries.select(col("vec_id").as("qid"),
          col("embedding").as("qvec"))
        qs.join(corpus,
            graft.functions.l2sq(corpus("embedding"), qs("qvec")) < lit(1.5))
          .select(qs("qid"), corpus("vec_id"),
            graft.functions.l2sq(corpus("embedding"), qs("qvec")).as("dist"))
      }
      assert(rangePlan().queryExecution.optimizedPlan.toString
        .contains("list_id"), "ivf_part range-join arm must dispatch")
      assert(rangePlan().collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet == bruteRange)

      // FILTERED parent join (round 9): a NON-partition corpus
      // predicate remaps onto the sub-artifact scans (full source
      // rows) while partition conjuncts still prune sub-indexes
      def filteredPlan(pred: org.apache.spark.sql.Column) = {
        val corpus = spark.read.parquet(srcDir).filter(pred)
        val qs = queries.select(col("vec_id").as("qid"),
          col("embedding").as("qvec"))
        qs.crossJoin(corpus)
          .select(qs("qid"), corpus("vec_id"),
            graft.functions.l2sq(corpus("embedding"), qs("qvec")).as("dist"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
          .filter(col("rn") <= 5)
      }
      val fp = filteredPlan(col("vec_id") % 2 === 0 && col("category").isin(1, 2))
      assert(fp.queryExecution.optimizedPlan.toString.contains("list_id"),
        "filtered ivf_part window-join arm must dispatch")
      assert(fp.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet ==
        bruteJoin(col("vec_id") % 2 === 0 &&
          (col("category") === 1 || col("category") === 2), 5))
      // a predicate on the VECTOR column bails (the dense arm's rule)
      assert(!filteredPlan(graft.functions.vectorNorm(col("embedding")) > 0.1)
        .queryExecution.optimizedPlan.toString.contains("list_id"),
        "vector-column corpus predicate must bail")
    } finally {
      spark.conf.set("spark.graft.ann.enabled", "false")
      spark.conf.unset("spark.graft.ann.nprobe")
      AnnPushdown.unregister(srcDir)
    }
    Seq("0", "1", "2").foreach(v =>
      IndexCatalog.drop(spark, PartitionedIndex.subName(name, v)))
    IndexCatalog.drop(spark, name)
    rm(new File(srcDir))
  }

  test("ivf_part at nprobe=auto serves the max of the subs' probe_hint") {
    import graft.plans.AnnPushdown
    val srcDir = sys.props("java.io.tmpdir") + "/graft_partspec_hint_src"
    rm(new File(srcDir))
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") < 90)
      .select(col("vec_id"), col("embedding"), (col("vec_id") % 3).as("category"))
      .write.mode("overwrite").partitionBy("category").parquet(srcDir)
    val name = "partspec_hint"
    Seq("0", "1", "2").foreach(v =>
      IndexCatalog.drop(spark, PartitionedIndex.subName(name, v)))
    IndexCatalog.drop(spark, name)
    PartitionedIndex.ensureIvf(spark, name, srcDir, "category",
      "embedding", "l2", nlist = 4)
    // pin one sub's calibrated hint above the fixed floor: the parent
    // owns no data and never calibrates, so auto must fall back to the
    // MAX of the sub hints (the hnsw_part gatherGraphs convention)
    IndexCatalog.alterAll(spark, PartitionedIndex.subName(name, "1"),
      Map("probe_hint" -> "37"))
    val idx = AnnPushdown.IndexedTable(name, "vec_id", "embedding", "l2")
    val rule = graft.plans.AnnRewriteRule(spark)
    val prevNprobe = spark.conf.getOption("spark.graft.ann.nprobe")
    try {
      spark.conf.set("spark.graft.ann.nprobe", "auto")
      assert(rule.nprobeFor(idx) === 37,
        "auto must serve max of sub probe_hints on a hint-less parent")
      // an explicit numeric conf never consults the hint
      spark.conf.set("spark.graft.ann.nprobe", "3")
      assert(rule.nprobeFor(idx) === 3)
    } finally {
      prevNprobe match {
        case Some(v) => spark.conf.set("spark.graft.ann.nprobe", v)
        case None => spark.conf.unset("spark.graft.ann.nprobe")
      }
    }
    Seq("0", "1", "2").foreach(v =>
      IndexCatalog.drop(spark, PartitionedIndex.subName(name, v)))
    IndexCatalog.drop(spark, name)
    rm(new File(srcDir))
  }
}
