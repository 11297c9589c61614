package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.{HybridSearch, IvfIndex, Segments}

/** Full mutable-store lifecycle: sealed IVF + growing deltas + deletes,
  * then seal (compaction) + reindex — search stays correct at each step
  * (the optimizing-thread contract, tests/sealing analog). */
class HybridSpec extends SparkSpec {
  import spark.implicits._

  /** The bytes a published graph file must hold: `rows` inserted in id
    * order into one graph, written raw or through `codec`. */
  private def rebuiltBytes(rows: Seq[(Long, Array[Float])], metric: String,
      m: Int, efConstruction: Int,
      codec: Option[graft.operators.Codec] = None): Array[Byte] = {
    import graft.operators.{CodedHnsw, Hnsw}
    val g = new Hnsw.Graph(metric, m, efConstruction)
    rows.sortBy(_._1).foreach { case (id, v) => g.insert(id, v) }
    val buf = new java.io.ByteArrayOutputStream()
    val os = new java.io.DataOutputStream(buf)
    codec match {
      case Some(c) => CodedHnsw.CodedGraph.write(os, c.encode(g.snapshot))
      case None => Hnsw.FlatGraph.write(os, g.snapshot)
    }
    os.close()
    buf.toByteArray
  }

  /** The graph-file lock over one artifact dir: every published
    * graph file equals [[rebuiltBytes]] over its own rows (looked up in
    * `vecs` by the ids the file stores), the files together hold exactly
    * `ids`, and a `routing.bin` (required iff `routed`) carries, per
    * pid, nextUp(nextUp(max √l2sq)) of that file's rows to its centroid.
    * Returns the published file names, sorted. */
  private def assertGraphFiles(dir: String, vecs: Map[Long, Array[Float]],
      ids: Set[Long], metric: String, m: Int, efConstruction: Int,
      codec: Option[graft.operators.Codec] = None,
      routed: Boolean = false): Seq[String] = {
    import graft.operators.{CodedHnsw, Hnsw, IvfIndex}
    // graph files end in -<ordinal>.bin; the sidecars (routing.bin,
    // _sample.bin) do not
    val pidOf = ".*-(\\d+)\\.bin".r
    val names = Option(new java.io.File(dir).listFiles()).get.map(_.getName)
      .filter(pidOf.matches).sorted.toSeq
    val rowsOf = names.map { n =>
      val path = java.nio.file.Paths.get(dir, n)
      val bytes = java.nio.file.Files.readAllBytes(path)
      val in = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fileIds =
        if (codec.isDefined) CodedHnsw.CodedGraph.read(in).ids
        else Hnsw.FlatGraph.read(in).ids
      val rows = fileIds.toSeq.map(id => id -> vecs(id))
      assert(java.util.Arrays.equals(bytes,
          rebuiltBytes(rows, metric, m, efConstruction, codec)),
        s"$dir/$n diverges from the id-sorted rebuild of its own rows")
      n -> rows
    }.toMap
    assert(rowsOf.values.flatten.map(_._1).toSeq.sorted == ids.toSeq.sorted,
      s"the graph files of $dir do not hold exactly the indexed rows")
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val routing = Hnsw.Routing.readFull(
      dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration), dirPath)
    assert(routing.isDefined == routed, s"routing.bin presence in $dir")
    routing.foreach { case (_, ents, _) =>
      assert(ents.keySet == names.map { case pidOf(p) => p.toInt }.toSet)
      names.foreach { case n @ pidOf(p) =>
        val (rad, c) = ents(p.toInt)
        val far = rowsOf(n).map { case (_, v) =>
          math.sqrt(IvfIndex.Kernels.l2sq(v, c)) }.max
        assert(rad == java.lang.Math.nextUp(java.lang.Math.nextUp(far)),
          s"routing radius of $n")
      }
    }
    names
  }

  test("hybrid search across append/delete/seal/reindex") {
    val segDir = Files.createTempDirectory("graft_hybrid_seg").toString
    val ivfDir = Files.createTempDirectory("graft_hybrid_ivf").toString
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q: Array[Float] = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray

    Segments.init(spark, segDir, emb, "vec_id")
    val model = IvfIndex.build(emb, "embedding", "l2", 8, ivfDir)

    def topIds(k: Int): Seq[Long] =
      HybridSearch.topkL2(spark, segDir, ivfDir, model, "vec_id", "embedding",
        q, k, nprobe = model.nlist)
        .select("vec_id").as[Long].collect().toSeq

    // appended rows equal to q dominate immediately (growing-scan path)
    val dups = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).crossJoin(Seq(9000L, 9001L, 9002L).toDF("vec_id"))
      .select(col("vec_id"), col("embedding"))
    Segments.append(spark, segDir, dups, "vec_id")
    assert(topIds(4) == Seq(0L, 9000L, 9001L, 9002L))

    // delete one delta row and the original: both vanish from top-k
    Segments.delete(spark, segDir,
      Seq(9001L, 0L).toDF("vec_id"), "vec_id")
    assert(topIds(2) == Seq(9000L, 9002L))

    // seal: compact, rebuild the index over the sealed generation
    Segments.compact(spark, segDir, "vec_id")
    val sealedRows = Segments.read(spark, segDir, "vec_id")
      .select(col("vec_id"), col("embedding"))
    val model2 = IvfIndex.build(sealedRows, "embedding", "l2", 8, ivfDir)
    def topIds2(k: Int): Seq[Long] =
      HybridSearch.topkL2(spark, segDir, ivfDir, model2, "vec_id", "embedding",
        q, k, nprobe = model2.nlist)
        .select("vec_id").as[Long].collect().toSeq
    assert(topIds2(2) == Seq(9000L, 9002L))

    // and the sealed store matches a brute-force over its own contents
    val brute = sealedRows
      .select(col("vec_id"), graft.functions.l2sq(col("embedding"),
        typedLit(q)).as("d"))
      .orderBy(col("d"), col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSeq
    assert(topIds2(10) == brute)
  }

  test("incremental HNSW: append adds one side graph, compaction promotes without rebuild") {
    import graft.operators.IncrHnsw
    val segDir = Files.createTempDirectory("graft_incr_seg").toString
    val name = "hybridspec_incr"
    graft.index.IndexCatalog.drop(spark, name)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q: Array[Float] = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray

    Segments.init(spark, segDir, emb, "vec_id")
    val dir = IncrHnsw.ensure(spark, name, segDir, "vec_id", "embedding")
    def binMtimes: Map[String, Long] =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".bin"))
        .map(f => f.getName -> f.lastModified()).toMap
    val m0 = binMtimes
    assert(m0.keySet.exists(_.startsWith("base-")), s"no base graphs in $m0")

    def got(k: Int): Seq[(Long, Double)] =
      IncrHnsw.search(spark, name, segDir, "vec_id", q, k, exact = true)
        .as[(Long, Double)].collect().toSeq
    def want(k: Int): Seq[(Long, Double)] =
      Segments.read(spark, segDir, "vec_id")
        .select(col("vec_id"), graft.functions.l2sq(col("embedding"),
          typedLit(q)).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(k)
        .as[(Long, Double)].collect().toSeq
    assert(got(20) == want(20))

    // append: exactly ONE new side graph; every existing file untouched
    val dups = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).crossJoin(Seq(9000L, 9001L, 9002L).toDF("vec_id"))
      .select(col("vec_id"), col("embedding"))
    Segments.append(spark, segDir, dups, "vec_id")
    IncrHnsw.ensure(spark, name, segDir, "vec_id", "embedding")
    val m1 = binMtimes
    assert(m1.keySet == m0.keySet + "side-1.bin", s"unexpected graph set: ${m1.keySet}")
    assert(m0.forall { case (k, v) => m1(k) == v }, "append rewrote an existing graph")
    assert(got(4).map(_._1) == Seq(0L, 9000L, 9001L, 9002L))

    // delete: pure tombstone work — zero graph changes
    Segments.delete(spark, segDir, Seq(9001L, 0L).toDF("vec_id"), "vec_id")
    IncrHnsw.ensure(spark, name, segDir, "vec_id", "embedding")
    assert(binMtimes == m1, "delete touched graph files")
    assert(got(2).map(_._1) == Seq(9000L, 9002L))

    // compaction PROMOTES: same graph files byte-for-byte (mtimes
    // unchanged), dead rows filtered via the snapshotted version map
    IncrHnsw.promoteOnCompact(spark, name, segDir, "vec_id")
    assert(binMtimes == m1, "compaction rebuilt graph files")
    assert(got(2).map(_._1) == Seq(9000L, 9002L))
    assert(got(30) == want(30))

    // post-compact append keeps working incrementally
    val more = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).crossJoin(Seq(9100L).toDF("vec_id"))
      .select(col("vec_id"), col("embedding"))
    Segments.append(spark, segDir, more, "vec_id")
    IncrHnsw.ensure(spark, name, segDir, "vec_id", "embedding")
    val m4 = binMtimes
    assert(m4.keySet == m1.keySet + "side-3.bin", s"unexpected graph set: ${m4.keySet}")
    assert(m1.forall { case (k, v) => m4(k) == v })
    assert(got(3).map(_._1) == Seq(9000L, 9002L, 9100L))
    assert(got(30) == want(30))

    // vacuum (full optimize): side graphs fold into fresh base graphs,
    // dead rows reclaimed, search unchanged
    IncrHnsw.vacuum(spark, name, segDir, "vec_id", "embedding")
    val m5 = binMtimes
    assert(m5.keySet.forall(_.startsWith("base-")),
      s"vacuum left side graphs: ${m5.keySet}")
    assert(got(3).map(_._1) == Seq(9000L, 9002L, 9100L))
    assert(got(30) == want(30))
    graft.index.IndexCatalog.drop(spark, name)
  }

  test("oversized delta is split into multiple bounded side graphs; search stays exact") {
    import graft.operators.IncrHnsw
    val segDir = Files.createTempDirectory("graft_incr_big").toString
    val name = "hybridspec_incr_big"
    graft.index.IndexCatalog.drop(spark, name)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q: Array[Float] = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray

    Segments.init(spark, segDir, emb.filter(col("vec_id") < 100), "vec_id")
    // one 300-row delta, sealed under the default (large) cap ...
    Segments.append(spark, segDir,
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 400), "vec_id")
    // ... then ensure under a 50-row cap: the side build must chunk the
    // delta instead of collecting all 300 rows at once
    spark.conf.set("spark.graft.segments.maxGrowingRows", "50")
    try {
      val dir = IncrHnsw.ensure(spark, name, segDir, "vec_id", "embedding")
      val sides = Option(new java.io.File(dir).listFiles()).get
        .map(_.getName).filter(_.startsWith("side-1-")).sorted
      assert(sides.length >= 2, s"expected chunked side graphs, got ${sides.toSeq}")
      assert(!new java.io.File(dir, "side-1.bin").exists())

      val got = IncrHnsw.search(spark, name, segDir, "vec_id", q, 25, exact = true)
        .as[(Long, Double)].collect().toSeq
      val want = Segments.read(spark, segDir, "vec_id")
        .select(col("vec_id"), graft.functions.l2sq(col("embedding"),
          typedLit(q)).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(25)
        .as[(Long, Double)].collect().toSeq
      assert(got == want)
      // round 16: the chunk set builds in ONE task-parallel job — each
      // published chunk must stay byte-identical to the serial
      // reference (same pmod(xxhash64) assignment, same id-sorted
      // insertion); any divergence is a graph change, not a scheduling
      // change
      val nChunks = 6 // ceil(300 rows / 50 cap) — the build's formula
      sides.foreach { f =>
        val c = f.stripPrefix("side-1-").stripSuffix(".bin").toInt
        val published = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(dir, f))
        val chunkRows = spark.read.parquet(s"$segDir/delta-1")
          .filter(pmod(xxhash64(col("vec_id").cast("long")),
            lit(nChunks.toLong)) === c.toLong)
          .select(col("vec_id").cast("long"), col("embedding"))
          .as[(Long, Array[Float])].collect().sortBy(_._1)
        assert(java.util.Arrays.equals(published,
            rebuiltBytes(chunkRows, "l2", 12, 300)),
          s"parallel chunk $f diverges from the serial reference build")
      }
    } finally {
      spark.conf.unset("spark.graft.segments.maxGrowingRows")
      graft.index.IndexCatalog.drop(spark, name)
    }
  }

  test("graph-file lock: every build path publishes the id-sorted rebuild " +
      "of each file's own rows") {
    import graft.index.IndexCatalog
    import graft.operators.{CodedHnsw, Hnsw, IncrHnsw, Sq8Quant}
    val (m, efc) = (8, 48)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // the source rows arrive OUT of id order, so a build that inserts in
    // arrival order cannot match the id-sorted rebuild
    val src = Files.createTempDirectory("graft_lock_src").toString + "/t"
    emb.repartition(1).sortWithinPartitions(xxhash64(col("vec_id")))
      .write.parquet(src)
    val scrambled = spark.read.parquet(src)
    def vecsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Array[Float]] =
      df.select(col("vec_id").cast("long"), col("embedding"))
        .as[(Long, Array[Float])].collect().toMap
    val raw = vecsOf(emb)
    val cos = vecsOf(emb.select(col("vec_id"),
      graft.functions.vectorNormalize(col("embedding")).as("embedding")))
    val all = raw.keySet

    // dense hnsw (plain, cos view, spatial fleet) and coded SQ8 fleets
    val dense = Seq(("l2", 1, raw), ("cos", 1, cos), ("l2", 2, raw))
    dense.foreach { case (metric, parts, vecs) =>
      val name = s"hybridspec_lock_${metric}_$parts"
      IndexCatalog.drop(spark, name)
      try {
        val dir = Hnsw.ensure(spark, name, scrambled, src, "vec_id",
          "embedding", metric, parts, m, efc)
        val names = assertGraphFiles(dir, vecs, all, metric, m, efc,
          routed = parts > 1)
        if (parts == 1) assert(names == Seq("graph-00000.bin"))
      } finally IndexCatalog.drop(spark, name)
    }
    Seq(1, 2).foreach { parts =>
      val name = s"hybridspec_lock_sq8_$parts"
      IndexCatalog.drop(spark, name)
      try {
        val (codec, dir) = CodedHnsw.ensure(spark, name, scrambled, src,
          "vec_id", "embedding", parts, Sq8Quant, m, efc)
        val names = assertGraphFiles(dir, raw, all, "l2", m, efc,
          Some(codec), routed = parts > 1)
        if (parts == 1) assert(names == Seq("sqgraph-00000.bin"))
      } finally IndexCatalog.drop(spark, name)
    }

    // incremental: base, one side, a chunked side, a fresh full build
    // of base + sides in one job, and the REINDEX rebase file
    val segDir = Files.createTempDirectory("graft_lock_seg").toString
    val name = "hybridspec_lock_incr"
    val full = "hybridspec_lock_incr_full"
    Seq(name, full).foreach(IndexCatalog.drop(spark, _))
    def ids(lo: Int, hi: Int): Set[Long] = (lo.toLong until hi).toSet
    try {
      Segments.init(spark, segDir, scrambled.filter(col("vec_id") < 100),
        "vec_id")
      def ensure(n: String): String = IncrHnsw.ensure(spark, n, segDir,
        "vec_id", "embedding", m = m, efConstruction = efc)
      assert(assertGraphFiles(ensure(name), raw, ids(0, 100), "l2", m, efc)
        == Seq("base-0-00000.bin"))
      Segments.append(spark, segDir, scrambled.filter(
        col("vec_id") >= 100 && col("vec_id") < 150), "vec_id")
      assert(assertGraphFiles(ensure(name), raw, ids(0, 150), "l2", m, efc)
        == Seq("base-0-00000.bin", "side-1.bin"))
      Segments.append(spark, segDir, scrambled.filter(
        col("vec_id") >= 150 && col("vec_id") < 450), "vec_id")
      spark.conf.set("spark.graft.segments.maxGrowingRows", "50")
      try {
        val sides = assertGraphFiles(ensure(name), raw, ids(0, 450), "l2",
          m, efc).filter(_.startsWith("side-2-"))
        assert(sides == (0 until 6).map(c => f"side-2-$c%05d.bin"))
        val fleet = assertGraphFiles(ensure(full), raw, ids(0, 450), "l2",
          m, efc)
        assert(fleet.count(_.startsWith("base-0-00000-")) == 2 &&
          fleet.contains("side-1.bin") && fleet.count(_.startsWith("side-2-")) == 6,
          s"unexpected full-build file set: $fleet")
      } finally spark.conf.unset("spark.graft.segments.maxGrowingRows")
      Segments.delete(spark, segDir, Seq(3L, 120L, 200L).toDF("vec_id"),
        "vec_id")
      val rebased = IncrHnsw.reindex(spark, name, segDir, "vec_id",
        "embedding", m = m, efConstruction = efc)
      val seq = Segments.state(segDir).seq
      assert(assertGraphFiles(rebased, raw, ids(0, 450) -- Set(3L, 120L, 200L),
        "l2", m, efc) == Seq(s"rebase-$seq-00000.bin"))
    } finally Seq(name, full).foreach(IndexCatalog.drop(spark, _))
  }

  test("tombstone snapshot cache invalidates on every commit (rapid delete/search)") {
    // round 16: searches reuse a driver-side tombstone snapshot keyed on
    // the committed (gen, seq) — back-to-back delete/search sequences
    // (faster than mtime granularity) must still observe each commit
    import graft.operators.IncrHnsw
    val segDir = Files.createTempDirectory("graft_incr_tombcache").toString
    val name = "hybridspec_tombcache"
    graft.index.IndexCatalog.drop(spark, name)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q: Array[Float] = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    Segments.init(spark, segDir, emb.filter(col("vec_id") < 60), "vec_id")
    IncrHnsw.ensure(spark, name, segDir, "vec_id", "embedding")
    def ids(): Set[Long] =
      IncrHnsw.search(spark, name, segDir, "vec_id", q, 60, exact = true)
        .select("vec_id").as[Long].collect().toSet
    try {
      assert(ids().contains(0L))
      Segments.delete(spark, segDir,
        spark.range(1).select(lit(0L).as("vec_id")), "vec_id")
      assert(!ids().contains(0L), "a just-committed delete must be visible")
      assert(ids().contains(1L))
      Segments.delete(spark, segDir,
        spark.range(1).select(lit(1L).as("vec_id")), "vec_id")
      assert(!ids().contains(1L),
        "the second rapid-fire delete must be visible too")
      assert(ids().size === 58)
    } finally graft.index.IndexCatalog.drop(spark, name)
  }

  test("executor-side side-graph build is byte-identical to the insertion-order reference") {
    // round-6: buildGraphFile moved from a driver collect+insert to one
    // executor task (sorted single partition). Same id-ordered insertion
    // sequence => the published file must match a reference build done
    // here, byte for byte — any divergence means the executor path
    // changed the graph, not just where it was computed.
    import graft.operators.IncrHnsw
    val segDir = Files.createTempDirectory("graft_incr_bytes").toString
    val name = "hybridspec_incr_bytes"
    graft.index.IndexCatalog.drop(spark, name)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    Segments.init(spark, segDir, emb.filter(col("vec_id") < 40), "vec_id")
    Segments.append(spark, segDir,
      emb.filter(col("vec_id") >= 40 && col("vec_id") < 90), "vec_id")
    val dir = IncrHnsw.ensure(spark, name, segDir, "vec_id", "embedding")
    val published = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "side-1.bin"))

    val deltaRows = spark.read.parquet(s"$segDir/delta-1")
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val ref = rebuiltBytes(deltaRows, "l2", 12, 300)
    assert(java.util.Arrays.equals(published, ref),
      s"executor-built side graph diverges from the reference build " +
        s"(${published.length} vs ${ref.length} bytes)")
    graft.index.IndexCatalog.drop(spark, name)
  }

  test("memoized bridge repair is byte-identical to the naive per-component " +
      "scan on a many-component duplicate-heavy corpus") {
    import graft.operators.Hnsw
    // one large connected cluster plus many far-away tiny cliques of
    // EXACT duplicates — the duplicate-heavy shape whose m-pruned
    // insertion shatters level-0 connectivity; duplicate reps share the
    // memoized incremental scan, which must reproduce the naive
    // per-component scan's (d, idx) argmin bit-exactly
    val dims = 8
    val rnd = new scala.util.Random(13)
    def mk(seedRow: => Array[Float], n: Int): Seq[Array[Float]] =
      (0 until n).map(_ => seedRow)
    val main = (0 until 2500).map { _ =>
      Array.tabulate(dims)(_ => rnd.nextFloat())
    }
    val cliques = (0 until 30).flatMap { c =>
      val base = Array.tabulate(dims)(j =>
        100f * (c + 1) * (if (j % 2 == 0) 1f else -1f))
      mk(base.clone(), 15)
    }
    val rows = main ++ cliques
    def build(): Hnsw.Graph = {
      val g = new Hnsw.Graph("l2", m = 4, efConstruction = 40)
      rows.zipWithIndex.foreach { case (v, i) => g.insert(i.toLong, v) }
      g
    }
    val memoG = build()
    val memoBytes = {
      val buf = new java.io.ByteArrayOutputStream()
      val os = new java.io.DataOutputStream(buf)
      Hnsw.FlatGraph.write(os, memoG.snapshot)
      os.close(); buf.toByteArray
    }
    // the fixture must genuinely exercise repair (orphan components
    // exist) or this test asserts nothing
    assert(memoG.lastRepairBridges > 0,
      "fixture produced no orphan components - repair never ran")
    val scanG = build()
    val scanBytes = {
      val buf = new java.io.ByteArrayOutputStream()
      val os = new java.io.DataOutputStream(buf)
      Hnsw.FlatGraph.write(os, scanG.snapshotWithScanRepair)
      os.close(); buf.toByteArray
    }
    assert(scanG.lastRepairBridges == memoG.lastRepairBridges)
    assert(java.util.Arrays.equals(memoBytes, scanBytes),
      s"memoized repair diverged from the naive scan " +
        s"(${memoBytes.length} vs ${scanBytes.length} bytes, " +
        s"${memoG.lastRepairBridges} bridges)")
  }
}
