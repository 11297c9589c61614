package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.{IncrIvf, IncrMaint, Segments}

/** Incremental IVF over the segment store: an append assigns to the
  * existing centroids and appends files — never rewrites sealed list
  * files; deletes are tombstone-only; compaction promotes; search stays
  * exact (nprobe = nlist) against the visible snapshot at every step. */
class IncrIvfSpec extends SparkSpec {
  import spark.implicits._

  private def parquetFiles(dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.lastModified()).toMap
  }

  test("dense l2: append appends list files, delete is tombstone-only, search exact") {
    val segDir = Files.createTempDirectory("graft_incrivf_seg").toString
    val name = "incrivfspec_l2"
    graft.index.IndexCatalog.drop(spark, name)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q: Array[Float] = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray

    Segments.init(spark, segDir, emb, "vec_id")
    val dataDir = IncrIvf.ensure(spark, name, segDir, "vec_id", "embedding",
      metric = "l2", nlist = 8)
    val m0 = parquetFiles(dataDir)
    assert(m0.nonEmpty)
    // base build calibrates (round 12) — hint measured once, in range
    val cal0 = graft.index.IndexCatalog.load(spark, name).get.params
    assert(cal0.get("probe_cal").contains(graft.operators.IvfIndex.CalGen))
    val hint0 = cal0("probe_hint").toInt
    assert(hint0 >= 1 && hint0 <= 8, s"hint out of range: $hint0")

    def got(k: Int): Seq[(Long, Double)] =
      IncrIvf.search(spark, name, segDir, "vec_id", q, k, nprobe = 8)
        .as[(Long, Double)].collect().toSeq
    def want(k: Int): Seq[(Long, Double)] =
      Segments.read(spark, segDir, "vec_id")
        .select(col("vec_id"), graft.functions.l2sq(col("embedding"),
          typedLit(q)).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(k)
        .as[(Long, Double)].collect().toSeq
    assert(got(20) == want(20))

    // append three exact duplicates of the query vector: ensure must
    // append new files only — every pre-existing list file untouched
    val dups = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).crossJoin(Seq(9000L, 9001L, 9002L).toDF("vec_id"))
      .select(col("vec_id"), col("embedding"))
    Segments.append(spark, segDir, dups, "vec_id")
    IncrIvf.ensure(spark, name, segDir, "vec_id", "embedding",
      metric = "l2", nlist = 8)
    val m1 = parquetFiles(dataDir)
    assert(m0.keySet.subsetOf(m1.keySet), "an append deleted a sealed list file")
    assert(m0.forall { case (f, t) => m1(f) == t }, "an append rewrote a sealed list file")
    assert(m1.size > m0.size, "no files were appended")
    assert(got(4).map(_._1) == Seq(0L, 9000L, 9001L, 9002L))
    // the hint is FROZEN across appends (the IncrQuant frozen-state
    // convention) — an append must not re-measure
    val calAfterAppend = graft.index.IndexCatalog.load(spark, name).get.params
    assert(calAfterAppend("probe_hint").toInt == hint0,
      "an append re-measured the frozen probe hint")
    assert(calAfterAppend.get("probe_cal")
      .contains(graft.operators.IvfIndex.CalGen))

    // delete: zero artifact changes, rows vanish from results
    Segments.delete(spark, segDir, Seq(9001L, 0L).toDF("vec_id"), "vec_id")
    IncrIvf.ensure(spark, name, segDir, "vec_id", "embedding",
      metric = "l2", nlist = 8)
    assert(parquetFiles(dataDir) == m1, "delete touched the artifact")
    assert(got(2).map(_._1) == Seq(9000L, 9002L))

    // compaction promotes (no artifact rebuild), visibility preserved
    IncrMaint.promoteOnCompact(spark, name, segDir, "vec_id")
    assert(parquetFiles(dataDir) == m1, "compaction rebuilt the artifact")
    assert(got(2).map(_._1) == Seq(9000L, 9002L))
    assert(got(30) == want(30))

    // post-compact append keeps working incrementally
    Segments.append(spark, segDir, emb.filter(col("vec_id") === 0)
      .select(col("embedding")).crossJoin(Seq(9100L).toDF("vec_id"))
      .select(col("vec_id"), col("embedding")), "vec_id")
    IncrIvf.ensure(spark, name, segDir, "vec_id", "embedding",
      metric = "l2", nlist = 8)
    val m2 = parquetFiles(dataDir)
    assert(m1.forall { case (f, t) => m2(f) == t })
    assert(got(3).map(_._1) == Seq(9000L, 9002L, 9100L))
    assert(got(30) == want(30))

    // vacuum (full optimize): dead rows physically reclaimed, centroids
    // re-trained on the folded data, search unchanged
    IncrIvf.vacuum(spark, name, segDir, "vec_id", "embedding",
      metric = "l2", nlist = 8)
    val artIds = spark.read.parquet(dataDir).select(col("vec_id"))
      .as[Long].collect().toSet
    assert(!artIds.contains(0L) && !artIds.contains(9001L),
      "vacuum left dead rows in the artifact")
    assert(got(3).map(_._1) == Seq(9000L, 9002L, 9100L))
    assert(got(30) == want(30))
    // vacuum retrains AND re-measures the hint on the folded corpus
    val calVac = graft.index.IndexCatalog.load(spark, name).get.params
    assert(calVac.get("probe_cal")
      .contains(graft.operators.IvfIndex.CalGen))
    assert(calVac("probe_hint").toInt >= 1 && calVac("probe_hint").toInt <= 8)
    graft.index.IndexCatalog.drop(spark, name)
  }

  test("bvector hamming: incremental appends stay exact in the packed payload") {
    val segDir = Files.createTempDirectory("graft_incrivf_bv").toString
    val name = "incrivfspec_bv"
    graft.index.IndexCatalog.drop(spark, name)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q: Array[Float] = emb.filter(col("vec_id") === 7)
      .select(col("embedding")).head().getSeq[Float](0).toArray

    Segments.init(spark, segDir, emb.filter(col("vec_id") < 300), "vec_id")
    val dataDir = IncrIvf.ensure(spark, name, segDir, "vec_id", "embedding",
      metric = "hamming", nlist = 8)
    val m0 = parquetFiles(dataDir)

    Segments.append(spark, segDir,
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 400), "vec_id")
    IncrIvf.ensure(spark, name, segDir, "vec_id", "embedding",
      metric = "hamming", nlist = 8)
    val m1 = parquetFiles(dataDir)
    assert(m0.forall { case (f, t) => m1.get(f).contains(t) },
      "append touched sealed bvec list files")
    assert(m1.size > m0.size)

    val got = IncrIvf.search(spark, name, segDir, "vec_id", q, 25, nprobe = 8)
      .as[(Long, Double)].collect().toSeq
    val want = Segments.read(spark, segDir, "vec_id")
      .select(col("vec_id"), graft.functions.bvecHamming(
        graft.functions.binarize(col("embedding")),
        graft.functions.binarize(typedLit(q))).cast("double").as("dist"))
      .orderBy(col("dist"), col("vec_id")).limit(25)
      .as[(Long, Double)].collect().toSeq
    assert(got == want)
    graft.index.IndexCatalog.drop(spark, name)
  }

  test("vecf16 and svector: incremental appends stay exact in the compact payloads") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q: Array[Float] = emb.filter(col("vec_id") === 7)
      .select(col("embedding")).head().getSeq[Float](0).toArray

    // vecf16: payload = f16 half-words, exact twin = the f16 kernel
    val f16Seg = Files.createTempDirectory("graft_incrivf_f16").toString
    val f16Name = "incrivfspec_f16"
    graft.index.IndexCatalog.drop(spark, f16Name)
    Segments.init(spark, f16Seg, emb.filter(col("vec_id") < 300), "vec_id")
    val f16Dir = IncrIvf.ensure(spark, f16Name, f16Seg, "vec_id", "embedding",
      metric = "f16", nlist = 8)
    val f0 = parquetFiles(f16Dir)
    Segments.append(spark, f16Seg,
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 400), "vec_id")
    IncrIvf.ensure(spark, f16Name, f16Seg, "vec_id", "embedding",
      metric = "f16", nlist = 8)
    val f1 = parquetFiles(f16Dir)
    assert(f0.forall { case (f, t) => f1.get(f).contains(t) },
      "append touched sealed f16 list files")
    assert(f1.size > f0.size)
    val fGot = IncrIvf.search(spark, f16Name, f16Seg, "vec_id", q, 25, nprobe = 8)
      .as[(Long, Double)].collect().toSeq
    val fWant = Segments.read(spark, f16Seg, "vec_id")
      .select(col("vec_id"), graft.functions.f16L2sq(
        graft.functions.toF16Bits(col("embedding")),
        graft.functions.toF16Bits(typedLit(q))).as("dist"))
      .orderBy(col("dist"), col("vec_id")).limit(25)
      .as[(Long, Double)].collect().toSeq
    assert(fGot == fWant)
    graft.index.IndexCatalog.drop(spark, f16Name)

    // svector: segment column is the sparsified dense vector, payload CSR
    val spEmb = emb.select(col("vec_id"), transform(col("embedding"),
      x => when(abs(x) > lit(0.15), x).otherwise(lit(0.0f))).as("embedding"))
    val qs = q.map(x => if (math.abs(x.toDouble) > 0.15) x else 0.0f)
    val svSeg = Files.createTempDirectory("graft_incrivf_sv").toString
    val svName = "incrivfspec_sv"
    graft.index.IndexCatalog.drop(spark, svName)
    Segments.init(spark, svSeg, spEmb.filter(col("vec_id") < 300), "vec_id")
    val svDir = IncrIvf.ensure(spark, svName, svSeg, "vec_id", "embedding",
      metric = "svec", nlist = 8)
    val s0 = parquetFiles(svDir)
    Segments.append(spark, svSeg,
      spEmb.filter(col("vec_id") >= 300 && col("vec_id") < 400), "vec_id")
    IncrIvf.ensure(spark, svName, svSeg, "vec_id", "embedding",
      metric = "svec", nlist = 8)
    val s1 = parquetFiles(svDir)
    assert(s0.forall { case (f, t) => s1.get(f).contains(t) },
      "append touched sealed svec list files")
    assert(s1.size > s0.size)
    val sGot = IncrIvf.search(spark, svName, svSeg, "vec_id", qs, 25, nprobe = 8)
      .as[(Long, Double)].collect().toSeq
    val sWant = Segments.read(spark, svSeg, "vec_id")
      .select(col("vec_id"), graft.functions.svecL2sq(
        graft.functions.svecFromDense(col("embedding")),
        graft.functions.svecFromDense(typedLit(qs))).as("dist"))
      .orderBy(col("dist"), col("vec_id")).limit(25)
      .as[(Long, Double)].collect().toSeq
    assert(sGot == sWant)
    graft.index.IndexCatalog.drop(spark, svName)
  }
}
