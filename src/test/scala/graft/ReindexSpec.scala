package graft

import java.io.File
import org.apache.spark.sql.functions._
import graft.index.IndexCatalog
import graft.operators.{Hnsw, IncrHnsw, Segments}

/** REINDEX / REINDEX CONCURRENTLY (reference
  * tests/sqllogictest/reindex.slt): force-rebuild into a fresh
  * generation dir, swapped in by one atomic manifest-pointer flip while
  * readers keep serving the committed artifact; on the incremental
  * store, REINDEX folds side graphs and reclaims dead rows without
  * touching the store, and later appends still get side graphs. */
class ReindexSpec extends SparkSpec {
  import spark.implicits._

  private def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete()
  }

  private def topk(name: String, q: Array[Float], k: Int): Seq[(Long, Double)] =
    Hnsw.searchIndex(spark, IndexCatalog.dataDir(spark, name), "vec_id", q,
        k, exact = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("reindex swaps generations atomically and is value-invisible") {
    val name = "reindex_spec_hnsw"
    IndexCatalog.drop(spark, name)
    val src = s"$sf0001/embeddings.parquet"
    def emb = spark.read.parquet(src).select(col("vec_id"), col("embedding"))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray

    Hnsw.ensure(spark, name, emb, src, "vec_id", "embedding", "l2", 1)
    assert(IndexCatalog.dataSub(spark, name) == "data")
    val pre = topk(name, q, 50)

    Hnsw.reindex(spark, name, emb, src, "vec_id", "embedding", "l2", 1)
    val m1 = IndexCatalog.load(spark, name).get
    assert(m1.params("data_dir") == "data-r1" && m1.params("reindex_gen") == "1")
    assert(IndexCatalog.dataDir(spark, name).endsWith("data-r1"))
    // DEFERRED cleanup contract (round 8): the displaced generation
    // survives the commit — searches never take the DDL lock, so an
    // in-flight reader may still hold paths into it; deleting it here
    // would fail that reader mid-scan
    assert(new File(IndexCatalog.dir(spark, name), "data").exists(),
      "displaced generation must survive its own commit (reader grace)")
    assert(topk(name, q, 50) == pre, "REINDEX must not change results")

    // a second reindex advances the generation AND sweeps everything the
    // served manifest does not name (readers of those have drained)
    Hnsw.reindex(spark, name, emb, src, "vec_id", "embedding", "l2", 1)
    val m2 = IndexCatalog.load(spark, name).get
    assert(m2.params("data_dir") == "data-r2" && m2.params("reindex_gen") == "2")
    assert(!new File(IndexCatalog.dir(spark, name), "data").exists(),
      "generations displaced two reindexes ago must be swept")
    assert(new File(IndexCatalog.dir(spark, name), "data-r1").exists(),
      "the generation displaced by THIS reindex keeps its grace period")
    assert(topk(name, q, 50) == pre)

    // ensure after reindex reuses the committed artifact (manifest no-op)
    val before = IndexCatalog.load(spark, name).get
    Hnsw.ensure(spark, name, emb, src, "vec_id", "embedding", "l2", 1)
    assert(IndexCatalog.load(spark, name).get == before)

    // the data_dir pointer survives UNRELATED commits (alter, rebuilds
    // whose manifests don't know about it)
    IndexCatalog.alter(spark, name, "ef_search", "64")
    assert(IndexCatalog.load(spark, name).get.params("data_dir") == "data-r2")
    IndexCatalog.commit(spark, name,
      before.copy(params = before.params - "data_dir" - "reindex_gen"))
    assert(IndexCatalog.load(spark, name).get.params("data_dir") == "data-r2",
      "commit must preserve the reindex pointer")
    assert(IndexCatalog.load(spark, name).get.params("reindex_gen") == "2",
      "commit must preserve the generation counter")

    // belt-and-braces: even if a rogue direct write strips BOTH owned
    // params, the next generation derives from the live dir name — a
    // reindex must never rebuild INTO the generation it is serving
    val stripped = IndexCatalog.load(spark, name).get
    val f = new File(IndexCatalog.dir(spark, name), "MANIFEST.bin")
    val out = new java.io.ObjectOutputStream(new java.io.FileOutputStream(f))
    try out.writeObject(stripped.copy(params =
      stripped.params - "reindex_gen" + ("data_dir" -> "data-r2")))
    finally out.close()
    Hnsw.reindex(spark, name, emb, src, "vec_id", "embedding", "l2", 1)
    val m3 = IndexCatalog.load(spark, name).get
    assert(m3.params("data_dir") == "data-r3",
      s"generation must advance past the live dir, got ${m3.params}")
    assert(topk(name, q, 50) == pre)

    // reindex on a missing index errors (REINDEX INDEX no_such)
    intercept[IllegalArgumentException] {
      IndexCatalog.reindex(spark, "reindex_spec_missing")(_ =>
        IndexCatalog.Manifest("hnsw", src, "l2", Map.empty))
    }
    IndexCatalog.drop(spark, name)
  }

  test("IVF reindex retrains into a fresh generation, value-invisible at nprobe=nlist") {
    import graft.operators.IvfIndex
    val name = "reindex_spec_ivf"
    IndexCatalog.drop(spark, name)
    val src = s"$sf0001/embeddings.parquet"
    def emb = spark.read.parquet(src)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val (m1, p1) = IvfIndex.ensure(spark, name, emb, src, "embedding", "l2", 4)
    def got(model: IvfIndex.Model, path: String) =
      IvfIndex.search(spark, path, model, "vec_id", "embedding", q,
          k = 50, nprobe = model.nlist)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val pre = got(m1, p1)
    val (m2, p2) = IvfIndex.reindex(spark, name, emb, src, "embedding", "l2", 4)
    assert(p2.endsWith("data-r1") &&
      IndexCatalog.load(spark, name).get.params("reindex_gen") == "1")
    assert(got(m2, p2) == pre, "IVF REINDEX must not change exact results")
    IndexCatalog.drop(spark, name)
  }

  test("reindex joins the per-index DDL lock contract: races with ensure serialize") {
    // the new DDL op must serialize with ensure/drop like every other
    // (hooks.rs:60-106 analog): a reindex racing an ensure on one name
    // can never tear the manifest or leave a dangling data_dir pointer.
    val name = "reindex_spec_race"
    IndexCatalog.drop(spark, name)
    def mkManifest(src: String)(dataDir: String) = {
      Thread.sleep(200) // hold the build long enough for the race
      new File(dataDir).mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dataDir, "part-0"), "x")
      IndexCatalog.Manifest("ivf", src, "l2", Map("nlist" -> "4"))
    }
    IndexCatalog.ensure(spark, name, "raceSrc", "ivf")(mkManifest("raceSrc"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val rF = Future { IndexCatalog.reindex(spark, name)(mkManifest("raceSrc")) }
    val eF = Future { IndexCatalog.ensure(spark, name, "raceSrc", "ivf")(mkManifest("raceSrc")) }
    Await.result(Future.sequence(Seq(rF, eF)), 60.seconds)
    val m = IndexCatalog.load(spark, name).get
    // whichever order the lock granted: exactly one committed manifest,
    // pointer names an existing dir with the artifact file in it
    assert(m.params("data_dir") == "data-r1")
    val dd = new File(IndexCatalog.dataDir(spark, name))
    assert(dd.isDirectory && new File(dd, "part-0").isFile)
    // deferred-cleanup contract: the displaced generation survives the
    // swap (reader grace); drop below reclaims it
    assert(new File(IndexCatalog.dir(spark, name), "data").exists())
    IndexCatalog.drop(spark, name)
  }

  test("incremental reindex folds side graphs, reclaims dead, keeps appends incremental") {
    val name = "reindex_spec_incr"
    IndexCatalog.drop(spark, name)
    val segDir = sys.props("java.io.tmpdir") + "/graft_reindex_spec_seg"
    rm(new File(segDir))
    def emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray

    Segments.init(spark, segDir, emb.filter(col("vec_id") < 60), "vec_id")
    Segments.delete(spark, segDir,
      spark.range(1).select(lit(5L).as("vec_id")), "vec_id")
    Segments.append(spark, segDir, emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + 9000).as("vec_id"), col("embedding")), "vec_id")
    IncrHnsw.ensure(spark, name, segDir, "vec_id", "embedding")

    def search() = IncrHnsw.search(spark, name, segDir, "vec_id", q,
        k = 100, exact = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val pre = search()
    IncrHnsw.reindex(spark, name, segDir, "vec_id", "embedding")
    val dd = new File(IndexCatalog.dataDir(spark, name))
    val names = Option(dd.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.endsWith(".bin")).toSeq
    assert(names.nonEmpty && names.forall(_.startsWith("rebase-")),
      s"fold must replace base+side graphs, got $names")
    assert(!new File(dd, "dead").exists())
    assert(search() == pre, "REINDEX must not change the visible top-k")

    // the fold physically drops the deleted id: read the graph files
    // directly, tombstones out of the picture
    val folded = Option(dd.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("rebase-") && f.getName.endsWith(".bin"))
      .flatMap { f =>
        val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
          new java.io.FileInputStream(f)))
        try Hnsw.FlatGraph.read(in).ids finally in.close()
      }.toSet
    assert(!folded.contains(5L), "dead rows must be reclaimed by the fold")
    assert(folded.contains(9000L), "side-graph rows must be folded in")

    // append after reindex: side graph only, rebase files untouched
    val mtimes = Option(dd.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("rebase-"))
      .map(f => f.getName -> f.lastModified()).toMap
    Segments.append(spark, segDir, emb.filter(col("vec_id") === 3)
      .select((col("vec_id") + 9100).as("vec_id"), col("embedding")), "vec_id")
    IncrHnsw.ensure(spark, name, segDir, "vec_id", "embedding")
    val after = Option(dd.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".bin")).map(_.getName).toSeq
    assert(after.exists(_.startsWith("side-")),
      "post-reindex append must build an incremental side graph")
    Option(dd.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("rebase-")).foreach { f =>
        assert(f.lastModified() == mtimes(f.getName),
          s"${f.getName} must be mtime-stable across an append")
      }
    assert(search().exists(_._1 == 9103L),
      "appended row must be visible through the reindexed artifact")

    // a delete after reindex hides a folded row (version rule over the
    // rebase generation)
    Segments.delete(spark, segDir,
      spark.range(1).select(lit(9000L).as("vec_id")), "vec_id")
    assert(!search().exists(_._1 == 9000L))

    // snapshot pinning (the fold's no-double-index guarantee): a state
    // captured BEFORE an append must not see the appended delta
    val pinned = Segments.state(segDir)
    val before9200 = Segments.readAt(spark, segDir, "vec_id", pinned).count()
    Segments.append(spark, segDir, emb.filter(col("vec_id") === 4)
      .select((col("vec_id") + 9200).as("vec_id"), col("embedding")), "vec_id")
    assert(Segments.readAt(spark, segDir, "vec_id", pinned).count() ==
      before9200, "a pinned read must not see a later append")
    assert(Segments.read(spark, segDir, "vec_id").count() == before9200 + 1)

    IndexCatalog.drop(spark, name)
    rm(new File(segDir))
  }
}
