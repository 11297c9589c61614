package graft

import org.apache.spark.sql.functions._
import graft.index.IndexCatalog
import graft.operators.IvfIndex

/** Index catalog: ensure-once reuse, manifest commit rule, alter/drop
  * admin commands, stat view. */
class CatalogSpec extends SparkSpec {
  import spark.implicits._

  test("ensure builds once, reuses committed artifacts, alter/drop work") {
    val name = "catalog_spec_ivf"
    IndexCatalog.drop(spark, name)
    var builds = 0
    def ensure() = IndexCatalog.ensure(spark, name, "srcA", "ivf") { dataDir =>
      builds += 1
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val model = IvfIndex.train(emb, "embedding", "l2", 4)
      IvfIndex.assign(emb, "embedding", model)
        .write.mode("overwrite").partitionBy("list_id").parquet(dataDir)
      IndexCatalog.Manifest("ivf", "srcA", "l2", Map("nlist" -> "4"),
        centroids = model.centroids)
    }
    val m1 = ensure(); val m2 = ensure()
    assert(builds == 1, "second ensure must reuse the committed artifact")
    assert(m2.centroids.length == 4)

    // stat view surfaces it
    val row = IndexCatalog.stats(spark)
      .filter(col("idx_name") === name)
      .select("idx_type", "idx_metric", "idx_size_bytes",
        "idx_status", "idx_tuples").head()
    assert(row.getString(0) == "ivf" && row.getString(1) == "l2")
    assert(row.getLong(2) > 0)
    // reference stat-view parity (views.rs): status + stored tuples —
    // the ivf artifact stores every embedding row; the count comes from
    // driver-side parquet footers, never a job
    assert(row.getString(3) == "NORMAL")
    assert(row.getLong(4) ==
      spark.read.parquet(s"$sf0001/embeddings.parquet").count())

    // fence: committed build -> returns; missing index -> error
    IndexCatalog.fence(spark, name)
    intercept[IllegalStateException] {
      IndexCatalog.fence(spark, "no_such_index")
    }
    // upgrade: nothing unreadable -> sweep drops nothing
    assert(!IndexCatalog.upgrade(spark).contains(name))

    // alter updates a search-time option in place
    val altered = IndexCatalog.alter(spark, name, "nprobe", "2")
    assert(altered.params("nprobe") == "2")
    assert(IndexCatalog.load(spark, name).get.params("nprobe") == "2")
    // index_edit.slt error contract: unknown index, unknown key, and
    // invalid values are all rejected; structural build metadata is not
    // alterable (an alter must never corrupt dims/nlist/gen/...)
    intercept[IllegalArgumentException] {
      IndexCatalog.alter(spark, "no_such_index", "nprobe", "2")
    }
    intercept[IllegalArgumentException] {
      IndexCatalog.alter(spark, name, "unknown_key", "1")
    }
    intercept[IllegalArgumentException] {
      IndexCatalog.alter(spark, name, "metric", "cos")
    }
    intercept[IllegalArgumentException] {
      IndexCatalog.alter(spark, name, "nprobe", "unknown_value")
    }
    intercept[IllegalArgumentException] {
      IndexCatalog.alter(spark, name, "nprobe", "0")
    }
    assert(IndexCatalog.load(spark, name).get.params("nprobe") == "2")

    // source change triggers rebuild
    IndexCatalog.ensure(spark, name, "srcB", "ivf") { dataDir =>
      builds += 1
      IndexCatalog.Manifest("ivf", "srcB", "l2", Map.empty)
    }
    assert(builds == 2)

    IndexCatalog.drop(spark, name)
    assert(IndexCatalog.load(spark, name).isEmpty)
  }

  test("racing ensure+ensure dedups to one build; drop-during-ensure is clean") {
    // hooks.rs:60-106 / drop_index_when_indexing.slt analog: the
    // per-index lock serializes DDL on one name, so neither race can
    // tear a manifest or delete files under an in-flight writer.
    val name = "catalog_spec_race"
    IndexCatalog.drop(spark, name)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val started = new java.util.concurrent.CountDownLatch(2)
    def slowEnsure() = IndexCatalog.ensure(spark, name, "raceSrc", "ivf") { dataDir =>
      builds.incrementAndGet()
      Thread.sleep(300) // hold the build long enough for the race
      new java.io.File(dataDir).mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dataDir, "part-0"), "x")
      IndexCatalog.Manifest("ivf", "raceSrc", "l2", Map("nlist" -> "4"))
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = Seq.fill(2)(Future { started.countDown(); started.await(); slowEnsure() })
    val ms = Await.result(Future.sequence(fs), 60.seconds)
    assert(builds.get() == 1,
      "the lock loser must observe the winner's committed manifest, not rebuild")
    assert(ms.forall(_.source == "raceSrc"))

    // drop racing a fresh ensure: whichever order the lock grants, the
    // catalog ends consistent — never a manifest without data or a torn
    // file. Run the race; then assert the final state is one of the two
    // clean outcomes and a follow-up ensure always converges.
    IndexCatalog.drop(spark, name)
    builds.set(0)
    val eF = Future { slowEnsure() }
    Thread.sleep(100) // let the ensure take the lock first
    val dF = Future { IndexCatalog.drop(spark, name) }
    Await.result(Future.sequence(Seq(eF.map(_ => ()), dF)), 60.seconds)
    IndexCatalog.load(spark, name) match {
      case Some(m) => // drop won the lock first, ensure rebuilt after
        assert(m.source == "raceSrc" &&
          new java.io.File(IndexCatalog.dataDir(spark, name)).exists())
      case None => // ensure committed, then the waiting drop removed it
        assert(!new java.io.File(IndexCatalog.dir(spark, name)).exists())
    }
    val converged = slowEnsure()
    assert(converged.source == "raceSrc")
    assert(IndexCatalog.load(spark, name).nonEmpty)
    IndexCatalog.drop(spark, name)
    assert(IndexCatalog.load(spark, name).isEmpty)
  }

  test("pgvector DDL option spellings map to one manifest") {
    import graft.index.IndexOptions
    // parser: pgvector `lists` == native `nlist`; unknown keys rejected
    assert(IndexOptions.ivf(Map("lists" -> "8")) == 8)
    assert(IndexOptions.ivf(Map("nlist" -> "8")) == 8)
    assert(IndexOptions.ivf(Map.empty) == 16)
    intercept[IllegalArgumentException] {
      IndexOptions.ivf(Map("lists" -> "8", "nlist" -> "4"))
    }
    intercept[IllegalArgumentException] { IndexOptions.ivf(Map("liests" -> "8")) }
    assert(IndexOptions.hnsw(Map("m" -> "8", "ef_construction" -> "120")) == (8, 120))
    intercept[IllegalArgumentException] { IndexOptions.hnsw(Map("ef" -> "10")) }

    // both spellings land on the SAME committed artifact: the second
    // ensure is a no-op (manifest fingerprint + params unchanged)
    val src = s"$sf0001/embeddings.parquet"
    val emb = spark.read.parquet(src)
    val name = "catalog_spec_opts"
    IndexCatalog.drop(spark, name)
    val (m1, _) = IvfIndex.ensure(spark, name, emb, src, "embedding", "l2",
      Map("lists" -> "8"))
    val committed1 = IndexCatalog.load(spark, name).get
    assert(committed1.params("nlist") == "8")
    val (m2, _) = IvfIndex.ensure(spark, name, emb, src, "embedding", "l2",
      Map("nlist" -> "8"))
    val committed2 = IndexCatalog.load(spark, name).get
    assert(committed1 == committed2, "re-ensure under the other spelling must be a no-op")
    assert(m1.centroids.length == 8 && m2.centroids.length == 8)
    IndexCatalog.drop(spark, name)

    val hname = "catalog_spec_opts_hnsw"
    IndexCatalog.drop(spark, hname)
    graft.operators.Hnsw.ensure(spark, hname, emb, src, "vec_id",
      "embedding", "l2", parts = 1,
      options = Map("m" -> "8", "ef_construction" -> "120"))
    val hm = IndexCatalog.load(spark, hname).get
    assert(hm.params("m") == "8" && hm.params("ef_construction") == "120")
    IndexCatalog.drop(spark, hname)
  }

  test("a commit that cannot publish MANIFEST.bin throws, naming the index") {
    val name = "catalog_spec_unpublishable"
    IndexCatalog.drop(spark, name)
    // a non-empty directory where MANIFEST.bin belongs: the rename of the
    // written temp file onto it fails
    val blocker = new java.io.File(IndexCatalog.dir(spark, name), "MANIFEST.bin")
    blocker.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(blocker, "x").toPath, "x")
    try {
      val e = intercept[java.io.IOException] {
        IndexCatalog.commit(spark, name,
          IndexCatalog.Manifest("ivf", "srcU", "l2", Map("nlist" -> "4")))
      }
      assert(e.getMessage.contains(name))
      assert(IndexCatalog.load(spark, name).isEmpty)
    } finally IndexCatalog.drop(spark, name)
  }
}
