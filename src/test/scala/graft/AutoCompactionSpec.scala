package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.{IncrHnsw, IncrIvf, IncrMaint, Segments}

/** The delete_threshold auto-compaction analog (reference
  * crates/base/src/index.rs:243-263 — the background optimizer compacts
  * once a segment's deleted fraction passes 0.2; decision loop
  * crates/index/src/optimizing/mod.rs:58-104): incremental ensure()
  * consults IncrMaint.vacuumIfDue, so a due store folds at sync time
  * with the visible set unchanged. Boundary pinned here: 19% must NOT
  * trigger, one more delete (20%) must. */
class AutoCompactionSpec extends SparkSpec {
  import spark.implicits._

  private def mkStore(n: Int): (String, Long) = {
    val segDir = Files.createTempDirectory("graft_autovac_seg").toString
    val rows = spark.range(n).select(col("id").as("vec_id"),
      array((0 until 8).map(i =>
        (col("id") % 7 + i).cast("float")): _*).as("embedding"))
    Segments.init(spark, segDir, rows, "vec_id")
    (segDir, n.toLong)
  }

  private def visibleIds(segDir: String): Set[Long] =
    Segments.read(spark, segDir, "vec_id")
      .select(col("vec_id")).as[Long].collect().toSet

  test("19% not due, 20% due; fold preserves the visible set") {
    val name = "autovacspec_ivf"
    graft.index.IndexCatalog.drop(spark, name)
    val (segDir, n) = mkStore(100)
    // 19 explicit deletes — below the 0.2 default
    Segments.delete(spark, segDir,
      spark.range(19).select(col("id").as("vec_id")), "vec_id")
    assert(!IncrMaint.vacuumDue(spark, name, segDir, "vec_id"))
    IncrIvf.ensure(spark, name, segDir, "vec_id", "embedding",
      metric = "l2", nlist = 4)
    val st19 = Segments.state(segDir)
    assert(st19.gen == 0L, "19% must not trigger the fold")
    assert(Segments.tombDirs(segDir, st19).nonEmpty)

    // the 20th delete crosses the threshold
    val before = visibleIds(segDir) - 19L
    Segments.delete(spark, segDir,
      spark.range(1).select((col("id") + 19L).as("vec_id")), "vec_id")
    assert(IncrMaint.vacuumDue(spark, name, segDir, "vec_id"))
    IncrIvf.ensure(spark, name, segDir, "vec_id", "embedding",
      metric = "l2", nlist = 4)
    val st20 = Segments.state(segDir)
    assert(st20.gen == 1L, "20% must fold the store at sync")
    assert(Segments.tombDirs(segDir, st20).isEmpty,
      "the fold must consume the tombstone pile")
    assert(visibleIds(segDir) == before,
      "the fold is a layout change, never a semantic one")
    assert(before.size == n.toInt - 20)
    // the rebuilt artifact covers the folded generation and the policy
    // is quiescent
    val pm = graft.index.IndexCatalog.load(spark, name).get
    assert(pm.params.get("gen").contains("1"))
    assert(!IncrMaint.vacuumDue(spark, name, segDir, "vec_id"))
    graft.index.IndexCatalog.drop(spark, name)
  }

  test("threshold conf 0 disables; explicit conf value honored") {
    val name = "autovacspec_off"
    graft.index.IndexCatalog.drop(spark, name)
    val (segDir, _) = mkStore(40)
    Segments.delete(spark, segDir,
      spark.range(20).select(col("id").as("vec_id")), "vec_id")
    val prev = spark.conf.getOption("spark.graft.segments.deleteThreshold")
    try {
      spark.conf.set("spark.graft.segments.deleteThreshold", "0")
      assert(!IncrMaint.vacuumDue(spark, name, segDir, "vec_id"))
      IncrHnsw.ensure(spark, name, segDir, "vec_id", "embedding")
      assert(Segments.state(segDir).gen == 0L, "0 must disable the policy")
      // a tighter threshold fires where the default would not
      spark.conf.set("spark.graft.segments.deleteThreshold", "0.5")
      assert(IncrMaint.vacuumDue(spark, name, segDir, "vec_id"),
        "50% dead is due at threshold 0.5")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.segments.deleteThreshold", v)
      case None => spark.conf.unset("spark.graft.segments.deleteThreshold")
    }
    graft.index.IndexCatalog.drop(spark, name)
  }

  test("append shadows never trigger: an append-only store stays cheap-gated") {
    val name = "autovacspec_appendonly"
    graft.index.IndexCatalog.drop(spark, name)
    val (segDir, _) = mkStore(40)
    // five appends of fresh ids: shadow tombstone rows ~= appended rows,
    // but the explicit-only cheap statistic reads 0 — no count job, no
    // fold
    (0 until 5).foreach { i =>
      Segments.append(spark, segDir,
        spark.range(10).select((col("id") + 1000L * (i + 1)).as("vec_id"),
          array((0 until 8).map(j => (col("id") % 5 + j).cast("float")): _*)
            .as("embedding")),
        "vec_id")
    }
    val st = Segments.state(segDir)
    val (stored, explicitTombs) = IncrMaint.storeFooterCounts(segDir, st)
    assert(stored == 90L)
    assert(explicitTombs == 0L,
      "append shadows must not count toward the trigger statistic")
    assert(!IncrMaint.vacuumDue(spark, name, segDir, "vec_id"))
    IncrIvf.ensure(spark, name, segDir, "vec_id", "embedding",
      metric = "l2", nlist = 4)
    assert(Segments.state(segDir).gen == 0L)
    graft.index.IndexCatalog.drop(spark, name)
  }

  test("idx_dead_frac reports the explicit-dead estimate and resets after the fold") {
    val name = "autovacspec_statfrac"
    graft.index.IndexCatalog.drop(spark, name)
    val (segDir, _) = mkStore(100)
    IncrIvf.ensure(spark, name, segDir, "vec_id", "embedding",
      metric = "l2", nlist = 4)
    def frac(): Double = graft.index.IndexCatalog.stats(spark)
      .filter(col("idx_name") === name)
      .select(col("idx_dead_frac")).head().getDouble(0)
    assert(frac() == 0.0)
    Segments.delete(spark, segDir,
      spark.range(19).select(col("id").as("vec_id")), "vec_id")
    val f19 = frac()
    assert(math.abs(f19 - 19.0 / 100.0) < 1e-9,
      s"19 explicit deletes over 100 stored must read 0.19, got $f19")
    // one more delete crosses the threshold; the next sync folds and
    // the signal returns to clean
    Segments.delete(spark, segDir,
      spark.range(1).select((col("id") + 19L).as("vec_id")), "vec_id")
    IncrIvf.ensure(spark, name, segDir, "vec_id", "embedding",
      metric = "l2", nlist = 4)
    assert(frac() == 0.0, "the fold must reset the dead-fraction signal")
    graft.index.IndexCatalog.drop(spark, name)
  }

  test("idx_indexing is exact: only build-kind leases read true") {
    val name = "autovacspec_leasekind"
    val root = new java.io.File(graft.index.IndexCatalog.root(spark))
    val lockDir = new java.io.File(root, ".locks")
    lockDir.mkdirs()
    graft.index.IndexCatalog.drop(spark, name)
    def indexing(): Boolean = graft.index.IndexCatalog.stats(spark)
      .filter(col("idx_name") === name)
      .select(col("idx_indexing")).head().getBoolean(0)
    // first build commits the manifest (the stat view lists only
    // committed indexes, so the in-build observation needs a prior)
    graft.index.IndexCatalog.ensure(spark, name,
      sf0001 + "/embeddings.parquet", "flat") { dataDir =>
      spark.range(1).select(col("id").as("vec_id"))
        .write.mode("overwrite").parquet(dataDir)
      graft.index.IndexCatalog.Manifest("flat",
        sf0001 + "/embeddings.parquet", "l2", Map.empty)
    }
    assert(!indexing(), "after a completed build the lease is gone")
    // a REbuild (requires drift) observes its own build-kind lease
    graft.index.IndexCatalog.ensure(spark, name,
      sf0001 + "/embeddings.parquet", "flat",
      requires = Map("fmt" -> "2")) { dataDir =>
      assert(indexing(), "an in-flight ensure must read idx_indexing = t")
      graft.index.IndexCatalog.Manifest("flat",
        sf0001 + "/embeddings.parquet", "l2", Map("fmt" -> "2"))
    }
    assert(!indexing())
    val lf = new java.io.File(lockDir, s"$name.lock")
    java.nio.file.Files.writeString(lf.toPath, "alter")
    try assert(!indexing(), "an alter-kind lease must read f")
    finally lf.delete()
    java.nio.file.Files.writeString(lf.toPath, "build")
    try assert(indexing(), "a build-kind lease must read t")
    finally lf.delete()
    graft.index.IndexCatalog.drop(spark, name)
  }
}
