package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.Segments

/** Round-17 optimization invariants: the metadata caches must (a) never
  * serve stale content — invalidation rides the repo's
  * content-fingerprint / committed-state conventions — and (b) never
  * change analyzer semantics (two cached reads of one path still
  * self-join like independent reads). */
class MetadataCacheSpec extends SparkSpec {

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree); f.delete()
  }

  private def freshDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_mdc_$tag").toFile
    d.deleteOnExit(); d.getAbsolutePath
  }

  test("ParquetCache: content change invalidates; identical content is served cached") {
    val dir = freshDir("pc") + "/t"
    spark.range(5).select(col("id"), (col("id") * 2).as("v"))
      .write.mode("overwrite").parquet(dir)
    val first = ParquetCache.read(spark, dir)
    assert(first.count() == 5)
    // overwrite with different rows: the next read must see them
    spark.range(9).select(col("id"), (col("id") * 3).as("v"))
      .write.mode("overwrite").parquet(dir)
    val second = ParquetCache.read(spark, dir)
    assert(second.count() == 9)
    assert(second.filter(col("v") === col("id") * 3).count() == 9)
  }

  test("ParquetCache: two cached reads self-join without ambiguity (fresh exprIds)") {
    val dir = freshDir("sj") + "/t"
    spark.range(10).select(col("id"), (col("id") % 3).as("k"))
      .write.mode("overwrite").parquet(dir)
    val a = ParquetCache.read(spark, dir)
    val b = ParquetCache.read(spark, dir)
    // the failAmbiguousSelfJoin trap that broke 8 pushdown gates when
    // the DataFrame itself was cached: a join of two reads of the same
    // path with per-side column refs must analyze
    val joined = a.as("a").join(b.as("b"),
      col("a.k") === col("b.k") && col("a.id") < col("b.id"))
    assert(joined.count() > 0)
  }

  test("tombstoneMaxLocal: fresh per committed (gen, seq) and row-identical to the plan-backed form") {
    import spark.implicits._
    val segDir = freshDir("ts") + "/store"
    Segments.init(spark, segDir,
      spark.range(20).select(col("id").as("vec_id"), col("id").as("x")), "vec_id")
    Segments.delete(spark, segDir, Seq(3L, 5L).toDF("vec_id"), "vec_id")
    val local1 = Segments.tombstoneMaxLocal(spark, segDir, "vec_id").get
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planned = Segments.tombstoneMax(spark, segDir, "vec_id").get
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(local1 == planned)
    // a NEW delete bumps the committed seq: the cached form must see it
    // on the very next call (the IncrHnsw never-mtime freshness rule)
    Segments.delete(spark, segDir, Seq(7L).toDF("vec_id"), "vec_id")
    val local2 = Segments.tombstoneMaxLocal(spark, segDir, "vec_id").get
      .collect().map(r => r.getLong(0)).toSet
    assert(local2 == Set(3L, 5L, 7L))
    // and the visible read agrees end-to-end
    val visible = Segments.read(spark, segDir, "vec_id")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(visible == (0L until 20L).toSet -- Set(3L, 5L, 7L))
    // a store re-initialised at the same path reaches the same committed
    // (gen, seq) with other tombstones: none of the old ones may show
    rmTree(new java.io.File(segDir))
    Segments.init(spark, segDir,
      spark.range(20).select(col("id").as("vec_id"), col("id").as("x")), "vec_id")
    Segments.delete(spark, segDir, Seq(1L).toDF("vec_id"), "vec_id")
    Segments.delete(spark, segDir, Seq(9L).toDF("vec_id"), "vec_id")
    val reinit = Segments.read(spark, segDir, "vec_id")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(reinit == (0L until 20L).toSet -- Set(1L, 9L))
  }

  test("IncrMaint.tombstones: dead-dir change invalidates the merged cache") {
    import graft.operators.IncrMaint
    // scratch index root on a CLONED session (shared-context suites run
    // in parallel — never mutate the shared session's root conf)
    val s = spark.newSession()
    import s.implicits._
    val root = freshDir("im")
    val segDir = root + "/store"
    s.conf.set("spark.graft.index.root", root + "/idx")
    Segments.init(s, segDir,
      s.range(10).select(col("id").as("vec_id"), col("id").as("x")), "vec_id")
    Segments.delete(s, segDir, Seq(2L).toDF("vec_id"), "vec_id")
    val name = "mdc_tombs"
    val t1 = IncrMaint.tombstones(s, name, segDir, "vec_id").get
      .collect().map(_.getLong(0)).toSet
    assert(t1 == Set(2L))
    // plant a promoted-dead snapshot BESIDE the artifact (the
    // IncrMaint location); same committed (gen, seq) — only the
    // dead fingerprint changes, and the cache must still refresh
    val dd = IncrMaint.deadDir(s, name)
    Seq((4L, 0L)).toDF("vec_id", "_tomb_ver").coalesce(1)
      .write.mode("overwrite").parquet(dd.getAbsolutePath)
    val t2 = IncrMaint.tombstones(s, name, segDir, "vec_id").get
      .collect().map(_.getLong(0)).toSet
    assert(t2 == Set(2L, 4L))
    // the store re-initialised at the same path reaches the same (gen,
    // seq) beside the same dead/ set: only its own tombstones are live
    rmTree(new java.io.File(segDir))
    Segments.init(s, segDir,
      s.range(10).select(col("id").as("vec_id"), col("id").as("x")), "vec_id")
    Segments.delete(s, segDir, Seq(6L).toDF("vec_id"), "vec_id")
    val t3 = IncrMaint.tombstones(s, name, segDir, "vec_id").get
      .collect().map(_.getLong(0)).toSet
    assert(t3 == Set(4L, 6L))
  }

  test("ParquetCache: vanished path is never served from cache (read-through)") {
    val dir = freshDir("van") + "/t"
    spark.range(4).write.mode("overwrite").parquet(dir)
    assert(ParquetCache.read(spark, dir).count() == 4)
    // delete the whole tree: the next read must NOT serve the cached
    // relation (non-local/vanished roots bypass the cache entirely)
    rmTree(new java.io.File(dir))
    intercept[Exception] { ParquetCache.read(spark, dir).count() }
    // recreate with different content: served fresh, not the old listing
    spark.range(7).write.mode("overwrite").parquet(dir)
    assert(ParquetCache.read(spark, dir).count() == 7)
  }
}
