package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.{Codec, IncrMaint, IncrQuant, PqQuant, Quant, RabitqQuant, Segments, Sq8Quant}

/** Incremental flat-quantized artifacts (SQ8/PQ/RaBitQ) over the segment
  * store: an append encodes with the FROZEN base-trained quantizer and
  * appends files — never rewrites sealed files or retrains; deletes are
  * tombstone-only; compaction promotes; exact search (window<=0) matches
  * the visible snapshot at every step; the approximate two-stage path
  * keeps decent recall on appended rows coded by the frozen quantizer. */
class IncrQuantSpec extends SparkSpec {
  import spark.implicits._

  private def parquetFiles(dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.lastModified()).toMap
  }

  private def lifecycle(quant: Quant[Codec]): Unit = {
    val segDir = Files.createTempDirectory(s"graft_incrq_${quant.name}_seg").toString
    val name = s"incrquantspec_${quant.name}"
    graft.index.IndexCatalog.drop(spark, name)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q: Array[Float] = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray

    Segments.init(spark, segDir, emb, "vec_id")
    val dataDir = IncrQuant.ensure(spark, name, segDir, "vec_id", "embedding", quant)
    val m0 = parquetFiles(dataDir)
    assert(m0.nonEmpty)

    def got(k: Int, window: Int = 0): Seq[(Long, Double)] =
      IncrQuant.search(spark, name, segDir, "vec_id", q, k, quant, window)
        .as[(Long, Double)].collect().toSeq
    def want(k: Int): Seq[(Long, Double)] =
      Segments.read(spark, segDir, "vec_id")
        .select(col("vec_id"), graft.functions.l2sq(col("embedding"),
          typedLit(q)).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(k)
        .as[(Long, Double)].collect().toSeq
    assert(got(20) == want(20))

    // append three exact duplicates of the query vector: ensure must
    // encode+append new files only — every sealed file untouched, no
    // retrain (the manifest's quantizer floats are byte-identical)
    val floats0 = graft.index.IndexCatalog.load(spark, name).get.floats
      .map { case (k2, v) => k2 -> v.toSeq }
    val dups = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).crossJoin(Seq(9000L, 9001L, 9002L).toDF("vec_id"))
      .select(col("vec_id"), col("embedding"))
    Segments.append(spark, segDir, dups, "vec_id")
    IncrQuant.ensure(spark, name, segDir, "vec_id", "embedding", quant)
    val m1 = parquetFiles(dataDir)
    assert(m0.keySet.subsetOf(m1.keySet), "an append deleted a sealed file")
    assert(m0.forall { case (f, t) => m1(f) == t }, "an append rewrote a sealed file")
    assert(m1.size > m0.size, "no files were appended")
    val floats1 = graft.index.IndexCatalog.load(spark, name).get.floats
      .map { case (k2, v) => k2 -> v.toSeq }
    assert(floats0 == floats1, "an append retrained the quantizer")
    assert(got(4).map(_._1) == Seq(0L, 9000L, 9001L, 9002L))
    // the approximate path must surface the appended exact duplicates:
    // they decode to the query's own code, the closest possible estimate
    assert(got(4, window = 8).map(_._1).toSet == Set(0L, 9000L, 9001L, 9002L))

    // delete: zero artifact changes, rows vanish from results
    Segments.delete(spark, segDir, Seq(9001L, 0L).toDF("vec_id"), "vec_id")
    IncrQuant.ensure(spark, name, segDir, "vec_id", "embedding", quant)
    assert(parquetFiles(dataDir) == m1, "delete touched the artifact")
    assert(got(2).map(_._1) == Seq(9000L, 9002L))
    assert(got(2, window = 8).map(_._1).toSet == Set(9000L, 9002L))

    // compaction promotes (no artifact rebuild), visibility preserved
    IncrMaint.promoteOnCompact(spark, name, segDir, "vec_id")
    assert(parquetFiles(dataDir) == m1, "compaction rebuilt the artifact")
    assert(got(2).map(_._1) == Seq(9000L, 9002L))
    assert(got(30) == want(30))

    // post-compact append keeps working incrementally
    Segments.append(spark, segDir, emb.filter(col("vec_id") === 0)
      .select(col("embedding")).crossJoin(Seq(9100L).toDF("vec_id"))
      .select(col("vec_id"), col("embedding")), "vec_id")
    IncrQuant.ensure(spark, name, segDir, "vec_id", "embedding", quant)
    val m2 = parquetFiles(dataDir)
    assert(m1.forall { case (f, t) => m2(f) == t })
    assert(got(3).map(_._1) == Seq(9000L, 9002L, 9100L))
    assert(got(30) == want(30))

    // vacuum (full optimize): dead rows physically reclaimed — the
    // artifact scan no longer contains the deleted ids — search unchanged
    IncrQuant.vacuum(spark, name, segDir, "vec_id", "embedding", quant)
    val artIds = spark.read.parquet(dataDir).select(col("vec_id"))
      .as[Long].collect().toSet
    assert(!artIds.contains(0L) && !artIds.contains(9001L),
      "vacuum left dead rows in the artifact")
    assert(!new java.io.File(graft.index.IndexCatalog.dir(spark, name), "dead").exists(),
      "vacuum kept the obsolete dead snapshot")
    assert(got(3).map(_._1) == Seq(9000L, 9002L, 9100L))
    assert(got(30) == want(30))
    graft.index.IndexCatalog.drop(spark, name)
  }

  test("sq8: frozen-bounds append, tombstone delete, promote, exact search") {
    lifecycle(Sq8Quant)
  }

  test("pq: frozen-codebook append, tombstone delete, promote, exact search") {
    lifecycle(PqQuant())
  }

  test("rabitq: frozen-rotation append, tombstone delete, promote, exact search") {
    lifecycle(RabitqQuant)
  }
}
