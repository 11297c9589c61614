package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.{IncrMaint, IncrSparse, Segments, SparseSearch}

/** Incremental sparse inverted index over the segment store: appends
  * explode only the delta into bucket partitions (sealed posting files
  * mtime-stable), deletes are tombstone-only, compaction promotes,
  * vacuum reclaims; search always equals the flat posting build over
  * the store's visible rows. */
class IncrSparseSpec extends SparkSpec {
  import spark.implicits._

  private def parquetFiles(dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.lastModified()).toMap
  }

  test("posting append-only lifecycle, tombstone delete, promote, vacuum, exact") {
    val segDir = Files.createTempDirectory("graft_incrsparse_seg").toString
    val name = "incrsparsespec"
    graft.index.IndexCatalog.drop(spark, name)
    // ingest-owned sparsification: the store column is already sparsified
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"),
        x => when(abs(x) > lit(0.15), x).otherwise(lit(0.0f))).as("embedding"))
    val qs: Array[Float] = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val terms = qs.zipWithIndex.collect { case (v, i) if v != 0f => (i, v) }.toSeq

    Segments.init(spark, segDir, emb, "vec_id")
    val dataDir = IncrSparse.ensure(spark, segDir = segDir, name = name,
      idCol = "vec_id", fCol = "embedding")
    val m0 = parquetFiles(dataDir)
    assert(m0.nonEmpty)

    def got(k: Int): Seq[(Long, Double)] =
      IncrSparse.search(spark, name, segDir, "vec_id", terms, k)
        .as[(Long, Double)].collect().toSeq
    // twin: flat posting build over the store's visible rows
    def want(k: Int): Seq[(Long, Double)] = {
      val sv = Segments.read(spark, segDir, "vec_id")
        .select(col("vec_id"), graft.functions.svecFromDense(col("embedding")).as("sv"))
      SparseSearch.search(SparseSearch.buildPostings(sv, "vec_id", "sv"),
        "vec_id", terms, k).as[(Long, Double)].collect().toSeq
    }
    assert(got(20) == want(20))

    // append three exact duplicates of the query vector: only new files
    val dups = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).crossJoin(Seq(9000L, 9001L, 9002L).toDF("vec_id"))
      .select(col("vec_id"), col("embedding"))
    Segments.append(spark, segDir, dups, "vec_id")
    IncrSparse.ensure(spark, name, segDir, "vec_id", "embedding")
    val m1 = parquetFiles(dataDir)
    assert(m0.keySet.subsetOf(m1.keySet), "an append deleted a sealed posting file")
    assert(m0.forall { case (f, t) => m1(f) == t }, "an append rewrote a sealed posting file")
    assert(m1.size > m0.size, "no posting files were appended")
    assert(got(4).map(_._1).toSet == Set(0L, 9000L, 9001L, 9002L))

    // delete: zero artifact changes, rows vanish
    Segments.delete(spark, segDir, Seq(9001L, 0L).toDF("vec_id"), "vec_id")
    IncrSparse.ensure(spark, name, segDir, "vec_id", "embedding")
    assert(parquetFiles(dataDir) == m1, "delete touched the artifact")
    assert(got(2).map(_._1).toSet == Set(9000L, 9002L))

    // compaction promotes (no artifact rebuild), visibility preserved
    IncrMaint.promoteOnCompact(spark, name, segDir, "vec_id")
    assert(parquetFiles(dataDir) == m1, "compaction rebuilt the artifact")
    assert(got(30) == want(30))

    // vacuum: dead postings physically reclaimed, search unchanged
    IncrSparse.vacuum(spark, name, segDir, "vec_id", "embedding")
    val artIds = spark.read.parquet(dataDir).select(col("vec_id"))
      .as[Long].collect().toSet
    assert(!artIds.contains(0L) && !artIds.contains(9001L),
      "vacuum left dead postings in the artifact")
    assert(got(30) == want(30))
    graft.index.IndexCatalog.drop(spark, name)
  }
}
