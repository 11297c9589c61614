package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.IndexCatalog

/**
 * Incremental maintenance for the sparse inverted index over a
 * [[Segments]] store — the last artifact family of the reference's
 * optimizer contract (crates/index/src/optimizing/index_source.rs:12-146
 * × crates/sparse_inverted_index: appends (re)index only the new
 * segment; posting lists grow, they are never rebuilt):
 *
 *  - First ensure explodes the BASE segment's (already-sparsified, the
 *    ingest-owned policy [[IncrIvf]]'s svec family documents) vectors
 *    into token-bucket-partitioned postings with `_ver` = 0.
 *  - An appended delta's postings are APPENDED as new files inside the
 *    same `bucket=N` partition dirs — sealed files never touched (spec
 *    asserts mtime stability). No trained state exists, so appends are
 *    pure encode+write.
 *  - Deletes are tombstone versions; compaction promotes via the shared
 *    [[IncrMaint]] dead-snapshot path; [[vacuum]] folds and rebuilds.
 *
 * Search stays the exact posting-join shape ([[SparseSearch.search]]):
 * bucket partition pruning to the query's tokens, broadcast term join,
 * per-doc token-sorted sequential double fold — with the broadcast
 * tombstone version filter applied to posting rows BEFORE the per-doc
 * aggregation, so a hidden row contributes nothing. Scale shape: an
 * append costs one explode+write of the delta only; the tombstone side
 * stays KB-sized and broadcast.
 */
object IncrSparse {

  private val Kind = "sparse_incr"

  /** Explode one segment into bucket-partitioned posting rows. */
  private def writeSegment(spark: SparkSession, dataDir: String,
      rows: DataFrame, idCol: String, fCol: String, ver: Long,
      overwrite: Boolean): Unit = {
    import graft.functions.svecFromDense
    val sv = rows.filter(col(fCol).isNotNull)
      .select(col(idCol), svecFromDense(col(fCol)).as("sv"))
    SparseSearch.buildPostings(sv, idCol, "sv")
      .withColumn("bucket", pmod(col("token"), lit(SparseSearch.TokenBuckets)))
      .withColumn("_ver", lit(ver))
      .repartition(col("bucket"))
      .write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy("bucket").parquet(dataDir)
  }

  /** ONE append write for a SET of new deltas (round 16, the IncrIvf
    * convention): per-delta jobs paid one overhead each — rows are
    * identical (each delta's postings stamp their own seq as _ver). */
  private def writeSegments(spark: SparkSession, dataDir: String,
      segs: Seq[(Long, String)], idCol: String, fCol: String): Unit = {
    import graft.functions.svecFromDense
    if (segs.isEmpty) return
    segs.map { case (ver, dd) =>
      val sv = graft.ParquetCache.read(spark, dd).filter(col(fCol).isNotNull)
        .select(col(idCol), svecFromDense(col(fCol)).as("sv"))
      SparseSearch.buildPostings(sv, idCol, "sv")
        .withColumn("bucket",
          pmod(col("token"), lit(SparseSearch.TokenBuckets)))
        .withColumn("_ver", lit(ver))
    }.reduce(_ unionAll _)
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(dataDir)
  }

  /** Sync the posting artifact to the store's committed state, exploding
    * only new deltas. Returns the data dir. */
  def ensure(spark: SparkSession, name: String, segDir: String,
      idCol: String, fCol: String): String = synchronized {
    // delete_threshold policy (round 17): a due store takes the vacuum
    // prologue here — the rebuild below then runs over the folded store
    IncrMaint.vacuumIfDue(spark, name, segDir, idCol)
    val st = Segments.state(segDir)
    require(st.gen >= 0, s"no committed generation under $segDir")
    val dataDir = IndexCatalog.dataDir(spark, name)
    val prior = IndexCatalog.load(spark, name)
      .filter(_.source == segDir).filter(_.kind == Kind)
    val priorGen = prior.flatMap(_.params.get("gen")).map(_.toLong).getOrElse(-1L)
    val priorSeq = prior.flatMap(_.params.get("seq")).map(_.toLong).getOrElse(-1L)
    val promotedGen = prior.flatMap(_.params.get("promoted_gen")).map(_.toLong).getOrElse(-1L)
    val genOk = priorGen == st.gen || promotedGen == st.gen
    if (prior.isEmpty || !genOk) {
      IndexCatalog.drop(spark, name)
      writeSegment(spark, dataDir, graft.ParquetCache.read(spark, s"$segDir/base-${st.gen}"),
        idCol, fCol, ver = 0L, overwrite = true)
      writeSegments(spark, dataDir,
        IncrMaint.deltasAfter(segDir, st, -1L), idCol, fCol)
      IndexCatalog.commit(spark, name, IndexCatalog.Manifest(
        Kind, segDir, "dot",
        Map("buckets" -> SparseSearch.TokenBuckets.toString,
          "gen" -> st.gen.toString, "seq" -> st.seq.toString)))
    } else if (st.seq > priorSeq) {
      val pm = prior.get
      writeSegments(spark, dataDir,
        IncrMaint.deltasAfter(segDir, st, priorSeq), idCol, fCol)
      IndexCatalog.commit(spark, name, pm.copy(
        params = pm.params + ("seq" -> st.seq.toString)))
    }
    dataDir
  }

  /** Full optimize: fold the store, rebuild from scratch — reclaims
    * tombstoned postings. */
  def vacuum(spark: SparkSession, name: String, segDir: String,
      idCol: String, fCol: String): String =
    IncrMaint.vacuum(spark, name, segDir, idCol) {
      ensure(spark, name, segDir, idCol, fCol)
    }

  /** Exact top-k by dot product: bucket pruning, tombstone version
    * filter on posting rows, then the shared broadcast-term-join fold. */
  def search(spark: SparkSession, name: String, segDir: String,
      idCol: String, queryTerms: Seq[(Int, Float)], k: Int): DataFrame = {
    val dataDir = IndexCatalog.dataDir(spark, name)
    val buckets = queryTerms.map(_._1 % SparseSearch.TokenBuckets).distinct
    val postings = graft.ParquetCache.read(spark, dataDir)
      .filter(col("bucket").isin(buckets.map(Integer.valueOf): _*))
    val vis = Segments.visible(postings,
      IncrMaint.tombstones(spark, name, segDir, idCol), idCol)
    SparseSearch.search(vis, idCol, queryTerms, k)
  }
}
