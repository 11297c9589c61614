package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._

/**
 * Search across the full mutable-store lifecycle — the reference's query
 * path over sealed + growing segments with the delete filter
 * (crates/index/src/lib.rs:386-423: sealed index scans and a brute-force
 * growing scan merge, each filtered by the version map):
 *
 *  - sealed side: the cataloged IVF artifact, partition-pruned, with
 *    tombstoned ids anti-joined out BEFORE top-k (a deleted row must not
 *    displace a live one from the k window);
 *  - growing side: exact brute-force over visible delta rows (they have
 *    no index yet — exactly the reference's growing-segment scan);
 *  - global merge: union + TakeOrdered(k).
 *
 * Compaction folds deltas into the next sealed generation, after which a
 * fresh IVF build covers them and the growing side is empty.
 */
object HybridSearch {

  /** Visible delta rows of a segment store (delta unions minus rows
    * hidden by same-or-newer tombstones). */
  def visibleDeltas(spark: SparkSession, segDir: String, idCol: String): DataFrame = {
    val s = Segments.state(segDir)
    val deltas = Segments.deltaDirs(segDir, s)
    if (deltas.isEmpty) return spark.emptyDataFrame
    val rows = deltas.map(graft.ParquetCache.read(spark, _)).reduce(_ unionByName _)
    Segments.visible(rows, Segments.tombstoneMaxLocalAt(spark, segDir, idCol, s), idCol)
  }

  /** Exact-or-approximate top-k over sealed IVF artifact ∪ growing
    * deltas, honoring tombstones on both sides. */
  def topkL2(spark: SparkSession, segDir: String, ivfPath: String,
      model: IvfIndex.Model, idCol: String, vecCol: String,
      q: Array[Float], k: Int, nprobe: Int): DataFrame = {
    val qLit = typedLit(q)
    val tombs = Segments.tombstoneMaxLocal(spark, segDir, idCol)

    // sealed side: pruned scan, delete-filter, then top-k
    val sealedScan0 = IvfIndex.listScan(spark, ivfPath,
      model.rankLists(q).take(nprobe))
    val sealedScan = tombs match {
      // sealed rows carry version 0: ANY tombstone on the id hides them
      case Some(t) => sealedScan0.join(broadcast(t.select(col(idCol))),
        Seq(idCol), "left_anti")
      case None => sealedScan0
    }
    val sealedHits = sealedScan
      .select(col(idCol), l2sq(col(vecCol), qLit).as("dist"))
      .orderBy(col("dist"), col(idCol)).limit(k)

    // growing side: brute-force over visible deltas
    val deltas = visibleDeltas(spark, segDir, idCol)
    val hits =
      if (deltas.isEmpty) sealedHits
      else sealedHits.unionByName(
        deltas.select(col(idCol), l2sq(col(vecCol), qLit).as("dist"))
          .orderBy(col("dist"), col(idCol)).limit(k))
    hits.orderBy(col("dist"), col(idCol)).limit(k)
  }
}
