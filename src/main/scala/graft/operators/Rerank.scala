package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Candidate re-fetch for two-stage quantized search (the reranker-heap
 * analog, crates/quantization/src/reranker/flat.rs): the coarse stage
 * ranks ids over the (small) code column only; this fetches the raw
 * vectors for just those ids with an IN predicate that reaches the
 * parquet scan — on id-sorted/bucketed data that's row-group pruning,
 * not a second full read.
 */
object Rerank {
  /** indexed: full table (id, vec, codes...); candidates: (id, ...).
    * The driver-side collect here is LOAD-BEARINGLY bounded: callers pass
    * at most k·window candidate ids (≤ a few hundred) — never feed an
    * unbounded frame through this. */
  def fetchByIds(indexed: DataFrame, idCol: String, vecCol: String,
      candidates: DataFrame): DataFrame = {
    val ids = candidates.select(col(idCol)).collect().map(_.get(0)).toIndexedSeq
    indexed.filter(col(idCol).isin(ids: _*)).select(col(idCol), col(vecCol))
  }

  /** The exact l2 top-k of `rows` as (idCol, dist), ties broken by id. */
  def exactTopK(rows: DataFrame, idCol: String, vecCol: String,
      q: Array[Float], k: Int): DataFrame = {
    import graft.functions.l2sq
    rows.select(col(idCol), l2sq(col(vecCol), typedLit(q)).as("dist"))
      .orderBy(col("dist"), col(idCol)).limit(k)
  }

  /** The two-stage tail every coded scan shares: the k·window rows of
    * `approx` (idCol, approx_dist) with the smallest estimate, ties by
    * id → their vectors re-fetched from `indexed` → exact l2 top-k.
    * window <= 0 is the exact mode: `approx` is never built and every
    * row of `indexed` is scored exactly (a full-window rerank is
    * provably exact — the final stage scores true distances). */
  def twoStage(indexed: DataFrame, idCol: String, vecCol: String,
      q: Array[Float], k: Int, window: Int)(approx: => DataFrame)
      : DataFrame = {
    val coarse =
      if (window <= 0) indexed.select(col(idCol), col(vecCol))
      else {
        val w = math.min(k.toLong * window, Int.MaxValue.toLong).toInt
        fetchByIds(indexed, idCol, vecCol,
          approx.orderBy(col("approx_dist"), col(idCol)).limit(w))
      }
    exactTopK(coarse, idCol, vecCol, q, k)
  }
}
