package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.IndexCatalog

/**
 * Flat coded scan over any [[Quant]] codec — the `[indexing.flat.
 * quantization.*]` artifacts `sq8`, `pq`, `pq4` and `rabitq`: every row
 * is encoded once at build and persisted as (id, vec, code column)
 * parquet; a search scores the code column ONLY (codes are ~the
 * compression ratio of the raw vectors: dims bytes for SQ8, m or m/2
 * bytes for PQ, D bits + 2 floats for RaBitQ), keeps the k·window best
 * estimates and exact-reranks them by re-fetching just those rows
 * ([[Rerank.twoStage]], the Catalyst-native form of the reference's
 * reranker heap, crates/quantization/src/reranker/flat.rs).
 */
object CodedFlat {

  /** One-time CREATE INDEX job: train the codec, encode every row once,
    * persist the artifact + codec in the catalog. An artifact trained
    * with other `requires` (PQ's m/ks) is rebuilt, not reused. */
  def ensure[C <: Codec](spark: SparkSession, name: String,
      df: => DataFrame, source: String, idCol: String, vecCol: String,
      quant: Quant[C]): (C, String) = {
    val mf = IndexCatalog.ensure(spark, name, source, quant.name,
        requires = quant.requires)(
      buildInto(df, source, idCol, vecCol, quant))
    (quant.load(mf), IndexCatalog.dataDir(spark, name))
  }

  /** REINDEX: the same build into a fresh generation dir, committed by
    * one atomic pointer flip (readers served throughout) — the vacuum
    * path for SQL-created `[indexing.flat.quantization.*]` artifacts. */
  def reindex[C <: Codec](spark: SparkSession, name: String,
      df: => DataFrame, source: String, idCol: String, vecCol: String,
      quant: Quant[C]): (C, String) = {
    val mf = IndexCatalog.reindex(spark, name)(
      buildInto(df, source, idCol, vecCol, quant))
    (quant.load(mf), IndexCatalog.dataDir(spark, name))
  }

  private def buildInto(df: => DataFrame, source: String, idCol: String,
      vecCol: String, quant: Quant[Codec])(dataDir: String)
      : IndexCatalog.Manifest = {
    val nn = df.filter(col(vecCol).isNotNull &&
      graft.functions.vectorIsFinite(col(vecCol)))
    val codec = quant.train(nn, vecCol)
    nn.select(col(idCol), col(vecCol),
        codec.encode(col(vecCol)).as(quant.codeCol))
      .write.mode("overwrite").parquet(dataDir)
    IndexCatalog.Manifest(quant.name, source, "l2", codec.params,
      floats = codec.floats)
  }

  /** Two-stage search over `indexed` (id, vec, code column): coarse
    * top-(k·window) by the codec's estimate, ties by id, then the exact
    * rerank. `window` defaults to the codec's; window <= 0 is the exact
    * mode (codes are lossy, so it skips them and scores every row). */
  def search(indexed: DataFrame, idCol: String, vecCol: String,
      q: Array[Float], k: Int, codec: Codec,
      window: Option[Int] = None): DataFrame =
    Rerank.twoStage(indexed, idCol, vecCol, q, k,
        window.getOrElse(codec.quant.window)) {
      indexed.select(col(idCol),
        codec.score(col(codec.quant.codeCol), q).as("approx_dist"))
    }
}
