package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Sparse-vector top-k via an inverted (posting-list) index — the
 * Spark-native form of the reference's sparse_inverted_index
 * (crates/sparse_inverted_index/src/lib.rs:46-71): term-at-a-time scoring
 * re-expressed as explode -> posting-list join -> per-doc sum -> top-k.
 *
 * At 100 TB the posting-list table is partitioned by token; the query's
 * (tiny) term list broadcasts, so the join prunes to the query's tokens
 * only — the relational twin of "walk only the query's posting lists".
 *
 * Scoring stays EXACT and oracle-reproducible: per-doc partial products
 * are collected, sorted by index, and folded sequentially in double — the
 * same op chain as a dense sequential dot product (zero terms are exact
 * identities under IEEE addition).
 */
object SparseSearch {

  /** Build posting lists (token -> (doc, value)) from an svector column. */
  def buildPostings(docs: DataFrame, idCol: String, svecCol: String): DataFrame =
    docs.select(col(idCol),
        explode(arrays_zip(col(s"$svecCol.indexes"), col(s"$svecCol.values"))).as("p"))
      .select(col(idCol), col("p.indexes").as("token"), col("p.values").as("value"))

  val TokenBuckets = 64

  /** One-time CREATE INDEX job: materialize postings parquet partitioned
    * by token bucket — searches prune to the query's buckets only (the
    * "walk only the query's posting lists" analog). */
  def ensure(spark: org.apache.spark.sql.SparkSession, name: String,
      docs: => DataFrame, source: String, idCol: String, svecCol: String): String = {
    import graft.index.IndexCatalog
    IndexCatalog.ensure(spark, name, source, "sparse")(
      buildInto(docs, source, idCol, svecCol))
    IndexCatalog.dataDir(spark, name)
  }

  /** REINDEX: rebuild the postings into a fresh generation dir with one
    * atomic pointer flip — the vacuum path for SQL-created
    * `[indexing.sparse_inverted_index]` artifacts. */
  def reindex(spark: org.apache.spark.sql.SparkSession, name: String,
      docs: => DataFrame, source: String, idCol: String, svecCol: String): String = {
    import graft.index.IndexCatalog
    IndexCatalog.reindex(spark, name)(
      buildInto(docs, source, idCol, svecCol))
    IndexCatalog.dataDir(spark, name)
  }

  private def buildInto(docs: => DataFrame, source: String, idCol: String,
      svecCol: String)(dataDir: String): graft.index.IndexCatalog.Manifest = {
    import graft.index.IndexCatalog
    buildPostings(docs, idCol, svecCol)
      .withColumn("bucket", pmod(col("token"), lit(TokenBuckets)))
      .write.mode("overwrite").partitionBy("bucket").parquet(dataDir)
    IndexCatalog.Manifest("sparse", source, "dot",
      Map("buckets" -> TokenBuckets.toString))
  }

  /** Impact-pruning applies only when the kept postings capture at least
    * this fraction of the corpus's total |value| mass. Static top-M
    * truncation assumes SKEWED per-token impact distributions (the shape
    * of real sparse retrieval corpora); on flat-impact corpora every
    * posting matters and truncation silently destroys recall (measured
    * 0.04 on the clustered recall fixture, whose top-1024 mass fraction
    * is 0.80 — vs 1.0 on the random fixture where pruning is vacuous).
    * 0.9 splits the two with margin. */
  val PruneMassThreshold = 0.9

  /** One-time CREATE INDEX job for the PRUNED (approximate) variant:
    * impact-ordered posting truncation — keep only the `topM`
    * highest-|value| postings per token (the static index-pruning used
    * by real sparse engines: low-impact postings can't move the top-k
    * much). At 100 TB this caps every posting list, turning worst-case
    * hot tokens from full-corpus scans into M-row reads.
    *
    * ADAPTIVE (round 10): the build measures the impact skew — the
    * fraction of total |value| mass the kept postings capture — and
    * SKIPS pruning when it falls below [[PruneMassThreshold]], degrading
    * to the exact posting index instead of silently losing recall on
    * flat-impact corpora (the separability-guard convention: the engine
    * decides when the approximate path is sound, and the manifest
    * surfaces the decision as `pruning=applied|skipped`). Approximate
    * when applied: recall measured in RECALL.json; the exact twin is
    * [[ensure]]. */
  def ensurePruned(spark: org.apache.spark.sql.SparkSession, name: String,
      docs: => DataFrame, source: String, idCol: String, svecCol: String,
      topM: Int): String = {
    import graft.index.IndexCatalog
    import org.apache.spark.sql.expressions.Window
    IndexCatalog.ensure(spark, name, source, "sparse_pruned",
        requires = Map("top_m" -> topM.toString,
          "adaptive" -> "mass1")) { dataDir =>
      val w = Window.partitionBy(col("token"))
        .orderBy(abs(col("value")).desc, col(idCol))
      val ranked = buildPostings(docs, idCol, svecCol)
        .withColumn("rank", row_number().over(w))
      val stats = ranked.agg(
        sum(abs(col("value")).cast("double")).as("total"),
        sum(when(col("rank") <= topM, abs(col("value")).cast("double"))
          .otherwise(lit(0.0))).as("kept")).head()
      val total = if (stats.isNullAt(0)) 0.0 else stats.getDouble(0)
      val kept = if (stats.isNullAt(1)) 0.0 else stats.getDouble(1)
      val prune = total <= 0.0 || kept / total >= PruneMassThreshold
      val out = if (prune) ranked.filter(col("rank") <= topM) else ranked
      out.drop("rank")
        .withColumn("bucket", pmod(col("token"), lit(TokenBuckets)))
        .write.mode("overwrite").partitionBy("bucket").parquet(dataDir)
      IndexCatalog.Manifest("sparse_pruned", source, "dot",
        Map("buckets" -> TokenBuckets.toString, "top_m" -> topM.toString,
          "adaptive" -> "mass1",
          "pruning" -> (if (prune) "applied" else "skipped")))
    }
    IndexCatalog.dataDir(spark, name)
  }

  /** Search the persisted posting table: bucket partition pruning + the
    * broadcast term join. */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, queryTerms: Seq[(Int, Float)], k: Int): DataFrame = {
    val buckets = queryTerms.map(_._1 % TokenBuckets).distinct
    val postings = graft.ParquetCache.read(spark, path)
      .filter(col("bucket").isin(buckets.map(Integer.valueOf): _*))
    search(postings, idCol, queryTerms, k)
  }

  /** Top-k docs by dot product with a sparse query (idx -> weight). */
  def search(postings: DataFrame, idCol: String,
      queryTerms: Seq[(Int, Float)], k: Int): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val q = queryTerms.toDF("token", "weight")
    postings.join(broadcast(q), "token")
      .select(col(idCol), col("token"),
        (col("value").cast("double") * col("weight").cast("double")).as("prod"))
      .groupBy(col(idCol))
      .agg(aggregate(array_sort(collect_list(struct(col("token"), col("prod")))),
        lit(0.0), (acc, x) => acc + x("prod")).as("score"))
      .orderBy(col("score").desc, col(idCol)).limit(k)
  }
}
