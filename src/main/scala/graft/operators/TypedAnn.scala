package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.IndexCatalog
import graft.index.IndexCatalog.Manifest

/**
 * ANN indexes over the NON-f32 vector types — the Spark analog of the
 * reference's opclass matrix (src/sql/finalize.sql:719-803; per-type
 * dispatch crates/indexing/src/sealed.rs:16-110), one implementation
 * over the [[Payload]] family (bvector, vecf16, svector).
 *
 * It reuses the IVF architecture ([[IvfIndex]]): centroids live in f32
 * (the list-RANKING space is always the payload's densified view), but
 * the PAYLOAD column keeps its compact storage encoding. At 100 TB that
 * is the difference between scanning the 1-bit/16-bit/CSR encoding and
 * scanning a 32-bit densified copy — the probed-partition scan reads
 * 1/32 (bvector) or 1/2 (vecf16) of the bytes a dense index would.
 *
 * One artifact serves every metric of its family: the layout is
 * metric-free, only list RANKING ([[rankLists]]) and row SCORING
 * ([[Payload.score]]) differ, and both are search-time choices.
 */
object TypedAnn {

  /** Per-list max l2² radius to the centroid in the densified view (the
    * range-pruning stat, mirroring IvfIndex.ensure's). Bumping
    * `StatsVersion` in `requires` rebuilds pre-stats artifacts. */
  private[operators] val StatsVersion = "radii1"

  /** CREATE INDEX: `srcCol` is a dense f32 column or one already stored
    * as the payload type; k-means runs on the densified view and the
    * artifact stores only (id, payload, list_id), partitioned by list. */
  def ensure(spark: SparkSession, p: Payload, name: String,
      df: => DataFrame, source: String, idCol: String, srcCol: String,
      nlist: Int, seed: Long = 42L): (IvfIndex.Model, String) =
    served(spark, name, IndexCatalog.ensure(spark, name, source, p.kind,
        requires = Map("type" -> p.typeParam, "nlist" -> nlist.toString,
          "stats" -> StatsVersion, "probe_cal" -> IvfIndex.CalGen))(
      buildInto(spark, p, df, source, idCol, srcCol, nlist, seed)))

  /** REINDEX the artifact (fresh generation + atomic pointer swap —
    * readers keep serving; the typed-family vacuum path). */
  def reindex(spark: SparkSession, p: Payload, name: String,
      df: => DataFrame, source: String, idCol: String, srcCol: String,
      nlist: Int, seed: Long = 42L): (IvfIndex.Model, String) =
    served(spark, name, IndexCatalog.reindex(spark, name)(
      buildInto(spark, p, df, source, idCol, srcCol, nlist, seed)))

  private def served(spark: SparkSession, name: String,
      m: Manifest): (IvfIndex.Model, String) =
    (IvfIndex.Model("l2", m.centroids, m.floats.get("radii").orNull),
      IndexCatalog.dataDir(spark, name))

  /** The build job: train on the view, assign, write, then the radii
    * and the probe hint over the cached assignment. The hint is
    * measured in the view under the artifact's canonical metric (one
    * hint per artifact — the other search-time metrics of the family
    * share the same fleet geometry); nprobe=auto resolves
    * max(10, hint) through the same per-artifact path as dense IVF. */
  private def buildInto(spark: SparkSession, p: Payload, df: => DataFrame,
      source: String, idCol: String, srcCol: String, nlist: Int,
      seed: Long): String => Manifest = { dataDir =>
    val prepared = p.prepare(df, idCol, srcCol)
    val model = IvfIndex.train(prepared, p.viewCol, "l2", nlist, seed = seed)
    val assigned = prepared
      .withColumn("list_id", IvfIndex.nearestCentroid(col(p.viewCol), model))
      .cache()
    assigned
      .select(col(idCol), col(p.payloadCol), col("list_id"))
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(dataDir)
    val radii = IvfIndex.listRadii(assigned, p.viewCol, model)
    val full = IvfIndex.Model(model.metric, model.centroids, radii)
    val hint = IvfIndex.probeHint(spark,
      assigned.select(col(p.viewCol).as("v"), col("list_id").as("pid")),
      p.buildMetric, model.nlist, rankLists(full, _, p.buildMetric))
    assigned.unpersist()
    Manifest(p.kind, source, p.buildMetric,
      Map("nlist" -> nlist.toString, "type" -> p.typeParam,
        "stats" -> StatsVersion, "probe_cal" -> IvfIndex.CalGen,
        "probe_hint" -> hint.toString),
      centroids = model.centroids, floats = Map("radii" -> radii))
  }

  /** Rank lists by the SEARCH metric over the stored f32 centroids —
    * one artifact serves every metric of its type family (the opclass
    * matrix re-expressed: the reference builds one index per opclass
    * because the graph/stream order bakes the metric in; an IVF
    * artifact's layout is metric-free, only list RANKING and row SCORING
    * differ, and both are search-time choices here). Exactness at
    * nprobe = nlist never depends on the ranking. */
  private[graft] def rankLists(model: IvfIndex.Model, q: Array[Float],
      metric: String): Array[Int] = {
    model.requireDims(q)
    import IvfIndex.Kernels
    val centroids = model.centroids
    val score: Array[Float] => Double = metric match {
      // jaccard prunes by Hamming-style l2 ranking in the densified
      // space: measured better than an expected-jaccard centroid form on
      // near-random bit vectors (union varies per ROW, not per list), and
      // exactness at nprobe = nlist never depends on the ranking
      case "l2" | "hamming" | "jaccard" => c => Kernels.l2sq(c, q)
      case "dot" => c => -Kernels.dot(c, q)
      case "cos" => c =>
        // both norms guarded: an all-zero centroid ranks at a defined
        // (worst) distance, never NaN — formula-identical to
        // KnnJoinKernels CosRaw (spec-asserted parity)
        1.0 - Kernels.dot(c, q) /
          math.sqrt(Kernels.dot(c, c).max(1e-30) * Kernels.dot(q, q).max(1e-30))
      case m => throw new IllegalArgumentException(s"unknown metric: $m")
    }
    val radii = model.radii
    // with radii stats (stats=radii1), l2-family and dot metrics rank by
    // the list's LOWER-BOUND reachable distance (triangle / Cauchy-
    // Schwarz in the densified payload space the radii measure),
    // centroid score as tie-break — the IvfIndex.Model.rankLists
    // convention. cos has no sound bound from L2 radii on unnormalized
    // payloads (the same reason typed cos sphere-range is absent) and
    // keeps the raw ranking.
    if (radii == null || radii.length != centroids.length || metric == "cos")
      centroids.zipWithIndex.map { case (c, i) => (score(c), i) }
        .sortBy(_._1).map(_._2)
    else {
      val qn = math.sqrt(Kernels.dot(q, q))
      centroids.zipWithIndex.map { case (c, i) =>
        val cd = score(c)
        val r = math.sqrt(radii(i).toDouble)
        val lb = metric match {
          case "l2" | "hamming" | "jaccard" =>
            val d = math.sqrt(cd) - r
            if (d > 0) d * d else 0.0
          case "dot" => cd - r * qn
        }
        ((lb, cd), i)
      }.sortBy(_._1).map(_._2)
    }
  }

  /** Search: rank lists by the search metric from the query's densified
    * image, read only the nprobe pruned partitions, score the exact
    * payload kernel. Exact at nprobe = nlist. Returns (idCol, dist)
    * ascending. */
  def search(spark: SparkSession, p: Payload, path: String,
      model: IvfIndex.Model, idCol: String, q: Array[Float], k: Int,
      nprobe: Int, metric: String): DataFrame = {
    val scan = IvfIndex.listScan(spark, path,
      rankLists(model, p.densify(q), metric).take(nprobe))
    scan.select(col(idCol),
        p.score(metric, col(p.payloadCol), p.queryForm(typedLit(q))).as("dist"))
      .orderBy(col("dist"), col(idCol)).limit(k)
  }

  /** Batched many-query search (the typed sibling of
    * IvfIndex.batchSearch): probe lists resolve on the driver per query
    * in the densified view, ONE pruned scan reads the union of all
    * probed partitions, each row scores only against the queries
    * probing its list (broadcast array_contains join), and per-query
    * top-k comes from a window. Exact at nprobe = nlist. Returns
    * (qid, idCol, dist, rn<=k) ordered by (qid, rn). */
  def batchSearch(spark: SparkSession, p: Payload, path: String,
      model: IvfIndex.Model, idCol: String,
      queries: Seq[(Long, Array[Float])], k: Int, nprobe: Int,
      metric: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rows = queries.map { case (qid, qv) =>
      (qid, qv, rankLists(model, p.densify(qv), metric).take(nprobe))
    }
    // the query's scoring form ONCE per query row (round 18): the
    // projected LocalRelation folds at plan time; spelled inside the
    // dist kernel it re-ran per joined pair. Identical values,
    // bit-identical scores.
    val qdf = rows.toDF("qid", "qf", "probes")
      .withColumn("__qs", p.pairQuery(col("qf")))
    val scan0 = IvfIndex.listScan(spark, path, rows.flatMap(_._3).distinct)
    val (scan, rowCol) = p.pairRow.fold((scan0, p.payloadCol))(r =>
      (scan0.withColumn("__pv", r), "__pv"))
    val joined = scan.join(broadcast(qdf),
      array_contains(col("probes"), col("list_id")))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col(idCol))
    joined.select(col("qid"), col(idCol),
        p.pairScore(metric, col(rowCol), col("__qs")).as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .orderBy(col("qid"), col("rn"))
  }
}
