package graft.operators

import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil

/**
 * Single-query graph search on the driver over the resident graphs —
 * the reference answers an index scan from the one process that holds
 * the index (src/bgworker/mod.rs). A top-k walk over graphs already in
 * [[Hnsw.GraphCache]] costs far less than the Spark job that used to
 * carry it (closure cleaning, per-task Hadoop conf, scheduling), so the
 * scalar frontiers run here and come back as a local relation:
 * collecting it, or a rewritten statement that plans it, runs no job.
 * Batch and join shapes keep their jobs — their work grows with the
 * number of queries.
 */
private[graft] object ResidentSearch {
  /** Spark's ascending `orderBy(dist, id)`: -0.0 equals 0.0, NaN sorts
    * last, equal distances in id order. */
  val order: Ordering[(Long, Double)] = (a, b) => {
    val c = SQLOrderingUtil.compareDoubles(a._2, b._2)
    if (c != 0) c else java.lang.Long.compare(a._1, b._1)
  }

  /** Walk every file — on the JVM common pool when there is more than
    * one, else on the caller's thread — and return the first `k` of the
    * merged (id, dist) rows in [[order]] as a local (idCol, distCol)
    * frame. A walk's failure is rethrown as it was thrown. */
  def topK[F](spark: SparkSession, files: Seq[F], idCol: String, k: Int,
      distCol: String = "dist")(walk: F => Iterator[(Long, Double)]): DataFrame = {
    import spark.implicits._
    val perFile: Seq[Seq[(Long, Double)]] =
      if (files.lengthCompare(1) <= 0) files.map(walk(_).toSeq)
      else files.asJava.parallelStream()
        .map[Try[Seq[(Long, Double)]]](f => Try(walk(f).toSeq))
        .toList.asScala.toSeq.map(_.get)
    perFile.flatten.sorted(order).take(k).toDF(idCol, distCol)
  }
}
