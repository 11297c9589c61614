package graft.operators

import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.{DataTypeUtils, PhysicalDataType}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/**
 * Single-query index search on the driver over the resident artifacts —
 * the reference answers an index scan from the one process that holds
 * the index (src/bgworker/mod.rs). A top-k walk over graphs, or a scan
 * of IVF lists, already in [[Hnsw.GraphCache]] costs far less than the
 * Spark job that used to carry it (closure cleaning, per-task Hadoop
 * conf, scheduling), so the scalar frontiers run here and come back as
 * a local relation: collecting it, or a rewritten statement that plans
 * it, runs no job. Batch and join shapes keep their jobs — their work
 * grows with the number of queries.
 */
private[graft] object ResidentSearch {
  /** Spark's ascending `orderBy(dist, id)`: -0.0 equals 0.0, NaN sorts
    * last, equal distances in `ids` order. */
  def order[I](ids: Ordering[I]): Ordering[(I, Double)] = (a, b) => {
    val c = SQLOrderingUtil.compareDoubles(a._2, b._2)
    if (c != 0) c else ids.compare(a._1, b._1)
  }

  /** Walk every file — on the JVM common pool when there is more than
    * one, else on the caller's thread — keep each file's first `k` rows
    * in [[order]], and return the first `k` of their merge. A walk's
    * failure is rethrown as it was thrown. */
  def merge[F, I](files: Seq[F], k: Int, ids: Ordering[I])(
      walk: F => Iterator[(I, Double)]): Seq[(I, Double)] = {
    val ord = order(ids)
    val first = (f: F) => smallest(walk(f), k, ord)
    val perFile: Seq[Seq[(I, Double)]] =
      if (files.lengthCompare(1) <= 0) files.map(first)
      else files.asJava.parallelStream()
        .map[Try[Seq[(I, Double)]]](f => Try(first(f)))
        .toList.asScala.toSeq.map(_.get)
    smallest(perFile.iterator.flatten, k, ord)
  }

  /** The first `k` of `rows` in `ord`, sorted: a bounded max-heap, so a
    * long list scan holds k rows, not the list. */
  private def smallest[T](rows: Iterator[T], k: Int, ord: Ordering[T]): Seq[T] = {
    if (k <= 0) return Nil
    val heap = new java.util.PriorityQueue[T](16, ord.reverse)
    rows.foreach { r =>
      if (heap.size < k) heap.add(r)
      else if (ord.lt(r, heap.peek)) { heap.poll(); heap.add(r) }
    }
    heap.asScala.toSeq.sorted(ord)
  }

  /** [[merge]] over Long ids (graph artifacts store Long ids), as a
    * local (idCol, distCol) frame. */
  def topK[F](spark: SparkSession, files: Seq[F], idCol: String, k: Int,
      distCol: String = "dist")(walk: F => Iterator[(Long, Double)]): DataFrame = {
    import spark.implicits._
    merge(files, k, Ordering.Long)(walk).toDF(idCol, distCol)
  }

  /** [[merge]] over ids that are Spark internal values of `idField`'s
    * type (null sorting first, as ascending order puts it), as a local
    * (idField, dist) frame: the id column keeps the scanned artifact's
    * name and type, and `dist` is nullable, as the distance expression
    * over a nullable vector column is. */
  def topKOf[F](spark: SparkSession, files: Seq[F], idField: StructField,
      k: Int)(walk: F => Iterator[(Any, Double)]): DataFrame = {
    val physical = PhysicalDataType.ordering(idField.dataType)
    val ids: Ordering[Any] = (a, b) =>
      if (a == null) { if (b == null) 0 else -1 }
      else if (b == null) 1
      else physical.compare(a, b)
    val rows = merge(files, k, ids)(walk)
    val schema = StructType(Seq(idField, StructField("dist", DoubleType)))
    org.apache.spark.sql.graftshim.Shims.ofRows(spark,
      LocalRelation(DataTypeUtils.toAttributes(schema),
        rows.map { case (id, d) => InternalRow(id, d) }))
  }
}
