package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType}
import graft.index.IndexCatalog

/**
 * IVF × codec composition with RESIDUAL encoding — the reference's
 * workhorse configuration for large corpora (crates/ivf/src/lib.rs:
 * 172-188: each vector is coded as `v - centroid[list]`, and searches
 * score against the per-list residual query `q - centroid[list]`). The
 * `ivfsq8` and `ivfpq` artifacts.
 *
 * Why residuals: after coarse quantization the residual cloud is
 * centered and much lower-variance than the raw vectors, so the same
 * code budget codes it with far less error — and one global SQ8 bound
 * set fits every list.
 *
 * Spark shape at 100 TB:
 *  - artifact = parquet partitioned by list_id; the coarse scan reads
 *    the code column of nprobe/nlist partitions only;
 *  - each probed list's scorer input (the residual query for SQ8, its
 *    ADC table for PQ — [[ListCodec.operand]]) is one row of a tiny
 *    driver-built table broadcast into an equality join on list_id (no
 *    shuffle of the big side);
 *  - rerank re-fetches k·window candidates by id-pushdown, exact l2.
 * window<=0 probes-then-exact-scans (no codes): at nprobe=nlist that is
 * provably the flat scan, which is what the oracle twin runs.
 */
object CodedIvf {

  case class Model(coarse: IvfIndex.Model, codec: ListCodec)

  /** v - centroid[listId] over a flattened [nlist*dims] centroid array. */
  def residualKernel(v: ArrayData, flat: ArrayData, listId: Int): ArrayData = {
    val dims = v.numElements()
    val out = new Array[Float](dims)
    val off = listId * dims
    var i = 0
    while (i < dims) { out(i) = v.getFloat(i) - flat.getFloat(off + i); i += 1 }
    new GenericArrayData(out)
  }

  case class ResidualVec(vec: Expression, flatCentroids: Expression,
      listId: Expression) extends TernaryExpression {
    override def first = vec; override def second = flatCentroids
    override def third = listId
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(FloatType, containsNull = false)
    override def nullSafeEval(v: Any, f: Any, l: Any): Any =
      residualKernel(v.asInstanceOf[ArrayData], f.asInstanceOf[ArrayData],
        l.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (v, f, l) =>
        s"${ev.value} = graft.operators.CodedIvf.residualKernel($v, $f, $l);")
    override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
      copy(vec = a, flatCentroids = b, listId = c)
    override def prettyName = "ivf_residual"
  }

  def residual(vec: Column, model: IvfIndex.Model, listId: Column): Column =
    Shims.column(ResidualVec(Shims.expression(vec),
      Shims.expression(typedLit(model.centroids.flatten)),
      Shims.expression(listId)))

  private def kind(quant: Quant[Codec]): String = "ivf" + quant.name

  private def requires(quant: Quant[Codec], nlist: Int): Map[String, String] =
    Map("kind2" -> kind(quant), "nlist" -> nlist.toString) ++ quant.requires

  private def load(mf: IndexCatalog.Manifest, quant: ListQuant[ListCodec]): Model =
    Model(IvfIndex.Model("l2", mf.centroids), quant.load(mf))

  /** CREATE INDEX: coarse k-means -> assign -> train the codec on the
    * residuals -> write (id, vec, residual codes) partitioned by list_id. */
  def ensure(spark: SparkSession, name: String, df: => DataFrame,
      source: String, idCol: String, vecCol: String, nlist: Int,
      quant: ListQuant[ListCodec], seed: Long = 42L): (Model, String) = {
    val mf = IndexCatalog.ensure(spark, name, source, kind(quant),
        requires = requires(quant, nlist))(
      buildInto(df, source, idCol, vecCol, nlist, quant, seed))
    (load(mf, quant), IndexCatalog.dataDir(spark, name))
  }

  /** REINDEX: rebuild into a fresh generation dir with one atomic
    * pointer flip — the vacuum path for SQL-created
    * `[indexing.ivf.quantization.*]` artifacts. */
  def reindex(spark: SparkSession, name: String, df: => DataFrame,
      source: String, idCol: String, vecCol: String, nlist: Int,
      quant: ListQuant[ListCodec], seed: Long = 42L): (Model, String) = {
    val mf = IndexCatalog.reindex(spark, name)(
      buildInto(df, source, idCol, vecCol, nlist, quant, seed))
    (load(mf, quant), IndexCatalog.dataDir(spark, name))
  }

  private def buildInto(df: => DataFrame, source: String, idCol: String,
      vecCol: String, nlist: Int, quant: ListQuant[ListCodec], seed: Long)
      (dataDir: String): IndexCatalog.Manifest = {
    val nn = df.filter(col(vecCol).isNotNull &&
      graft.functions.vectorIsFinite(col(vecCol)))
    val coarse = IvfIndex.train(nn, vecCol, "l2", nlist, seed = seed)
    val assigned = nn
      .withColumn("list_id", IvfIndex.nearestCentroid(col(vecCol), coarse))
      .withColumn("resid", residual(col(vecCol), coarse, col("list_id")))
    val codec = quant.train(assigned.select(col("resid")), "resid", seed)
    assigned
      .select(col(idCol), col(vecCol),
        codec.encode(col("resid")).as(quant.codeCol), col("list_id"))
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(dataDir)
    IndexCatalog.Manifest(kind(quant), source, "l2",
      Map("nlist" -> nlist.toString, "kind2" -> kind(quant)) ++ codec.params,
      centroids = coarse.centroids, floats = codec.floats)
  }

  /** Search: rank centroids, scan the pruned partitions' code column
    * against each probed list's residual operand (broadcast join on
    * list_id), windowed exact rerank via id-pushdown. `window` defaults
    * to the codec's; window<=0 = no codes, exact distances on every
    * probed row (the oracle-twin mode). */
  def search(spark: SparkSession, path: String, model: Model, idCol: String,
      vecCol: String, q: Array[Float], k: Int, nprobe: Int,
      window: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val codec = model.codec
    val codeCol = codec.quant.codeCol
    val scan = IvfIndex.prunedScan(spark, path, model.coarse, q, nprobe)
    Rerank.twoStage(scan.select(col(idCol), col(vecCol)), idCol, vecCol, q,
        k, window.getOrElse(codec.quant.window)) {
      val operands = model.coarse.rankLists(q).take(nprobe).map { l =>
        val c = model.coarse.centroids(l)
        (l, codec.operand(Array.tabulate(q.length)(i => q(i) - c(i))))
      }.toSeq.toDF("list_id", "operand")
      scan.select(col(idCol), col("list_id"), col(codeCol))
        .join(broadcast(operands), "list_id")
        .select(col(idCol),
          codec.score(col(codeCol), col("operand")).as("approx_dist"))
    }
  }
}
