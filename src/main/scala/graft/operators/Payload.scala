package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions._

/**
 * The compact vector types a typed IVF artifact stores — bvector,
 * vecf16 and svector — each with the facts every index layer needs
 * about it: the reference's one `VectorBorrowed` trait per vector type
 * (crates/base/src/vector/mod.rs:31-65) and its opclass matrix
 * (src/sql/finalize.sql:719-803). [[TypedAnn]], [[IncrIvf]],
 * [[KnnJoin.joinTyped]], the typed rewrite arms and the SQL DDL read
 * them here; the same pattern as [[Quant]] for the quantizers.
 *
 * An artifact stores the PAYLOAD column in its compact encoding (packed
 * u64 words, f16 half-words, CSR struct); list ranking, k-means and the
 * range radii live in the densified f32 VIEW of it (0/1 floats,
 * f16-rounded values, zeros restored). For 0/1 vectors l2sq IS hamming,
 * so the view's l2 k-means is Hamming-space quantization; the f16 and
 * svec l2 kernels equal dense l2sq on their views.
 *
 * `family` is the opclass family key of the rewrite's metric keys
 * ("bvec:hamming"), `kind` the manifest kind, `typeParam` the manifest
 * `type` param and `buildMetric` the manifest metric — also the
 * l2-family metric the hnsw AM walks on the view's graphs, with
 * `hnswOverrides` the metrics it scores by override there.
 */
sealed abstract class Payload(val family: String, val kind: String,
    val typeParam: String, val buildMetric: String, val payloadCol: String,
    val viewCol: String, val hnswOverrides: Set[String]) extends Serializable {

  /** The payload from `src`: a dense f32 array, or (`stored`) a column
    * already stored in this type. */
  def encode(src: Column, stored: Boolean): Column
  /** The densified f32 view of a payload column. */
  def view(payload: Column): Column
  /** A dense query's image in the view, the one its lists are ranked by. */
  def densify(q: Array[Float]): Array[Float]
  /** [[densify]] per query row; None when the query is its own image. */
  def densifyCol(q: Column): Option[Column]
  /** A dense query in the payload's scoring form. */
  def queryForm(q: Column): Column
  /** The exact kernel of `metric` between a payload and a scoring-form
    * query. */
  def score(metric: String, payload: Column, q: Column): Column

  /** The batch and join paths score many queries per row: `pairRow`
    * decodes the stored payload once per scanned row (None: it is
    * scored as stored), `pairQuery` is the query's form and
    * `pairScore` the kernel over the two. */
  def pairRow: Option[Column] = None
  def pairQuery(q: Column): Column = queryForm(q)
  def pairScore(metric: String, row: Column, q: Column): Column =
    score(metric, row, q)

  /** Is `df`'s `srcCol` already stored in this type (a struct — the
    * `bvector(n)`/`svector(n)` table columns), not a dense f32 array? */
  def isStored(df: DataFrame, srcCol: String): Boolean =
    df.schema(srcCol).dataType.isInstanceOf[StructType]

  /** The rows of `df` an artifact indexes, as (idCol, payload, view):
    * NULL and non-finite vectors are dropped (null.slt), judged on the
    * dense source or, for a stored payload, on its view. */
  def prepare(df: DataFrame, idCol: String, srcCol: String): DataFrame = {
    val src = col(srcCol)
    val stored = isStored(df, srcCol)
    df.filter(src.isNotNull && vectorIsFinite(if (stored) view(src) else src))
      .select(col(idCol), encode(src, stored).as(payloadCol))
      .withColumn(viewCol, view(col(payloadCol)))
  }

  protected def unknown(metric: String): Nothing =
    throw new IllegalArgumentException(s"unknown $typeParam metric: $metric")
}

object Payload {
  val all: Seq[Payload] = Seq(BvecPayload, F16Payload, SvecPayload)
  val kinds: Set[String] = all.map(_.kind).toSet

  /** The payload of an opclass family key. */
  def unapply(family: String): Option[Payload] = all.find(_.family == family)
}

/** bvector: bit i = x_i > 0, packed into u64 words; hamming `<->`,
  * jaccard `<~>` and dot `<#>` (finalize.sql:735-741, 795-803). */
case object BvecPayload extends Payload("bvec", "ivf_bvec", "bvector",
    "hamming", "bv", "d01", Set("jaccard", "dot")) {
  def encode(src: Column, stored: Boolean): Column =
    binarize(if (stored) bvecToDense(src) else src)
  def view(payload: Column): Column = bvecToDense(payload)
  def densify(q: Array[Float]): Array[Float] = q.map(x => if (x > 0f) 1f else 0f)
  def densifyCol(q: Column): Option[Column] =
    Some(transform(q, x => when(x > lit(0f), lit(1f)).otherwise(lit(0f))))
  def queryForm(q: Column): Column = binarize(q)
  def score(metric: String, payload: Column, q: Column): Column = metric match {
    case "hamming" => bvecHamming(payload, q)
    case "jaccard" => bvecJaccard(payload, q)
    case "dot" => bvecNegdot(payload, q)
    case m => unknown(m)
  }
}

/** vecf16: values rounded to binary16; l2 `<->`, dot `<#>` and cos `<=>`
  * (finalize.sql:723-729, 765-770), each decoding per element and
  * accumulating in double. */
case object F16Payload extends Payload("f16", "ivf_f16", "vecf16", "l2",
    "bits", "rf", Set("dot", "cos")) {
  def encode(src: Column, stored: Boolean): Column = toF16Bits(src)
  def view(payload: Column): Column = f16ToVector(payload)
  def densify(q: Array[Float]): Array[Float] = q.map(x =>
    graft.types.Fp16.halfToFloat(graft.types.Fp16.floatToHalf(x)))
  def densifyCol(q: Column): Option[Column] = Some(view(toF16Bits(q)))
  def queryForm(q: Column): Column = toF16Bits(q)
  def score(metric: String, payload: Column, q: Column): Column = metric match {
    case "l2" => f16L2sq(payload, q)
    case "dot" => f16NegDot(payload, q)
    case "cos" => f16Cosdist(payload, q)
    case m => unknown(m)
  }
  // Pairs score the EXACT f16-value f32 views, decoded once per scanned
  // row and once per query row: the bit-bit kernels re-decoded both
  // halves per pair. DenseKernels accumulates in double, index order,
  // with the same shape as F16Kernels (cosdist's 3-accumulator pass
  // mirrors it), so on the same f32 values the doubles are bit-identical.
  override def pairRow: Option[Column] = Some(view(col(payloadCol)))
  override def pairQuery(q: Column): Column = view(toF16Bits(q))
  override def pairScore(metric: String, row: Column, q: Column): Column =
    metric match {
      case "l2" => l2sq(row, q)
      case "dot" => negdot(row, q)
      case "cos" => cosdist(row, q)
      case m => unknown(m)
    }
}

/** svector: the CSR struct of the nonzero entries; l2 `<->`, dot `<#>`
  * and cos `<=>` (finalize.sql:731-735, 775-789). A dense query is its
  * own view (restored zeros are exact identities). */
case object SvecPayload extends Payload("svec", "ivf_svec", "svector", "l2",
    "sv", "dv", Set("dot")) {
  def encode(src: Column, stored: Boolean): Column =
    if (stored) src else svecFromDense(src)
  def view(payload: Column): Column = svecToDense(payload)
  def densify(q: Array[Float]): Array[Float] = q
  def densifyCol(q: Column): Option[Column] = None
  def queryForm(q: Column): Column = svecFromDense(q)
  def score(metric: String, payload: Column, q: Column): Column = metric match {
    case "l2" => svecL2sq(payload, q)
    case "dot" => svecNegdot(payload, q)
    case "cos" => svecCosdist(payload, q)
    case m => unknown(m)
  }
}
