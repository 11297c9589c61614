package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._

/**
 * RaBitQ-style 1-bit quantization (reference:
 * crates/quantization/src/rabitq.rs; Gao & Long, "RaBitQ: Quantizing
 * High-Dimensional Vectors with a Theoretical Error Bound", SIGMOD 2024):
 * vectors are centered on the corpus centroid, rotated by a seeded random
 * orthogonal matrix, and stored as sign bits plus two f32 correction
 * factors (residual norm, and the cosine between the residual and its
 * quantized direction). Distances are estimated from popcount-style bit
 * dot products against the rotated query:
 *
 *   <r̂, q̂> ≈ <sign(Pr)/√D, Pq/||Pq||> / cos(r, sign(Pr))
 *   l2²(v,q) ≈ ||r||² + ||q-c||² - 2·||r||·||q-c||·<r̂, q̂>
 *
 * Storage: D bits + 2 floats per row (vs 4D bytes raw) — 1-bit ADC at
 * 100 TB scans ~3% of the raw bytes. [[RabitqCodec]] builds its columns
 * from these kernels and the coarse layers' windowed exact rerank
 * restores precision; [[searchBounded]] sizes the rerank by the
 * estimator's error bound instead.
 */
object Rabitq {

  case class Model(dims: Int, centroid: Array[Float], rot: Array[Float]) {
    /** Rotate (v - centroid); rot is row-major [dims][dims]. */
    def rotate(v: Array[Float]): Array[Double] = {
      val r = new Array[Double](dims)
      var i = 0
      while (i < dims) { r(i) = v(i).toDouble - centroid(i); i += 1 }
      val out = new Array[Double](dims)
      var row = 0
      while (row < dims) {
        var acc = 0.0; var j = 0; val off = row * dims
        while (j < dims) { acc += rot(off + j) * r(j); j += 1 }
        out(row) = acc
        row += 1
      }
      out
    }
  }

  /** Seeded random orthogonal matrix via Gram-Schmidt on Gaussians. */
  def randomRotation(dims: Int, seed: Long): Array[Float] = {
    val rnd = new java.util.Random(seed)
    val m = Array.fill(dims)(Array.fill(dims)(rnd.nextGaussian()))
    var i = 0
    while (i < dims) {
      var j = 0
      while (j < i) {
        var dot = 0.0; var k = 0
        while (k < dims) { dot += m(i)(k) * m(j)(k); k += 1 }
        k = 0
        while (k < dims) { m(i)(k) -= dot * m(j)(k); k += 1 }
        j += 1
      }
      var nrm = 0.0; var k = 0
      while (k < dims) { nrm += m(i)(k) * m(i)(k); k += 1 }
      nrm = math.sqrt(nrm)
      k = 0
      while (k < dims) { m(i)(k) /= nrm; k += 1 }
      i += 1
    }
    m.flatten.map(_.toFloat)
  }

  def train(df: DataFrame, vecCol: String, seed: Long = 42L): Model = {
    import graft.functions.vecAvg
    val centroid = df.select(vecAvg(col(vecCol))).head().getSeq[Float](0).toArray
    Model(centroid.length, centroid, randomRotation(centroid.length, seed))
  }

  val CodeType: StructType = StructType(Seq(
    StructField("bits", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("norm", FloatType, nullable = false),
    StructField("cosv", FloatType, nullable = false)))

  /** Encode: sign bits of the rotated residual + correction factors. */
  def encodeKernel(v: ArrayData, centroid: ArrayData, rot: ArrayData): InternalRow = {
    val dims = v.numElements()
    val r = new Array[Double](dims)
    var i = 0
    var norm2 = 0.0
    while (i < dims) {
      r(i) = v.getFloat(i).toDouble - centroid.getFloat(i)
      norm2 += r(i) * r(i); i += 1
    }
    val words = new Array[Long]((dims + 63) / 64)
    var dotSign = 0.0
    var row = 0
    while (row < dims) {
      var acc = 0.0; var j = 0; val off = row * dims
      while (j < dims) { acc += rot.getFloat(off + j).toDouble * r(j); j += 1 }
      if (acc >= 0) { words(row >> 6) |= (1L << (row & 63)); dotSign += acc }
      else dotSign -= acc
      row += 1
    }
    val norm = math.sqrt(norm2)
    val cosv =
      if (norm == 0.0) 1.0
      else dotSign / (norm * math.sqrt(dims.toDouble))
    InternalRow(new GenericArrayData(words), norm.toFloat, cosv.toFloat)
  }

  /** Estimated l2² from bits + corrections vs the rotated query. */
  def scoreKernel(code: InternalRow, rq: ArrayData, qNorm: Double): Double = {
    val words = code.getArray(0)
    val norm = code.getFloat(1).toDouble
    val cosv = code.getFloat(2).toDouble
    val dims = rq.numElements()
    var dot = 0.0
    var i = 0
    while (i < dims) {
      val s = if (((words.getLong(i >> 6) >>> (i & 63)) & 1L) == 1L) 1.0 else -1.0
      dot += s * rq.getFloat(i)
      i += 1
    }
    if (norm == 0.0 || qNorm == 0.0) return norm * norm + qNorm * qNorm
    val est = dot / (math.sqrt(dims.toDouble) * qNorm) / math.max(cosv, 1e-9)
    norm * norm + qNorm * qNorm - 2.0 * norm * qNorm * est
  }

  val ScoreBoundType: StructType = StructType(Seq(
    StructField("est", DoubleType, nullable = false),
    StructField("err", DoubleType, nullable = false)))

  /** Estimated l2² PLUS its error bound — the reference's error-based
    * reranker input (crates/quantization/src/reranker/error.rs; RaBitQ
    * paper Thm 3.2: |<ô,q̂>/cos − <o,q̂>| ≤ ε₀·sqrt((1/cos² − 1)/(D−1))
    * w.h.p.). The distance-space error is 2·||r||·||q−c||·errDot. */
  def scoreBoundKernel(code: InternalRow, rq: ArrayData, qNorm: Double,
      eps: Double): InternalRow = {
    val words = code.getArray(0)
    val norm = code.getFloat(1).toDouble
    val cosv = code.getFloat(2).toDouble
    val dims = rq.numElements()
    var dot = 0.0
    var i = 0
    while (i < dims) {
      val s = if (((words.getLong(i >> 6) >>> (i & 63)) & 1L) == 1L) 1.0 else -1.0
      dot += s * rq.getFloat(i)
      i += 1
    }
    if (norm == 0.0 || qNorm == 0.0)
      return InternalRow(norm * norm + qNorm * qNorm, 0.0)
    val c = math.max(cosv, 1e-9)
    val estDot = dot / (math.sqrt(dims.toDouble) * qNorm) / c
    val est = norm * norm + qNorm * qNorm - 2.0 * norm * qNorm * estDot
    val errDot = eps * math.sqrt(
      math.max(1.0 / (c * c) - 1.0, 0.0) / math.max(dims - 1, 1).toDouble)
    InternalRow(est, 2.0 * norm * qNorm * errDot)
  }

  case class Encode(vec: Expression, centroidE: Expression, rotE: Expression)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
    override def first = vec; override def second = centroidE; override def third = rotE
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = CodeType
    override def nullSafeEval(v: Any, c: Any, r: Any): Any =
      encodeKernel(v.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData],
        r.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (v, c, r) =>
        s"${ev.value} = graft.operators.Rabitq.encodeKernel($v, $c, $r);")
    override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
      copy(vec = a, centroidE = b, rotE = c)
    override def prettyName = "rabitq_encode"
  }

  case class Score(codeE: Expression, rqE: Expression, qNorm: Double)
      extends BinaryExpression {
    override def left = codeE; override def right = rqE
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = DoubleType
    override def nullSafeEval(c: Any, r: Any): Any =
      scoreKernel(c.asInstanceOf[InternalRow], r.asInstanceOf[ArrayData], qNorm)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (c, r) =>
        s"${ev.value} = graft.operators.Rabitq.scoreKernel($c, $r, $qNorm);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(codeE = l, rqE = r)
    override def prettyName = "rabitq_score"
  }

  case class ScoreBound(codeE: Expression, rqE: Expression, qNorm: Double,
      eps: Double) extends BinaryExpression {
    override def left = codeE; override def right = rqE
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ScoreBoundType
    override def nullSafeEval(c: Any, r: Any): Any =
      scoreBoundKernel(c.asInstanceOf[InternalRow], r.asInstanceOf[ArrayData],
        qNorm, eps)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (c, r) =>
        s"${ev.value} = graft.operators.Rabitq.scoreBoundKernel($c, $r, $qNorm, $eps);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(codeE = l, rqE = r)
    override def prettyName = "rabitq_score_bound"
  }

  /** BOUND-DRIVEN rerank (the error.rs contract): no tuned window. Pass 1
    * scans codes, takes the k-th smallest UPPER bound τ = max over the
    * top-k of (est + err); pass 2 reranks exactly every row whose LOWER
    * bound est − err ≤ τ. Since exact ≤ ub pointwise, the true k-th exact
    * distance is ≤ τ, so (whenever the per-row bounds hold — w.h.p. by
    * RaBitQ Thm 3.2) the candidate set provably contains the true top-k;
    * its size adapts to query difficulty instead of a fixed k·window.
    * Both passes are full-scan-shaped (codes column only, then a filtered
    * re-scan) — no driver-side id collection, so candidate count never
    * needs a bound. */
  def searchBounded(indexed: DataFrame, idCol: String, vecCol: String,
      codeCol: String, q: Array[Float], k: Int, model: Model,
      eps: Double = 1.9): DataFrame = {
    val rq = model.rotate(q)
    val qNorm = math.sqrt(rq.map(x => x * x).sum)
    val rqF = rq.map(_.toFloat)
    val sb = Shims.column(ScoreBound(Shims.expression(col(codeCol)),
      Shims.expression(typedLit(rqF)), qNorm, eps))
    // materialize the (est, err) struct ONCE per row so the O(dims)
    // code-scan kernel provably runs once per pass, instead of relying on
    // codegen subexpression elimination to merge est/err references
    val tauRow = indexed
      .select(sb.as("sb"))
      .select((col("sb.est") + col("sb.err")).as("ub"))
      .orderBy(col("ub")).limit(k)
      .agg(max(col("ub"))).head()
    if (tauRow.isNullAt(0)) // empty input: max over no rows is NULL
      return indexed.sparkSession.emptyDataFrame
        .select(lit(0L).as(idCol), lit(0.0).as("dist")).limit(0)
    val tau = tauRow.getDouble(0)
    Rerank.exactTopK(indexed.withColumn("sb", sb)
      .filter(col("sb.est") - col("sb.err") <= tau), idCol, vecCol, q, k)
  }
}
