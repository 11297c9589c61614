package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Scalar quantization (SQ8) kernels: per-dimension min/max learned at
 * build, each float encoded to one u8 code, approximate l2 decoded in
 * float and accumulated in double (reference: scalar quantizer
 * crates/quantization/src/scalar.rs; defaults bits=8,
 * crates/base/src/index.rs:452-505). [[Sq8Codec]] builds its columns
 * from these; the coarse layers search through the codec.
 */
object Sq8 {

  /** Learn per-dim (min, width) from data — ONE TypedImperativeAggregate
    * (2×dims float state), not a 2×dims-column plan. */
  def train(df: DataFrame, vecCol: String): (Array[Float], Array[Float]) = {
    import graft.functions.vecMinMax
    val row = df.select(vecMinMax(col(vecCol)).as("mm"))
      .select(col("mm.mins"), col("mm.maxs")).head()
    val mins = row.getSeq[Float](0).toArray
    val maxs = row.getSeq[Float](1).toArray
    val widths = mins.indices.map { i =>
      val w = maxs(i) - mins(i)
      if (w <= 0f) 1.0f else w
    }.toArray
    (mins, widths)
  }

  def encodeKernel(v: ArrayData, mins: ArrayData, widths: ArrayData): Array[Byte] = {
    val n = v.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val x = (v.getFloat(i) - mins.getFloat(i)) / widths.getFloat(i)
      val c = math.round(math.max(0.0f, math.min(1.0f, x)) * 255.0f)
      out(i) = c.toByte
      i += 1
    }
    out
  }

  /** Approximate L2² between u8 codes and a (pre-quantized) query LUT:
    * decode code -> min + (c/255)*width, accumulate in double. */
  def l2Kernel(codes: Array[Byte], q: ArrayData, mins: ArrayData, widths: ArrayData): Double = {
    var acc = 0.0; var i = 0
    val n = codes.length
    while (i < n) {
      val dec = mins.getFloat(i) + ((codes(i) & 0xff) / 255.0f) * widths.getFloat(i)
      val d = dec.toDouble - q.getFloat(i).toDouble
      acc += d * d; i += 1
    }
    acc
  }

  case class Encode(child: Expression, minsE: Expression, widthsE: Expression)
      extends TernaryExpression {
    override def first = child; override def second = minsE; override def third = widthsE
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = BinaryType
    override def nullSafeEval(v: Any, mn: Any, w: Any): Any =
      encodeKernel(v.asInstanceOf[ArrayData], mn.asInstanceOf[ArrayData], w.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (v, mn, w) =>
        s"${ev.value} = graft.operators.Sq8.encodeKernel($v, $mn, $w);")
    override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
      copy(child = a, minsE = b, widthsE = c)
    override def prettyName = "sq8_encode"
  }

  case class L2Approx(codesE: Expression, qE: Expression, minsE: Expression, widthsE: Expression)
      extends QuaternaryExpression {
    override def first = codesE; override def second = qE
    override def third = minsE; override def fourth = widthsE
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = DoubleType
    override def nullSafeEval(c: Any, q: Any, mn: Any, w: Any): Any =
      l2Kernel(c.asInstanceOf[Array[Byte]], q.asInstanceOf[ArrayData],
        mn.asInstanceOf[ArrayData], w.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (c, q, mn, w) =>
        s"${ev.value} = graft.operators.Sq8.l2Kernel($c, $q, $mn, $w);")
    override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression, d: Expression) =
      copy(codesE = a, qE = b, minsE = c, widthsE = d)
    override def prettyName = "sq8_l2_approx"
  }
}
