package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType}

/**
 * Product quantization (PQ) kernels, the Spark-native analog of the
 * reference's product quantizer (crates/quantization/src/product.rs):
 * dims split into `m` subspaces, each sub-vector coded by its nearest of
 * `ks` per-subspace k-means centroids (defaults
 * crates/base/src/index.rs:452-505: 8-bit codes; scaled-down ks for
 * small corpora).
 *
 * Scoring is asymmetric-distance (ADC): the query builds an m×ks LUT of
 * exact sub-distances once on the driver; the coarse scan is then
 * `sum(LUT[s][code[s]])` per row — m byte lookups, no float math on raw
 * vectors. Codes are m bytes/row (dims×4 → m bytes compression), and
 * training samples a bounded set — never the full table. [[PqCodec]]
 * builds its columns from these; the coarse layers search through it.
 */
object Pq {

  /** Lloyd's k-means on the driver over a (small) sample — per-subspace
    * training is m tiny independent problems; the reference trains the
    * same way on a sample (product.rs). Deterministic: seeded init. */
  def kmeans(points: Array[Array[Float]], k: Int, iters: Int, seed: Long)
      : Array[Array[Float]] = {
    val dim = points.head.length
    val rnd = new java.util.Random(seed)
    // init: distinct random points (k-means++ simplified: random distinct)
    val centroids = Array.tabulate(math.min(k, points.length))(i =>
      points(rnd.nextInt(points.length)).clone())
    val assign = new Array[Int](points.length)
    var it = 0
    while (it < iters) {
      var p = 0
      while (p < points.length) {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < centroids.length) {
          var d = 0.0; var i = 0
          while (i < dim) {
            val diff = points(p)(i) - centroids(c)(i)
            d += diff * diff; i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        assign(p) = best
        p += 1
      }
      val sums = Array.ofDim[Double](centroids.length, dim)
      val counts = new Array[Int](centroids.length)
      p = 0
      while (p < points.length) {
        val a = assign(p); counts(a) += 1
        var i = 0
        while (i < dim) { sums(a)(i) += points(p)(i); i += 1 }
        p += 1
      }
      var c = 0
      while (c < centroids.length) {
        if (counts(c) > 0) {
          var i = 0
          while (i < dim) { centroids(c)(i) = (sums(c)(i) / counts(c)).toFloat; i += 1 }
        }
        c += 1
      }
      it += 1
    }
    centroids
  }

  /** codebook: flat [m][ks][subDim] float array. */
  case class Model(dims: Int, m: Int, ks: Int, codebook: Array[Float]) {
    def subDim: Int = dims / m
    /** Exact-sub-distance LUT for a query: flat [m][ks]. */
    def lut(q: Array[Float]): Array[Float] = {
      val out = new Array[Float](m * ks)
      var s = 0
      while (s < m) {
        var c = 0
        while (c < ks) {
          var d = 0.0; var i = 0
          val off = (s * ks + c) * subDim
          while (i < subDim) {
            val diff = q(s * subDim + i).toDouble - codebook(off + i)
            d += diff * diff; i += 1
          }
          out(s * ks + c) = d.toFloat
          c += 1
        }
        s += 1
      }
      out
    }
  }

  def train(df: DataFrame, vecCol: String, m: Int, ks: Int,
      sampleCap: Int = 100000, iters: Int = 10, seed: Long = 42L): Model = {
    val sample = df.select(col(vecCol)).limit(sampleCap)
      .collect().map(_.getSeq[Float](0).toArray)
    val dims = sample.head.length
    require(dims % m == 0, s"dims $dims not divisible by m=$m")
    val subDim = dims / m
    val codebook = new Array[Float](m * ks * subDim)
    var s = 0
    while (s < m) {
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      val cents = kmeans(sub, ks, iters, seed + s)
      var c = 0
      while (c < cents.length) {
        System.arraycopy(cents(c), 0, codebook, (s * ks + c) * subDim, subDim)
        c += 1
      }
      s += 1
    }
    Model(dims, m, ks, codebook)
  }

  // --- kernels ----------------------------------------------------------

  def encodeKernel(v: ArrayData, codebook: ArrayData, m: Int, ks: Int): Array[Byte] = {
    val dims = v.numElements()
    val subDim = dims / m
    val out = new Array[Byte](m)
    var s = 0
    while (s < m) {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < ks) {
        var d = 0.0; var i = 0
        val off = (s * ks + c) * subDim
        while (i < subDim) {
          val diff = v.getFloat(s * subDim + i).toDouble - codebook.getFloat(off + i)
          d += diff * diff; i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best.toByte
      s += 1
    }
    out
  }

  def adcKernel(codes: Array[Byte], lut: ArrayData, ks: Int): Double = {
    var acc = 0.0; var s = 0
    while (s < codes.length) {
      acc += lut.getFloat(s * ks + (codes(s) & 0xff))
      s += 1
    }
    acc
  }

  case class Encode(vec: Expression, codebookE: Expression, m: Int, ks: Int)
      extends BinaryExpression {
    override def left = vec; override def right = codebookE
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = BinaryType
    override def nullSafeEval(v: Any, cb: Any): Any =
      encodeKernel(v.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData], m, ks)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (v, cb) =>
        s"${ev.value} = graft.operators.Pq.encodeKernel($v, $cb, $m, $ks);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(vec = l, codebookE = r)
    override def prettyName = "pq_encode"
  }

  case class AdcScore(codesE: Expression, lutE: Expression, ks: Int)
      extends BinaryExpression {
    override def left = codesE; override def right = lutE
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = DoubleType
    override def nullSafeEval(c: Any, l: Any): Any =
      adcKernel(c.asInstanceOf[Array[Byte]], l.asInstanceOf[ArrayData], ks)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (c, l) =>
        s"${ev.value} = graft.operators.Pq.adcKernel($c, $l, $ks);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(codesE = l, lutE = r)
    override def prettyName = "pq_adc_score"
  }

  // --- 4-bit packed codes (fast_scan layout analog) ---------------------
  //
  // The reference's fast_scan path (crates/quantization/src/fast_scan/)
  // packs 4-bit PQ codes two-per-byte so a SIMD register holds the whole
  // 16-entry LUT. The Spark-native analog keeps the packed layout (half
  // the code bytes scanned = half the I/O of the coarse pass) and lets
  // whole-stage codegen inline the nibble unpack + LUT add; the in-register
  // shuffle trick itself is the JIT's job, not ours.

  def packNibbles(codes: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte]((codes.length + 1) / 2)
    var s = 0
    while (s < codes.length) {
      val nib = codes(s) & 0x0f
      out(s >> 1) = (out(s >> 1) | (if ((s & 1) == 0) nib else nib << 4)).toByte
      s += 1
    }
    out
  }

  def encodePackedKernel(v: ArrayData, codebook: ArrayData, m: Int, ks: Int)
      : Array[Byte] =
    packNibbles(encodeKernel(v, codebook, m, ks))

  /** Same accumulation order as [[adcKernel]] (subspace 0..m-1, double
    * accumulator) so packed and unpacked scores are bit-identical. */
  def adcPackedKernel(codes: Array[Byte], lut: ArrayData, ks: Int, m: Int)
      : Double = {
    var acc = 0.0; var s = 0
    while (s < m) {
      val b = codes(s >> 1) & 0xff
      val nib = if ((s & 1) == 0) b & 0x0f else b >>> 4
      acc += lut.getFloat(s * ks + nib)
      s += 1
    }
    acc
  }

  case class EncodePacked(vec: Expression, codebookE: Expression, m: Int, ks: Int)
      extends BinaryExpression {
    override def left = vec; override def right = codebookE
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = BinaryType
    override def nullSafeEval(v: Any, cb: Any): Any =
      encodePackedKernel(v.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData], m, ks)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (v, cb) =>
        s"${ev.value} = graft.operators.Pq.encodePackedKernel($v, $cb, $m, $ks);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(vec = l, codebookE = r)
    override def prettyName = "pq4_encode"
  }

  case class AdcPackedScore(codesE: Expression, lutE: Expression, ks: Int, m: Int)
      extends BinaryExpression {
    override def left = codesE; override def right = lutE
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = DoubleType
    override def nullSafeEval(c: Any, l: Any): Any =
      adcPackedKernel(c.asInstanceOf[Array[Byte]], l.asInstanceOf[ArrayData], ks, m)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (c, l) =>
        s"${ev.value} = graft.operators.Pq.adcPackedKernel($c, $l, $ks, $m);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(codesE = l, lutE = r)
    override def prettyName = "pq4_adc_score"
  }
}
