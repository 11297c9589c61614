package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import graft.functions._
import graft.types.Fp16

/** Cast matrix rules, f16 storage rounding, compare/slice edge semantics. */
class CastF16Spec extends SparkSpec {
  import spark.implicits._

  test("cast vector->bvector rejects non-0/1 values (casts.rs:90-106)") {
    val ok = Seq((Seq(0f, 1f, 1f, 0f))).toDF("v")
      .select(bvecNorm(castVecToBVec(col("v")))).head().getDouble(0)
    assert(math.abs(ok - math.sqrt(2)) < 1e-12)
    val e = intercept[Exception] {
      Seq((Seq(0f, 0.5f))).toDF("v")
        .select(bvecNorm(castVecToBVec(col("v")))).head()
    }
    assert(e.getMessage.contains("not 0 or 1") ||
      Option(e.getCause).exists(_.getMessage.contains("not 0 or 1")))
  }

  test("f16 bits storage: round-trip + fp16 rounding") {
    assert(Fp16.halfToFloat(Fp16.floatToHalf(0.4f)) == 0.39990234f)
    val row = Seq((Seq(0.4f, 1.7f, 2.0f))).toDF("v")
      .select(f16ToVector(toF16Bits(col("v"))).as("r"))
      .head().getSeq[Float](0)
    assert(row == Seq(0.39990234f, 1.7001953f, 2.0f))
  }

  test("f16 kernels error on dims mismatch") {
    val e = intercept[Exception] {
      Seq((Seq(1f, 2f), Seq(1f, 2f, 3f))).toDF("a", "b")
        .select(f16L2sq(toF16Bits(col("a")), toF16Bits(col("b")))).head()
    }
    assert(e.getMessage.contains("dimensions") ||
      e.getCause.getMessage.contains("dimensions"))
  }

  test("bvec slice: reference range semantics (None out of range)") {
    val df = Seq((Seq.fill(70)(1f))).toDF("v")
      .select(castVecToBVec(col("v")).as("b"))
    // in-range
    val n = df.select(bvecNorm(bvecSlice(col("b"), lit(0), lit(70)))).head().getDouble(0)
    assert(math.abs(n - math.sqrt(70)) < 1e-12)
    // hi > dims -> null (no clamping, unlike dense subscript)
    assert(df.select(bvecSlice(col("b"), lit(0), lit(71))).head().isNullAt(0))
    assert(df.select(bvecSlice(col("b"), lit(5), lit(5))).head().isNullAt(0))
  }

  test("svec compare: dense semantics via sparse merge walk") {
    def sv(dense: Seq[Float]) = svecFromDense(typedLit(dense))
    def cmp(a: Seq[Float], b: Seq[Float]): Int =
      spark.range(1).select(svecCompare(sv(a), sv(b))).head().getInt(0)
    assert(cmp(Seq(0f, 1f), Seq(0f, 1f)) == 0)
    assert(cmp(Seq(0f, 1f), Seq(1f, 0f)) == -1)   // pos0: 0 < 1
    assert(cmp(Seq(-1f, 0f), Seq(0f, 5f)) == -1)  // pos0: -1 < 0
    assert(cmp(Seq(0f, 2f), Seq(0f, 1f)) == 1)
    assert(cmp(Seq(0f, 0f), Seq(0f, -3f)) == 1)   // 0 > -3 at pos1
  }

  test("bvec compare: bit-position order (bvect.rs reverse_bits walk)") {
    def bv(dense: Seq[Float]) = castVecToBVec(typedLit(dense))
    def cmp(a: Seq[Float], b: Seq[Float]): Int =
      spark.range(1).select(bvecCompare(bv(a), bv(b))).head().getInt(0)
    assert(cmp(Seq(0f, 1f), Seq(0f, 1f)) == 0)
    assert(cmp(Seq(0f, 1f), Seq(1f, 0f)) == -1)   // first bit decides
    assert(cmp(Seq(1f, 0f), Seq(0f, 1f)) == 1)
    // bit 64+ (second word) only reached when word 0 equal
    val long1 = Seq.fill(64)(1f) ++ Seq(0f, 1f)
    val long2 = Seq.fill(64)(1f) ++ Seq(1f, 0f)
    assert(cmp(long1, long2) == -1)
  }

  test("f16 arith rounds each op's result through binary16 (round 13)") {
    // 2049 is not f16-representable: 1024 + 1025 must round to 2048
    // (nearest-even), where the dense f32 add keeps 2049 exactly
    val df = Seq((Seq(1024f, 0.4f), Seq(1025f, 0.4f))).toDF("a", "b")
    val r = df.select(f16Add(col("a"), col("b")).as("s"),
      vecAdd(col("a"), col("b")).as("d")).head()
    assert(r.getSeq[Float](0)(0) === 2048f)
    assert(r.getSeq[Float](1)(0) === 2049f)
    // 0.4 is f16-rounded on input in real vecf16 columns; on raw floats
    // the OP result still rounds: f16(0.8) = 0.7998047
    assert(r.getSeq[Float](0)(1) === Fp16.roundTrip(0.4f + 0.4f))
    val m = df.select(f16Mul(col("a"), col("b"))).head().getSeq[Float](0)
    assert(m(0) === Fp16.roundTrip(1024f * 1025f)) // 1049600 -> f16 inf? no: 65504 cap -> inf
    val sub = df.select(f16Sub(col("a"), col("b"))).head().getSeq[Float](0)
    assert(sub(0) === -1f)
  }

  test("f16 normalize: exact dyadics identity, non-dyadics f16-round") {
    val r = Seq((Seq(6f, 2f, 2f, 2f, 4f))).toDF("v")
      .select(f16Normalize(col("v"))).head().getSeq[Float](0)
    assert(r === Seq(0.75f, 0.25f, 0.25f, 0.25f, 0.5f))
    // [3,4]: 0.6/0.8 are NOT f16-exact -> the f16 path differs from f32
    val q = Seq((Seq(3f, 4f))).toDF("v")
      .select(f16Normalize(col("v")).as("h"),
        vectorNormalize(col("v")).as("f")).head()
    assert(q.getSeq[Float](0) === Seq(Fp16.roundTrip(0.6f), Fp16.roundTrip(0.8f)))
    assert(q.getSeq[Float](1) === Seq(0.6f, 0.8f))
    assert(q.getSeq[Float](0) !== q.getSeq[Float](1))
  }

  test("svec normalize preserves dims/indexes; densified == dense chain") {
    val df = Seq((Seq(0f, 3f, 0f, 4f, 0f))).toDF("v")
      .select(svecFromDense(col("v")).as("sv"))
    val r = df.select(svecNormalize(col("sv")).as("n"))
      .select(col("n.dims"), col("n.indexes"), col("n.values")).head()
    assert(r.getInt(0) === 5)
    assert(r.getSeq[Int](1) === Seq(1, 3))
    assert(r.getSeq[Float](2) === Seq(0.6f, 0.8f))
    // the dispatching SQL overload resolves svector -> SVecNormalize
    val d = df.selectExpr("svec_to_dense(vector_normalize(sv)) AS nv")
      .head().getSeq[Float](0)
    assert(d === Seq(0f, 0.6f, 0f, 0.8f, 0f))
  }

  test("dense kernels over decoded f16 views == bit-bit f16 kernels, exactly") {
    // round 18: the f16 join and batch search decode each side once and score
    // with DenseKernels; the doubles must be bit-identical to the
    // F16Kernels bit-bit forms on every input (incl. subnormal-rounding
    // and large values)
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 300) {
      val n = 1 + rnd.nextInt(96)
      def arr() = new GenericArrayData(Array.fill(n)(
        ((rnd.nextFloat() - 0.5f) * math.pow(2.0, rnd.nextInt(40) - 20)).toFloat))
      val (af, bf) = (arr(), arr())
      val ab = F16Kernels.toBits(af); val bb = F16Kernels.toBits(bf)
      val ad = F16Kernels.toFloats(ab); val bd = F16Kernels.toFloats(bb)
      // doubleToLongBits: bit equality that also treats NaN == NaN
      // (f16 overflow to inf makes inf-inf/0*inf NaNs on BOTH sides)
      def beq(x: Double, y: Double) =
        java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
      assert(beq(F16Kernels.l2sq(ab, bb), DenseKernels.l2sq(ad, bd)))
      assert(beq(F16Kernels.negdot(ab, bb), -DenseKernels.dot(ad, bd)))
      assert(beq(F16Kernels.cosdist(ab, bb), DenseKernels.cosDist(ad, bd)))
    }
  }
}
