package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._
import graft.index.IndexCatalog

/**
 * RaBitQ fast_scan blocked layout — the Spark analog of the reference's
 * `rq_fast_scan` b4 kernel (crates/quantization/src/fast_scan/b4.rs;
 * defaults at crates/base/src/index.rs:555-557): sign bits of 32 vectors
 * are interleaved per 4-dim GROUP so one sequential sweep of a block
 * scores 32 vectors from 16-entry group LUTs.
 *
 * Differences from the register-SIMD original, deliberate on the JVM:
 *  - LUT entries keep FULL double precision (the reference quantizes the
 *    query to 4-bit so LUTs fit SIMD registers; a JVM array has no width
 *    constraint, so this estimator is strictly tighter).
 *  - Group-LUT accumulation associates per 4-dim group, so packed
 *    estimates are NOT bit-identical to [[Rabitq.scoreKernel]]'s
 *    per-dim loop (double rounding differs at ~1e-13 relative). The
 *    family is approximate either way; its exact twin scans raw vectors.
 *
 * Artifact layout under the catalog dataDir:
 *  - `blocks/`  — one row per 32-vector block: ids (padded -1), the
 *    group-interleaved nibble bytes (groups × 16 B), norms, cosvs.
 *  - `rows/`    — (id, vec) for the bounded rerank re-fetch and the
 *    window<=0 exact mode.
 *
 * Blocks are sliced WITHIN source partitions (partition-local
 * row_number), so the build never funnels through a global sort — the
 * shape that survives 100 TB; block membership is irrelevant to
 * correctness since every block is scanned.
 */
object Rabitq4 {

  val BlockSize = 32

  /** Interleaved nibble packing for one block: for group g and slot s,
    * byte `g*16 + s/2`, low nibble for even s — nibble bit j is the sign
    * bit of dim 4g+j. */
  def packKernel(dims: Int, inIds: Seq[Long], inBits: Seq[Seq[Long]],
      inNorms: Seq[Float], inCosvs: Seq[Float])
      : (Array[Long], Array[Byte], Array[Float], Array[Float]) = {
    require(inIds.length <= BlockSize,
      s"packKernel got ${inIds.length} rows for one block — the " +
        s"partition-local (_pid, _rn/$BlockSize) slotting upstream must " +
        s"never group more than $BlockSize rows")
    val groups = (dims + 3) / 4
    val ids = Array.fill[Long](BlockSize)(-1L)
    val packed = new Array[Byte](groups * (BlockSize / 2))
    val norms = new Array[Float](BlockSize)
    val cosvs = new Array[Float](BlockSize)
    var s = 0
    while (s < inIds.length) {
      ids(s) = inIds(s)
      val words = inBits(s)
      norms(s) = inNorms(s)
      cosvs(s) = inCosvs(s)
      var g = 0
      while (g < groups) {
        var nib = 0
        var j = 0
        while (j < 4) {
          val dim = (g << 2) + j
          if (dim < dims &&
              ((words(dim >> 6) >>> (dim & 63)) & 1L) == 1L)
            nib |= (1 << j)
          j += 1
        }
        val bi = g * (BlockSize / 2) + (s >> 1)
        if ((s & 1) == 0) packed(bi) = (packed(bi) | nib).toByte
        else packed(bi) = (packed(bi) | (nib << 4)).toByte
        g += 1
      }
      s += 1
    }
    (ids, packed, norms, cosvs)
  }

  /** Per-query group LUT: lut[g*16 + p] = Σ_{j<4, 4g+j<dims}
    * (bit j of p ? +rq(4g+j) : -rq(4g+j)), in double. */
  def buildLut(rq: Array[Double]): Array[Double] = {
    val dims = rq.length
    val groups = (dims + 3) / 4
    val lut = new Array[Double](groups * 16)
    var g = 0
    while (g < groups) {
      var p = 0
      while (p < 16) {
        var acc = 0.0
        var j = 0
        while (j < 4) {
          val dim = (g << 2) + j
          if (dim < dims)
            acc += (if (((p >> j) & 1) == 1) rq(dim) else -rq(dim))
          j += 1
        }
        lut(g * 16 + p) = acc
        p += 1
      }
      g += 1
    }
    lut
  }

  /** Score all 32 slots of one block: sweep the interleaved bytes once
    * per group (the b4 inner loop), then apply the RaBitQ correction
    * formula per slot (same est form as [[Rabitq.scoreKernel]]). */
  def blockEstKernel(packed: Array[Byte], norms: ArrayData, cosvs: ArrayData,
      lut: ArrayData, qNorm: Double, dims: Int): ArrayData = {
    val groups = (dims + 3) / 4
    val dots = new Array[Double](BlockSize)
    var g = 0
    while (g < groups) {
      val base = g * (BlockSize / 2)
      val lutOff = g * 16
      var b = 0
      while (b < BlockSize / 2) {
        val byte = packed(base + b) & 0xff
        dots(b << 1) += lut.getDouble(lutOff + (byte & 0xf))
        dots((b << 1) + 1) += lut.getDouble(lutOff + (byte >>> 4))
        b += 1
      }
      g += 1
    }
    val out = new Array[Double](BlockSize)
    val sqrtD = math.sqrt(dims.toDouble)
    var s = 0
    while (s < BlockSize) {
      val norm = norms.getFloat(s).toDouble
      val cosv = cosvs.getFloat(s).toDouble
      out(s) =
        if (norm == 0.0 || qNorm == 0.0) norm * norm + qNorm * qNorm
        else {
          val est = dots(s) / (sqrtD * qNorm) / math.max(cosv, 1e-9)
          norm * norm + qNorm * qNorm - 2.0 * norm * qNorm * est
        }
      s += 1
    }
    new GenericArrayData(out)
  }

  case class BlockEst(packedE: Expression, normsE: Expression,
      cosvsE: Expression, lutE: Expression, qNorm: Double, dims: Int)
      extends QuaternaryExpression {
    override def first = packedE; override def second = normsE
    override def third = cosvsE; override def fourth = lutE
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullSafeEval(p: Any, n: Any, c: Any, l: Any): Any =
      blockEstKernel(p.asInstanceOf[Array[Byte]], n.asInstanceOf[ArrayData],
        c.asInstanceOf[ArrayData], l.asInstanceOf[ArrayData], qNorm, dims)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (p, n, c, l) =>
        s"${ev.value} = graft.operators.Rabitq4.blockEstKernel($p, $n, $c, $l, $qNorm, $dims);")
    override protected def withNewChildrenInternal(a: Expression, b: Expression,
        c: Expression, d: Expression) =
      copy(packedE = a, normsE = b, cosvsE = c, lutE = d)
    override def prettyName = "rabitq4_block_est"
  }

  /** One-time CREATE INDEX job: train the RaBitQ codec, write `rows/`
    * and the 32-vector interleaved `blocks/`. */
  def ensure(spark: SparkSession, name: String, df: => DataFrame,
      source: String, idCol: String, vecCol: String): (Rabitq.Model, String) = {
    val mf = IndexCatalog.ensure(spark, name, source, "rabitq4",
        requires = Map("format" -> "rq4block1")) { dataDir =>
      val nn = df.filter(col(vecCol).isNotNull &&
        graft.functions.vectorIsFinite(col(vecCol)))
      val codec = RabitqQuant.train(nn, vecCol)
      nn.select(col(idCol), col(vecCol))
        .write.mode("overwrite").parquet(s"$dataDir/rows")
      val coded = nn.select(col(idCol).cast("long").as("id"),
        codec.encode(col(vecCol)).as("code"))
      // partition-local slotting: no global sort at any scale
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(spark_partition_id()).orderBy(col("id"))
      val slotted = coded
        .withColumn("_pid", spark_partition_id())
        .withColumn("_rn", row_number().over(w) - 1)
      val dims = codec.model.dims
      // build-time only (once per block), never on a query path
      val packUdf = udf { (ids: Seq[Long], bits: Seq[Seq[Long]],
          norms: Seq[Float], cosvs: Seq[Float]) =>
        packKernel(dims, ids, bits, norms, cosvs)
      }
      slotted
        .groupBy(col("_pid"), (col("_rn") / BlockSize).cast("int").as("_blk"))
        // sort_array over the structs orders by slot (first field):
        // deterministic slot layout within the block
        .agg(sort_array(collect_list(struct(
          (col("_rn") % BlockSize).cast("int").as("slot"),
          col("id"), col("code.bits").as("bits"), col("code.norm").as("norm"),
          col("code.cosv").as("cosv")))).as("rows"))
        .select(packUdf(col("rows.id"), col("rows.bits"),
          col("rows.norm"), col("rows.cosv")).as("b"))
        .select(col("b._1").as("ids"), col("b._2").as("packed"),
          col("b._3").as("norms"), col("b._4").as("cosvs"))
        .write.mode("overwrite").parquet(s"$dataDir/blocks")
      IndexCatalog.Manifest("rabitq4", source, "l2",
        codec.params + ("format" -> "rq4block1"), floats = codec.floats)
    }
    (RabitqQuant.load(mf).model, IndexCatalog.dataDir(spark, name))
  }

  /** Blocked coarse scan (one LUT sweep per block scores 32 vectors) +
    * windowed exact rerank re-fetching candidates by id from `rows/`;
    * window<=0 = exact mode (scores raw vectors only). */
  def search(spark: SparkSession, dataDir: String, idCol: String,
      vecCol: String, q: Array[Float], k: Int, model: Rabitq.Model,
      window: Int = 8): DataFrame = {
    val rows = graft.ParquetCache.read(spark, s"$dataDir/rows")
    Rerank.twoStage(rows, idCol, vecCol, q, k, window) {
      val rq = model.rotate(q)
      val qNorm = math.sqrt(rq.map(x => x * x).sum)
      val lut = buildLut(rq)
      val est = Shims.column(BlockEst(
        Shims.expression(col("packed")), Shims.expression(col("norms")),
        Shims.expression(col("cosvs")), Shims.expression(typedLit(lut)),
        qNorm, model.dims))
      graft.ParquetCache.read(spark, s"$dataDir/blocks")
        .select(explode(arrays_zip(col("ids"), est.as("ests"))).as("z"))
        .select(col("z.ids").as(idCol), col("z.ests").as("approx_dist"))
        .filter(col(idCol) >= 0)
    }
  }
}
