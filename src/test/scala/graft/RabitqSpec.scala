package graft

import org.apache.spark.sql.functions._
import graft.operators.{CodedFlat, Rabitq, RabitqCodec}

/** RaBitQ-style quantizer: rotation orthogonality, exactness at full
  * window, estimator recall under windowed rerank. */
class RabitqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
  private lazy val q: Array[Float] =
    emb.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).toArray
  private lazy val model = Rabitq.train(emb, "embedding")
  private lazy val codec = RabitqCodec(model)
  private lazy val coded = emb.select(col("vec_id"), col("embedding"),
    codec.encode(col("embedding")).as("code")).cache()

  private def flatTopk(k: Int): Seq[Long] =
    emb.select(col("vec_id"),
        graft.functions.l2sq(col("embedding"), typedLit(q)).as("dist"))
      .orderBy(col("dist"), col("vec_id")).limit(k)
      .select(col("vec_id")).as[Long].collect().toSeq

  test("random rotation is orthogonal (preserves norms)") {
    val dims = model.dims
    val v = Array.tabulate(dims)(i => (i % 7 - 3).toFloat)
    val rv = model.rotate(v.zip(model.centroid).map { case (x, c) => x + c })
    val n1 = math.sqrt(v.map(x => x.toDouble * x).sum)
    val n2 = math.sqrt(rv.map(x => x * x).sum)
    assert(math.abs(n1 - n2) < 1e-4, s"$n1 vs $n2")
  }

  test("full-window rerank is exact") {
    val got = CodedFlat.search(coded, "vec_id", "embedding", q, 50,
      codec, window = Some(0)).select("vec_id").as[Long].collect().toSeq
    assert(got == flatTopk(50))
  }

  test("windowed rerank recall@50 >= 0.8 from 1-bit codes") {
    val got = CodedFlat.search(coded, "vec_id", "embedding", q, 50,
      codec, window = Some(8)).select("vec_id").as[Long].collect().toSet
    val truth = flatTopk(50).toSet
    val recall = (got & truth).size.toDouble / truth.size
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("error-bound rerank returns the exact top-k without a tuned window") {
    val got = Rabitq.searchBounded(coded, "vec_id", "embedding", "code",
      q, 50, model).select("vec_id").as[Long].collect().toSeq
    assert(got == flatTopk(50))
  }

  test("fast_scan blocked layout: packed block estimates match per-row estimates") {
    import graft.operators.Rabitq4
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rows = coded.select(col("vec_id"), col("code.bits"),
        col("code.norm"), col("code.cosv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getFloat(2), r.getFloat(3)))
    val rq = model.rotate(q)
    val qNorm = math.sqrt(rq.map(x => x * x).sum)
    // per-row reference: the scalar scoreKernel on full-precision rq
    val rqArr = new GenericArrayData(rq.map(_.toFloat))
    val want: Map[Long, Double] = rows.map { case (id, bits, n, c) =>
      id -> Rabitq.scoreKernel(
        InternalRow(new GenericArrayData(bits.toArray), n, c), rqArr, qNorm)
    }.toMap
    // blocked: pack 32-row blocks, score with the group-LUT sweep
    val lut = new GenericArrayData(Rabitq4.buildLut(rq))
    val got: Map[Long, Double] = rows.grouped(Rabitq4.BlockSize).flatMap { blk =>
      val (ids, packed, norms, cosvs) = Rabitq4.packKernel(model.dims,
        blk.map(_._1).toSeq, blk.map(_._2).toSeq, blk.map(_._3).toSeq,
        blk.map(_._4).toSeq)
      val ests = Rabitq4.blockEstKernel(packed,
        new GenericArrayData(norms), new GenericArrayData(cosvs),
        lut, qNorm, model.dims)
      ids.zipWithIndex.collect { case (id, s) if id >= 0 =>
        id -> ests.getDouble(s)
      }
    }.toMap
    assert(got.keySet == want.keySet)
    // LUT entries keep rq at full double precision where the scalar path
    // rounds rq to float, and group sums associate differently — equal
    // to within float-rounding noise, not bit-identical (documented)
    val worst = want.map { case (id, w) =>
      math.abs(got(id) - w) / math.max(1.0, math.abs(w)) }.max
    assert(worst < 1e-4, s"max relative est divergence $worst")
  }

  test("fast_scan blocks slice within source partitions — no global sort") {
    import graft.operators.Rabitq4
    // 4 deterministic partitions × 40 rows: partition-local slotting
    // yields one partial tail block PER partition (4 × [32, 8]); a
    // global sort would funnel to ceil(160/32) = 5 blocks with ONE tail
    val rows = (0 until 160).map(i =>
      (i.toLong, Array.tabulate(8)(j => ((i * 8 + j) % 7 - 3).toFloat)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4)).toDF("vec_id", "embedding")
    val (_, path) = Rabitq4.ensure(spark, "rq4_partlocal_spec", df,
      "rq4_partlocal_spec_src", "vec_id", "embedding")
    try {
      // slots pad to BlockSize with id = -1 sentinels: live rows per
      // block = non-negative ids
      val sizes = spark.read.parquet(s"$path/blocks")
        .select(size(filter(col("ids"), x => x >= 0))).as[Int].collect().toSeq
      assert(sizes.sum == 160)
      assert(sizes.length == 8, s"expected 4×[32,8] blocks, got $sizes")
      assert(sizes.count(_ < Rabitq4.BlockSize) == 4,
        s"one partial tail block per source partition, got $sizes")
    } finally graft.index.IndexCatalog.drop(spark, "rq4_partlocal_spec")
  }

  test("fast_scan blocked layout: exact mode and windowed recall") {
    import graft.operators.Rabitq4
    val (m4, path) = graft.queries.AnnQueries.rq4(spark, sf0001)
    val exact = Rabitq4.search(spark, path, "vec_id", "embedding", q, 50,
      m4, window = 0).select("vec_id").as[Long].collect().toSeq
    assert(exact == flatTopk(50))
    val got = Rabitq4.search(spark, path, "vec_id", "embedding", q, 50,
      m4, window = 8).select("vec_id").as[Long].collect().toSet
    val truth = flatTopk(50).toSet
    val recall = (got & truth).size.toDouble / truth.size
    assert(recall >= 0.8, s"recall=$recall")
  }
}
