package graft

import org.apache.spark.sql.functions._
import graft.operators.{CodedFlat, CodedIvf, Pq, PqCodec, PqQuant, Sq8Quant}

/** PQ quantizer: exactness at full window, recall under windowed rerank
  * (the quantization.slt analog), deterministic training. */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
  private lazy val q: Array[Float] =
    emb.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).toArray

  private lazy val model = Pq.train(emb, "embedding", m = 8, ks = 16)
  private lazy val codec = PqCodec(model)
  private lazy val packedCodec = PqCodec(model, packed = true)
  private lazy val coded = emb.select(col("vec_id"), col("embedding"),
    codec.encode(col("embedding")).as("codes")).cache()

  private def flatTopk(k: Int): Seq[Long] =
    emb.select(col("vec_id"), graft.functions.l2sq(col("embedding"),
        typedLit(q)).as("dist"))
      .orderBy(col("dist"), col("vec_id")).limit(k)
      .select(col("vec_id")).as[Long].collect().toSeq

  test("full-window rerank is exact") {
    val got = CodedFlat.search(coded, "vec_id", "embedding", q, 50, codec,
      window = Some(0)).select("vec_id").as[Long].collect().toSeq
    assert(got == flatTopk(50))
  }

  test("windowed rerank recall@50 >= 0.9") {
    val got = CodedFlat.search(coded, "vec_id", "embedding", q, 50, codec,
      window = Some(8)).select("vec_id").as[Long].collect().toSet
    val truth = flatTopk(50).toSet
    val recall = (got & truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("IVF+PQ residual: exact at full probe/window; windowed recall >= 0.9") {
    val name = "pqspec_ivfpq"
    graft.index.IndexCatalog.drop(spark, name)
    val (m, path) = CodedIvf.ensure(spark, name, emb,
      s"$sf0001/embeddings.parquet", "vec_id", "embedding", nlist = 8, PqQuant())
    val exact = CodedIvf.search(spark, path, m, "vec_id", "embedding", q, 50,
      nprobe = 8, window = Some(0)).select("vec_id").as[Long].collect().toSeq
    assert(exact == flatTopk(50))
    val got = CodedIvf.search(spark, path, m, "vec_id", "embedding", q, 50,
      nprobe = 8, window = Some(8)).select("vec_id").as[Long].collect().toSet
    val truth = flatTopk(50).toSet
    val recall = (got & truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"recall=$recall")
    // residual coding beats raw-vector coding at the same budget: the
    // windowed candidate set from residual ADC should itself rank well
    val rawGot = CodedFlat.search(coded, "vec_id", "embedding", q, 50,
      codec, window = Some(1)).select("vec_id").as[Long].collect().toSet
    val residGot = CodedIvf.search(spark, path, m, "vec_id", "embedding", q, 50,
      nprobe = 8, window = Some(1)).select("vec_id").as[Long].collect().toSet
    assert((residGot & truth).size >= (rawGot & truth).size,
      s"residual ADC (${(residGot & truth).size}) should not lose to raw ADC (${(rawGot & truth).size}) at window=1")
    graft.index.IndexCatalog.drop(spark, name)
  }

  test("IVF+SQ8 residual: exact at full probe/window; windowed recall >= 0.9") {
    val name = "pqspec_ivfsq"
    graft.index.IndexCatalog.drop(spark, name)
    val (m, path) = CodedIvf.ensure(spark, name, emb,
      s"$sf0001/embeddings.parquet", "vec_id", "embedding", nlist = 8, Sq8Quant)
    val exact = CodedIvf.search(spark, path, m, "vec_id", "embedding", q, 50,
      nprobe = 8, window = Some(0)).select("vec_id").as[Long].collect().toSeq
    assert(exact == flatTopk(50))
    val got = CodedIvf.search(spark, path, m, "vec_id", "embedding", q, 50,
      nprobe = 8, window = Some(4)).select("vec_id").as[Long].collect().toSet
    val truth = flatTopk(50).toSet
    val recall = (got & truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"recall=$recall")
    graft.index.IndexCatalog.drop(spark, name)
  }

  test("training is deterministic and codes compress dims*4 -> m bytes") {
    val model2 = Pq.train(emb, "embedding", m = 8, ks = 16)
    assert(model.codebook.toSeq == model2.codebook.toSeq)
    val c = coded.select(col("codes")).head().getAs[Array[Byte]](0)
    assert(c.length == 8)
  }

  test("4-bit packed: codes halve to m/2 bytes, packed ADC == unpacked ADC") {
    val packed = emb.select(col("vec_id"), col("embedding"),
      packedCodec.encode(col("embedding")).as("codes"))
    val c = packed.select(col("codes")).head().getAs[Array[Byte]](0)
    assert(c.length == 4, s"expected m/2=4 packed bytes, got ${c.length}")
    // same accumulation order -> bit-identical scores
    val a = coded.select(col("vec_id"),
        codec.score(col("codes"), q).as("s"))
      .orderBy("vec_id").select("s").as[Double].collect().toSeq
    val b = packed.select(col("vec_id"),
        packedCodec.score(col("codes"), q).as("s"))
      .orderBy("vec_id").select("s").as[Double].collect().toSeq
    assert(a == b)
  }

  test("pq_fast_scan conf analog routes the top-k to the packed artifact") {
    val prev = spark.conf.get("spark.graft.pq.fastScan", "false")
    try {
      spark.conf.set("spark.graft.pq.fastScan", "true")
      val fast = SparkEntry.queries("q_pq_topk_l2")(spark, sf0001)
        .select("vec_id").as[Long].collect().toSeq
      val packed = SparkEntry.queries("q_pq4_topk_l2")(spark, sf0001)
        .select("vec_id").as[Long].collect().toSeq
      assert(fast == packed, "fastScan=true must equal the pq4 path")
    } finally spark.conf.set("spark.graft.pq.fastScan", prev)
  }

  test("4-bit packed: full-window exact, windowed recall@50 >= 0.9") {
    val packed = emb.select(col("vec_id"), col("embedding"),
      packedCodec.encode(col("embedding")).as("codes")).cache()
    val exact = CodedFlat.search(packed, "vec_id", "embedding", q, 50,
      packedCodec, window = Some(0)).select("vec_id").as[Long].collect().toSeq
    assert(exact == flatTopk(50))
    val got = CodedFlat.search(packed, "vec_id", "embedding", q, 50,
      packedCodec, window = Some(8)).select("vec_id").as[Long].collect().toSet
    val truth = flatTopk(50).toSet
    val recall = (got & truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"recall=$recall")
    packed.unpersist()
  }
}
