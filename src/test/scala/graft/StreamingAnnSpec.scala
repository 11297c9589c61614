package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.Hnsw

/** Continuous ANN: a stream of query vectors answered per micro-batch
  * against the resident HNSW artifact (foreachBatch + searchIndexBatch —
  * the index loads once per executor via GraphCache, so steady-state
  * micro-batches do no artifact I/O). Results must be identical to the
  * batch entry point on the same queries. */
class StreamingAnnSpec extends SparkSpec {
  import spark.implicits._

  test("streaming ingest feeds incremental HNSW: side graphs only, search sees streamed rows") {
    import java.nio.file.Files
    import graft.operators.{IncrHnsw, Segments}
    import graft.streaming.StreamingIngest
    val segDir = Files.createTempDirectory("graft_stream_incr").toString
    val name = "streamspec_incr"
    graft.index.IndexCatalog.drop(spark, name)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    Segments.init(spark, segDir, emb, "vec_id")
    val dir = IncrHnsw.ensure(spark, name, segDir, "vec_id", "embedding")
    def binMtimes: Map[String, Long] =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".bin"))
        .map(f => f.getName -> f.lastModified()).toMap
    val m0 = binMtimes

    // stream two micro-batches of mirror vectors through the segment sink
    val qv: Array[Float] = emb.filter($"vec_id" === 7)
      .select($"embedding").head().getSeq[Float](0).toArray
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Array[Float])]
    // autoSeal=false: this store backs an INCREMENTAL index, and plain
    // compact would delete tombstones promote-on-compact still needs
    // (the round-8 sealing convention)
    val sq = StreamingIngest.intoSegments(
      source.toDF().toDF("vec_id", "embedding"), segDir, "vec_id",
      autoSeal = false).start()
    try {
      source.addData((50007L, qv)); sq.processAllAvailable()
      source.addData((50008L, qv)); sq.processAllAvailable()
    } finally sq.stop()

    // incremental ensure: only side graphs appear, base files untouched
    IncrHnsw.ensure(spark, name, segDir, "vec_id", "embedding")
    val m1 = binMtimes
    assert(m1.keySet.diff(m0.keySet).forall(_.startsWith("side-")),
      s"stream ingest rebuilt a base graph: ${m1.keySet}")
    assert(m0.forall { case (k, v) => m1(k) == v }, "existing graph rewritten")

    // the streamed duplicates surface at distance 0 next to the original
    val got = IncrHnsw.search(spark, name, segDir, "vec_id", qv, 3, exact = true)
      .as[(Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(7L, 50007L, 50008L), s"got $got")
    assert(got.forall(_._2 == 0.0))
  }

  test("streaming ingest feeds incremental IVF and quantized artifacts: append-only, search sees streamed rows") {
    import java.nio.file.Files
    import graft.operators.{IncrIvf, IncrQuant, Segments, Sq8Quant}
    import graft.streaming.StreamingIngest
    val segDir = Files.createTempDirectory("graft_stream_incrq").toString
    val ivfName = "streamspec_incrivf"
    val sqName = "streamspec_incrsq8"
    graft.index.IndexCatalog.drop(spark, ivfName)
    graft.index.IndexCatalog.drop(spark, sqName)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    Segments.init(spark, segDir, emb, "vec_id")
    val ivfDir = IncrIvf.ensure(spark, ivfName, segDir, "vec_id", "embedding",
      metric = "l2", nlist = 8)
    val sqDir = IncrQuant.ensure(spark, sqName, segDir, "vec_id", "embedding", Sq8Quant)
    def pqFiles(dir: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.lastModified()).toMap
    }
    val ivf0 = pqFiles(ivfDir); val sq0 = pqFiles(sqDir)

    val qv: Array[Float] = emb.filter($"vec_id" === 7)
      .select($"embedding").head().getSeq[Float](0).toArray
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Array[Float])]
    // autoSeal=false: this store backs an INCREMENTAL index, and plain
    // compact would delete tombstones promote-on-compact still needs
    // (the round-8 sealing convention)
    val sq = StreamingIngest.intoSegments(
      source.toDF().toDF("vec_id", "embedding"), segDir, "vec_id",
      autoSeal = false).start()
    try {
      source.addData((60007L, qv)); sq.processAllAvailable()
      source.addData((60008L, qv)); sq.processAllAvailable()
    } finally sq.stop()

    IncrIvf.ensure(spark, ivfName, segDir, "vec_id", "embedding",
      metric = "l2", nlist = 8)
    IncrQuant.ensure(spark, sqName, segDir, "vec_id", "embedding", Sq8Quant)
    val ivf1 = pqFiles(ivfDir); val sq1 = pqFiles(sqDir)
    assert(ivf0.forall { case (f, t) => ivf1.get(f).contains(t) },
      "stream ingest rewrote a sealed IVF list file")
    assert(sq0.forall { case (f, t) => sq1.get(f).contains(t) },
      "stream ingest rewrote a sealed quantized file")
    assert(ivf1.size > ivf0.size && sq1.size > sq0.size)

    val gotIvf = IncrIvf.search(spark, ivfName, segDir, "vec_id", qv, 3, nprobe = 8)
      .as[(Long, Double)].collect().toSeq
    assert(gotIvf.map(_._1) == Seq(7L, 60007L, 60008L), s"got $gotIvf")
    val gotSq = IncrQuant.search(spark, sqName, segDir, "vec_id", qv, 3, Sq8Quant, window = 0)
      .as[(Long, Double)].collect().toSeq
    assert(gotSq.map(_._1) == Seq(7L, 60007L, 60008L), s"got $gotSq")
    assert(gotSq.forall(_._2 == 0.0))
  }

  test("streamed query batches match batch searchIndexBatch exactly") {
    val path = graft.queries.AnnQueries.hnsw(spark, sf0001, parts = 1)
    val queries = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter($"vec_id" < 6)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toSeq

    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Array[Float])]
    val sink = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    val q = source.toDS().toDF("qid", "qv").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val qs = batch.select($"qid", $"qv").as[(Long, Array[Float])]
          .collect().toSeq
        if (qs.nonEmpty) {
          val res = Hnsw.searchIndexBatch(batch.sparkSession, path, "vec_id",
            qs, k = 10, exact = true)
          sink.synchronized {
            sink ++= res.select($"qid", $"vec_id", $"dist")
              .as[(Long, Long, Double)].collect()
          }
        }
        ()
      }.start()
    try {
      source.addData(queries.take(3): _*)
      q.processAllAvailable()
      source.addData(queries.drop(3): _*)
      q.processAllAvailable()
    } finally q.stop()

    val want = Hnsw.searchIndexBatch(spark, path, "vec_id", queries,
        k = 10, exact = true)
      .select($"qid", $"vec_id", $"dist").as[(Long, Long, Double)]
      .collect().toSet
    val got = sink.toSet
    assert(got == want,
      s"streamed ANN diverged: got ${got.size} rows want ${want.size}")
  }

  test("serveKnn helpers: streamed micro-batches equal the batch table joins, no driver collect") {
    import graft.operators.KnnJoin
    import graft.streaming.StreamingIngest
    val hpath = graft.queries.AnnQueries.hnsw(spark, sf0001, parts = 1)
    val (m, ipath) = graft.queries.AnnQueries.ivf(spark, sf0001, "l2")
    val queriesDf = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter($"vec_id" < 8).select($"vec_id", $"embedding")
    val queries = queriesDf.as[(Long, Array[Float])].collect().toSeq

    implicit val sqlCtx = spark.sqlContext
    for (kind <- Seq("ivf", "hnsw")) {
      val source = MemoryStream[(Long, Array[Float])]
      val sink = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
      def drain(df: org.apache.spark.sql.DataFrame): Unit = sink.synchronized {
        sink ++= df.select($"qid", $"vec_id", $"dist")
          .as[(Long, Long, Double)].collect()
      }
      val stream = source.toDS().toDF("vec_id", "embedding")
      val writer =
        if (kind == "ivf")
          StreamingIngest.serveKnnIvf(stream, "vec_id", "embedding",
            ipath, m, "vec_id", "embedding", k = 5, nprobe = m.nlist)(drain)
        else
          StreamingIngest.serveKnnHnsw(stream, hpath, "vec_id",
            "vec_id", "embedding", k = 5, exact = true)(drain)
      val q = writer.start()
      try {
        source.addData(queries.take(3): _*)
        q.processAllAvailable()
        source.addData(queries.drop(3): _*)
        q.processAllAvailable()
      } finally q.stop()

      val want = (if (kind == "ivf")
          KnnJoin.join(spark, queriesDf, "vec_id", "embedding", ipath, m,
            "vec_id", "embedding", k = 5, nprobe = m.nlist)
        else
          graft.operators.Hnsw.knnJoin(spark, hpath, "vec_id", queriesDf,
            "vec_id", "embedding", k = 5, exact = true))
        .select($"qid", $"vec_id", $"dist").as[(Long, Long, Double)]
        .collect().toSet
      assert(sink.toSet == want, s"$kind: streamed serve diverged")
    }
  }

  test("serveKnnHnsw routes micro-batches like the routed batch join") {
    import graft.streaming.StreamingIngest
    // parts=4 -> spatial build with a routing sidecar; g=2 routed serve
    // must equal the routed batch join on the same query set
    val hpath = graft.queries.AnnQueries.hnsw(spark, sf0001, parts = 4)
    val queriesDf = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter($"vec_id" < 8).select($"vec_id", $"embedding")
    val queries = queriesDf.as[(Long, Array[Float])].collect().toSeq
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Array[Float])]
    val sink = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    def drain(df: org.apache.spark.sql.DataFrame): Unit = sink.synchronized {
      sink ++= df.select($"qid", $"vec_id", $"dist")
        .as[(Long, Long, Double)].collect()
    }
    val writer = StreamingIngest.serveKnnHnsw(
      source.toDS().toDF("vec_id", "embedding"), hpath, "vec_id",
      "vec_id", "embedding", k = 5, probeGraphs = 2)(drain)
    val q = writer.start()
    try {
      source.addData(queries: _*)
      q.processAllAvailable()
    } finally q.stop()
    val want = graft.operators.Hnsw.knnJoin(spark, hpath, "vec_id",
        queriesDf, "vec_id", "embedding", k = 5, probeGraphs = 2)
      .select($"qid", $"vec_id", $"dist").as[(Long, Long, Double)]
      .collect().toSet
    assert(sink.toSet == want, "routed streamed serve diverged")
  }
}
