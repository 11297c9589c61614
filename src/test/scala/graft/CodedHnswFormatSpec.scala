package graft

import graft.operators.{CodedHnsw, Hnsw, Pq, PqCodec, Rabitq, RabitqCodec, Sq8Codec}
import org.scalatest.funsuite.AnyFunSuite

/** Format lock for the coded HNSW artifacts, and the shared residency
  * budget of the graph cache. Spark-free.
  *
  * The locked digests were produced by the per-codec HNSW×SQ8, ×PQ and
  * ×RaBitQ implementations that preceded [[CodedHnsw]], over this same
  * fixture: a seed-42 `Hnsw.Graph("l2")` of 500 seeded clustered rows
  * (16 dims), fixed SQ8 bounds, a fixed PQ codebook and a fixed RaBitQ
  * rotation. Artifacts already on disk therefore stay readable, and
  * manifests written before stay reusable without a rebuild. */
class CodedHnswFormatSpec extends AnyFunSuite {
  import CodedHnsw._

  private val Dims = 16
  private val rows: Array[(Long, Array[Float])] = {
    val rnd = new java.util.Random(42)
    val centers = Array.fill(4)(Array.fill(Dims)((rnd.nextGaussian() * 2).toFloat))
    Array.tabulate(500) { i =>
      val c = centers(i % 4)
      (i * 3L + 1, Array.tabulate(Dims)(j => (c(j) + rnd.nextGaussian() * 0.7).toFloat))
    }
  }
  private val queries: Seq[Array[Float]] = {
    val rnd = new java.util.Random(99)
    Seq.fill(3)(Array.fill(Dims)((rnd.nextGaussian() * 2).toFloat))
  }
  private val sq8 = Sq8Codec(Array.fill(Dims)(-4f), Array.fill(Dims)(8f))
  private val pq = PqCodec({
    val rnd = new java.util.Random(11)
    Pq.Model(Dims, 4, 16, Array.fill(4 * 16 * 4)((rnd.nextGaussian() * 2).toFloat))
  })
  private val rabitq = RabitqCodec({
    val rnd = new java.util.Random(13)
    Rabitq.Model(Dims, Array.fill(Dims)((rnd.nextGaussian() * 0.5).toFloat),
      Rabitq.randomRotation(Dims, 42L))
  })
  private lazy val flat = {
    val g = new Hnsw.Graph("l2")
    rows.foreach { case (id, v) => g.insert(id, v) }
    g.snapshot
  }

  private def sha(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map("%02x".format(_)).mkString
  private def bytes(f: java.io.DataOutputStream => Unit): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    f(out); out.flush(); bos.toByteArray
  }
  private def frontierSha(fs: Seq[Seq[(Double, Long)]]): String = sha(bytes { out =>
    fs.foreach(_.foreach { case (d, id) =>
      out.writeLong(java.lang.Double.doubleToRawLongBits(d)); out.writeLong(id)
    })
  })

  // (artifact SHA-256, SHA-256 of the ef=16 frontiers of the 3 queries)
  private val locked = Seq(
    ("sq8", sq8,
      "6ea117e1ce5bb4e6d2970f7e1743692c68e9b47bb44416c5ec953cbfd58cc49e",
      "282dc1f4637ade045e15ae26208c26fb2c4f58036d4dbc53607dbd2f45be59ac"),
    ("pq", pq,
      "2c8a6fce93d56dd5e0b2df79698658c3be32c8ce243e3f3005e8ee22dbd75eec",
      "d754d412e8c8c6f1b5d2373514825ff905d9cb7e8363c4ccfe5d20da23a94c37"),
    ("rabitq", rabitq,
      "3e9495ef54fa5bef9b6b807163df1fd1fc3a06fc7d5536604af6f98441d21253",
      "b9481346e700a83b7ce77165be1f30ef02dee130f81e1c440b84f672fa8bfcc6"))

  test("coded artifacts and frontiers are bit-identical to the locked SQ8/PQ/RaBitQ formats") {
    for ((name, codec, artifactSha, frontSha) <- locked) {
      val g = codec.encode(flat)
      val written = bytes(CodedGraph.write(_, g))
      assert(sha(written) == artifactSha, s"$name artifact")
      val back = CodedGraph.read(new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(written)))
      val fronts = queries.map(q => back.searchFrontier(codec.probe(q), 16))
      assert(fronts.forall(_.size == 16), s"$name frontier size")
      assert(frontierSha(fronts) == frontSha, s"$name frontier")
      assert(queries.map(q => g.searchFrontier(codec.probe(q), 16)) == fronts,
        s"$name in-memory vs read-back frontier")
    }
  }

  test("manifest params, requires maps and kinds are unchanged per codec") {
    val routing = Map("routing" -> "centroid5", "routable" -> "yes",
      "suggest_parts" -> "2")
    val graph = Map("ef_construction" -> "300", "parts" -> "2")
    val want = Seq(
      (sq8, "hnsw_sq8", "sqgraph",
        graph ++ Map("format" -> "sqflatbin3", "m" -> "12",
          "routing" -> "centroid5"),
        graph ++ routing ++ Map("format" -> "sqflatbin3", "m" -> "12",
          "files" -> "2", "bits" -> "8"),
        Seq("mins", "widths")),
      (pq, "hnsw_pq", "pqgraph",
        graph ++ Map("format" -> "pqflatbin3", "m" -> "4", "ks" -> "16",
          "hnsw_m" -> "12", "routing" -> "centroid5"),
        graph ++ routing ++ Map("format" -> "pqflatbin3", "m" -> "4",
          "ks" -> "16", "hnsw_m" -> "12", "dims" -> "16", "files" -> "2"),
        Seq("codebook")),
      (rabitq, "hnsw_rabitq", "rqgraph",
        graph ++ Map("format" -> "rqflatbin3", "m" -> "12",
          "routing" -> "centroid5"),
        graph ++ routing ++ Map("format" -> "rqflatbin3", "m" -> "12",
          "files" -> "2", "dims" -> "16"),
        Seq("centroid", "rot")))
    for ((codec, kind, prefix, requires, params, floatKeys) <- want) {
      assert(CodedHnsw.requires(codec.quant, 12, 300, 2) == requires, kind)
      assert(CodedHnsw.requires(codec.quant, 12, 300, 1) ==
        requires - "routing" + ("parts" -> "1"), kind)
      assert(layout(codec.quant).prefix == prefix, kind)
      val mf = CodedHnsw.manifest(codec, "src", 2, 12, 300, 2, routing)
      assert(mf.kind == kind && mf.metric == "l2" && mf.source == "src")
      assert(mf.params == params, kind)
      assert(mf.floats.keys.toSeq == floatKeys, kind)
      // a manifest persisted by either implementation rebuilds the codec
      val reloaded = codec.quant.load(mf)
      assert(sha(bytes(CodedGraph.write(_, reloaded.encode(flat)))) ==
        sha(bytes(CodedGraph.write(_, codec.encode(flat)))), kind)
    }
  }

  test("graph cache: raw and coded graphs share one byte budget") {
    def artifact(prefix: String)(write: java.io.DataOutputStream => Unit): String = {
      val f = java.io.File.createTempFile(prefix, ".bin")
      f.deleteOnExit()
      val out = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(new java.io.FileOutputStream(f)))
      try write(out) finally out.close()
      f.getAbsolutePath
    }
    val coded = sq8.encode(flat)
    val flatPath = artifact("sharedbudget-flat")(Hnsw.FlatGraph.write(_, flat))
    val codedPath = artifact("sharedbudget-coded")(CodedGraph.write(_, coded))
    val flatBytes = Hnsw.GraphCache.estBytes(flat)
    val codedBytes = Hnsw.GraphCache.estBytes(coded)
    val budget = flatBytes + codedBytes - 1
    val conf = new org.apache.hadoop.conf.Configuration()
    Hnsw.GraphCache.clearForTest()
    try {
      Hnsw.GraphCache.setBudgetForTest(budget)
      Hnsw.GraphCache.get(flatPath, conf)
      Hnsw.GraphCache.getCoded(codedPath, conf)
      assert(Hnsw.GraphCache.residentBytes <= budget)
      assert(Hnsw.GraphCache.residentCount == 1)
      // the older (raw) graph was evicted: reading it again is a load
      val (_, loads0) = Hnsw.GraphCache.counters
      Hnsw.GraphCache.get(flatPath, conf)
      val (_, loads1) = Hnsw.GraphCache.counters
      assert(loads1 == loads0 + 1)
    } finally {
      Hnsw.GraphCache.setBudgetForTest(-1)
      Hnsw.GraphCache.clearForTest()
    }
  }
}
