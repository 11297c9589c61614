package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.index.IndexCatalog
import graft.functions.svecFromDense
import graft.operators._

/** Format and result lock for the flat, IVF and incremental coded
  * scans — the [[CodedFlat]] / [[CodedIvf]] / [[IncrQuant]] counterpart
  * of [[CodedHnswFormatSpec]] — and for the typed (bvec / f16 / svec)
  * IVF artifacts of [[TypedAnn]] and [[IncrIvf]].
  *
  * Per kind it locks the manifest (kind, params, float keys), the
  * SHA-256 of the persisted (id, codes) rows in id order, and the SHA-256
  * of the top-k (id, dist bits) of 3 fixed queries at window 1 — where
  * the rerank cannot hide a changed candidate set — and in exact mode.
  * The locked values were produced by the per-codec Sq8/Pq/Rabitq,
  * IvfSq/IvfPq and IncrQuant implementations that preceded the shared
  * codec over this same fixture, so artifacts already on disk stay
  * readable and their manifests reusable without a rebuild.
  *
  * The typed kinds lock the (id, payload, list_id[, _ver]) rows, and
  * their "window" and "exact" digests are nprobe 1 and nprobe = nlist:
  * the single-query search, the batch search and the KNN join under
  * every metric of the family (the incremental kinds: their one search)
  * — the exact digest also carries the l2 and dot range scans' rows. */
class CodedScanFormatSpec extends SparkSpec {
  import spark.implicits._

  private val Dims = 16
  private val K = 20

  private val (centers, rows) = {
    val rnd = new java.util.Random(42)
    val centers = Array.fill(4)(Array.fill(Dims)((rnd.nextGaussian() * 2).toFloat))
    (centers, Seq.tabulate(2000) { i =>
      val c = centers(i % 4)
      (i * 3L + 1, Array.tabulate(Dims)(j => (c(j) + rnd.nextGaussian() * 0.7).toFloat))
    })
  }
  // one far row widens every SQ8 bound, so SQ8 estimates reorder
  // neighbours at window 1
  private lazy val base: DataFrame =
    (rows :+ (99999L, Array.fill(Dims)(40f))).toDF("id", "vec")
  // appended rows near the query clusters, three of them re-inserting
  // base ids; deletes hit a third of cluster 0 and one appended row
  private lazy val delta: DataFrame = {
    val rnd = new java.util.Random(7)
    (Seq.tabulate(40)(i => 5000L + i) ++ Seq(13L, 16L, 19L)).zipWithIndex
      .map { case (id, i) =>
        (id, centers(i % 3).map(x => (x + 0.3 + rnd.nextGaussian() * 0.7).toFloat))
      }.toDF("id", "vec")
  }
  private val deleted: Seq[Long] = (0 until 2000 by 12).map(_ * 3L + 1) :+ 5001L
  private lazy val srcPath: String = {
    val p = Files.createTempDirectory("codedscanspec_src").toString + "/t"
    base.coalesce(1).write.parquet(p)
    p
  }
  private lazy val src = spark.read.parquet(srcPath)
  private lazy val segDir: String = {
    val d = Files.createTempDirectory("codedscanspec_seg").toString
    Segments.init(spark, d, src, "id")
    Segments.append(spark, d, delta.coalesce(1), "id")
    Segments.delete(spark, d, deleted.toDF("id"), "id")
    d
  }
  private val queries: Seq[Array[Float]] = {
    val rnd = new java.util.Random(99)
    Seq(0, 1, 2).map(c => centers(c).map(x => (x + rnd.nextGaussian() * 0.3).toFloat))
  }

  private def sha(f: java.io.DataOutputStream => Unit): String = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    f(out); out.flush()
    java.security.MessageDigest.getInstance("SHA-256").digest(bos.toByteArray)
      .map("%02x".format(_)).mkString
  }
  private def put(out: java.io.DataOutputStream, v: Any): Unit = v match {
    case l: Long => out.writeLong(l)
    case i: Int => out.writeInt(i)
    case f: Float => out.writeInt(java.lang.Float.floatToRawIntBits(f))
    case d: Double => out.writeLong(java.lang.Double.doubleToRawLongBits(d))
    case s: Short => out.writeShort(s)
    case b: Array[Byte] => out.writeInt(b.length); out.write(b)
    case s: scala.collection.Seq[_] => out.writeInt(s.length); s.foreach(put(out, _))
    case r: Row => (0 until r.length).foreach(i => put(out, r.get(i)))
  }

  /** One artifact kind: its build (-> data dir), the columns of its
    * code digest (sorted by the non-code ones; Nil = the rabitq4 block
    * layout), and the result frames of its searches at window 1 or in
    * exact mode, digested in order. */
  private case class Case(kind: String, build: () => String,
      codeCols: Seq[String], topk: (String, Boolean) => Seq[DataFrame])

  /** Per-query (id, dist) searches over the 3 fixed queries. */
  private def perQuery(search: (String, Array[Float], Boolean) => DataFrame)
      : (String, Boolean) => Seq[DataFrame] = (dir, exact) =>
    queries.map { q =>
      val df = search(dir, q, exact)
      df.select(df.columns.take(2).zip(Seq("long", "double"))
        .map { case (c, t) => col(c).cast(t) }: _*)
    }

  private def name(kind: String) = s"codedscanspec_$kind"
  private def flat(quant: Quant[Codec]): Case = {
    def ensure() = CodedFlat.ensure(spark, name(quant.name), src, srcPath,
      "id", "vec", quant)
    Case(quant.name, () => ensure()._2, Seq("id", quant.codeCol),
      perQuery { (dir, q, exact) => CodedFlat.search(ParquetCache.read(spark, dir), "id",
        "vec", q, K, ensure()._1, window = Some(if (exact) 0 else 1)) })
  }
  private def ivf(quant: ListQuant[ListCodec]): Case = {
    def ensure() = CodedIvf.ensure(spark, name("ivf" + quant.name), src,
      srcPath, "id", "vec", nlist = 4, quant)
    Case("ivf" + quant.name, () => ensure()._2, Seq("id", "list_id", "codes"),
      perQuery { (dir, q, exact) => CodedIvf.search(spark, dir, ensure()._1,
        "id", "vec", q, K, nprobe = if (exact) 4 else 2,
        window = Some(if (exact) 0 else 1)) })
  }
  private def incr(quant: Quant[Codec]): Case = {
    val kind = s"${quant.name}_incr"
    Case(kind, () => IncrQuant.ensure(spark, name(kind), segDir, "id", "vec", quant),
      Seq("id", "_ver", "codes"), perQuery { (_, q, exact) => IncrQuant.search(
        spark, name(kind), segDir, "id", q, K, quant,
        window = if (exact) 0 else 1) })
  }

  /** The typed IVF artifacts at nlist 4: bvec and f16 over the dense
    * source, svec over svec_from_dense(vec). */
  private val TypedNlist = 4
  private val typedQueries: Seq[(Long, Array[Float])] =
    queries.zipWithIndex.map { case (q, i) => (i.toLong, q) }
  private def typedEnsure(p: Payload): (IvfIndex.Model, String) =
    if (p == SvecPayload) TypedAnn.ensure(spark, p, name(p.kind),
      src.select(col("id"), svecFromDense(col("vec")).as("sv")), srcPath,
      "id", "sv", TypedNlist)
    else TypedAnn.ensure(spark, p, name(p.kind), src, srcPath, "id", "vec",
      TypedNlist)
  /** The l2-family and dot range scans' rows (id, list_id) in id order,
    * pruned in the densified query space. */
  private def typedRanges(p: Payload, dir: String,
      m: IvfIndex.Model): Seq[DataFrame] = {
    val (r2, rDot) = if (p == BvecPayload) (4.0, -5.0) else (20.0, -40.0)
    val model = IvfIndex.Model("l2", m.centroids)
    queries.flatMap { q =>
      val qd = p.densify(q)
      Seq(IvfIndex.rangeScan(spark, dir, model, m.radii, qd, r2),
        IvfIndex.rangeScanDot(spark, dir, model, m.radii, qd, rDot))
        .map(_.select(col("id"), col("list_id")).orderBy(col("id")))
    }
  }
  private def typed(p: Payload, metrics: Seq[String]): Case = {
    val qdf = typedQueries.toDF("qid", "qv")
    Case(p.kind, () => typedEnsure(p)._2,
      Seq("id", p.payloadCol, "list_id"), { (dir, exact) =>
        val m = typedEnsure(p)._1
        val nprobe = if (exact) TypedNlist else 1
        metrics.flatMap(met => queries.map(q =>
          TypedAnn.search(spark, p, dir, m, "id", q, K, nprobe, met))) ++
        metrics.map(met => TypedAnn.batchSearch(spark, p, dir, m, "id",
          typedQueries, K, nprobe, met)) ++
        metrics.map(met => KnnJoin.joinTyped(spark, qdf, "qid", "qv", dir, m,
          "id", p, K, nprobe, met).orderBy(col("qid"), col("rn"))) ++
        (if (exact) typedRanges(p, dir, m) else Nil)
      })
  }
  private def typedIncr(p: Payload, metric: String): Case = {
    val kind = p.kind + "_incr"
    Case(kind, () => IncrIvf.ensure(spark, name(kind), segDir, "id", "vec",
        metric, nlist = TypedNlist),
      Seq("id", "_ver", p.payloadCol, "list_id"), { (_, exact) =>
        queries.map(q => IncrIvf.search(spark, name(kind), segDir, "id", q, K,
          nprobe = if (exact) TypedNlist else 1))
      })
  }
  private lazy val cases: Map[String, Case] = (Seq(
    flat(Sq8Quant), flat(PqQuant(m = 4)), flat(PqQuant(m = 4, packed = true)),
    flat(RabitqQuant),
    Case("rabitq4", () => Rabitq4.ensure(spark, name("rabitq4"), src, srcPath,
        "id", "vec")._2, Nil, perQuery { (dir, q, exact) =>
      val (model, _) = Rabitq4.ensure(spark, name("rabitq4"), src, srcPath, "id", "vec")
      Rabitq4.search(spark, dir, "id", "vec", q, K, model, window = if (exact) 0 else 1)
    }),
    ivf(Sq8Quant), ivf(PqQuant(m = 4)),
    incr(Sq8Quant), incr(PqQuant()), incr(RabitqQuant),
    typed(BvecPayload, Seq("hamming", "jaccard", "dot")),
    typed(F16Payload, Seq("l2", "dot", "cos")),
    typed(SvecPayload, Seq("l2", "dot", "cos")),
    typedIncr(BvecPayload, "hamming"), typedIncr(F16Payload, "f16"),
    typedIncr(SvecPayload, "svec")
  ).map(c => c.kind -> c)).toMap

  // exact mode is codec-independent: one digest for the source table,
  // one for the visible rows of the segment store
  private val Exact = "d4900915f63694ca22d4ef0d802bc2e1ccd893d8abc5b74d0358df8296ac159b"
  private val IncrExact = "6c9e268fc1b00b6f8e06d13b4bb4372b97bcebe0bc49a29049e04f5419787a5b"

  // (kind, params, float keys, codes SHA-256, window-1 top-k SHA-256,
  //  exact top-k SHA-256)
  private val locked = Seq(
    ("sq8", Map("bits" -> "8"),
      Seq("mins", "widths"),
      "716a83fd3bf68f833c17a6f85966c8546d60a42141aa08e62cafad32177352de",
      "6b2fc80e083e7f2881700e4e875c880b2284d1614b10e3d4260b01da5253ff54", Exact),
    ("pq", Map("dims" -> "16", "ks" -> "16", "m" -> "4"),
      Seq("codebook"),
      "04f74159b79734623b5d54da26de10d79549ebd67b24d3e886a6bf68026a1a7f",
      "99bb35767dee615b8f8d419e594eb366e46fdbd21ec4b78496fda2c80ba7ca6e", Exact),
    ("pq4", Map("dims" -> "16", "ks" -> "16", "m" -> "4"),
      Seq("codebook"),
      "1b279782f643dc8dd3f34fcadd28e9e08cb5f4a84a761d5bab0059b8d3a380e8",
      "99bb35767dee615b8f8d419e594eb366e46fdbd21ec4b78496fda2c80ba7ca6e", Exact),
    ("rabitq", Map("dims" -> "16"),
      Seq("centroid", "rot"),
      "d85af1cd3cd41255c652b30dc1cc06acd2bcf7b0a53cb4729f8b43f622a03f07",
      "4c017d9e181f06011fbed930954725daa2aff79069202ca61ad2bfb6283dff26", Exact),
    ("rabitq4", Map("dims" -> "16", "format" -> "rq4block1"),
      Seq("centroid", "rot"),
      "416f326b5832e7b1b6fc64775c378552f7bc6247b47fe2b8f121eea87746374e",
      "4c017d9e181f06011fbed930954725daa2aff79069202ca61ad2bfb6283dff26", Exact),
    ("ivfsq8", Map("bits" -> "8", "kind2" -> "ivfsq8", "nlist" -> "4"),
      Seq("mins", "widths"),
      "20b93858d75fc6fc4495ee01266d2fc47c38ae8df87c8c26f2d4e9831726168c",
      "1b59c5fb0a17effb92f6f307488a7ce92edf440b943e829299f4f14bcd183988", Exact),
    ("ivfpq", Map("dims" -> "16", "kind2" -> "ivfpq", "ks" -> "16", "m" -> "4", "nlist" -> "4"),
      Seq("codebook"),
      "bb3ffc665fb3df1e9b60a77bc6bf064f75857fb31408029997241ef898952423",
      "db65dd8a0b62c977556ce08bbc1c773d535f520fd7265d925199674c5d41c0e2", Exact),
    ("sq8_incr", Map("bits" -> "8", "gen" -> "0", "seq" -> "2"),
      Seq("mins", "widths"),
      "a1bc1613e3d2ad2d8225540d8e60d3f3f76142a9356d2cb7add45038f3367f1a",
      "10eb0c0be6e16f841e7568e4b74f219f82577b766c9a32c6460b453552e6cec2", IncrExact),
    ("pq_incr", Map("dims" -> "16", "gen" -> "0", "ks" -> "16", "m" -> "8", "seq" -> "2"),
      Seq("codebook"),
      "370780d65247bd7a1ea5f0e5ec9dfead577bcc20193e101efba7ce47ade36369",
      "badc908b20ae50199e1ae72d52ada703f804e500c7727ca4e12bdff44b2b1b22", IncrExact),
    ("rabitq_incr", Map("dims" -> "16", "gen" -> "0", "seq" -> "2"),
      Seq("centroid", "rot"),
      "ad0d2e2086346fa6b4d3bf6dd5e82965f4b681709be6a09f06c9786dfa3b9fa2",
      "826ee1433617209e9ea4326ebd7244e51f2863d11f5fc3a77512a9cf22a0e4ff", IncrExact),
    ("ivf_bvec", Map("nlist" -> "4", "probe_cal" -> "cal3", "probe_hint" -> "1",
        "stats" -> "radii1", "type" -> "bvector"),
      Seq("radii"),
      "d5a6f12a618fc6c8c1f265b9a3820f1aa720eaa7cf8e967c35d1ad5d948b5508",
      "6dfa57b2c3010ca1c6784fe7f519572e5eceeab55de7502033ac7c2af912226c",
      "4155d0b47e4af71dce091ca5f148b34288b2d5b47fc7a3af5490fd76b6f68a30"),
    ("ivf_f16", Map("nlist" -> "4", "probe_cal" -> "cal3", "probe_hint" -> "1",
        "stats" -> "radii1", "type" -> "vecf16"),
      Seq("radii"),
      "e2412d7d61ced74483feaf3a97fe4c347aa6b4aa954bedd9bbb28737c2f95f9d",
      "6317f3075ebc22c7f98bb68b136317ad5d0f2323bcb3a89d122c4ab49810085d",
      "fdd3c0849935d9df9bb43fac8fb81c2c812dfbfed84b14a61ba5624f8cdcc15f"),
    ("ivf_svec", Map("nlist" -> "4", "probe_cal" -> "cal3", "probe_hint" -> "1",
        "stats" -> "radii1", "type" -> "svector"),
      Seq("radii"),
      "4a6d931bdf474b125e22f68e350018069dd35e1e34fc3154a2200c5de5e4b145",
      "dcc4bd73f5eb11a8eac30c74b9daff3cb8a0a76ceb0c3bb5dcf4f1350c2e8fc4",
      "673151dbff779e6c5f72e86276b558bb96ecb5dfe98cbfebb1a283b728072e70"),
    ("ivf_bvec_incr", Map("gen" -> "0", "nlist" -> "4", "probe_cal" -> "cal3",
        "probe_hint" -> "1", "seq" -> "2"),
      Nil,
      "a8f44368b6170190bf05ed523a0441e3bbde69a4b907429e97fb7f2bc8609ccd",
      "d8fb4543ed3fb2c92138d5f2471b13a7b298f32a6d8b77222004ec8cbb101275",
      "d8fb4543ed3fb2c92138d5f2471b13a7b298f32a6d8b77222004ec8cbb101275"),
    ("ivf_f16_incr", Map("gen" -> "0", "nlist" -> "4", "probe_cal" -> "cal3",
        "probe_hint" -> "1", "seq" -> "2"),
      Nil,
      "47013672cea1d39a98f42e6ef8757d13fb762c6690f2b553703877d1c70f02c9",
      "607fd0c543c58be2b6603e941cf64a5be0318d36910268e9538bf268b7b775c7",
      "607fd0c543c58be2b6603e941cf64a5be0318d36910268e9538bf268b7b775c7"),
    // svec_from_dense keeps every entry of this (zero-free) fixture, so
    // its l2 top-k is the dense exact one over the same store
    ("ivf_svec_incr", Map("gen" -> "0", "nlist" -> "4", "probe_cal" -> "cal3",
        "probe_hint" -> "1", "seq" -> "2"),
      Nil,
      "fdd340e29e2c1b08a5a3c9c4709f3e3622d2d3210379e25fab9cb5a3663e8b80",
      IncrExact, IncrExact))

  for ((kind, params, floatKeys, codesSha, windowSha, exactSha) <- locked)
    test(s"$kind: manifest, codes and top-k are bit-identical to the locked format") {
      val c = cases(kind)
      IndexCatalog.drop(spark, name(kind))
      try {
        val dir = c.build()
        val mf = IndexCatalog.load(spark, name(kind)).get
        assert(mf.kind == kind)
        assert(mf.params == params)
        assert(mf.floats.keys.toSeq == floatKeys)
        val coded =
          if (c.codeCols.nonEmpty)
            spark.read.parquet(dir).select(c.codeCols.map(col): _*)
              .orderBy(c.codeCols.filterNot(
                Set("codes", "code", "list_id", "bv", "bits", "sv")).map(col): _*)
          else spark.read.parquet(s"$dir/blocks")
            .select(col("ids"), col("packed"), col("norms"), col("cosvs"))
            .orderBy(col("ids").getItem(0))
        val codeRows = coded.collect()
        assert(sha(out => codeRows.foreach(put(out, _))) == codesSha, "codes")
        def topk(exact: Boolean) = sha { out =>
          c.topk(dir, exact).foreach(_.collect().foreach(put(out, _)))
        }
        assert(topk(exact = false) == windowSha, "window-1 top-k")
        assert(topk(exact = true) == exactSha, "exact top-k")
      } finally IndexCatalog.drop(spark, name(kind))
    }

  test("flat ensure rebuilds on a different (m, ks) and reuses the same one") {
    val n = name("pq_requires")
    IndexCatalog.drop(spark, n)
    try {
      def ensure(m: Int, ks: Int) =
        CodedFlat.ensure(spark, n, src, srcPath, "id", "vec", PqQuant(m, ks))
      val manifest = new java.io.File(IndexCatalog.dir(spark, n), "MANIFEST.bin")
      val (c8, _) = ensure(8, 16)
      assert(c8.model.m == 8)
      val stamp = manifest.lastModified()
      Thread.sleep(1100) // a rewrite must be able to move the mtime
      val (again, _) = ensure(8, 16)
      assert(manifest.lastModified() == stamp, "same (m, ks) rebuilt")
      assert(again.model.codebook.toSeq == c8.model.codebook.toSeq)
      val (c4, _) = ensure(4, 16)
      assert(c4.model.m == 4 && c4.model.ks == 16, "stale m=8 codebook served")
      assert(IndexCatalog.load(spark, n).get.params("m") == "4")
      val (c4k8, _) = ensure(4, 8)
      assert(c4k8.model.ks == 8, "stale ks=16 codebook served")
      // same name and requires, another kind: each builds its own
      // artifact — never the other kind's codes served as its own
      def ensureQ[C <: Codec](q: Quant[C]) =
        CodedFlat.ensure(spark, n, src, srcPath, "id", "vec", q)
      ensureQ(PqQuant(4, 16))
      val (p4, _) = ensureQ(PqQuant(4, 16, packed = true))
      assert(IndexCatalog.load(spark, n).get.kind == "pq4", "pq codes served as pq4")
      assert(p4.packed)
      ensureQ(Sq8Quant)
      ensureQ(RabitqQuant) // loaded sq8's manifest as rabitq's: key not found
      assert(IndexCatalog.load(spark, n).get.kind == "rabitq")
    } finally IndexCatalog.drop(spark, n)
  }
}
