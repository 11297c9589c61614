package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.index.IndexCatalog

/**
 * HNSW over a quantizer codec — the Spark analog of the reference's
 * sealed HNSW × {Sq, Pq, Rq} compositions
 * (crates/indexing/src/sealed.rs:25-29). The persisted graph stores
 * CODES instead of raw f32 (SQ8: one byte per dimension; PQ: one byte
 * per subspace; RaBitQ: D sign bits plus two f32 corrections per node),
 * so the executor-resident artifact is 4× to ~32× smaller; traversal
 * scores approximate distances through a per-query lookup table, and
 * the ef frontier is exact-reranked by re-fetching just the candidate
 * rows from the source table (the reranker-heap analog,
 * crates/quantization/src/reranker/flat.rs).
 *
 * Graph CONSTRUCTION runs on raw f32 (exact neighbor selection — build
 * cost is one-time; a graph built on quantized distances bakes the
 * quantization error into its edges). Codes are produced at snapshot.
 *
 * Exact mode follows the [[CodedFlat]] window<=0 precedent: skip the coarse
 * graphs entirely and score every source row exactly — provably the
 * flat top-k, which is what lets the twins carry the flat DuckDB
 * oracle.
 */
object CodedHnsw {

  /** Per-query scorer over a [[CodedGraph]]: the estimate for a node is
    * Σ_i lut(i·stride + code_i), followed by RaBitQ's per-node
    * correction when the graph carries (norm, cos) columns — `qNorm` and
    * `scale` (= √D·qNorm) serve only that correction. */
  final class Probe(val lut: Array[Double], val stride: Int,
      val qNorm: Double = 0.0, val scale: Double = 0.0) extends Serializable

  /** The coded-graph layout of a codec family: graph file prefix,
    * format key and default rerank window. SQ8's estimate error is
    * small (window 4). PQ's ADC estimate error is large enough that an
    * ef == k beam misses true neighbors the rerank could have recovered
    * (measured recall@100 0.66 at ef=100 vs >=0.95 at k·window), hence
    * its wider window (8). RaBitQ's bit-estimate error at ef == k also
    * leaves recoverable neighbors outside the beam; window 4 recovers
    * them. */
  final case class Layout(prefix: String, format: String, window: Int)

  def layout(quant: Quant[Codec]): Layout = quant match {
    case Sq8Quant => Layout("sqgraph", "sqflatbin3", 4)
    case PqQuant(_, _, false) => Layout("pqgraph", "pqflatbin3", 8)
    case RabitqQuant => Layout("rqgraph", "rqflatbin3", 4)
    case q => throw new IllegalArgumentException(
      s"${q.name} codes have no coded-graph layout")
  }

  /** Manifest entries an existing artifact must match to be reused. `m`
    * is the graph degree; PQ persists it as `hnsw_m` beside its own
    * subspace count `m`. */
  def requires(quant: Quant[Codec], m: Int, efConstruction: Int,
      parts: Int): Map[String, String] =
    Map("format" -> layout(quant).format,
      "ef_construction" -> efConstruction.toString,
      "parts" -> parts.toString) ++
      (quant match {
        case pq: PqQuant => pq.requires + ("hnsw_m" -> m.toString)
        case _ => Map("m" -> m.toString)
      }) ++
      (if (parts > 1) Map("routing" -> Hnsw.RoutingGen) else Map.empty)

  /** Columnar coded graph: FlatGraph's CSR adjacency with `codeBytes`
    * code bytes per node instead of the float vector matrix, plus the
    * per-node (norm, cos) columns of a RaBitQ graph (null otherwise).
    * `dims` is the artifact header's dimension field: code bytes per
    * node for SQ8/PQ graphs, vector dims for RaBitQ graphs. */
  final class CodedGraph(
      val dims: Int, val ids: Array[Long], val codes: Array[Byte],
      val norms: Array[Float], val cosvs: Array[Float],
      val levels: Array[Int], val listStart: Array[Int],
      val nbrOff: Array[Int], val nbrs: Array[Int],
      val entry: Int, val maxLevel: Int) extends Serializable {

    val codeBytes: Int = if (norms == null) dims else (dims + 7) / 8

    @inline private def distTo(p: Probe, node: Int): Double = {
      val lut = p.lut; val stride = p.stride
      val off = node * codeBytes
      var acc = 0.0; var i = 0
      while (i < codeBytes) { acc += lut(i * stride + (codes(off + i) & 0xff)); i += 1 }
      if (norms == null) acc
      else RabitqCodec.estimate(acc, norms(node).toDouble, cosvs(node).toDouble, p)
    }

    private def greedyStep(p: Probe, start: Int, level: Int): Int = {
      var cur = start
      var curD = distTo(p, cur)
      var improved = true
      while (improved) {
        improved = false
        val li = listStart(cur) + level
        var j = nbrOff(li)
        val end = nbrOff(li + 1)
        while (j < end) {
          val n = nbrs(j)
          val d = distTo(p, n)
          if (d < curD) { curD = d; cur = n; improved = true }
          j += 1
        }
      }
      cur
    }

    private def searchLayer(p: Probe, ep: Int, ef: Int,
        level: Int): IndexedSeq[(Double, Int)] = {
      val visited = mutable.BitSet(ep)
      val epD = distTo(p, ep)
      val cand = mutable.PriorityQueue((-epD, ep))(Ordering.by(_._1))
      val res = mutable.PriorityQueue((epD, ep))(Ordering.by(_._1))
      while (cand.nonEmpty) {
        val (ncd, c) = cand.dequeue()
        val cd = -ncd
        if (cd > res.head._1 && res.size >= ef) { cand.clear() }
        else {
          val li = listStart(c) + level
          var j = nbrOff(li)
          val end = nbrOff(li + 1)
          while (j < end) {
            val n = nbrs(j)
            if (!visited.contains(n)) {
              visited += n
              val d = distTo(p, n)
              if (res.size < ef || d < res.head._1) {
                cand.enqueue((-d, n))
                res.enqueue((d, n))
                if (res.size > ef) res.dequeue()
              }
            }
            j += 1
          }
        }
      }
      res.dequeueAll.reverse.toIndexedSeq
    }

    /** The ef FRONTIER (approximate dist, id) ascending — callers rerank
      * exactly; this never truncates to k before the rerank. */
    def searchFrontier(p: Probe, ef: Int): Seq[(Double, Long)] = {
      if (entry < 0 || ids.length == 0) return Nil
      var ep = entry
      var lc = maxLevel
      while (lc > 0) { ep = greedyStep(p, ep, lc); lc -= 1 }
      searchLayer(p, ep, ef, 0).map { case (d, n) => (d, ids(n)) }
    }
  }

  /** The two on-disk layouts: GRSQ (SQ8 and PQ codes) and GRRQ (sign
    * bits followed by the norm and cos columns). Both are version 1. */
  object CodedGraph {
    private val SqMagic = 0x47525351 // "GRSQ"
    private val RqMagic = 0x47525251 // "GRRQ"
    private val Version = 1

    private[operators] def fromFlat(g: Hnsw.FlatGraph, dims: Int,
        codes: Array[Byte], norms: Array[Float],
        cosvs: Array[Float]): CodedGraph =
      new CodedGraph(dims, g.ids, codes, norms, cosvs, g.levels,
        g.listStart, g.nbrOff, g.nbrs, g.entry, g.maxLevel)

    def write(out: java.io.DataOutputStream, g: CodedGraph): Unit = {
      out.writeInt(if (g.norms == null) SqMagic else RqMagic)
      out.writeInt(Version)
      out.writeInt(g.dims); out.writeInt(g.ids.length)
      out.writeInt(g.entry); out.writeInt(g.maxLevel)
      var i = 0
      while (i < g.ids.length) { out.writeLong(g.ids(i)); i += 1 }
      out.write(g.codes)
      if (g.norms != null) {
        i = 0
        while (i < g.norms.length) { out.writeFloat(g.norms(i)); i += 1 }
        i = 0
        while (i < g.cosvs.length) { out.writeFloat(g.cosvs(i)); i += 1 }
      }
      i = 0
      while (i < g.levels.length) { out.writeInt(g.levels(i)); i += 1 }
      out.writeInt(g.nbrOff.length)
      i = 0
      while (i < g.nbrOff.length) { out.writeInt(g.nbrOff(i)); i += 1 }
      out.writeInt(g.nbrs.length)
      i = 0
      while (i < g.nbrs.length) { out.writeInt(g.nbrs(i)); i += 1 }
    }

    def read(in: java.io.DataInputStream): CodedGraph = {
      val magic = in.readInt()
      require(magic == SqMagic || magic == RqMagic,
        "not a graft coded hnsw artifact")
      require(in.readInt() == Version, "unsupported coded hnsw artifact version")
      val rabitq = magic == RqMagic
      val dims = in.readInt(); val n = in.readInt()
      val entry = in.readInt(); val maxLevel = in.readInt()
      val ids = new Array[Long](n)
      var i = 0
      while (i < n) { ids(i) = in.readLong(); i += 1 }
      val codes = new Array[Byte](n * (if (rabitq) (dims + 7) / 8 else dims))
      in.readFully(codes)
      val (norms, cosvs) =
        if (!rabitq) (null, null)
        else {
          val norms = new Array[Float](n)
          i = 0
          while (i < n) { norms(i) = in.readFloat(); i += 1 }
          val cosvs = new Array[Float](n)
          i = 0
          while (i < n) { cosvs(i) = in.readFloat(); i += 1 }
          (norms, cosvs)
        }
      val levels = new Array[Int](n)
      i = 0
      while (i < n) { levels(i) = in.readInt(); i += 1 }
      val listStart = new Array[Int](n + 1)
      i = 0
      while (i < n) { listStart(i + 1) = listStart(i) + levels(i) + 1; i += 1 }
      val nOff = in.readInt()
      val nbrOff = new Array[Int](nOff)
      i = 0
      while (i < nOff) { nbrOff(i) = in.readInt(); i += 1 }
      val nN = in.readInt()
      val nbrs = new Array[Int](nN)
      i = 0
      while (i < nN) { nbrs(i) = in.readInt(); i += 1 }
      new CodedGraph(dims, ids, codes, norms, cosvs, levels, listStart,
        nbrOff, nbrs, entry, maxLevel)
    }
  }

  /** One-time CREATE INDEX job: train the codec over the table, build
    * one raw-f32 graph per spatial partition (exact edges) plus the
    * routing sidecar at parts>1, snapshot each to its coded form and
    * persist `<prefix>-<pid>.bin`. Returns (codec, dataDir). */
  def ensure[C <: Codec](spark: org.apache.spark.sql.SparkSession, name: String,
      df: => DataFrame, source: String, idCol: String, vecCol: String,
      parts: Int, quant: Quant[C], m: Int = 12, efConstruction: Int = 300)
      : (C, String) = {
    val mf = IndexCatalog.ensure(spark, name, source, "hnsw_" + quant.name,
        requires = requires(quant, m, efConstruction, parts))(
      buildInto(spark, df, source, idCol, vecCol, parts, quant, m,
        efConstruction))
    (quant.load(mf), IndexCatalog.dataDir(spark, name))
  }

  /** REINDEX: rebuild into a fresh generation dir with one atomic
    * pointer flip — the vacuum path for SQL-created
    * `[indexing.hnsw.quantization.*]` artifacts. */
  def reindex[C <: Codec](spark: org.apache.spark.sql.SparkSession, name: String,
      df: => DataFrame, source: String, idCol: String, vecCol: String,
      parts: Int, quant: Quant[C], m: Int = 12, efConstruction: Int = 300)
      : (C, String) = {
    val mf = IndexCatalog.reindex(spark, name)(
      buildInto(spark, df, source, idCol, vecCol, parts, quant, m,
        efConstruction))
    (quant.load(mf), IndexCatalog.dataDir(spark, name))
  }

  private def buildInto(spark: org.apache.spark.sql.SparkSession,
      df: => DataFrame, source: String, idCol: String, vecCol: String,
      parts: Int, quant: Quant[Codec], m: Int, efConstruction: Int)(dataDir: String)
      : IndexCatalog.Manifest = {
    val nonNull = df.filter(col(vecCol).isNotNull &&
      graft.functions.vectorIsFinite(col(vecCol)))
    val codec = quant.train(nonNull, vecCol)
    val (nFiles, routingParams) = Hnsw.buildFleet(spark,
      nonNull.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec")),
      parts, dataDir, layout(quant).prefix, "l2", m, efConstruction,
      Some(codec))
    manifest(codec, source, parts, m, efConstruction, nFiles, routingParams)
  }

  /** The manifest a build commits; its params are the `requires` map
    * plus the codec's params, the file count and the routing params. */
  private[graft] def manifest(codec: Codec, source: String, parts: Int,
      m: Int, efConstruction: Int, nFiles: Int,
      routingParams: Map[String, String]): IndexCatalog.Manifest =
    IndexCatalog.Manifest("hnsw_" + codec.quant.name, source, "l2",
      requires(codec.quant, m, efConstruction, parts) ++ codec.params ++
        Map("files" -> nFiles.toString) ++ routingParams,
      floats = codec.floats)

  /** Two-stage search: coded-graph frontier per resident graph (the
    * routed top-`probeGraphs` by the sidecar's l2 bounds on the RAW
    * query — RaBitQ's rotation is an isometry, so raw-space ranking is
    * the rotated-space ranking) -> exact rerank of the union frontier
    * re-fetched from the SOURCE table by id (IN pushdown -> row-group
    * pruning). The frontier breadth is k·window candidates (window
    * defaults to the codec's), bounded below by efSearch. `exact = true`
    * skips the graphs and scores every source row — provably the flat
    * top-k. */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      indexed: DataFrame, idCol: String, vecCol: String, q: Array[Float],
      k: Int, codec: Codec, efSearch: Int = 100,
      window: Option[Int] = None, exact: Boolean = false,
      probeGraphs: Int = 0): DataFrame = {
    import spark.implicits._
    val coarse =
      if (exact) indexed.select(col(idCol), col(vecCol))
      else {
        val dirPath = new org.apache.hadoop.fs.Path(path)
        val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val allFiles = fs.globStatus(
            new org.apache.hadoop.fs.Path(path, s"${layout(codec.quant).prefix}-*.bin"))
          .map(_.getPath.toString).sorted.toSeq
        if (allFiles.isEmpty)
          return spark.emptyDataset[(Long, Double)].toDF(idCol, "dist")
        val files = Hnsw.routeFiles(spark, path, allFiles, q, probeGraphs)
        val probe = codec.probe(q)
        val ef = math.max(efSearch,
          k * math.max(window.getOrElse(layout(codec.quant).window), 1))
        val hconf = spark.sparkContext.hadoopConfiguration
        val frontier = ResidentSearch.topK(spark, files, idCol, Int.MaxValue,
            "approx_dist") { f =>
          Hnsw.GraphCache.getCoded(f, hconf).searchFrontier(probe, ef)
            .iterator.map { case (d, id) => (id, d) }
        }
        Rerank.fetchByIds(indexed, idCol, vecCol, frontier)
      }
    Rerank.exactTopK(coarse, idCol, vecCol, q, k)
  }
}
