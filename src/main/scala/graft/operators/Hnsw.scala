package graft.operators

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * HNSW ANN graph, per Spark partition — the distributed shape of the
 * reference's per-segment HNSW (crates/hnsw/src/lib.rs, search
 * crates/graph/src/search.rs): each partition builds a small-world graph
 * over its rows; a query searches every partition-local graph and the
 * per-partition top-k streams merge through a global TakeOrdered(k) —
 * the LoserTree-merge analog (crates/index/src/utils/tournament_tree.rs).
 *
 * Algorithm: Malkov & Yashunin, "Efficient and robust approximate nearest
 * neighbor search using Hierarchical Navigable Small World graphs" (2018).
 * Defaults mirror the reference: m=12, ef_construction=300, ef_search=100
 * (crates/base/src/index.rs:406-413, 561-563).
 */
object Hnsw {

  /** `probeGraphs` sentinel: resolve the routed breadth from the
    * artifact's own graph count ([[autoProbeGraphs]]) whenever a
    * complete routing sidecar exists — the DEFAULT of the declarative
    * pushdown arms (round 9). 0 stays "walk every graph"; exact mode
    * never routes regardless. Round 10: AUTO is additionally
    * SEPARABILITY-GUARDED ([[Routing.autoResolve]]) — when the sidecar's
    * own geometry says the spatial partitioning did not separate
    * (near-uniform corpora), auto falls back to all-graphs instead of
    * silently serving ~g/G recall. Explicit probeGraphs > 0 is an
    * informed override and never falls back. */
  val AutoProbe: Int = -1

  /** The auto routing policy: ⌈√G⌉ graphs with a floor of 2 — sublinear
    * in graph count (the point of routing: per-query cost must stop
    * growing with corpus size), matching the measured 2-of-4 setting of
    * the round-8 routed-join recall record (RECALL.json
    * hnsw_knn_join ≥ 0.9 clustered). The reference's own defaults are
    * approximate the same way (nprobe=10, ef_search=100,
    * crates/base/src/index.rs:558-563). */
  def autoProbeGraphs(nFiles: Int): Int =
    if (nFiles <= 1) nFiles
    else math.min(nFiles,
      math.max(2, math.ceil(math.sqrt(nFiles.toDouble)).toInt))

  private[graft] def resolveProbe(probeGraphs: Int, nFiles: Int): Int =
    if (probeGraphs == AutoProbe) autoProbeGraphs(nFiles) else probeGraphs

  /** Routing-sidecar manifest generation (staleness key for parts>1
    * graph builds): centroid3 = centroid2's layout plus the build-time
    * calibrated probeGraphs hint in the sidecar (round 12 — version-2
    * routing.bin; separable fleets measure the 95%-coverage graph depth
    * on the ProbeCal holdout and AUTO resolves max(⌈√G⌉, hint)).
    * centroid4 (round 15) = BALANCED spatial partitioning: k-means
    * cells larger than [[BalanceFactor]]×(n/parts) split by a
    * second-level k-means before the per-cell insertion tasks run —
    * the 5M-row smoke measured 2 of 16 cells holding ~1M rows each
    * (k-means packs whole natural clusters per center), leaving the
    * build wall straggler-bound on 2 of 32 cores. Unbalanced corpora
    * get more, smaller graphs with their own (sub-centroid, radius)
    * routing entries; balanced corpora build byte-identical artifacts
    * to centroid3. Pre-balance artifacts rebuild once on the next
    * ensure.
    *
    * centroid5 (round 16): manifests additionally record the ADVISORY
    * `suggest_parts` param — the final spatial cell count the balance
    * cap produced. The 5M smoke measured parts≈natural-cluster-count
    * building ~6× faster AND serving better than wide cells; a
    * suggest_parts larger than `parts` in pg_vector_index_stat's
    * idx_options is the misconfiguration signal (re-ensure with
    * parts=suggest_parts). Manifest-only: artifact bytes are identical
    * to centroid4 (the round-12 probe_hint precedent for a
    * generation-keyed manifest addition). */
  private[graft] val RoutingGen = "centroid5"

  /** Split threshold for [[balancedPids]]' balanced partitioning:
    * a cell splits when it exceeds this multiple of the mean cell
    * size. 1.5 keeps every near-balanced layout (the driver fixtures
    * measure ≤1.23× at parts=4) building exactly as before while
    * bounding the straggler task at ~1.5× the ideal wall. */
  private[graft] val BalanceFactor = 1.5


  /** Hash key over exact float content — two orphan components whose
    * representatives are exact duplicates share one bridge scan
    * ([[Graph]] repair memoization). */
  private final class VKey(val v: Array[Float]) {
    override val hashCode: Int = java.util.Arrays.hashCode(v)
    override def equals(o: Any): Boolean = o match {
      case k: VKey => java.util.Arrays.equals(v, k.v)
      case _ => false
    }
  }
  private final class BridgeBest {
    var d: Double = Double.MaxValue
    var idx: Int = -1
    var upTo: Int = 0
  }

  final class Graph(val metric: String, m: Int = 12, efConstruction: Int = 300,
      seed: Long = 42L) extends Serializable {
    private val mMax0 = 2 * m
    private val mL = 1.0 / math.log(m.toDouble)
    private val rnd = new java.util.Random(seed)
    private val vecs = mutable.ArrayBuffer.empty[Array[Float]]
    private val ids = mutable.ArrayBuffer.empty[Long]
    // adjacency per node per level
    private val links = mutable.ArrayBuffer.empty[Array[mutable.ArrayBuffer[Int]]]
    private var entry: Int = -1
    private var maxLevel: Int = -1

    @inline private def dist(a: Array[Float], b: Array[Float]): Double =
      IvfIndex.Kernels.dist(metric, a, b)

    def size: Int = vecs.length

    def insert(id: Long, v: Array[Float]): Unit = {
      val node = vecs.length
      vecs += v; ids += id
      val level = math.floor(-math.log(math.max(rnd.nextDouble(), 1e-12)) * mL).toInt
      links += Array.fill(level + 1)(mutable.ArrayBuffer.empty[Int])
      if (entry < 0) { entry = node; maxLevel = level; return }
      var ep = entry
      // greedy descent through levels above the node's level
      var lc = maxLevel
      while (lc > level) {
        ep = greedyStep(v, ep, lc); lc -= 1
      }
      // insert at each level from min(level, maxLevel) down to 0
      lc = math.min(level, maxLevel)
      while (lc >= 0) {
        val cands = searchLayer(v, ep, efConstruction, lc)
        val mAllowed = if (lc == 0) mMax0 else m
        val selected = cands.take(m)
        for ((_, c) <- selected) {
          links(node)(lc) += c
          links(c)(lc) += node
          if (links(c)(lc).length > mAllowed) {
            // prune neighbor's list back to closest mAllowed
            val pruned = links(c)(lc)
              .map(n => (dist(vecs(c), vecs(n)), n)).sortBy(_._1)
              .take(mAllowed).map(_._2)
            links(c)(lc) = mutable.ArrayBuffer(pruned.toSeq: _*)
          }
        }
        if (selected.nonEmpty) ep = selected.head._2
        lc -= 1
      }
      if (level > maxLevel) { maxLevel = level; entry = node }
    }

    private def greedyStep(q: Array[Float], start: Int, level: Int): Int = {
      var cur = start
      var curD = dist(q, vecs(cur))
      var improved = true
      while (improved) {
        improved = false
        for (n <- links(cur)(level)) {
          val d = dist(q, vecs(n))
          if (d < curD) { curD = d; cur = n; improved = true }
        }
      }
      cur
    }

    /** Best-first search on one layer; returns (dist, node) ascending. */
    private def searchLayer(q: Array[Float], ep: Int, ef: Int, level: Int)
        : IndexedSeq[(Double, Int)] = {
      val visited = mutable.BitSet(ep)
      val epD = dist(q, vecs(ep))
      // candidates: min-heap; results: max-heap bounded to ef
      val cand = mutable.PriorityQueue((-epD, ep))(Ordering.by(_._1))
      val res = mutable.PriorityQueue((epD, ep))(Ordering.by(_._1))
      while (cand.nonEmpty) {
        val (ncd, c) = cand.dequeue()
        val cd = -ncd
        if (cd > res.head._1 && res.size >= ef) { cand.clear() }
        else {
          for (n <- links(c)(level) if !visited.contains(n)) {
            visited += n
            val d = dist(q, vecs(n))
            if (res.size < ef || d < res.head._1) {
              cand.enqueue((-d, n))
              res.enqueue((d, n))
              if (res.size > ef) res.dequeue()
            }
          }
        }
      }
      res.dequeueAll.reverse.toIndexedSeq
    }

    /** Top-k (distance, id) for a query. */
    def search(q: Array[Float], k: Int, efSearch: Int = 100): Seq[(Double, Long)] = {
      if (entry < 0) return Nil
      var ep = entry
      var lc = maxLevel
      while (lc > 0) { ep = greedyStep(q, ep, lc); lc -= 1 }
      searchLayer(q, ep, math.max(efSearch, k), 0)
        .take(k).map { case (d, n) => (d, ids(n)) }
    }

    /** Freeze the builder into the immutable flat-array search form;
      * neighbor order is preserved, so traversal (and results) are
      * identical to searching the builder directly. */
    /** Bridge every level-0 component unreachable from the entry into
      * the reachable component (one bidirectional edge from the orphan
      * component's first node to its nearest reachable node). Greedy
      * small-world descent can only ever find what the entry's
      * component contains; duplicate-heavy spaces (binarized Hamming)
      * and SPATIALLY partitioned multi-cluster graphs (round-8 routed
      * builds: one graph may hold several well-separated clusters)
      * both produce orphans, and an un-bridged orphan cluster is a
      * silent recall hole for every beam search. Deterministic (first
      * unseen node in index order, nearest by the build metric, index
      * tie-break); repair edges deliberately skip the m-prune — a
      * bridge that got pruned away would re-orphan the component. */
    private def repairConnectivity(): Unit = repairConnectivity(false)

    /** Exact (d, idx)-argmin over the seen set — the reference bridge
      * choice. O(|seen|·d) per orphan component: O(c·n·d) total when
      * duplicate-heavy corpora shatter into many components. The
      * default path below memoizes this by representative VECTOR, which
      * bounds the pathological case; this naive form stays as the
      * byte-identity reference for the spec hook. */
    private def bridgeByScan(u: Int, seen: Array[Boolean]): Int = {
      val n = vecs.length
      var best = -1; var bd = Double.MaxValue
      var s = 0
      while (s < n) {
        if (seen(s)) {
          val d = dist(vecs(u), vecs(s))
          if (d < bd || (d == bd && (best < 0 || s < best))) {
            bd = d; best = s
          }
        }
        s += 1
      }
      best
    }

    /** Bridges added by the last repair pass — spec observability. */
    private[graft] var lastRepairBridges = 0

    /** Bridge every level-0 component unreachable from the entry into
      * the reachable component. Worst-case bound (round 9): the naive
      * form scans all seen nodes PER component — O(c·n·d) when
      * duplicate-heavy corpora shatter into many components, exactly
      * the corpora repair exists for. Those corpora's components are
      * largely exact DUPLICATES of each other, so the scan is memoized
      * by representative vector: each unique rep folds every seen node
      * exactly once (incremental over the bfs discovery log), cutting
      * the total to O(u·n·d + Σincrements) with u = DISTINCT orphan rep
      * vectors. Bit-identical to the naive scan by construction — the
      * (d, idx)-argmin is order-insensitive and identical rep vectors
      * produce identical distances — so the artifact format key is
      * unchanged (HybridSpec asserts byte-identity; a beam-search
      * variant was evaluated and REJECTED: under symmetric ties a local
      * search provably cannot reproduce the global lowest-index
      * tie-break, measured diverging at ~2000 symmetric duplicate
      * cliques). */
    private def repairConnectivity(forceScan: Boolean): Unit = {
      val n = vecs.length
      lastRepairBridges = 0
      if (entry < 0 || n == 0) return
      val seen = new Array[Boolean](n)
      // discovery log: append-only order the bfs saw nodes in — the
      // memoized scans fold suffixes of this list
      val seenLog = new mutable.ArrayBuffer[Int](n)
      def bfs(start: Int): Unit = {
        var stack = List(start)
        seen(start) = true; seenLog += start
        while (stack.nonEmpty) {
          val u = stack.head; stack = stack.tail
          val nb = links(u)(0); var j = 0
          while (j < nb.length) {
            val v = nb(j)
            if (!seen(v)) { seen(v) = true; seenLog += v; stack = v :: stack }
            j += 1
          }
        }
      }
      bfs(entry)
      val memo = new java.util.HashMap[VKey, BridgeBest]()
      var u = 0
      while (u < n) {
        if (!seen(u)) {
          val best =
            if (forceScan) bridgeByScan(u, seen)
            else {
              val key = new VKey(vecs(u))
              var b = memo.get(key)
              if (b == null) { b = new BridgeBest; memo.put(key, b) }
              var t = b.upTo
              while (t < seenLog.length) {
                val s = seenLog(t)
                val d = dist(vecs(u), vecs(s))
                if (d < b.d || (d == b.d && (b.idx < 0 || s < b.idx))) {
                  b.d = d; b.idx = s
                }
                t += 1
              }
              b.upTo = seenLog.length
              b.idx
            }
          links(u)(0) += best
          links(best)(0) += u
          lastRepairBridges += 1
          bfs(u)
        }
        u += 1
      }
    }

    /** Spec hook: snapshot with the NAIVE per-component scan forced —
      * the byte-identity reference for the memoized default. */
    private[graft] def snapshotWithScanRepair: FlatGraph = {
      repairConnectivity(true)
      buildFlat()
    }

    def snapshot: FlatGraph = {
      repairConnectivity()
      buildFlat()
    }

    private def buildFlat(): FlatGraph = {
      val n = vecs.length
      val dims = if (n == 0) 0 else vecs(0).length
      val flat = new Array[Float](n * dims)
      var i = 0
      while (i < n) { System.arraycopy(vecs(i), 0, flat, i * dims, dims); i += 1 }
      val levels = new Array[Int](n)
      val listStart = new Array[Int](n + 1)
      i = 0
      while (i < n) {
        levels(i) = links(i).length - 1
        listStart(i + 1) = listStart(i) + links(i).length
        i += 1
      }
      val nbrOff = new Array[Int](listStart(n) + 1)
      var li = 0; var total = 0
      i = 0
      while (i < n) {
        var l = 0
        while (l < links(i).length) {
          total += links(i)(l).length; li += 1; nbrOff(li) = total; l += 1
        }
        i += 1
      }
      val nbrs = new Array[Int](total)
      var pos = 0
      i = 0
      while (i < n) {
        var l = 0
        while (l < links(i).length) {
          val lst = links(i)(l); var j = 0
          while (j < lst.length) { nbrs(pos) = lst(j); pos += 1; j += 1 }
          l += 1
        }
        i += 1
      }
      new FlatGraph(metric, dims, ids.toArray, flat, levels, listStart,
        nbrOff, nbrs, entry, maxLevel)
    }
  }

  /**
   * Immutable columnar graph — the persisted/searchable form. Plain
   * primitive arrays (ids, flattened vectors, CSR-style adjacency), so the
   * on-disk artifact is a versioned binary layout readable without Java
   * object serialization, and the in-memory form is cache-friendly.
   * Mirrors the reference's resident sealed segments
   * (crates/index/src/lib.rs:386-423).
   */
  final class FlatGraph(
      val metric: String, val dims: Int,
      val ids: Array[Long], val vecs: Array[Float],
      val levels: Array[Int], val listStart: Array[Int],
      val nbrOff: Array[Int], val nbrs: Array[Int],
      val entry: Int, val maxLevel: Int) extends Serializable {

    def size: Int = ids.length

    /** Same double-accumulation order as the builder's kernels — the
      * exact-mode oracle depends on it. */
    @inline private def distTo(q: Array[Float], node: Int): Double = {
      val off = node * dims
      if (metric == "l2") {
        var acc = 0.0; var i = 0
        while (i < dims) {
          val d = q(i).toDouble - vecs(off + i); acc += d * d; i += 1
        }
        acc
      } else { // dot & cos (normalized at build) search by negative dot
        var acc = 0.0; var i = 0
        while (i < dims) { acc += q(i).toDouble * vecs(off + i); i += 1 }
        -acc
      }
    }

    /** Search-time metric override for the typed opclass cells that share
      * one graph artifact (the typed-IVF convention: the artifact stores
      * the densified payload once; ranking and scoring are search-time
      * choices — the reference allows any opclass under the hnsw AM,
      * finalize.sql:719-803 × crates/indexing/src/sealed.rs:16-110).
      * Kernels accumulate in double, index order 0..dims-1, so on the
      * densified stored views they are bit-identical to the typed
      * expression kernels (zeros contribute exactly +0.0; independent
      * accumulators make one pass equal the kernels' separate passes;
      * cos is the DIRECT one-pass form, the vecf16-cos convention — not
      * normalize-at-build). Codes: 0 = build metric, 1 = l2, 2 = negdot,
      * 3 = direct cos, 4 = jaccard over 0/1. */
    @inline private def distWith(q: Array[Float], node: Int, code: Int): Double = {
      if (code == 0) return distTo(q, node)
      val off = node * dims
      code match {
        case 1 =>
          var acc = 0.0; var i = 0
          while (i < dims) {
            val d = q(i).toDouble - vecs(off + i); acc += d * d; i += 1
          }
          acc
        case 2 =>
          var acc = 0.0; var i = 0
          while (i < dims) { acc += q(i).toDouble * vecs(off + i); i += 1 }
          -acc
        case 3 =>
          var xy = 0.0; var xx = 0.0; var yy = 0.0; var i = 0
          while (i < dims) {
            val x = vecs(off + i).toDouble; val y = q(i).toDouble
            xy += x * y; xx += x * x; yy += y * y; i += 1
          }
          1.0 - xy / math.sqrt(xx * yy)
        case 4 =>
          var inter = 0L; var union = 0L; var i = 0
          while (i < dims) {
            val x = vecs(off + i) > 0f; val y = q(i) > 0f
            if (x && y) inter += 1
            if (x || y) union += 1
            i += 1
          }
          1.0 - inter.toDouble / union.toDouble
      }
    }

    private def greedyStep(q: Array[Float], start: Int, level: Int,
        code: Int = 0): Int = {
      var cur = start
      var curD = distWith(q, cur, code)
      var improved = true
      while (improved) {
        improved = false
        val li = listStart(cur) + level
        var j = nbrOff(li)
        val end = nbrOff(li + 1)
        while (j < end) {
          val n = nbrs(j)
          val d = distWith(q, n, code)
          if (d < curD) { curD = d; cur = n; improved = true }
          j += 1
        }
      }
      cur
    }

    private def searchLayer(q: Array[Float], ep: Int, ef: Int, level: Int,
        code: Int = 0): IndexedSeq[(Double, Int)] = {
      val visited = mutable.BitSet(ep)
      val epD = distWith(q, ep, code)
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
              val d = distWith(q, n, code)
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

    /** The reference's dimension contract
      * (tests/sqllogictest/error.slt): querying an index with a vector
      * of the wrong dimension is an ERROR, never a garbage walk. */
    private def requireDims(q: Array[Float]): Unit =
      if (dims > 0 && q.length != dims)
        throw new IllegalArgumentException(
          "The dimension of a vector does not match that in a vector " +
            s"index column: query ${q.length}, index $dims")

    def search(q: Array[Float], k: Int, efSearch: Int = 100): Seq[(Double, Long)] = {
      requireDims(q)
      if (entry < 0 || ids.length == 0) return Nil
      var ep = entry
      var lc = maxLevel
      while (lc > 0) { ep = greedyStep(q, ep, lc); lc -= 1 }
      searchLayer(q, ep, math.max(efSearch, k), 0)
        .take(k).map { case (d, n) => (d, ids(n)) }
    }

    /** Graph walk RANKED by a search-time metric override (see
      * [[distWith]]): the navigable-small-world edges were built in the
      * family's base metric, but greedy descent and beam search evaluate
      * the override kernel — the typed-IVF convention (list ranking is a
      * search-time choice) lifted to graphs. Approximate, like any graph
      * walk; its exact twin is [[bruteForceMetric]]. */
    def searchMetric(q: Array[Float], k: Int, efSearch: Int,
        metric: String): Seq[(Double, Long)] = {
      requireDims(q)
      if (entry < 0 || ids.length == 0) return Nil
      val code = FlatGraph.metricCode(metric)
      var ep = entry
      var lc = maxLevel
      while (lc > 0) { ep = greedyStep(q, ep, lc, code); lc -= 1 }
      searchLayer(q, ep, math.max(efSearch, k), 0, code)
        .take(k).map { case (d, n) => (d, ids(n)) }
    }

    /** Exhaustive flat scan in the override metric — exact top-k over the
      * stored payloads regardless of graph reachability. */
    def bruteForceMetric(q: Array[Float], k: Int, metric: String): Seq[(Double, Long)] = {
      requireDims(q)
      val n = ids.length
      if (n == 0) return Nil
      val code = FlatGraph.metricCode(metric)
      val all = new Array[(Double, Long)](n)
      var i = 0
      while (i < n) { all(i) = (distWith(q, i, code), ids(i)); i += 1 }
      all.sortBy(identity).take(k).toSeq
    }

    /** EXACT within-radius flat scan (the sphere-range member of the
      * opclass): every stored row whose dist + off < r, same kernel and
      * accumulation order as [[bruteForce]]. `off` carries the cos
      * convention (stored -dot + 1.0 = cosine distance); reachability
      * never matters because the scan is flat, not a graph walk. */
    def rangeFlat(q: Array[Float], r: Double, off: Double): Iterator[(Long, Double)] = {
      requireDims(q)
      val n = ids.length
      Iterator.range(0, n).flatMap { i =>
        val d = distTo(q, i) + off
        if (d < r) Iterator.single((ids(i), d)) else Iterator.empty
      }
    }

    /** PROVABLY exhaustive top-k over the stored vectors — the exact-mode
      * contract. Graph traversal at huge ef only reaches the entry's
      * connected component, which duplicate-heavy spaces (binarized
      * Hamming) can disconnect; exact mode must not depend on
      * reachability, so it scans the columnar vectors flat (the
      * reference's exact mode is likewise a flat scan). */
    def bruteForce(q: Array[Float], k: Int): Seq[(Double, Long)] = {
      requireDims(q)
      val n = ids.length
      if (n == 0) return Nil
      val all = new Array[(Double, Long)](n)
      var i = 0
      while (i < n) { all(i) = (distTo(q, i), ids(i)); i += 1 }
      all.sortBy(identity).take(k).toSeq
    }
  }

  object FlatGraph {
    private val Magic = 0x47524654 // "GRFT"
    private val Version = 1

    /** Override-metric codes for [[FlatGraph.distWith]]. */
    private[graft] def metricCode(metric: String): Int = metric match {
      case "l2" => 1
      case "dot" => 2
      case "cos" => 3
      case "jaccard" => 4
      case m => throw new IllegalArgumentException(s"unknown override metric $m")
    }

    def write(out: java.io.DataOutputStream, g: FlatGraph): Unit = {
      out.writeInt(Magic); out.writeInt(Version)
      out.writeUTF(g.metric)
      out.writeInt(g.dims); out.writeInt(g.ids.length)
      out.writeInt(g.entry); out.writeInt(g.maxLevel)
      var i = 0
      while (i < g.ids.length) { out.writeLong(g.ids(i)); i += 1 }
      i = 0
      while (i < g.vecs.length) { out.writeFloat(g.vecs(i)); i += 1 }
      i = 0
      while (i < g.levels.length) { out.writeInt(g.levels(i)); i += 1 }
      out.writeInt(g.nbrOff.length)
      i = 0
      while (i < g.nbrOff.length) { out.writeInt(g.nbrOff(i)); i += 1 }
      out.writeInt(g.nbrs.length)
      i = 0
      while (i < g.nbrs.length) { out.writeInt(g.nbrs(i)); i += 1 }
    }

    def read(in: java.io.DataInputStream): FlatGraph = {
      require(in.readInt() == Magic, "not a graft hnsw artifact")
      require(in.readInt() == Version, "unsupported hnsw artifact version")
      val metric = in.readUTF()
      val dims = in.readInt(); val n = in.readInt()
      val entry = in.readInt(); val maxLevel = in.readInt()
      val ids = new Array[Long](n)
      var i = 0
      while (i < n) { ids(i) = in.readLong(); i += 1 }
      val vecs = new Array[Float](n * dims)
      i = 0
      while (i < vecs.length) { vecs(i) = in.readFloat(); i += 1 }
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
      new FlatGraph(metric, dims, ids, vecs, levels, listStart, nbrOff,
        nbrs, entry, maxLevel)
    }
  }

  /** Executor-local resident graph cache keyed by artifact file identity
    * (path + mtime + length) — each executor JVM deserializes a sealed
    * graph ONCE and reuses it across queries, the resident-segment analog
    * of the reference (crates/index/src/lib.rs:386-423). A rebuilt
    * artifact bumps mtime/length and evicts itself naturally. Raw
    * ([[FlatGraph]]) and coded ([[CodedHnsw.CodedGraph]]) graphs and IVF
    * list files ([[IvfIndex.ListRows]]) share one LRU and one budget.
    * The driver JVM holds one too: single-query searches walk the graphs
    * and scan the probed lists there ([[ResidentSearch]]). */
  object GraphCache {
    /** Residency is bounded by an approximate BYTE budget per executor
      * JVM (LRU eviction), not a graph count: 128 arbitrarily-large
      * graphs could exceed executor heap at production partition sizes.
      * The budget comes from `spark.graft.hnsw.cacheBytes` (read through
      * SparkEnv so it reaches executors); default 4 GiB. The most
      * recently used graph is always retained even if it alone exceeds
      * the budget — evicting the graph being searched would thrash. */
    private val DefaultBudget = 4L << 30
    @volatile private var budgetOverride: Long = -1L
    /** Visible for specs: force a small budget in-process. */
    private[graft] def setBudgetForTest(b: Long): Unit = { budgetOverride = b }
    private[graft] def clearForTest(): Unit = cache.synchronized {
      cache.clear(); curBytes = 0L
    }
    private def budgetBytes: Long = {
      if (budgetOverride > 0) return budgetOverride
      try {
        val env = org.apache.spark.SparkEnv.get
        if (env == null) DefaultBudget
        else env.conf.getLong("spark.graft.hnsw.cacheBytes", DefaultBudget)
      } catch { case NonFatal(_) => DefaultBudget }
    }

    private[graft] def estBytes(g: FlatGraph): Long =
      g.ids.length.toLong * 8 + g.vecs.length.toLong * 4 +
        g.levels.length.toLong * 4 + g.listStart.length.toLong * 4 +
        g.nbrOff.length.toLong * 4 + g.nbrs.length.toLong * 4 + 256L

    private[graft] def estBytes(g: CodedHnsw.CodedGraph): Long =
      g.ids.length.toLong * 8 + g.codes.length.toLong +
        (if (g.norms == null) 0L else g.norms.length.toLong * 8) +
        g.levels.length.toLong * 4 + g.listStart.length.toLong * 4 +
        g.nbrOff.length.toLong * 4 + g.nbrs.length.toLong * 4 + 256L

    /** (mtime, length, graph, estimated bytes) of one resident artifact. */
    private final case class Resident(mtime: Long, len: Long, graph: AnyRef,
        bytes: Long)
    private val cache =
      new java.util.LinkedHashMap[String, Resident](
        16, 0.75f, /* accessOrder = */ true)
    private var curBytes = 0L

    // per-JVM residency counters (hit rate surfaces in SOAK.md): a
    // serving workload whose miss count keeps growing with queries —
    // rather than with distinct graphs — means the budget is thrashing
    private val hitCount = new java.util.concurrent.atomic.AtomicLong
    private val loadCount = new java.util.concurrent.atomic.AtomicLong
    /** (hits, loads) since JVM start. */
    def counters: (Long, Long) = (hitCount.get, loadCount.get)

    def get(path: String, conf: org.apache.hadoop.conf.Configuration): FlatGraph =
      load(path, path, conf)(stream(FlatGraph.read), estBytes(_: FlatGraph))

    def getCoded(path: String,
        conf: org.apache.hadoop.conf.Configuration): CodedHnsw.CodedGraph =
      load(path, path, conf)(stream(CodedHnsw.CodedGraph.read),
        estBytes(_: CodedHnsw.CodedGraph))

    /** One IVF list file's (idCol, vecCol) rows; keyed by the columns
      * too, since another search may read other columns of the file. */
    def getList(path: String, conf: org.apache.hadoop.conf.Configuration,
        idCol: String, vecCol: String): IvfIndex.ListRows =
      load(s"$path\u0000$idCol\u0000$vecCol", path, conf)(
        IvfIndex.ListRows.read(_, _, idCol, vecCol), (l: IvfIndex.ListRows) => l.bytes)

    private def stream[G](read: java.io.DataInputStream => G)(
        fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path): G = {
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(fs.open(p), 1 << 20))
      try read(in) finally in.close()
    }

    private def load[G <: AnyRef](key: String, path: String,
        conf: org.apache.hadoop.conf.Configuration)(
        read: (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) => G,
        est: G => Long): G = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      val st = fs.getFileStatus(p)
      cache.synchronized {
        val cur = cache.get(key)
        if (cur != null && cur.mtime == st.getModificationTime && cur.len == st.getLen) {
          hitCount.incrementAndGet()
          return cur.graph.asInstanceOf[G]
        }
      }
      loadCount.incrementAndGet()
      // load OUTSIDE the lock (graphs are large; concurrent first loads
      // of the same path waste work at worst, never corrupt)
      val g = read(fs, p)
      cache.synchronized {
        val bytes = est(g)
        val old = cache.put(key,
          Resident(st.getModificationTime, st.getLen, g, bytes))
        if (old != null) curBytes -= old.bytes
        curBytes += bytes
        // evict eldest-by-access until under budget; keep the newest
        val budget = budgetBytes
        val it = cache.entrySet().iterator()
        while (curBytes > budget && cache.size() > 1 && it.hasNext) {
          val e = it.next()
          if (e.getKey != key) {
            curBytes -= e.getValue.bytes
            it.remove()
          }
        }
      }
      g
    }

    /** Visible for specs: number of resident graphs. */
    def residentCount: Int = cache.synchronized { cache.size() }
    /** Visible for specs: estimated resident bytes. */
    def residentBytes: Long = cache.synchronized { curBytes }
  }

  /** Per-graph routing stats for the table-valued joins — the IVF
    * rankLists precedent (crates/ivf/src/lib.rs:68-119) lifted to
    * graph-partitioned HNSW: each graph file carries the k-means
    * centroid its rows were assigned to plus the covering radius
    * (max L2 distance of any stored row to that centroid, rounded UP so
    * float truncation can never shrink a bound below a boundary row).
    * Joins rank graphs per query by the metric's lower bound and walk
    * only the top-g ([[knnJoin]]) or provably-reachable ([[rangeJoin]],
    * sound → still exact) graphs, so per-query cost no longer grows
    * with graph count. Written as a `routing.bin` sidecar at ensure;
    * artifacts from before the sidecar carry no `routing` param and
    * rebuild via the staleness invariant. */
  object Routing {
    private val Magic = 0x47525447 // "GRTG"
    private val Version = 2

    /** pid -> (covering radius [plain L2, not squared], centroid).
      * `hint` = the build-time calibrated probeGraphs depth (round 12,
      * the IVF probe_hint convention lifted to graph fleets; 0 = not
      * calibrated — non-separable builds skip the measurement because
      * the guarded default never routes them). Version 2 adds the hint
      * field; version-1 sidecars read as None (unrouted fallback) until
      * the routing=centroid3 staleness rebuild replaces them. */
    def write(fs: org.apache.hadoop.fs.FileSystem,
        dir: org.apache.hadoop.fs.Path, metric: String,
        entries: Seq[(Int, Double, Array[Float])], dims: Int,
        hint: Int = 0): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(dir, ".routing.bin.tmp")
      val p = new org.apache.hadoop.fs.Path(dir, "routing.bin")
      val out = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(fs.create(tmp, true), 1 << 16))
      try {
        out.writeInt(Magic); out.writeInt(Version)
        out.writeUTF(metric); out.writeInt(hint)
        out.writeInt(dims); out.writeInt(entries.length)
        entries.foreach { case (pid, rad, c) =>
          out.writeInt(pid); out.writeDouble(rad)
          var i = 0
          while (i < dims) { out.writeFloat(c(i)); i += 1 }
        }
      } finally out.close()
      if (!fs.rename(tmp, p)) {
        fs.delete(p, false)
        if (!fs.rename(tmp, p))
          throw new java.io.IOException(s"failed to publish $p")
      }
    }

    def read(fs: org.apache.hadoop.fs.FileSystem,
        dir: org.apache.hadoop.fs.Path)
        : Option[(String, Map[Int, (Double, Array[Float])])] =
      readFull(fs, dir).map { case (met, ents, _) => (met, ents) }

    /** Rewrite ONLY the sidecar's probe hint (entries unchanged) — the
      * ALTER/RESET probe_hint path for graph fleets: serving reads the
      * hint from the sidecar, so a manifest-only alter would silently
      * change nothing (round-12 review finding). No-op when the dir
      * carries no (readable current-version) sidecar. */
    def setHint(fs: org.apache.hadoop.fs.FileSystem,
        dir: org.apache.hadoop.fs.Path, hint: Int): Unit =
      readFull(fs, dir).foreach { case (metric, ents, _) =>
        val seq = ents.toSeq.sortBy(_._1)
          .map { case (pid, (rad, c)) => (pid, rad, c) }
        val dims = seq.headOption.map(_._3.length).getOrElse(0)
        write(fs, dir, metric, seq, dims, hint)
      }

    /** [[read]] plus the calibrated probe hint (0 = none). */
    def readFull(fs: org.apache.hadoop.fs.FileSystem,
        dir: org.apache.hadoop.fs.Path)
        : Option[(String, Map[Int, (Double, Array[Float])], Int)] = {
      val p = new org.apache.hadoop.fs.Path(dir, "routing.bin")
      if (!fs.exists(p)) return None
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(fs.open(p), 1 << 16))
      try {
        if (in.readInt() != Magic || in.readInt() != Version) return None
        val metric = in.readUTF()
        val hint = in.readInt()
        val dims = in.readInt(); val n = in.readInt()
        val b = Map.newBuilder[Int, (Double, Array[Float])]
        var e = 0
        while (e < n) {
          val pid = in.readInt(); val rad = in.readDouble()
          val c = new Array[Float](dims)
          var i = 0
          while (i < dims) { c(i) = in.readFloat(); i += 1 }
          b += pid -> (rad, c)
          e += 1
        }
        Some((metric, b.result(), hint))
      } finally in.close()
    }

    /** Lower bound of the REPORTED dist (searchIndex conventions: l2 =
      * squared L2, cos = 1 - dot on normalized sides, dot = -dot) from
      * query `q` to any row of a graph with centroid `c`, covering
      * radius `rad`. `qn` = |q| (only read for cos/dot). Sound by the
      * triangle inequality (l2) / Cauchy-Schwarz on the residual
      * (cos/dot) — the rangeScan{,Cos,Dot} bound shapes. */
    def lowerBound(metric: String, q: Array[Float], qn: Double,
        c: Array[Float], rad: Double): Double =
      boundAndDist(metric, q, qn, c, rad)._1

    /** (lower bound, centroid distance) in one pass — ranking sorts by
      * (lb, cd, idx), the `IvfIndex.Model.rankLists` ordering: when a
      * coarse partitioning leaves several graphs with lb = 0 (covering
      * balls overlapping the query), the centroid-distance tie-break
      * picks the genuinely nearest regions instead of file order. */
    def boundAndDist(metric: String, q: Array[Float], qn: Double,
        c: Array[Float], rad: Double): (Double, Double) = metric match {
      case "l2" =>
        val droot = math.sqrt(IvfIndex.Kernels.l2sq(q, c))
        val d = droot - rad
        (if (d > 0) d * d else 0.0, droot * droot)
      case "cos" =>
        val dot = IvfIndex.Kernels.dot(q, c)
        (1.0 - dot - rad * qn, 1.0 - dot)
      case _ =>
        val dot = IvfIndex.Kernels.dot(q, c)
        (-(dot + rad * qn), -dot)
    }

    /** (lower bound, centroid dist) under a search-time OVERRIDE metric
      * on an l2-built sidecar (typed graphs store densified payloads and
      * build with l2; metric is a search-time choice) — the
      * TypedAnn.rankLists metric map applied to graph routing:
      * hamming/jaccard rank by the l2 bounds (hamming IS l2sq on 0/1
      * payloads), dot by Cauchy-Schwarz with the l2 covering radius, cos
      * by the RAW guarded cosdist of the centroid with radii ignored (no
      * sound bound from L2 radii on unnormalized payloads). Ranking
      * needs no soundness (top-g routing is approximate); rankLists
      * parity keeps the IVF and graph forms consistent. `qn` = |q|,
      * `qq` = q·q. */
    def boundAndDistOverride(overrideMetric: String, q: Array[Float],
        qn: Double, qq: Double, c: Array[Float], rad: Double)
        : (Double, Double) = overrideMetric match {
      case "hamming" | "jaccard" | "l2" => boundAndDist("l2", q, qn, c, rad)
      case "cos" =>
        var dot = 0.0; var cc = 0.0; var i = 0
        while (i < q.length) {
          val y = c(i).toDouble
          dot += q(i).toDouble * y; cc += y * y; i += 1
        }
        val d = 1.0 - dot / math.sqrt(
          math.max(cc, 1e-30) * math.max(qq, 1e-30))
        (d, d)
      case other => boundAndDist(other, q, qn, c, rad)
    }

    /** [[rankFiles]] under a search-time override metric. */
    def rankFilesOverride(overrideMetric: String, q: Array[Float],
        files: Seq[String], aligned: Array[(Double, Array[Float])],
        g: Int): Seq[String] = {
      val qq = IvfIndex.Kernels.dot(q, q)
      val qn = math.sqrt(qq)
      files.indices
        .sortBy { i =>
          val (b, d) = boundAndDistOverride(overrideMetric, q, qn, qq,
            aligned(i)._2, aligned(i)._1)
          (b, d, i)
        }
        .take(g).sorted.map(files)
    }

    /** rangeLists-PARITY reachability: can any stored row of a graph
      * with centroid `c` / covering radius `rad` lie within reported
      * dist `r` of `q`? Slack conventions are exactly
      * [[KnnJoinKernels.rangeLists]]': l2 compares in SQRT space with
      * 1e-9 — an absolute epsilon on the SQUARED lower bound would be
      * orders of magnitude tighter at large distances (squared-space
      * noise scales with 2·sqrt(r)·ulp) and could prune a graph holding
      * a boundary row, silently breaking the range join's exact-at-any-
      * radius contract. Cos/dot slacks follow the same kernel (cos 1e-6,
      * dot 1e-9); cos queries are caller-normalized, so rad·qn ≈ rad
      * within the slack. */
    def reachable(metric: String, q: Array[Float], qn: Double,
        c: Array[Float], rad: Double, r: Double): Boolean = metric match {
      case "l2" =>
        math.sqrt(IvfIndex.Kernels.l2sq(q, c)) - rad <= math.sqrt(r) + 1e-9
      case "cos" =>
        1.0 - IvfIndex.Kernels.dot(q, c) - rad * qn <= r + 1e-6
      case _ =>
        -(IvfIndex.Kernels.dot(q, c) + rad * qn) <= r + 1e-9
    }

    /** Driver-side routed file selection: rank `files` by the metric's
      * (lower bound, centroid dist, idx) — the rankLists order — and
      * keep the top-g, re-sorted to file order (deterministic task
      * layout). Shared by the scalar routed search and the routed
      * partitioned-parent scalar path. */
    def rankFiles(metric: String, q: Array[Float], files: Seq[String],
        aligned: Array[(Double, Array[Float])], g: Int): Seq[String] = {
      val qn = math.sqrt(IvfIndex.Kernels.dot(q, q))
      files.indices
        .sortBy { i =>
          val (b, d) = boundAndDist(metric, q, qn,
            aligned(i)._2, aligned(i)._1)
          (b, d, i)
        }
        .take(g).sorted.map(files)
    }

    /** Routability guard threshold for [[separability]] — calibrated on
      * the two recall fixtures (tools/routing_stat.py over the committed
      * artifacts): clustered mixture-of-Gaussians measures 0.72–0.80,
      * the near-random driver fixture 2.1–3.1, so 1.5 splits them with
      * wide margin on both sides. */
    val SepThreshold: Double = 1.5

    /** Separability of the spatial partitioning: mean covering radius
      * over mean nearest-other-centroid L2 distance. When k-means did
      * not separate the corpus (near-uniform data), every cluster's
      * covering ball spans most of the corpus while centroids crowd
      * together — the ratio blows past 1 and routing to the top-g balls
      * prunes rows that ARE in the true top-k (measured 0.663 recall at
      * the unguarded round-9 auto default on the random fixture). The
      * statistic is pure sidecar geometry (L2 space for every build —
      * cos rows normalize at build), so the guard costs one G² driver-
      * side pass over metadata and needs no artifact format change.
      * Reference analog: the cost-model use-it-or-don't gate
      * (src/index/am.rs:105-133) — the engine decides when the routed
      * path is sound, not the user. */
    def separability(aligned: Array[(Double, Array[Float])]): Double = {
      val n = aligned.length
      if (n <= 1) return 0.0
      var sumRad = 0.0
      var sumNear = 0.0
      var i = 0
      while (i < n) {
        sumRad += aligned(i)._1
        var best = Double.MaxValue
        var j = 0
        while (j < n) {
          if (j != i) {
            val d = math.sqrt(IvfIndex.Kernels.l2sq(aligned(i)._2, aligned(j)._2))
            if (d < best) best = d
          }
          j += 1
        }
        sumNear += best
        i += 1
      }
      if (sumNear <= 0.0) Double.PositiveInfinity else sumRad / sumNear
    }

    /** Did the spatial partitioning separate well enough for top-g
      * routing to be quality-safe? AUTO-mode resolution falls back to
      * all-graphs when false; explicit probeGraphs > 0 is the user's
      * informed override and never consults this. */
    def separable(aligned: Array[(Double, Array[Float])]): Boolean =
      separability(aligned) <= SepThreshold

    /** Resolve an [[AutoProbe]] request against the artifact's own
      * sidecar: not separable → 0 (unrouted — the default path must
      * never silently trade recall on corpora the partitioning couldn't
      * split); separable → max(⌈√G⌉ floor 2, the build-time calibrated
      * `hint` when the sidecar carries one — round 12, the IVF
      * nprobe=auto convention: the heuristic is the floor, the measured
      * depth raises it when the fleet's geometry needs more graphs).
      * Explicit values pass through unchanged. */
    def autoResolve(probeGraphs: Int, nFiles: Int,
        aligned: Array[(Double, Array[Float])], hint: Int = 0): Int =
      if (probeGraphs == AutoProbe && !separable(aligned)) 0
      else if (probeGraphs == AutoProbe)
        math.min(nFiles, math.max(resolveProbe(probeGraphs, nFiles),
          math.max(hint, 0)))
      else resolveProbe(probeGraphs, nFiles)

    /** Pair each sorted graph-file path with its routing entry by the
      * pid encoded in the file name; None unless EVERY file has one (a
      * partial sidecar routes nothing — fail safe to all-graphs). */
    def align(files: Seq[String],
        entries: Map[Int, (Double, Array[Float])])
        : Option[Array[(Double, Array[Float])]] = {
      val pat = ".*graph-(\\d+)\\.bin$".r
      val out = files.map {
        case pat(pid) => entries.get(pid.toInt)
        case _ => None
      }
      if (out.forall(_.isDefined)) Some(out.map(_.get).toArray) else None
    }
  }

  /** Exact-by-pid RDD partitioner for [[buildGraphFiles]]: pid i's rows
    * land in partition i, so file i holds exactly pid i (a spatial cell,
    * whose routing sidecar keys then align, or an IncrHnsw segment
    * chunk). (repartition(parts, col) hashes — it can collide two pids
    * into one graph and strand empty files.) */
  private[graft] class PidPartitioner(n: Int) extends org.apache.spark.Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** Capture the driver's Hadoop configuration as serializable entries —
    * executor-side tasks rebuild it with [[mkConf]] so spark.hadoop.*
    * settings (S3 credentials, kerberos, fs.defaultFS) reach the
    * FileSystem calls. A bare `new Configuration()` in a task would
    * silently drop them. */
  def confEntries(spark: org.apache.spark.sql.SparkSession): Seq[(String, String)] = {
    val it = spark.sparkContext.hadoopConfiguration.iterator()
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (it.hasNext) { val e = it.next(); buf += ((e.getKey, e.getValue)) }
    buf.toSeq
  }

  def mkConf(entries: Seq[(String, String)]): org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    entries.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** One-time CREATE INDEX job: build one graph (`parts <= 1`) or one
    * graph per spatial cell ([[buildFleet]]) and persist each as a
    * columnar binary file (`graph-<pid>.bin`, written through the Hadoop
    * FS API so the same code targets local disk or HDFS/S3) — the
    * sealed-segment analog (crates/index/src/segment/sealed.rs).
    * Searches load graphs via the executor-local [[GraphCache]], never
    * rebuild. Every graph inserts its rows in id order, so its bytes are
    * deterministic. */
  def ensure(spark: org.apache.spark.sql.SparkSession, name: String,
      df: => DataFrame, source: String, idCol: String, vecCol: String,
      metric: String, parts: Int, m: Int = 12, efConstruction: Int = 300): String = {
    import graft.index.IndexCatalog
    // format AND build params participate in staleness: an older layout
    // or different (m, efConstruction, parts) rebuilds instead of
    // silently serving the stale artifact. parts>1 artifacts additionally
    // require the spatial-partitioning + routing-sidecar generation
    // (routing=centroid3 since round 12 — the calibrated probe hint joined
    // the manifest) — pre-routing artifacts rebuild.
    val reqs = Map("format" -> "flatbin2", "m" -> m.toString,
      "ef_construction" -> efConstruction.toString,
      "parts" -> parts.toString,
      "sample" -> graft.index.SampleSidecar.Gen,
      "ef_cal" -> EfCalGen) ++
      (if (parts > 1) Map("routing" -> RoutingGen) else Map.empty)
    IndexCatalog.ensure(spark, name, source, "hnsw", requires = reqs)(
      buildFlatArtifact(spark, df, source, idCol, vecCol, metric, parts,
        m, efConstruction))
    IndexCatalog.dataDir(spark, name)
  }

  /** REINDEX this artifact (reindex.slt): same build as [[ensure]], forced,
    * into a fresh generation dir with an atomic pointer swap —
    * [[graft.index.IndexCatalog.reindex]] owns the concurrency story. */
  def reindex(spark: org.apache.spark.sql.SparkSession, name: String,
      df: => DataFrame, source: String, idCol: String, vecCol: String,
      metric: String, parts: Int, m: Int = 12, efConstruction: Int = 300): String = {
    import graft.index.IndexCatalog
    IndexCatalog.reindex(spark, name)(
      buildFlatArtifact(spark, df, source, idCol, vecCol, metric, parts,
        m, efConstruction))
    IndexCatalog.dataDir(spark, name)
  }

  /** Beam-breadth calibration generation (round 17): the 768-dim smoke
    * measured routed recall@10 collapse to 0.50 at the fixed ef=100
    * default on near-uniform high-dimensional clouds (distance
    * concentration — the 10th-NN sits at 0.92× the MEAN pairwise
    * distance, so greedy beams lose their gradient), recovering
    * monotonically along the ef ladder (0.59 @200, 0.78 @400, 0.88
    * @800, 0.96 @1600) while the same corpus's calibrated IVF default
    * held 1.000. The ProbeCal philosophy applied to beams:
    * measure-at-build, serve as the UNSET-conf default, explicit confs
    * bypass. Statistic: on the 64-query lowest-xxhash holdout, the
    * smallest ladder ef whose per-graph beam union reaches mean
    * DISTANCE recall@10 >= 0.95 against the same graphs' exact scans —
    * beam hits count when their dist <= the exact 10th distance, so
    * massive tie sets (binarized payloads: thousands of rows at equal
    * hamming dist) don't demand id-exact agreement the beam can never
    * owe (gen 1 used id-set recall and calibrated a 500-row bvec
    * fixture to ef=1600 on pure ties — never shipped). One Spark job
    * over the freshly built files. Dense flat graphs only (coded
    * families have rerank windows, incremental graphs are per-delta);
    * easy corpora calibrate to <= 100 so the served default
    * (max(100, hint)) is unchanged where beams were already fine. Bump
    * together with any statistic change, and update the q_index_stat
    * VALUES oracle rows (hnsw rows carry ef_cal/ef_hint). */
  private[graft] val EfCalGen = "efcal2"
  private[graft] val EfLadder = Seq(64, 100, 200, 400, 800, 1600)

  private[graft] def calibrateEf(spark: org.apache.spark.sql.SparkSession,
      dataDir: String, vframe: DataFrame): Int = {
    import org.apache.spark.sql.functions.xxhash64
    val qs = vframe.select(col("v"), xxhash64(col("v")).as("qh"))
      .orderBy(col("qh")).limit(64)
      .collect().map(_.getSeq[Float](0).toArray)
    if (qs.isEmpty) return EfLadder.head
    val files = graphFiles(spark, dataDir)
    if (files.isEmpty) return EfLadder.head
    val bq = spark.sparkContext.broadcast(qs)
    val hconf = confEntries(spark)
    val ladder = EfLadder
    val slices = math.max(1, math.min(files.length,
      spark.sparkContext.defaultParallelism * 2))
    // one job: per graph, every holdout query's exact top-10 (ei = -1)
    // and its beam top-10 at each ladder ef; the driver merges
    // per-graph candidates into global top-10s (the searchIndex union
    // shape) and reads recall off the merge
    val cands = spark.sparkContext.parallelize(files, slices)
      .mapPartitions { it =>
        val conf = mkConf(hconf)
        it.flatMap { f =>
          val g = GraphCache.get(f, conf)
          val queries = bq.value
          queries.iterator.zipWithIndex.flatMap { case (q, qi) =>
            val exact = g.bruteForce(q, 10).iterator
              .map { case (d, id) => (qi, -1, d, id) }
            val beams = ladder.iterator.zipWithIndex
              .flatMap { case (ef, ei) =>
                g.search(q, 10, ef).iterator
                  .map { case (d, id) => (qi, ei, d, id) }
              }
            exact ++ beams
          }
        }
      }.collect()
    // global top-10 DISTANCES per (query, ef) from the per-graph unions;
    // recall counts beam hits at dist <= the exact 10th distance
    // (tie-insensitive — kernels are deterministic, so equal rows give
    // bit-equal doubles on both paths)
    val by = cands.groupBy(t => (t._1, t._2)).map { case (k, arr) =>
      k -> arr.map(_._3).sorted.take(10).toSeq }
    val recalls = ladder.indices.map { ei =>
      val rs = qs.indices.map { qi =>
        val ex = by.getOrElse((qi, -1), Seq.empty[Double])
        if (ex.isEmpty) 1.0
        else {
          val thr = ex.last
          val got = by.getOrElse((qi, ei), Seq.empty[Double])
          got.count(_ <= thr).toDouble / ex.length
        }
      }
      rs.sum / math.max(rs.length, 1)
    }
    val idx = recalls.indexWhere(_ >= 0.95)
    if (idx >= 0) ladder(idx) else ladder.last
  }

  /** The graph-artifact build job shared by [[ensure]] and [[reindex]]:
    * the [[buildFleet]] graph files under `dataDir`, the selectivity
    * sample and the calibrated ef hint; returns the manifest describing
    * them. */
  private def buildFlatArtifact(spark: org.apache.spark.sql.SparkSession,
      df: => DataFrame, source: String, idCol: String, vecCol: String,
      metric: String, parts: Int, m: Int, efConstruction: Int)
      : String => graft.index.IndexCatalog.Manifest = { dataDir =>
      // cosine follows the IVF rewrite: normalize at build, search by dot.
      // NULL AND non-finite vectors are excluded (null.slt contract): a
      // NaN node would stall the greedy descent — every dist comparison
      // against NaN is false, so a walk entering it can never leave.
      val vec =
        if (metric == "cos") graft.functions.vectorNormalize(col(vecCol))
        else col(vecCol)
      val rows = df.filter(col(vecCol).isNotNull &&
          graft.functions.vectorIsFinite(col(vecCol)))
        .select(col(idCol).cast("long").as("id"), vec.as("vec"))
      val (nFiles, routing) = buildFleet(spark, rows, parts, dataDir,
        "graph", metric, m, efConstruction, None)
      // selectivity sample for the filtered pushdown arm's cost gate —
      // over the RAW source frame (the population the unrewritten
      // pre-filter plan would scan), not the null-filtered build rows
      graft.index.SampleSidecar.write(spark, df, idCol, dataDir)
      val efHint = calibrateEf(spark, dataDir, rows.select(col("vec").as("v")))
      graft.index.IndexCatalog.Manifest("hnsw", source, metric,
        Map("m" -> m.toString, "ef_construction" -> efConstruction.toString,
          "parts" -> parts.toString, "format" -> "flatbin2",
          "sample" -> graft.index.SampleSidecar.Gen,
          "files" -> nFiles.toString, "ef_cal" -> EfCalGen,
          "ef_hint" -> efHint.toString) ++ routing)
  }

  /** BALANCED spatial assignment (round 15, routing=centroid4): k-means
    * cell sizes are unbounded — a center that captures several natural
    * clusters makes its insertion task the fleet build's wall (one
    * sequential graph build per cell; the 5M-row smoke measured 2 of 16
    * cells at ~1M rows each while 30 cores idled). Cells over
    * [[BalanceFactor]]×target split by a SECOND-LEVEL k-means, so every
    * sub-graph gets its own discriminative (centroid, radius) routing
    * entry — a hash split would scatter near-identical vectors across
    * siblings and gut routed recall. Balanced layouts return
    * (cl, model.centroids) unchanged and build byte-identical artifacts
    * to centroid3. One level only: a cell still over the cap after its
    * spatial split (duplicate-heavy — no spatial structure to cut)
    * stays one graph. `assigned` must carry an int `cl` column =
    * nearestCentroid(vecCol, model); returns the final pid column over
    * that frame plus the final centroid array (pid-indexed). */
  private def balancedPids(assigned: => DataFrame, vecCol: String,
      parts: Int, model: IvfIndex.Model)
      : (org.apache.spark.sql.Column, Array[Array[Float]]) = {
    val counts = assigned.groupBy("cl").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    val target = math.max(1L, math.ceil(total.toDouble / parts).toLong)
    val over = counts.filter(_._2 > (BalanceFactor * target).toLong)
      .keys.toSeq.sorted
    if (over.isEmpty) (col("cl"), model.centroids)
    else {
      val buf = mutable.ArrayBuffer.empty[Array[Float]]
      val remap = Array.fill(model.centroids.length)(-1)
      counts.keys.toSeq.sorted.filterNot(over.contains).foreach { c =>
        remap(c) = buf.length; buf += model.centroids(c)
      }
      val subs = over.map { c =>
        val k = math.max(2, math.min(parts,
          math.ceil(counts(c).toDouble / target).toInt))
        val m2 = IvfIndex.train(assigned.filter(col("cl") === c),
          vecCol, "l2", k)
        val off = buf.length
        m2.centroids.foreach(buf += _)
        (c, m2, off)
      }
      val baseExpr: org.apache.spark.sql.Column =
        element_at(typedlit(remap.toSeq), col("cl") + 1)
      val full = subs.foldLeft(baseExpr) { case (acc, (c, m2, off)) =>
        when(col("cl") === c,
          IvfIndex.nearestCentroid(col(vecCol), m2) + lit(off))
          .otherwise(acc)
      }
      (full, buf.toArray)
    }
  }

  /** The one graph-file build of every HNSW kind (dense, coded and
    * incremental): each task inserts its rows, sorted by id, into one
    * [[Graph]] under `metric` and publishes it as `names(pid)` in
    * `dataDir` ([[GraphFileWriter]]). `rows` carries `id` (long) and
    * `vec`, plus an int `pid` in [0, names.length) when more than one
    * file is written: those rows shuffle through the exact
    * [[PidPartitioner]]; a single file coalesces to one task, no
    * shuffle. With `centroids`, each file's covering L2 radius to
    * `centroids(pid)` is measured; with a `codec`, files hold its coded
    * graphs instead of the raw [[FlatGraph]]. Returns (pid, radius, 0.0
    * without centroids) per published file. */
  private[graft] def buildGraphFiles(spark: org.apache.spark.sql.SparkSession,
      rows: DataFrame, dataDir: String, names: Array[String],
      metric: String, m: Int, efConstruction: Int,
      centroids: Option[Array[Array[Float]]] = None,
      codec: Option[Codec] = None): Array[(Int, Double)] = {
    import spark.implicits._
    val sc = spark.sparkContext
    val writer = new GraphFileWriter(dataDir, names, metric, m,
      efConstruction, confEntries(spark), centroids.map(sc.broadcast(_)),
      codec.map(sc.broadcast(_)))
    if (names.length == 1)
      rows.select(col("id"), col("vec")).as[(Long, Array[Float])]
        .coalesce(1).mapPartitions(writer.run _).collect()
    else
      rows.select(col("pid"), col("id"), col("vec"))
        .as[(Int, Long, Array[Float])]
        .rdd.map { case (p, id, v) => (p, (id, v)) }
        .partitionBy(new PidPartitioner(names.length))
        .map(_._2).mapPartitions(writer.run _).collect()
  }

  /** The graph files of a dense or coded HNSW artifact, written into a
    * fresh `dataDir` as `<prefix>-<pid>.bin` by [[buildGraphFiles]].
    * `parts <= 1` publishes one graph. `parts > 1` runs the SPATIAL
    * build (round 8): k-means the rows into `parts` cells, split the
    * oversized ones ([[balancedPids]]), build one graph per cell, and
    * write the `routing.bin` sidecar — per pid the l2 centroid and the
    * nextUp-rounded covering radius, the per-partition lower bounds
    * searches prune graphs by, plus the calibrated probe hint. Hash
    * partitions would each be a uniform sample of the corpus, whose
    * radii bound nothing. Assignment is L2 in the STORED space (cos rows
    * arrive normalized), matching the L2-radius bounds the joins
    * evaluate; every-graph searches are partitioning-agnostic. `rows` =
    * (id long, vec), already null/non-finite filtered. Returns the file
    * count and the routing manifest params (empty at parts <= 1). */
  private[graft] def buildFleet(spark: org.apache.spark.sql.SparkSession,
      rows: DataFrame, parts: Int, dataDir: String, prefix: String,
      metric: String, m: Int, efConstruction: Int,
      codec: Option[Codec]): (Int, Map[String, String]) = {
    val dirPath = new org.apache.hadoop.fs.Path(dataDir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dirPath)) fs.delete(dirPath, true)
    fs.mkdirs(dirPath)
    def name(pid: Int): String = f"$prefix-$pid%05d.bin"
    if (parts <= 1)
      return (buildGraphFiles(spark, rows, dataDir, Array(name(0)), metric,
        m, efConstruction, codec = codec).length, Map.empty)
    val model = IvfIndex.train(rows, "vec", "l2", parts)
    def assigned = rows
      .withColumn("cl", IvfIndex.nearestCentroid(col("vec"), model))
    val (pidCol, centroids) = balancedPids(assigned, "vec", parts, model)
    val stats = buildGraphFiles(spark, assigned.withColumn("pid", pidCol),
      dataDir, centroids.indices.map(name).toArray, metric, m,
      efConstruction, Some(centroids), codec)
    val ents = stats.sortBy(_._1).map { case (pid, rad) =>
      (pid, rad, centroids(pid)) }.toSeq
    val routable = Routing.separable(ents.map(e => (e._2, e._3)).toArray)
    // probeGraphs calibration (round 12, the IVF cal3 convention): only
    // separable fleets measure — the guarded AUTO default never routes a
    // non-separated partitioning, so the extra corpus pass would buy
    // nothing there. Coded searches route the RAW query through the
    // same sidecar, so coded fleets calibrate alike.
    val hint = if (!routable) 0
      else calibrateGraphProbes(spark,
        assigned.select(col("vec").as("v"), pidCol.as("pid")), metric, ents)
    Routing.write(fs, dirPath, metric, ents,
      if (centroids.nonEmpty) centroids(0).length else 0, hint)
    (stats.length,
      Map("routing" -> RoutingGen, "routable" -> (if (routable) "yes" else "no"),
        // advisory (round 16): the cell count the data wanted — larger
        // than `parts` means the build was misconfigured toward wide
        // cells (see RoutingGen's centroid5 note)
        "suggest_parts" -> stats.length.toString) ++
        (if (hint > 0) Map("probe_hint" -> hint.toString) else Map.empty))
  }

  /** Graph-fleet probe calibration ([[ProbeCal]], round 12): on the
    * deterministic 64-query holdout, the p90 across queries of each
    * query's 95%-coverage graph depth under the SEARCH-time routing
    * ranking ([[Routing.boundAndDist]] (lb, cd, idx) order — rankFiles
    * parity), clamped to [1, parts]. `frame` = (v = stored-space
    * vector, pid = assigned cluster); cos fleets store
    * normalize-at-build rows, so the stored-space kernel is 1 - dot,
    * matching the reported search distance. */
  private def calibrateGraphProbes(spark: org.apache.spark.sql.SparkSession,
      frame: DataFrame, metric: String,
      ents: Seq[(Int, Double, Array[Float])]): Int = {
    if (ents.length <= 1) return math.max(ents.length, 1)
    val mcode = metric match {
      case "l2" => 0
      case "dot" => 1
      case _ => 2
    }
    val h = ProbeCal.hint(spark, frame, mcode, q => {
      val qn = math.sqrt(IvfIndex.Kernels.dot(q, q))
      ents.indices.sortBy { i =>
        val (b, d) = Routing.boundAndDist(metric, q, qn,
          ents(i)._3, ents(i)._2)
        (b, d, i)
      }.zipWithIndex.map { case (i, r) => ents(i)._1 -> (r + 1) }.toMap
    })
    math.min(math.max(h, 1), ents.length)
  }

  /** Driver-side routed file selection for the coded searches: same
    * sidecar + ranking as the dense scalar path; missing/partial
    * routing or g <= 0 keeps every file. AUTO requests resolve against
    * the sidecar's own separability ([[Routing.autoResolve]]): a
    * partitioning that didn't separate falls back to all-graphs. */
  private[graft] def routeFiles(spark: org.apache.spark.sql.SparkSession,
      path: String, files: Seq[String], q: Array[Float],
      probeGraphs: Int,
      overrideMetric: Option[String] = None): Seq[String] = {
    if (probeGraphs == 0 || files.length <= 1) return files
    if (probeGraphs > 0 && probeGraphs >= files.length) return files
    val dirPath = new org.apache.hadoop.fs.Path(path)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Routing.readFull(fs, dirPath)
      .flatMap { case (met, ents, hint) =>
        Routing.align(files, ents).map { aligned =>
          // hint calibrated under the BUILD metric; override searches
          // still consult it — the fleet geometry (how many clusters a
          // neighborhood straddles) is what it measures, and the
          // densified ranking spaces map onto the same l2 build
          val g = Routing.autoResolve(probeGraphs, files.length, aligned,
            hint)
          if (g <= 0 || g >= files.length) files
          else overrideMetric match {
            case Some(om) =>
              Routing.rankFilesOverride(om, q, files, aligned, g)
            case None => Routing.rankFiles(met, q, files, aligned, g)
          }
        }
      }.getOrElse(files)
  }

  /** DDL-option-spelling ensure (reference pgvector compatibility,
    * src/index/compatibility.rs:7-60): `m` / `ef_construction` reloption
    * names parsed by [[graft.index.IndexOptions.hnsw]] — both the
    * pgvector and the native spelling land on the SAME manifest, so
    * re-ensuring under the other spelling is a no-op. */
  def ensure(spark: org.apache.spark.sql.SparkSession, name: String,
      df: => DataFrame, source: String, idCol: String, vecCol: String,
      metric: String, parts: Int, options: Map[String, String]): String = {
    val (m, efc) = graft.index.IndexOptions.hnsw(options)
    ensure(spark, name, df, source, idCol, vecCol, metric, parts, m, efc)
  }

  /** Search persisted per-partition graphs; global ordered merge of the
    * per-graph top-k streams (the LoserTree analog). Per-query cost is
    * k·efSearch distance evaluations per RESIDENT graph — the walks run
    * on the driver over graphs loaded once into the GraphCache
    * ([[ResidentSearch]]), so repeat queries do no artifact I/O and run
    * no Spark job. The result is a local relation. */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, q: Array[Float], k: Int, efSearch: Int = AutoEf,
      exact: Boolean = false, probeGraphs: Int = 0): DataFrame = {
    val efSearch0 = resolveEf(path, efSearch)
    val allFiles = graphFiles(spark, path)
    // routed scalar search (round 8): with a spatial routing sidecar,
    // rank graphs by the metric's lower bound DRIVER-side (the query is
    // a plan-time constant; G centroid distances are metadata work) and
    // search only the top-g — per-query cost stops growing with graph
    // count, the searchIndex form of the routed joins. Exact mode never
    // routes (the flat-scan union must stay the provable brute force).
    val files =
      if (exact) allFiles
      else routeFiles(spark, path, allFiles, q, probeGraphs)
    searchFiles(spark, files, idCol, q, k, efSearch0, exact)
  }

  /** Default beam floor for plain-graph searches: effective ef =
    * max(efSearch, 2·k). The IncrHnsw ef=2× lesson (round 13, 0.96→1.00
    * clustered) applied to every resident-graph beam: an ef == k beam
    * loses recoverable neighbors whenever the per-graph frontier is as
    * narrow as the answer set (measured hnsw_l2 clustered recall@100
    * 0.97 at ef = k = 100). An explicit efSearch above the floor always
    * wins; exact modes never beam. */
  private[graft] def beamEf(efSearch: Int, k: Int): Int =
    math.max(efSearch, k * 2)

  /** AUTO beam breadth (round 17): `efSearch = AutoEf` (0, the default
    * on every dense search entry) resolves max(100, the ADJACENT
    * manifest's calibrated ef_hint) — the direct operator API's
    * spelling of the unset-conf default, so tools and library users get
    * the calibrated breadth without knowing the conf layer. Any
    * positive value is explicit and bypasses (the probe-conf
    * discipline); artifacts without a catalog manifest or hint resolve
    * to the former fixed 100. */
  val AutoEf = 0
  private[graft] def resolveEf(path: String, requested: Int): Int =
    if (requested > 0) requested
    else math.max(100, graft.index.IndexCatalog
      .loadNear(new java.io.File(path.stripPrefix("file:")))
      .flatMap(_.params.get("ef_hint")).flatMap(_.toIntOption)
      .getOrElse(0))

  /** Slice count for per-graph-file batch jobs (round 16): one task
    * per file puts hundreds of near-no-op tasks on the scheduler for
    * large fleets — scheduling, not search, dominated the 5M incr
    * smoke's p50 at 250 graphs (1120 ms → 78 ms packed at ~2 tasks per
    * core). Files sharing a task resolve through the GraphCache
    * sequentially, one ref live at a time (the round-7 convention);
    * results are a union either way. */
  private[graft] def fileSlices(spark: org.apache.spark.sql.SparkSession,
      n: Int): Int =
    math.max(1, math.min(n, spark.sparkContext.defaultParallelism * 2))

  /** The artifact's `graph-*.bin` files under `path`, sorted. */
  private[graft] def graphFiles(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[String] = {
    val dirPath = new org.apache.hadoop.fs.Path(path)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.globStatus(new org.apache.hadoop.fs.Path(path, "graph-*.bin"))
      .map(_.getPath.toString).sorted.toSeq
  }

  /** Scalar search over an explicit graph-file list — the per-file walks
    * of [[searchIndex]] with discovery/routing already done, run on the
    * driver over the resident graphs ([[ResidentSearch]]). The
    * partitioned parent's routed scalar path calls this with its
    * cross-partition top-g selection. */
  private[graft] def searchFiles(spark: org.apache.spark.sql.SparkSession,
      files: Seq[String], idCol: String, q: Array[Float], k: Int,
      efSearch: Int, exact: Boolean): DataFrame =
    ResidentSearch.topK(spark, files, idCol, k)(
      walkFile(spark, q, k, beamEf(efSearch, k), exact))

  /** One graph file's scalar top-k as (id, dist). Cos graphs store
    * normalized vectors and search by -dot; rows report cosine distance
    * 1 - dot, the reference's convention (am_options.rs:244-249),
    * matching the IVF cos path. */
  private[graft] def walkFile(spark: org.apache.spark.sql.SparkSession,
      q: Array[Float], k: Int, efb: Int, exact: Boolean)(
      f: String): Iterator[(Long, Double)] = {
    val g = GraphCache.get(f, spark.sparkContext.hadoopConfiguration)
    val off = if (g.metric == "cos") 1.0 else 0.0
    val res = if (exact) g.bruteForce(q, k) else g.search(q, k, efb)
    res.iterator.map { case (d, id) => (id, d + off) }
  }

  /** Filtered top-k over the graph artifact — the reference's VBASE
    * filtered-search contract (vbase.slt, am_scan.rs refill loop)
    * re-expressed batch-first. Graphs store only (id, vec), so the
    * predicate is evaluated on the BASE table: fetch an over-provisioned
    * candidate set from the graphs, inner-join the predicate-filtered
    * source (scan reads only the predicate columns + id, predicate
    * pushed down) against the BROADCAST candidate set (≤ kr rows of
    * (id, dist) — never collected), and QUADRUPLE the fetch until k survive or
    * the graphs are exhausted (a round returning fewer than it asked for
    * has seen every reachable row). Rounds are O(log n/k); candidates
    * never exceed the final kr — the table itself is never shuffled.
    *
    * Exactness (`exact = true`, flat-scan scoring): any distance-prefix
    * of the FULL ranking that contains ≥ k predicate-passing rows yields
    * the true filtered top-k, and the exhaustion round degenerates to
    * brute force — so the result is provably exact in every round. */
  def searchIndexFiltered(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, q: Array[Float], k: Int,
      source: DataFrame, pred: org.apache.spark.sql.Column,
      efSearch: Int = AutoEf, overfetch: Int = 4, maxRounds: Int = 8,
      exact: Boolean = false): DataFrame = {
    val efResolved = resolveEf(path, efSearch)
    val filteredIds = source.filter(pred).select(col(idCol))
    // Selectivity-seeded first fetch (round 10): when the artifact
    // carries a `_sample.bin`, size round 1 to 2k / Wilson-lower(sel)
    // so selective predicates skip the quadrupling rounds (each round
    // is a candidate search + two actions). Zero sample matches seed
    // the EXHAUSTIVE fetch — one brute round instead of log(n/k)
    // escalations. Results are unchanged by construction: every round
    // is exact in exact mode, and a larger kr only widens the
    // candidate prefix in approximate mode.
    val seeded: Long =
      if (!spark.conf.get("spark.graft.ann.filteredAdaptive", "true")
          .toBooleanOption.getOrElse(true)) 0L
      else (source.filter(pred).queryExecution.analyzed match {
        case org.apache.spark.sql.catalyst.plans.logical.Filter(c, _) =>
          graft.index.SampleSidecar.estimate(spark, path, c)
        case _ => None
      }) match {
        case Some((m, n, total)) =>
          val sLo = graft.index.SampleSidecar.wilsonLower(m, n)
          if (m == 0 || sLo <= 0.0) total
          else math.min(math.ceil(2.0 * k / sLo).toLong, total)
        case None => 0L
      }
    var kr = math.max(math.max(k.toLong * math.max(overfetch, 2), k + 1L),
      seeded)
    var rounds = 0
    var result: DataFrame = null
    while (result == null && rounds < maxRounds) {
      val krInt = math.min(kr, Int.MaxValue.toLong).toInt
      val cands = searchIndex(spark, path, idCol, q, krInt,
        efSearch = math.max(efResolved, krInt), exact = exact)
      val fetched = cands.count()
      val surv = filteredIds.join(broadcast(cands), Seq(idCol))
      if (surv.count() >= k || fetched < krInt || krInt == Int.MaxValue)
        result = surv.orderBy(col("dist"), col(idCol)).limit(k)
      kr *= math.max(overfetch, 2)
      rounds += 1
    }
    if (result == null)
      // rounds exhausted without k survivors: return what survived the
      // largest fetch (approximate mode only — exact mode always
      // terminates via the exhaustion test)
      result = filteredIds.join(broadcast(searchIndex(spark, path, idCol, q,
          math.min(kr, Int.MaxValue.toLong).toInt, efResolved, exact)), Seq(idCol))
        .orderBy(col("dist"), col(idCol)).limit(k)
    lastFilteredRounds = rounds
    result
  }

  /** Refill rounds taken by the last [[searchIndexFiltered]] call on
    * this driver — test observability for the selectivity seeding (the
    * round count is otherwise invisible in the returned frame). */
  @volatile private[graft] var lastFilteredRounds: Int = 0

  /** Typed-opclass search over an EXISTING graph artifact with a
    * search-time metric override — completes the typed HNSW metric
    * matrix (f16 cos/dot, bvec jaccard/dot, svec cos/dot) without
    * per-metric artifacts, reusing the typed-IVF convention that metric
    * is a search-time choice (reference: any opclass under the hnsw
    * indexing option, finalize.sql:719-803 ×
    * crates/indexing/src/sealed.rs:16-110). The override kernels score
    * the stored densified payloads directly (cos is the DIRECT one-pass
    * form, never normalize-at-build — the vecf16-cos convention), so no
    * cos offset applies. `exact = true` flat-scans every graph — the
    * provable exact twin. */
  def searchIndexMetric(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, q: Array[Float], k: Int, metric: String,
      efSearch: Int = AutoEf, exact: Boolean = false,
      probeGraphs: Int = 0): DataFrame = {
    val efb = beamEf(resolveEf(path, efSearch), k)
    val allFiles = graphFiles(spark, path)
    // routed typed scalar search (round 9): the same sidecar routes
    // override-metric searches through the TypedAnn.rankLists metric
    // map; exact mode never routes (flat-scan union = the oracle mode)
    val files =
      if (exact) allFiles
      else routeFiles(spark, path, allFiles, q, probeGraphs,
        overrideMetric = Some(metric))
    val hconf = spark.sparkContext.hadoopConfiguration
    ResidentSearch.topK(spark, files, idCol, k) { f =>
      val g = GraphCache.get(f, hconf)
      val res = if (exact) g.bruteForceMetric(q, k, metric)
                else g.searchMetric(q, k, efb, metric)
      res.iterator.map { case (d, id) => (id, d) }
    }
  }

  /** EXACT sphere-range over the graph artifact — the strategy-2 sphere
    * predicate for hnsw-kind registrations (the reference's sphere
    * operators work under every index kind, src/index/am_scan.rs:26-55,
    * finalize.sql:745-803). Graphs hold their vectors executor-resident
    * (FlatGraph payload + byte-LRU GraphCache), so the exact filter is a
    * flat scan of resident float arrays — range is not top-k, so no
    * refill loop, and the result is exact by construction. Cos graphs
    * store normalize-at-build vectors; the CALLER passes the normalized
    * query (the searchIndex convention) and rows score 1 - dot. */
  def rangeSearchFlat(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, q: Array[Float], r: Double): DataFrame = {
    import spark.implicits._
    val files = graphFiles(spark, path)
    if (files.isEmpty)
      return spark.emptyDataset[(Long, Double)].toDF(idCol, "dist")
    val bq = spark.sparkContext.broadcast(q)
    val hconf = confEntries(spark)
    spark.sparkContext
      .parallelize(files, fileSlices(spark, files.length))
      .mapPartitions { it =>
        val conf = mkConf(hconf)
        it.flatMap { f =>
          val g = GraphCache.get(f, conf)
          val off = if (g.metric == "cos") 1.0 else 0.0
          g.rangeFlat(bq.value, r, off)
        }
      }.toDF(idCol, "dist")
  }

  /** Exact-mode search over a (single-graph) artifact: flat scan of the
    * stored vectors, provably the brute-force top-k. */
  def searchIndexExact(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, q: Array[Float], k: Int): DataFrame =
    searchIndex(spark, path, idCol, q, k, exact = true)

  /** Batched many-query search (batch-inference shape, the HNSW sibling
    * of IvfIndex.batchSearch): each task loads its resident graph ONCE
    * and answers the whole broadcast query batch against it — per-graph
    * I/O is amortized over the batch instead of paid per query. Returns
    * (qid, idCol, dist, rn<=k) ordered by (qid, rn). exact=true scores
    * the flat scan per graph (oracle mode). */
  /** Table-valued EXACT range join over the graph artifact — the HNSW
    * sibling of [[KnnJoin.rangeJoin]] and the join form of
    * [[rangeSearchFlat]]: every (query row, stored row) pair with
    * dist < r, the query side a table that never touches the driver.
    * Each task streams its query partition through every resident graph
    * (byte-budget GraphCache) and flat-scans the columnar payload —
    * range is not top-k, so there is no window and no refill; the
    * result is exact by construction at any radius. Cos artifacts
    * follow the rangeSearchFlat convention: the CALLER normalizes the
    * query column upstream and rows score 1 - dot. Null/non-finite
    * query vectors drop (null.slt). Returns (qid, idCol, dist). */
  def rangeJoin(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, queries: DataFrame, qidCol: String, qvecCol: String,
      r: Double): DataFrame = {
    val (files, routing, _) = joinArtifacts(spark, path)
    rangeJoinFiles(spark, files, routing, idCol, queries, qidCol, qvecCol, r)
  }

  /** Gather a graph artifact's (sorted file list, aligned routing) — the
    * shared discovery step of the table-valued joins. The partitioned
    * parent concatenates several artifacts' results before calling the
    * `*Files` forms directly. */
  private[graft] def joinArtifacts(spark: org.apache.spark.sql.SparkSession,
      path: String)
      : (Seq[String], Option[(String, Array[(Double, Array[Float])])],
         Int) = {
    val dirPath = new org.apache.hadoop.fs.Path(path)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.globStatus(new org.apache.hadoop.fs.Path(path, "graph-*.bin"))
      .map(_.getPath.toString).sorted.toSeq
    // routing sidecar (spatial builds): per-query SOUND graph pruning —
    // a graph is skipped only when its lower bound proves no stored row
    // can be within r, so the range join stays exact at any radius. The
    // eps follows the rangeScan/rangeLists convention: it only ever ADDS
    // graphs. Metric is per graph file; routing bounds need it up front,
    // so it rides the sidecar alignment (all graphs of one artifact
    // share the build metric).
    val full = Routing.readFull(fs, dirPath)
    val routing = full.flatMap { case (met, ents, _) =>
      Routing.align(files, ents).map(a => (met, a)) }
    (files, routing, full.map(_._3).getOrElse(0))
  }

  /** [[rangeJoin]] over an explicit (file list, routing) pair — the form
    * the partitioned parent calls with the CONCATENATION of its chosen
    * sub-indexes' graphs, so one query-side pass serves every partition
    * and routing prunes across the whole fleet. */
  private[graft] def rangeJoinFiles(spark: org.apache.spark.sql.SparkSession,
      files: Seq[String],
      routing: Option[(String, Array[(Double, Array[Float])])],
      idCol: String, queries: DataFrame, qidCol: String, qvecCol: String,
      r: Double): DataFrame = {
    import spark.implicits._
    if (files.isEmpty)
      return spark.emptyDataset[(Long, Long, Double)].toDF("qid", idCol, "dist")
    val bfiles = spark.sparkContext.broadcast(files)
    val brouting = spark.sparkContext.broadcast(routing)
    val hconf = confEntries(spark)
    queries
      .filter(col(qvecCol).isNotNull && graft.functions.vectorIsFinite(col(qvecCol)))
      .select(col(qidCol).cast("long").as("qid"), col(qvecCol).as("qv"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val conf = mkConf(hconf)
        // graphs-OUTER order (the searchIndexBatch shape): the query
        // partition is buffered (bounded by maxPartitionBytes — vectors,
        // small next to graphs) and each graph is resolved ONCE per
        // task, one at a time. Per-row GraphCache.get would RPC-stat
        // per (row, graph) and thrash the LRU whenever resident graphs
        // exceed the byte budget; holding refs to ALL graphs at once
        // would bypass the budget instead.
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else {
          val fl = bfiles.value
          // per-graph list of query indices that can still reach it
          val sel: Array[Array[Int]] = brouting.value match {
            case None => null
            case Some((metric, ents)) =>
              val buf = Array.fill(fl.length)(
                new scala.collection.mutable.ArrayBuffer[Int])
              var i = 0
              while (i < rows.length) {
                val q = rows(i)._2
                val qn = math.sqrt(IvfIndex.Kernels.dot(q, q))
                var gi = 0
                while (gi < fl.length) {
                  val (rad, c) = ents(gi)
                  // rangeLists-parity slack (sqrt-space for l2): the
                  // prune must never drop a graph holding a boundary row
                  if (Routing.reachable(metric, q, qn, c, rad, r))
                    buf(gi) += i
                  gi += 1
                }
                i += 1
              }
              buf.map(_.toArray)
          }
          fl.iterator.zipWithIndex.flatMap { case (f, gi) =>
            if (sel != null && sel(gi).isEmpty) Iterator.empty
            else {
              val g = GraphCache.get(f, conf)
              val off = if (g.metric == "cos") 1.0 else 0.0
              val qIdx: Iterator[Int] =
                if (sel == null) Iterator.range(0, rows.length)
                else sel(gi).iterator
              qIdx.flatMap { i =>
                val (qid, q) = rows(i)
                g.rangeFlat(q, r, off).map { case (id, d) => (qid, id, d) }
              }
            }
          }
        }
      }.toDF("qid", idCol, "dist")
  }

  /** Table-valued KNN JOIN over the graph artifact — the HNSW sibling of
    * [[KnnJoin.join]], for query sides that are themselves tables and
    * never fit on the driver (searchIndexBatch collects its queries to a
    * `Seq`). The query table keeps its own partitioning; each task walks
    * its queries through every resident graph (GraphCache — a graph
    * loads once per executor and lives under the byte-budget LRU, so the
    * per-task working set is bounded regardless of corpus size), emits
    * per-graph top-k candidates, and a qid-window keeps the global
    * top-k. Work is |Q|·G searches — inherent to graph-partitioned
    * HNSW — and scales out with query partitions. Cos artifacts follow
    * the searchIndex convention: the CALLER passes normalized queries
    * (here: normalize qvecCol upstream); reported dist adds the +1
    * offset. `exact = true` flat-scans each graph, so the union of
    * per-graph brute-force top-ks provably contains the global top-k —
    * the oracle mode. Null/non-finite query vectors drop (null.slt). */
  def knnJoin(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, efSearch: Int = AutoEf, exact: Boolean = false,
      probeGraphs: Int = 0): DataFrame = {
    val (files, routing, hint) = joinArtifacts(spark, path)
    knnJoinFiles(spark, files, routing, idCol, queries, qidCol, qvecCol,
      k, resolveEf(path, efSearch), exact, probeGraphs, hint = hint)
  }

  /** Table-valued KNN join with a search-time METRIC OVERRIDE over the
    * shared typed graphs (round 9) — the [[searchIndexMetric]] form of
    * [[knnJoin]], completing typed routing parity: per-query graph
    * ranking goes through the TypedAnn.rankLists metric map
    * ([[Routing.boundAndDistOverride]]), so typed joins stop walking
    * every graph at parts>1 when routed. Override kernels score the
    * stored densified payloads directly (cos is the DIRECT one-pass
    * form — no +1 offset); exact mode flat-scans every graph with the
    * override kernel, the provable brute force. */
  def knnJoinMetric(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, metric: String, efSearch: Int = AutoEf, exact: Boolean = false,
      probeGraphs: Int = 0): DataFrame = {
    val (files, routing, hint) = joinArtifacts(spark, path)
    knnJoinFiles(spark, files, routing, idCol, queries, qidCol, qvecCol,
      k, resolveEf(path, efSearch), exact, probeGraphs,
      metricOverride = Some(metric), hint = hint)
  }

  /** [[knnJoin]] over an explicit (file list, routing) pair — see
    * [[rangeJoinFiles]]. Routed mode (round 8): probeGraphs = g > 0
    * ranks graphs per query by the metric's lower bound over the routing
    * entries (centroid dist − covering radius, the IVF rankLists shape)
    * and walks only the top-g — per-query cost stops growing with graph
    * count. The HNSW-join nprobe: approximate like the beam itself,
    * recall measured in RECALL.json. Exact mode NEVER routes (per-graph
    * flat scans of every graph remain the provable brute force — the
    * oracle contract), and missing/partial routing falls back to
    * all-graphs. */
  private[graft] def knnJoinFiles(spark: org.apache.spark.sql.SparkSession,
      files: Seq[String],
      routing0: Option[(String, Array[(Double, Array[Float])])],
      idCol: String, queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, efSearch: Int = 100, exact: Boolean = false,
      probeGraphs: Int = 0,
      metricOverride: Option[String] = None, hint: Int = 0): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val efb = beamEf(efSearch, k)
    if (files.isEmpty)
      return spark.emptyDataset[(Long, Long, Double, Int)]
        .toDF("qid", idCol, "dist", "rn")
    // AUTO resolves against the fleet's own separability — on a
    // partitioning that didn't separate the default path walks every
    // graph instead of silently losing recall (routing_stat-calibrated)
    val probeCount = routing0 match {
      case Some((_, aligned)) =>
        Routing.autoResolve(probeGraphs, files.length, aligned, hint)
      case None => resolveProbe(probeGraphs, files.length)
    }
    val routing: Option[(String, Array[(Double, Array[Float])])] =
      if (exact || probeCount <= 0 || probeCount >= files.length) None
      else routing0
    val bfiles = spark.sparkContext.broadcast(files)
    val brouting = spark.sparkContext.broadcast(routing)
    val hconf = confEntries(spark)
    val q0 = queries
      .filter(col(qvecCol).isNotNull && graft.functions.vectorIsFinite(col(qvecCol)))
      .select(col(qidCol).cast("long").as("qid"), col(qvecCol).as("qv"))
      .as[(Long, Array[Float])]
    val hits = q0.mapPartitions { it =>
      val conf = mkConf(hconf)
      // graphs-outer, rows buffered — see rangeJoin: one GraphCache
      // resolve per graph per task, one graph resident at a time
      val rows = it.toArray
      if (rows.isEmpty) Iterator.empty
      else {
        val fl = bfiles.value
        // per-graph query selections under routing; null = all queries
        val sel: Array[Array[Int]] = brouting.value match {
          case None => null
          case Some((metric, ents)) =>
            val buf = Array.fill(fl.length)(
              new scala.collection.mutable.ArrayBuffer[Int])
            var i = 0
            while (i < rows.length) {
              val q = rows(i)._2
              val qq = IvfIndex.Kernels.dot(q, q)
              val qn = math.sqrt(qq)
              val lb = new Array[Double](fl.length)
              val cd = new Array[Double](fl.length)
              var gi = 0
              while (gi < fl.length) {
                val (rad, c) = ents(gi)
                val (b, d) = metricOverride match {
                  case Some(om) =>
                    Routing.boundAndDistOverride(om, q, qn, qq, c, rad)
                  case None => Routing.boundAndDist(metric, q, qn, c, rad)
                }
                lb(gi) = b; cd(gi) = d
                gi += 1
              }
              // (lb, centroid dist, idx) — the rankLists ordering; the
              // cd tie-break matters whenever covering balls overlap
              // the query and several lb hit 0
              val order = Array.range(0, fl.length).sortWith { (a, b) =>
                lb(a) < lb(b) || (lb(a) == lb(b) &&
                  (cd(a) < cd(b) || (cd(a) == cd(b) && a < b))) }
              var j = 0
              while (j < probeCount) { buf(order(j)) += i; j += 1 }
              i += 1
            }
            buf.map(_.toArray)
        }
        fl.iterator.zipWithIndex.flatMap { case (f, gi) =>
          if (sel != null && sel(gi).isEmpty) Iterator.empty
          else {
            val g = GraphCache.get(f, conf)
            // override kernels score payloads directly — no cos offset
            // (the searchIndexMetric convention); build-metric searches
            // keep the normalize-at-build +1 cos reporting
            val off =
              if (metricOverride.isEmpty && g.metric == "cos") 1.0 else 0.0
            val qIdx: Iterator[Int] =
              if (sel == null) Iterator.range(0, rows.length)
              else sel(gi).iterator
            qIdx.flatMap { i =>
              val (qid, q) = rows(i)
              val res = metricOverride match {
                case Some(om) =>
                  if (exact) g.bruteForceMetric(q, k, om)
                  else g.searchMetric(q, k, efb, om)
                case None =>
                  if (exact) g.bruteForce(q, k) else g.search(q, k, efb)
              }
              res.iterator.map { case (d, id) => (qid, id, d + off) }
            }
          }
        }
      }
    }.toDF("qid", idCol, "dist")
    val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col(idCol))
    hits.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  def searchIndexBatch(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, queries: Seq[(Long, Array[Float])],
      k: Int, efSearch: Int = AutoEf, exact: Boolean = false): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val efb = beamEf(resolveEf(path, efSearch), k)
    val files = graphFiles(spark, path)
    if (files.isEmpty)
      return spark.emptyDataset[(Long, Long, Double, Int)]
        .toDF("qid", idCol, "dist", "rn")
    val bq = spark.sparkContext.broadcast(queries)
    val hconf = confEntries(spark)
    val hits = spark.sparkContext
      .parallelize(files, fileSlices(spark, files.length))
      .mapPartitions { it =>
        val conf = mkConf(hconf)
        it.flatMap { f =>
          val g = GraphCache.get(f, conf)
          val off = if (g.metric == "cos") 1.0 else 0.0
          bq.value.iterator.flatMap { case (qid, q) =>
            val res = if (exact) g.bruteForce(q, k) else g.search(q, k, efb)
            res.iterator.map { case (d, id) => (qid, id, d + off) }
          }
        }
      }.toDF("qid", idCol, "dist")
    val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col(idCol))
    hits.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .orderBy(col("qid"), col("rn"))
  }
}

/** The per-partition task of [[Hnsw.buildGraphFiles]]: builds one graph
  * from the partition's rows and publishes it as `names(partitionId)`.
  * Its fields are everything a task reads, all serializable;
  * `centroids` and `codec` are broadcast when present. */
private[graft] class GraphFileWriter(dataDir: String, names: Array[String],
    metric: String, m: Int, efConstruction: Int,
    hconf: Seq[(String, String)],
    centroids: Option[org.apache.spark.broadcast.Broadcast[Array[Array[Float]]]],
    codec: Option[org.apache.spark.broadcast.Broadcast[Codec]])
    extends Serializable {
  def run(it: Iterator[(Long, Array[Float])]): Iterator[(Int, Double)] = {
    // sorted insertion: deterministic graphs AND deterministic artifact
    // bytes per (data, params) — the GraphCache identity key and the
    // HybridSpec graph-file lock rely on it
    val rows = it.toArray.sortBy(_._1)
    if (rows.isEmpty) Iterator.empty
    else {
      val g = new Hnsw.Graph(metric, m, efConstruction)
      rows.foreach { case (id, v) => g.insert(id, v) }
      val tc = org.apache.spark.TaskContext.get()
      val pid = tc.partitionId()
      // round UP: float noise must never shrink a bound below a
      // boundary row (the IVF radii convention)
      val rad = centroids.fold(0.0) { bc =>
        val c = bc.value(pid)
        val far = rows.foldLeft(0.0) { (r, row) =>
          val d = math.sqrt(IvfIndex.Kernels.l2sq(row._2, c))
          if (d > r) d else r
        }
        java.lang.Math.nextUp(java.lang.Math.nextUp(far))
      }
      // tmp is unique PER ATTEMPT: retried/speculative tasks must never
      // interleave writes into a shared file
      val p = new org.apache.hadoop.fs.Path(s"$dataDir/${names(pid)}")
      val tmp = new org.apache.hadoop.fs.Path(
        s"$dataDir/.${names(pid)}-${tc.taskAttemptId()}.tmp")
      val fs = p.getFileSystem(Hnsw.mkConf(hconf))
      val out = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(fs.create(tmp, true), 1 << 20))
      try codec match {
        case Some(c) => CodedHnsw.CodedGraph.write(out, c.value.encode(g.snapshot))
        case None => Hnsw.FlatGraph.write(out, g.snapshot)
      } finally out.close()
      // write-then-rename: readers never see partials. A failed rename
      // is only tolerable when a rival attempt already published the file.
      if (!fs.rename(tmp, p)) {
        if (!fs.exists(p))
          throw new java.io.IOException(s"failed to publish $p")
        fs.delete(tmp, false)
      }
      Iterator.single((pid, rad))
    }
  }
}
