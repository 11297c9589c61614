package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incremental HNSW maintenance over a [[Segments]] store — the Spark
 * shape of the reference's sealed-graph patching
 * (crates/hnsw/src/lib.rs:198-235 `patch_insertions`/`patch_deletions`):
 * an append must NOT trigger a full-source rebuild.
 *
 *  - The sealed base generation gets per-partition graphs once
 *    (`base-<gen>-NNNNN.bin`).
 *  - Each appended delta gets ONE small side graph (`side-<seq>.bin`)
 *    built over just that delta's rows; existing graph files are never
 *    rewritten (mtime-stable — the spec asserts it).
 *  - Deletes need no graph work: searches version-filter against the
 *    live tombstones, exactly like [[HybridSearch]].
 *  - Compaction PROMOTES side graphs instead of rebuilding: the current
 *    tombstone versions are snapshotted into the index's `dead/` parquet
 *    (graphs keep dead rows resident, filtered at search — the
 *    reference's version map over sealed segments), then
 *    [[Segments.compact]] folds the data side. A later full re-ensure
 *    (vacuum analog) reclaims dead residency.
 *
 * Every graph file encodes the segment VERSION its rows carry (base = 0,
 * side-<s> = s), so the tombstone rule "a tombstone at v hides rows with
 * version <= v" applies per graph file.
 */
object IncrHnsw {

  /** Stored-graph layout generation — tracks the plain hnsw kind's
    * format key (flatbin2 = snapshot-time connectivity repair, round 8):
    * graph bytes come from the same Graph.snapshot, so an edge-layout
    * change there must invalidate incremental artifacts too. */
  private val GraphFormat = "flatbin2"

  private def graftDir(spark: SparkSession, name: String): String =
    graft.index.IndexCatalog.dataDir(spark, name)

  private def binFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".bin")).toSeq.sortBy(_.getName)

  /** Version the rows of a graph file carry: side-<seq>.bin and
    * side-<seq>-<chunk>.bin -> seq, rebase-<seq>-*.bin (a REINDEX fold,
    * whose rows were visible at store seq <seq>) -> seq, base graphs
    * -> 0. */
  private def fileVer(name: String): Long =
    if (name.startsWith("side-"))
      name.stripPrefix("side-").stripSuffix(".bin").split("-")(0).toLong
    else if (name.startsWith("rebase-"))
      name.stripPrefix("rebase-").stripSuffix(".bin").split("-")(0).toLong
    else 0L

  /** Build the graph file(s) for one segment, each in one executor task
    * over at most [[Segments.maxGrowingRows]] rows: a segment within the
    * cap gets one file at `stem.bin`; an oversized one is hash-split on
    * the id into ceil(n/cap) files `stem-CCCCC.bin`, each an independent
    * searchable graph over a bounded slice (searches scan every resident
    * graph already, so more files = more bounded tasks, not a semantic
    * change). The cap bounds EXECUTOR task memory now — the driver holds
    * no rows at any point in an append. */
  private def buildSegmentGraphs(spark: SparkSession, rows: DataFrame,
      idCol: String, vecCol: String, metric: String,
      dataDir: java.io.File, stem: String, m: Int, efConstruction: Int): Unit = {
    buildSegmentGraphsAll(spark, Seq(stem -> rows), idCol, vecCol, metric,
      dataDir, m, efConstruction)
  }

  /** Build the graph files of a SET of segments in ONE shuffle job
    * (round 16): the former per-segment (and per-chunk) loops ran
    * sequential single-task jobs — a 5M base at the 20k cap meant 250
    * serial scans+builds, and the incr BigSmoke measured each 50k
    * append paying 3 sequential side builds (~19 s) where one task
    * wave suffices. Per-segment chunk counts come from one union count
    * job (UNfiltered, the serial path's n<=cap naming rule); the exact
    * [[Hnsw.PidPartitioner]] pins partition == (segment, chunk)
    * ordinal, so chunk assignment (pmod(xxhash64(id), nChunks)) and
    * id-sorted insertion — and therefore every published file's BYTES
    * and NAME — are identical to the serial path (HybridSpec asserts
    * it per chunk file). */
  private def buildSegmentGraphsAll(spark: SparkSession,
      segs: Seq[(String, DataFrame)], idCol: String, vecCol: String,
      metric: String, dataDir: java.io.File, m: Int,
      efConstruction: Int): Unit = {
    if (segs.isEmpty) return
    import spark.implicits._
    dataDir.mkdirs()
    val cap = Segments.maxGrowingRows(spark)
    val counted: Map[Int, Long] = segs.zipWithIndex
      .map { case ((_, df), i) => df.select(lit(i).as("_seg")) }
      .reduce(_ unionAll _)
      .groupBy(col("_seg")).count().as[(Int, Long)].collect().toMap
    val chunks: Seq[Int] = segs.indices.map { i =>
      val n = counted.getOrElse(i, 0L)
      math.max(1L, (n + cap - 1) / cap).toInt
    }
    val pidBase = chunks.scanLeft(0)(_ + _)
    val names: Array[String] = segs.indices.flatMap { i =>
      val stem = segs(i)._1
      if (chunks(i) == 1) Seq(s"$stem.bin")
      else (0 until chunks(i)).map(c => f"$stem-$c%05d.bin")
    }.toArray
    val writer = new SegmentGraphWriter(dataDir.getAbsolutePath, names,
      metric, m, efConstruction, Hnsw.confEntries(spark))
    segs.zipWithIndex.map { case ((_, df), i) =>
      val pidExpr =
        if (chunks(i) == 1) lit(pidBase(i))
        else lit(pidBase(i)) +
          pmod(xxhash64(col(idCol).cast("long")), lit(chunks(i).toLong))
            .cast("int")
      df.filter(col(vecCol).isNotNull &&
          graft.functions.vectorIsFinite(col(vecCol)))
        .select(pidExpr.cast("int").as("_pid"),
          col(idCol).cast("long").as("_id"), col(vecCol).as("_v"))
    }.reduce(_ unionAll _)
      .as[(Int, Long, Array[Float])]
      .rdd.map { case (p, id, v) => (p, (id, v)) }
      .partitionBy(new Hnsw.PidPartitioner(pidBase.last))
      .map(_._2)
      .mapPartitions(writer.run _)
      .collect()
    ()
  }

  /** Sync the index to the segment store's committed state, building
    * ONLY what is new: base graphs on first ensure (or after a gen
    * change from a non-promoted compaction), one side graph per
    * newly-appended delta otherwise. Returns the artifact dir.
    *
    * Graph builds run in executor tasks and are BOUNDED, not
    * assumed-small: every segment (base or delta) larger than
    * `spark.graft.segments.maxGrowingRows` is hash-split into multiple
    * graph files, so no single task exceeds the cap
    * ([[buildSegmentGraphs]] — the enforced form of the reference's
    * max_growing_segment_size sealing rule,
    * crates/base/src/index.rs:199-226). */
  def ensure(spark: SparkSession, name: String, segDir: String,
      idCol: String, vecCol: String, metric: String = "l2",
      m: Int = 12, efConstruction: Int = 300): String = synchronized {
    import graft.index.IndexCatalog
    // delete_threshold policy (round 17): a due store takes the vacuum
    // prologue here — the rebuild below then runs over the folded store
    IncrMaint.vacuumIfDue(spark, name, segDir, idCol)
    val st = Segments.state(segDir)
    require(st.gen >= 0, s"no committed generation under $segDir")
    val dataDir = new java.io.File(graftDir(spark, name))
    val prior = IndexCatalog.load(spark, name)
      .filter(_.source == segDir)
      .filter(_.params.get("metric_int").contains(metric))
      // graph-layout generation: snapshot-time connectivity repair
      // (round 8) changed stored edges, so pre-repair artifacts (no
      // format key, or an older one) must full-rebuild — the staleness
      // invariant the plain hnsw kind satisfies via flatbin2
      .filter(_.params.get("format").contains(GraphFormat))
    val priorGen = prior.flatMap(_.params.get("gen")).map(_.toLong).getOrElse(-1L)
    val priorSeq = prior.flatMap(_.params.get("seq")).map(_.toLong).getOrElse(-1L)
    val promotedGen = prior.flatMap(_.params.get("promoted_gen")).map(_.toLong).getOrElse(-1L)
    val genOk = priorGen == st.gen || promotedGen == st.gen
    if (prior.isEmpty || !genOk) {
      // full (re)build: base graphs + a side graph per existing delta
      if (dataDir.exists()) { def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete() }; rm(dataDir) }
      // base + every existing delta in ONE job (round 16)
      val segsAll = (f"base-${st.gen}-00000" ->
          graft.ParquetCache.read(spark, s"$segDir/base-${st.gen}")) +:
        Segments.deltaDirs(segDir, st).map { dd =>
          val seq = new java.io.File(dd).getName.stripPrefix("delta-").toLong
          s"side-$seq" -> graft.ParquetCache.read(spark, dd)
        }
      buildSegmentGraphsAll(spark, segsAll, idCol, vecCol, metric,
        dataDir, m, efConstruction)
      IndexCatalog.commit(spark, name, IndexCatalog.Manifest(
        "hnsw_incr", segDir, metric,
        Map("gen" -> st.gen.toString, "seq" -> st.seq.toString,
          "metric_int" -> metric, "m" -> m.toString,
          "ef_construction" -> efConstruction.toString,
          "format" -> GraphFormat)))
    } else if (st.seq > priorSeq) {
      // incremental: ONLY deltas newer than what the index covers get a
      // side graph; existing files are untouched (deletes are pure
      // tombstone work — no graph change at all). All new deltas build
      // in one job (round 16).
      val newSegs = Segments.deltaDirs(segDir, st).flatMap { dd =>
        val seq = new java.io.File(dd).getName.stripPrefix("delta-").toLong
        if (seq > priorSeq)
          Some(s"side-$seq" -> graft.ParquetCache.read(spark, dd))
        else None
      }
      buildSegmentGraphsAll(spark, newSegs, idCol, vecCol, metric,
        dataDir, m, efConstruction)
      val pm = prior.get
      IndexCatalog.commit(spark, name, pm.copy(
        params = pm.params + ("seq" -> st.seq.toString)))
    }
    dataDir.getAbsolutePath
  }

  /** REINDEX over the segment store (reference
    * tests/sqllogictest/reindex.slt): rebuild ONE fresh graph set from
    * the current VISIBLE rows — dead rows reclaimed, side graphs folded,
    * the STORE untouched (vs [[vacuum]], which compacts the store too).
    * The build runs into a fresh generation dir while searches keep
    * serving the committed graphs ([[graft.index.IndexCatalog.reindex]]
    * — the REINDEX CONCURRENTLY property), and later appends still get
    * incremental side graphs: the committed manifest carries the store
    * (gen, seq) the fold covered.
    *
    * Fold files are named `rebase-<seq>-*` and their rows carry graph
    * version <seq> (the store seq the fold observed): every tombstone
    * already applied by the fold has version <= seq and tombstones are
    * per-id, so no surviving row can be hidden by an old tombstone,
    * while a LATER delete (version > seq) hides exactly as on side
    * graphs. */
  def reindex(spark: SparkSession, name: String, segDir: String,
      idCol: String, vecCol: String, metric: String = "l2",
      m: Int = 12, efConstruction: Int = 300): String = synchronized {
    import graft.index.IndexCatalog
    val st = Segments.state(segDir)
    require(st.gen >= 0, s"no committed generation under $segDir")
    IndexCatalog.reindex(spark, name) { dataDir =>
      val dd = new java.io.File(dataDir)
      dd.mkdirs()
      // the fold reads the snapshot pinned at `st` — an append that
      // commits during the build stays invisible here and gets its own
      // side graph from the next ensure (stamping st.seq while folding
      // a LATER delta would double-index it)
      buildSegmentGraphs(spark,
        Segments.readAt(spark, segDir, idCol, st)
          .select(col(idCol), col(vecCol)),
        idCol, vecCol, metric, dd, f"rebase-${st.seq}%d-00000",
        m, efConstruction)
      IndexCatalog.Manifest("hnsw_incr", segDir, metric,
        Map("gen" -> st.gen.toString, "seq" -> st.seq.toString,
          "metric_int" -> metric, "m" -> m.toString,
          "ef_construction" -> efConstruction.toString,
          "format" -> GraphFormat))
    }
    graftDir(spark, name)
  }

  /** Full optimize: fold the store, rebuild base graphs from scratch —
    * reclaims tombstoned rows and folds side graphs into the base
    * (shared [[IncrMaint.vacuum]] contract). */
  def vacuum(spark: SparkSession, name: String, segDir: String,
      idCol: String, vecCol: String, metric: String = "l2",
      m: Int = 12, efConstruction: Int = 300): String =
    IncrMaint.vacuum(spark, name, segDir, idCol) {
      ensure(spark, name, segDir, idCol, vecCol, metric, m, efConstruction)
    }

  /** Compact the segment store WITHOUT rebuilding graphs: snapshot the
    * live tombstone versions into the index's `dead/` parquet (those ids
    * stay resident in the graphs, filtered at search), then fold the
    * data side. Side graphs are hereby "promoted" — they simply remain
    * part of the sealed search set. */
  def promoteOnCompact(spark: SparkSession, name: String, segDir: String,
      idCol: String): Unit = synchronized {
    import graft.index.IndexCatalog
    val st = Segments.state(segDir)
    val deadDir = new java.io.File(graftDir(spark, name), "dead")
    Segments.tombstoneMax(spark, segDir, idCol).foreach { tombs =>
      val prior = if (deadDir.isDirectory && binOrParquetNonEmpty(deadDir))
        Some(graft.ParquetCache.read(spark, deadDir.getAbsolutePath)) else None
      val all = prior.map(_.unionByName(tombs)).getOrElse(tombs)
        .groupBy(col(idCol)).agg(max(col("_tomb_ver")).as("_tomb_ver"))
      // write-then-swap: never read and overwrite the same dir in one job
      val tmp = new java.io.File(deadDir.getParentFile, "dead.tmp")
      all.write.mode("overwrite").parquet(tmp.getAbsolutePath)
      def rm(f: java.io.File): Unit = { if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete() }
      if (deadDir.exists()) rm(deadDir)
      if (!tmp.renameTo(deadDir))
        throw new java.io.IOException(s"failed to publish $deadDir")
    }
    Segments.compact(spark, segDir, idCol)
    val newSt = Segments.state(segDir)
    val pm = IndexCatalog.load(spark, name).getOrElse(
      throw new IllegalStateException(s"no index $name to promote"))
    // promoted_gen records that this index's graphs (base + sides) cover
    // the new generation without a rebuild
    IndexCatalog.commit(spark, name, pm.copy(params =
      pm.params ++ Map("promoted_gen" -> newSt.gen.toString,
        "seq" -> newSt.seq.toString)))
  }

  private def binOrParquetNonEmpty(dir: java.io.File): Boolean =
    Option(dir.listFiles()).getOrElse(Array.empty).exists(_.getName.endsWith(".parquet"))

  /** The visibility snapshot of one (store, index): every tombstone —
    * the store's live `tombs-<s>` dirs plus the promoted `dead/` parquet
    * — folded max-per-id into id-sorted primitive arrays (the reference
    * keeps the same map in memory, crates/index/src/delete.rs:10-75).
    * Published arrays are never mutated; a newer snapshot copies. */
  private[graft] final class Tombs(val ids: Array[Long], val vers: Array[Long]) {
    /** A row of `id` from a graph carrying version `ver` is hidden. */
    def hides(id: Long, ver: Long): Boolean = {
      val i = java.util.Arrays.binarySearch(ids, id)
      i >= 0 && vers(i) >= ver
    }
  }

  /** [[Tombs]] with the committed store state they cover. `origin` holds
    * the rest of what the fold read: the artifact dir, the store
    * generation's identity and the dead/ fingerprint; `dirsRead` counts
    * the `tombs-<s>` dirs the fold that built it read. */
  private[graft] final class TombSnapshot(val gen: Long, val seq: Long,
      val origin: String, val tombs: Tombs, val dirsRead: Int)

  /** DRIVER-side snapshot cache, one entry per (store, index), pruned
    * when the store's VERSION disappears (the tupleCache convention).
    * Freshness is the committed (gen, seq), never mtime — seq strictly
    * increases per commit, so rapid-fire delete/search sequences can't
    * alias — plus the snapshot's origin: compaction bumps gen, promote
    * rewrites dead/, REINDEX moves the artifact dir. */
  private val tombCache =
    new java.util.concurrent.ConcurrentHashMap[String, TombSnapshot]()

  /** Fold tombstones max-per-id into `prior`: the dead/ parquet when
    * `dead` is given, then every `tombs-<s>` dir with afterSeq < s <=
    * st.seq, all read on the driver. The one fold for both cases: a
    * snapshot whose origin is unchanged and whose seq advanced folds
    * only the new dirs; anything else folds dead/ and every committed
    * dir into an empty snapshot. */
  private def fold(prior: Tombs, dead: Option[java.io.File], segDir: String,
      idCol: String, st: Segments.State, afterSeq: Long,
      origin: String): TombSnapshot = {
    val m = new scala.collection.mutable.LongMap[Long]()
    val add = (id: Long, v: Long) =>
      if (v > m.getOrElse(id, Long.MinValue)) m.update(id, v)
    dead.foreach(Segments.readIdVersions(_, idCol, "_tomb_ver")(add))
    val dirsRead = Segments.tombstonesAfter(segDir, idCol, st, afterSeq)(add)
    new TombSnapshot(st.gen, st.seq, origin, merge(prior, m), dirsRead)
  }

  /** `prior` with `m`'s versions merged in max-per-id, as new arrays. */
  private def merge(prior: Tombs,
      m: scala.collection.mutable.LongMap[Long]): Tombs = {
    if (m.isEmpty) return prior
    val ks = m.keys.toArray
    java.util.Arrays.sort(ks)
    val (a, av) = (prior.ids, prior.vers)
    val ids = new Array[Long](a.length + ks.length)
    val vers = new Array[Long](ids.length)
    var i = 0; var j = 0; var n = 0
    while (i < a.length || j < ks.length) {
      if (j == ks.length || (i < a.length && a(i) < ks(j))) {
        ids(n) = a(i); vers(n) = av(i); i += 1
      } else if (i == a.length || ks(j) < a(i)) {
        ids(n) = ks(j); vers(n) = m(ks(j)); j += 1
      } else {
        ids(n) = a(i); vers(n) = math.max(av(i), m(ks(j))); i += 1; j += 1
      }
      n += 1
    }
    new Tombs(java.util.Arrays.copyOf(ids, n), java.util.Arrays.copyOf(vers, n))
  }

  /** The snapshot a search of `name` over `segDir` checks: the cached
    * one when the store has not committed since, else a fold. */
  private[graft] def tombstoneSnapshot(spark: SparkSession, name: String,
      segDir: String, idCol: String): TombSnapshot = {
    locally {
      val it = tombCache.keys()
      while (it.hasMoreElements) {
        val key = it.nextElement()
        val sd = key.substring(0, key.indexOf('|'))
        if (!new java.io.File(sd, "VERSION").isFile) tombCache.remove(key)
      }
    }
    val dataDir = new java.io.File(graftDir(spark, name))
    val deadDir = new java.io.File(dataDir, "dead")
    val st = Segments.state(segDir)
    val origin = s"${dataDir.getPath}|${Segments.generationId(segDir, st)}|" +
      IncrMaint.deadFp(deadDir)
    val key = s"$segDir|${graft.index.IndexCatalog.dir(spark, name)}"
    val cur = tombCache.get(key)
    val sameOrigin = cur != null && cur.gen == st.gen && cur.origin == origin
    if (sameOrigin && cur.seq == st.seq) return cur
    // fold OUTSIDE the map lock (round-17 advice): compute() would pin
    // the CHM bin lock for the whole read, blocking concurrent searches
    // of this store AND unrelated keys hashing to the same bin. A racing
    // duplicate fold is harmless: put() publishes whichever finishes
    // last, and the next search folds forward from it.
    val snap =
      if (sameOrigin && cur.seq < st.seq)
        fold(cur.tombs, None, segDir, idCol, st, cur.seq, origin)
      else fold(new Tombs(Array.emptyLongArray, Array.emptyLongArray),
        Some(deadDir), segDir, idCol, st, Long.MinValue, origin)
    tombCache.put(key, snap)
    snap
  }

  /** Search every resident graph (base + promoted + fresh sides), then
    * version-filter: a row from a graph carrying version v is hidden by
    * any tombstone (live OR promoted-dead) with _tomb_ver >= v. exact
    * mode flat-scans each graph — provably the visible-set top-k. */
  def search(spark: SparkSession, name: String, segDir: String,
      idCol: String, q: Array[Float], k: Int, efSearch: Int = 100,
      exact: Boolean = false): DataFrame = {
    import spark.implicits._
    val dataDir = new java.io.File(graftDir(spark, name))
    val files = binFiles(dataDir).map(f => (f.getAbsolutePath, fileVer(f.getName)))
    if (files.isEmpty)
      return spark.emptyDataset[(Long, Double)].toDF(idCol, "dist")
    // Visibility is a binary search in the snapshot's tombstones, per
    // graph, on the driver (round 16: the former broadcast JOIN forced
    // every graph to over-fetch by the TOTAL tombstone count up front —
    // a 1% delete wave at the 5M smoke made every search a per-graph
    // full scan, 744 ms vs 102 ms p50). Per graph, k VISIBLE candidates
    // suffice for the global visible top-k, so the first pass
    // over-fetches by a BOUNDED slack and a graph re-searches at the
    // sound k+deadCount ceiling only when its fetch both filled up AND
    // yielded fewer than k visible rows. Exact mode keeps its proof:
    // bruteForce at the ceiling returns the graph's true visible top-k.
    val tm = tombstoneSnapshot(spark, name, segDir, idCol).tombs
    val deadCount = tm.ids.length.toLong
    val fetch0 = math.min(k.toLong + math.min(deadCount, 4L * k),
      Int.MaxValue.toLong).toInt
    val fetchMax = math.min(k.toLong + deadCount, Int.MaxValue.toLong).toInt
    // per-graph BEAM headroom (round 13): ef == k beams lose
    // recoverable neighbors to local minima — the coded-graph rerank-
    // window precedent (round 5). At the former ef = max(efSearch,
    // fetch) the k=100 searches ran ef == k and incr_hnsw was the
    // RECALL ledger's lowest non-fixed-knob row; ef = 2x fetch measures
    // 0.96 -> 1.00 (clustered) and 0.99 -> 1.00 (random) at a beam-only
    // cost (the union/top-k stays k-bounded). Routing was considered
    // and rejected: the base fleet here is one graph + small side
    // graphs, so the loss was beam-local, not fleet-selection.
    val hconf = spark.sparkContext.hadoopConfiguration
    ResidentSearch.topK(spark, files, idCol, k) { case (f, ver) =>
      val g = Hnsw.GraphCache.get(f, hconf)
      def run(fetch: Int): Seq[(Double, Long)] =
        if (exact) g.bruteForce(q, fetch)
        else g.search(q, fetch, math.max(efSearch, fetch * 2))
      def visible(rs: Seq[(Double, Long)]): Seq[(Double, Long)] =
        rs.filter { case (_, id) => !tm.hides(id, ver) }
      val first = run(fetch0)
      var vis = visible(first)
      if (fetchMax > fetch0 && vis.lengthCompare(k) < 0 &&
          first.lengthCompare(fetch0) >= 0)
        vis = visible(run(fetchMax))
      // per-graph cap at k: the global top-k is covered by the union of
      // per-graph visible top-k (results are dist-sorted)
      vis.take(k).iterator.map { case (d, id) => (id, d) }
    }
  }
}

/** Top-level serializable per-(segment, chunk) graph writer for
  * [[IncrHnsw.buildSegmentGraphsAll]]'s one-job path (the
  * GraphFileWriter convention: a local def would capture the
  * non-serializable IncrHnsw$ singleton). Sorts its partition by id and
  * publishes `names(pid)` write-then-rename with an attempt-unique tmp
  * — the serial per-segment naming and bytes, task-parallel. */
private[graft] class SegmentGraphWriter(dataDir: String,
    names: Array[String], metric: String, m: Int, efConstruction: Int,
    hconf: Seq[(String, String)]) extends Serializable {
  def run(it: Iterator[(Long, Array[Float])]): Iterator[Int] = {
    val rows = it.toArray.sortBy(_._1)
    if (rows.isEmpty) Iterator.empty
    else {
      val g = new Hnsw.Graph(metric, m, efConstruction)
      rows.foreach { case (id, v) => g.insert(id, v) }
      val tc = org.apache.spark.TaskContext.get()
      val pid = tc.partitionId()
      val attempt = tc.taskAttemptId()
      val name = names(pid)
      val p = new org.apache.hadoop.fs.Path(s"$dataDir/$name")
      val tmp = new org.apache.hadoop.fs.Path(
        s"$dataDir/.$name-$attempt.tmp")
      val pfs = p.getFileSystem(Hnsw.mkConf(hconf))
      val out = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(pfs.create(tmp, true), 1 << 20))
      try Hnsw.FlatGraph.write(out, g.snapshot) finally out.close()
      if (!pfs.rename(tmp, p)) {
        if (!pfs.exists(p))
          throw new java.io.IOException(s"failed to publish $p")
        pfs.delete(tmp, false)
      }
      Iterator.single(pid)
    }
  }
}
