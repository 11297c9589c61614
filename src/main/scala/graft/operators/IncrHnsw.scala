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

  /** Build the graph files of a SET of segments in ONE job (round 16),
    * each file in one executor task over at most
    * [[Segments.maxGrowingRows]] rows: a segment within the cap gets one
    * file at `stem.bin`; an oversized one is hash-split on the id
    * (pmod(xxhash64(id), nChunks)) into ceil(n/cap) files
    * `stem-CCCCC.bin`, each an independent searchable graph over a
    * bounded slice (searches scan every resident graph already, so more
    * files = more bounded tasks, not a semantic change). The cap bounds
    * EXECUTOR task memory — the driver holds no rows at any point in an
    * append. One job, not one per segment: per-segment loops ran
    * sequential single-task jobs (a 5M base at the 20k cap meant 250
    * serial scans+builds; the incr BigSmoke measured each 50k append
    * paying 3 sequential side builds, ~19 s). Per-segment chunk counts
    * come from one union count job (UNfiltered); the (segment, chunk)
    * ordinal is the file's pid in
    * [[Hnsw.buildGraphFiles]], so every published file's NAME and BYTES
    * depend only on its own rows (HybridSpec locks them). */
  private def buildSegmentGraphsAll(spark: SparkSession,
      segs: Seq[(String, DataFrame)], idCol: String, vecCol: String,
      dataDir: java.io.File, m: Int, efConstruction: Int): Unit = {
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
    val rows = segs.zipWithIndex.map { case ((_, df), i) =>
      val pidExpr =
        if (chunks(i) == 1) lit(pidBase(i))
        else lit(pidBase(i)) +
          pmod(xxhash64(col(idCol).cast("long")), lit(chunks(i).toLong))
            .cast("int")
      df.filter(col(vecCol).isNotNull &&
          graft.functions.vectorIsFinite(col(vecCol)))
        .select(pidExpr.cast("int").as("pid"),
          col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    }.reduce(_ unionAll _)
    Hnsw.buildGraphFiles(spark, rows, dataDir.getAbsolutePath, names, "l2",
      m, efConstruction)
    ()
  }

  /** The manifest of a graph set covering store state `st`. Graphs are
    * built and searched in l2 only; `metric_int` records it so committed
    * manifests stay fresh. */
  private def manifest(segDir: String, st: Segments.State, m: Int,
      efConstruction: Int): graft.index.IndexCatalog.Manifest =
    graft.index.IndexCatalog.Manifest("hnsw_incr", segDir, "l2",
      Map("gen" -> st.gen.toString, "seq" -> st.seq.toString,
        "metric_int" -> "l2", "m" -> m.toString,
        "ef_construction" -> efConstruction.toString,
        "format" -> GraphFormat))

  /** Sync the index to the segment store's committed state, building
    * ONLY what is new: base graphs on first ensure (or after a gen
    * change from a non-promoted compaction), one side graph per
    * newly-appended delta otherwise. Returns the artifact dir.
    *
    * Graph builds run in executor tasks and are BOUNDED, not
    * assumed-small: every segment (base or delta) larger than
    * `spark.graft.segments.maxGrowingRows` is hash-split into multiple
    * graph files, so no single task exceeds the cap
    * ([[buildSegmentGraphsAll]] — the enforced form of the reference's
    * max_growing_segment_size sealing rule,
    * crates/base/src/index.rs:199-226). */
  def ensure(spark: SparkSession, name: String, segDir: String,
      idCol: String, vecCol: String,
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
      .filter(_.params.get("metric_int").contains("l2"))
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
      if (dataDir.exists()) Segments.del(dataDir)
      // base + every existing delta in ONE job (round 16)
      val segsAll = (f"base-${st.gen}-00000" ->
          graft.ParquetCache.read(spark, s"$segDir/base-${st.gen}")) +:
        Segments.deltaDirs(segDir, st).map { dd =>
          val seq = new java.io.File(dd).getName.stripPrefix("delta-").toLong
          s"side-$seq" -> graft.ParquetCache.read(spark, dd)
        }
      buildSegmentGraphsAll(spark, segsAll, idCol, vecCol, dataDir, m,
        efConstruction)
      IndexCatalog.commit(spark, name, manifest(segDir, st, m, efConstruction))
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
      buildSegmentGraphsAll(spark, newSegs, idCol, vecCol, dataDir, m,
        efConstruction)
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
      idCol: String, vecCol: String,
      m: Int = 12, efConstruction: Int = 300): String = synchronized {
    import graft.index.IndexCatalog
    val st = Segments.state(segDir)
    require(st.gen >= 0, s"no committed generation under $segDir")
    IndexCatalog.reindex(spark, name) { dataDir =>
      // the fold reads the snapshot pinned at `st` — an append that
      // commits during the build stays invisible here and gets its own
      // side graph from the next ensure (stamping st.seq while folding
      // a LATER delta would double-index it)
      buildSegmentGraphsAll(spark, Seq(f"rebase-${st.seq}%d-00000" ->
          Segments.readAt(spark, segDir, idCol, st)
            .select(col(idCol), col(vecCol))),
        idCol, vecCol, new java.io.File(dataDir), m, efConstruction)
      manifest(segDir, st, m, efConstruction)
    }
    graftDir(spark, name)
  }

  /** Full optimize: fold the store, rebuild base graphs from scratch —
    * reclaims tombstoned rows and folds side graphs into the base
    * (shared [[IncrMaint.vacuum]] contract). */
  def vacuum(spark: SparkSession, name: String, segDir: String,
      idCol: String, vecCol: String,
      m: Int = 12, efConstruction: Int = 300): String =
    IncrMaint.vacuum(spark, name, segDir, idCol) {
      ensure(spark, name, segDir, idCol, vecCol, m, efConstruction)
    }

  /** Compact the segment store WITHOUT rebuilding graphs: snapshot the
    * live tombstone versions into the artifact's `dead/` parquet (those
    * ids stay resident in the graphs, filtered at search), then fold the
    * data side ([[IncrMaint.promoteOnCompact]]). Side graphs are hereby
    * "promoted" — they simply remain part of the sealed search set. */
  def promoteOnCompact(spark: SparkSession, name: String, segDir: String,
      idCol: String): Unit = synchronized {
    IncrMaint.promoteOnCompact(spark, name, segDir, idCol,
      new java.io.File(graftDir(spark, name), "dead"))
  }

  /** The visibility snapshot a search of `name` over `segDir` checks: the
    * store's tombstones plus the artifact's promoted `dead/` parquet
    * ([[Segments.tombstoneSnapshot]], one entry per (store, index dir)). */
  private[graft] def tombstoneSnapshot(spark: SparkSession, name: String,
      segDir: String, idCol: String): Segments.TombSnapshot =
    Segments.tombstoneSnapshot(segDir, idCol, Segments.state(segDir),
      Some(graft.index.IndexCatalog.dir(spark, name)),
      Some(new java.io.File(graftDir(spark, name), "dead")))

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
