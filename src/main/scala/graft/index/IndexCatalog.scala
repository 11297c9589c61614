package graft.index

import java.io.{File, FileInputStream, FileOutputStream, ObjectInputStream, ObjectOutputStream}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * On-disk index catalog — the analog of the reference's index directory +
 * `pg_vector_index_stat` view (src/index/views.rs:17-80, manifest handling
 * crates/index/src/lib.rs:128-211). Each index lives under
 * `<root>/<name>/` with a serialized [[Manifest]] plus a parquet `data/`
 * artifact; builds are one-time jobs, searches only read artifacts.
 *
 * The root is configurable via `spark.graft.index.root` (GUC analog). A
 * single-machine catalog is a plain directory; on a cluster the same
 * layout sits on shared storage (S3/HDFS) — parquet artifacts already
 * read from any store Spark can reach.
 */
object IndexCatalog {

  /** Small driver-side metadata for one index artifact. Vectors held here
    * (centroids, quantizer params) are the "tiny, broadcastable" part of
    * the index; bulk data is parquet under `data/`. */
  case class Manifest(
      kind: String,                       // ivf | sq8 | hnsw | sparse | pq
      source: String,                     // source table path (staleness key)
      metric: String,
      params: Map[String, String],
      centroids: Array[Array[Float]] = Array.empty,
      floats: Map[String, Array[Float]] = Map.empty,
      sourceFp: String = "")              // content fingerprint of source
    extends Serializable

  def root(spark: SparkSession): String =
    spark.conf.get("spark.graft.index.root",
      sys.props("java.io.tmpdir") + "/graft_indexes")

  def dir(spark: SparkSession, name: String): String =
    s"${root(spark)}/$name"

  /** Sub-dir of the index dir holding the current data artifact. "data"
    * until the first [[reindex]], then the generation dir the manifest's
    * `data_dir` pointer names — REINDEX swaps artifacts by flipping this
    * pointer in one atomic manifest commit, never by renaming live dirs
    * (a crashed swap can then only leave ignorable debris, not a
    * committed manifest pointing at a missing dir). */
  def dataSub(spark: SparkSession, name: String): String =
    load(spark, name).flatMap(_.params.get("data_dir")).getOrElse("data")

  def dataDir(spark: SparkSession, name: String): String =
    s"${dir(spark, name)}/${dataSub(spark, name)}"

  /** Cached manifest + the manifest FILE's identity when read: a commit
    * from another JVM bumps mtime/size and invalidates this entry. */
  private case class Cached(mtime: Long, len: Long, m: Manifest)
  private val cache = new ConcurrentHashMap[String, Cached]()

  private def manifestFile(spark: SparkSession, name: String) =
    new File(dir(spark, name), "MANIFEST.bin")

  def exists(spark: SparkSession, name: String, source: String): Boolean =
    load(spark, name).exists(_.source == source)

  /** Content fingerprint of a source path (mtime+size over its files):
    * regenerating the source parquet in place changes this even though
    * the path string is identical. Non-local paths fingerprint to a
    * constant — they degrade to path-string staleness (logged once).
    *
    * Memoized with a short TTL: ensure() runs on every query that touches
    * an index, and walking a large source directory is O(files) of
    * driver-side stat calls — a few seconds of staleness blindness is the
    * right trade (a rebuild triggered one query late is still a rebuild). */
  private val FpTtlMs = 5000L
  private val fpCache = new ConcurrentHashMap[String, (Long, String)]()
  private val fpDegradeWarned = ConcurrentHashMap.newKeySet[String]()

  def fingerprint(source: String): String = {
    val now = System.currentTimeMillis()
    val cached = fpCache.get(source)
    if (cached != null && now - cached._1 < FpTtlMs) return cached._2
    def walk(f: File): Seq[File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq
          .sortBy(_.getName).flatMap(walk)
      else if (f.isFile) Seq(f) else Nil
    val root = new File(source.stripPrefix("file:"))
    if (!root.exists() && fpDegradeWarned.add(source))
      System.err.println(s"[graft] index source '$source' is not a local path: " +
        "content-fingerprint staleness disabled, falling back to path-string staleness")
    val fp = walk(root)
      .foldLeft(17L)((acc, f) =>
        (acc * 31 + f.lastModified()) * 31 + f.length())
      .toHexString
    fpCache.put(source, (now, fp))
    fp
  }

  def load(spark: SparkSession, name: String): Option[Manifest] =
    loadFile(manifestFile(spark, name))

  private def loadFile(f: File): Option[Manifest] = {
    if (!f.isFile) None
    else scala.util.Try {
      val key = f.getAbsolutePath
      val cur = cache.get(key)
      if (cur != null && cur.mtime == f.lastModified() && cur.len == f.length())
        cur.m
      else {
        val in = new ObjectInputStream(new FileInputStream(f))
        val m = try in.readObject().asInstanceOf[Manifest] finally in.close()
        cache.put(key, Cached(f.lastModified(), f.length(), m))
        m
      }
    }.toOption // unreadable manifest (older format) == missing -> rebuild
  }

  /** The manifest ADJACENT to an artifact data dir
    * (`<root>/<name>/<dataSub>` → `<root>/<name>/MANIFEST.bin`) — the
    * serving-side resolution for direct operator calls that know only
    * the artifact path (round 17: the ef_hint AUTO default). Shares the
    * mtime/len-keyed cache with [[load]]; artifacts living outside a
    * catalog layout simply resolve None. */
  private[graft] def loadNear(artifactDir: File): Option[Manifest] =
    Option(artifactDir.getParentFile)
      .map(p => new File(p, "MANIFEST.bin")).flatMap(loadFile)

  /** Params owned by [[reindex]] that must survive every OTHER commit:
    * a rebuilt manifest that dropped `data_dir` would flip the artifact
    * path back to data/ while the files live in data-rN/, and a dropped
    * `reindex_gen` would let a later reindex reuse a live generation
    * dir (deleting the artifact it just committed). */
  private val ReindexOwned = Seq("data_dir", "reindex_gen")

  /** Commit a manifest AFTER the data artifact is fully written — the
    * crash-recovery rule (lib.rs:128-211): a dir without a committed
    * manifest is garbage and gets rebuilt. */
  def commit(spark: SparkSession, name: String, m0: Manifest): Manifest = {
    val prior = ReindexOwned.filterNot(m0.params.contains)
      .flatMap(k => load(spark, name).flatMap(_.params.get(k)).map(k -> _))
    val m = if (prior.isEmpty) m0
      else m0.copy(params = m0.params ++ prior)
    val f = manifestFile(spark, name)
    f.getParentFile.mkdirs()
    val tmp = new File(f.getParentFile, "MANIFEST.tmp")
    val out = new ObjectOutputStream(new FileOutputStream(tmp))
    try { out.writeObject(m) } finally out.close()
    if (!tmp.renameTo(f)) {
      tmp.delete()
      throw new java.io.IOException(
        s"index $name: failed to publish manifest $f")
    }
    cache.put(f.getAbsolutePath, Cached(f.lastModified(), f.length(), m))
    m
  }

  // --- per-index DDL lock -------------------------------------------------
  //
  // The reference serializes concurrent CREATE/DROP on one index through
  // the bgworker + transactional DDL hooks (src/index/hooks.rs:60-106;
  // tests/sqllogictest/drop_index_when_indexing.slt). The Spark analog is
  // a two-level lock per index name:
  //  - a JVM ReentrantLock (threads of one driver), keyed by absolute dir;
  //  - a lock FILE under `<root>/.locks/<name>.lock` (drivers sharing one
  //    catalog root), acquired by atomic create, released on completion.
  // A crashed holder's file goes stale and is reclaimed after
  // `spark.graft.index.lock.ttlMs` (default 1h — longer than any build).
  // Stealing a stale lock can at worst duplicate a build, never tear
  // state: the manifest commit stays a single atomic rename.
  private val nameLocks =
    new ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()

  private def lockTtlMs(spark: SparkSession): Long =
    spark.conf.get("spark.graft.index.lock.ttlMs", "3600000").toLong

  private[graft] def withIndexLock[T](spark: SparkSession, name: String,
      op: String = "build")(body: => T): T = {
    val l = nameLocks.computeIfAbsent(dir(spark, name),
      _ => new java.util.concurrent.locks.ReentrantLock())
    l.lock()
    try {
      if (l.getHoldCount > 1) body // reentrant: outer frame holds the file
      else {
        val lockDir = new File(root(spark), ".locks")
        lockDir.mkdirs()
        val lf = new File(lockDir, s"$name.lock")
        val ttl = lockTtlMs(spark)
        while (!lf.createNewFile()) {
          val last = lf.lastModified()
          if (last == 0L || System.currentTimeMillis() - last > ttl)
            lf.delete() // stale (crashed holder) -> reclaim
          else Thread.sleep(50)
        }
        // lease payload = the operation kind (round 17): the stat
        // view's idx_indexing reads `t` only for build-kind leases, so
        // a long alter/drop no longer masquerades as an in-flight build
        // (views.rs:33-71 exactness). Best-effort — an empty payload
        // (the createNewFile..write window, or a crashed writer) reads
        // as build, the conservative pre-round-17 behavior.
        scala.util.Try(java.nio.file.Files.writeString(lf.toPath, op))
        try body finally lf.delete()
      }
    } finally l.unlock()
  }

  /** Build-once: reuse a committed artifact for the same source, else run
    * the (expensive) build job. Queries call this; benches call it ahead
    * of timing — the search path never trains. A committed manifest is
    * reused only when its kind is `kind` (the kind `build` commits) and
    * its source, content fingerprint and `requires` params match — two
    * builds under one name with equal `requires` (pq then pq4, sq8 then
    * rabitq) never serve each other's artifact.
    *
    * Concurrency contract (hooks.rs:60-106 analog): racing ensure+ensure
    * on one name dedups to ONE build — the loser blocks on the per-index
    * lock, then the double-checked reload observes the winner's committed
    * manifest; drop-during-ensure waits for the build and then removes it
    * cleanly (or, if the drop wins the lock first, the ensure rebuilds).
    * Either interleaving leaves a consistent catalog, never a torn one. */
  def ensure(spark: SparkSession, name: String, source: String, kind: String,
      requires: Map[String, String] = Map.empty)
      (build: String => Manifest): Manifest = {
    // Lock-free fresh fast path (round-17 optimization): when the
    // committed manifest already matches (source, content fingerprint,
    // requires), return it WITHOUT the DDL lock — the same unlocked
    // read every search already performs (searches never take the DDL
    // lock; that is the serving contract). A no-op ensure used to pay
    // 4 lock-file ops per call; ensureAll runs ~35 of them inside
    // timed queries (q_index_stat). A concurrent drop/rebuild racing
    // this read sees exactly the interleaving an unlocked search sees.
    // ONE source walk per ensure call (round 18, ADVICE): fresh() was
    // re-fingerprinting on the lock-free path, again under the lock, and
    // a third time before commit — correct only thanks to the 5 s
    // fpCache TTL. Taking it once at entry keeps the BEFORE-the-build
    // ordering (a source re-ingested while we wait on the lock or build
    // stamps the older fp, which compares stale next ensure — erring
    // toward rebuild, the documented contract).
    val fp = fingerprint(source)
    def fresh(m: Manifest): Boolean = m.kind == kind && m.source == source &&
      m.sourceFp == fp &&
      requires.forall { case (k, v) => m.params.get(k).contains(v) }
    load(spark, name) match {
      case Some(m) if fresh(m) => m
      case _ => withIndexLock(spark, name) {
        // double-checked under the lock: the racing winner's commit
        load(spark, name) match {
          case Some(m) if fresh(m) => m
          case _ =>
            val built = build(dataDir(spark, name))
            require(built.kind == kind,
              s"index $name: the build committed kind ${built.kind}, not $kind")
            commit(spark, name, built.copy(sourceFp = fp))
        }
      }
    }
  }

  /** REINDEX (reference tests/sqllogictest/reindex.slt): force-rebuild an
    * existing index's artifact from its current source, regardless of
    * staleness. The build runs into a fresh generation dir
    * (`data-r<gen>`) while readers keep serving the committed artifact —
    * searches never take the DDL lock, so the REINDEX CONCURRENTLY
    * property falls out of the commit-after-write design; the swap is
    * ONE atomic manifest commit flipping the `data_dir` pointer.
    * Executor-side caches key on file identity (path + mtime/len), so
    * the new files reload on first touch. Old-generation cleanup is
    * DEFERRED (round 8): searches never take the DDL lock, so an
    * in-flight query may still hold resolved paths into the previous
    * generation when the commit lands — deleting it immediately could
    * fail that query mid-scan with FileNotFound (transient, never wrong
    * results, but undercutting CONCURRENTLY). Stale generations (any
    * data/data-r* dir the committed manifest does not name) are instead
    * swept at the START of the next reindex on this name, by which
    * point readers of the displaced generation have long drained; the
    * cost is one stale generation's disk until then (drop reclaims
    * everything). A crash at any point leaves either the old committed
    * state intact or the new one plus ignorable debris, never a torn
    * index. Blocking REINDEX and REINDEX CONCURRENTLY collapse to the
    * same batch job here: builds were never able to block readers in
    * the first place. */
  def reindex(spark: SparkSession, name: String)
      (build: String => Manifest): Manifest = withIndexLock(spark, name) {
    val prior = load(spark, name).getOrElse(
      throw new IllegalArgumentException(s"no such index: $name"))
    // next generation from BOTH the committed counter and the live dir
    // name: even if a direct commit dropped reindex_gen, newSub can
    // never collide with the generation being served
    val curSub = dataSub(spark, name)
    val curGen =
      if (curSub.startsWith("data-r")) curSub.stripPrefix("data-r").toLong
      else 0L
    val gen = math.max(curGen,
      prior.params.get("reindex_gen").map(_.toLong).getOrElse(0L)) + 1
    val newSub = s"data-r$gen"
    val newData = new File(dir(spark, name), newSub)
    // deferred sweep (see docstring): generations displaced by PRIOR
    // reindexes — their readers have drained — and debris from crashed
    // attempts. Never touches the dir the manifest currently serves.
    Option(new File(dir(spark, name)).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName != curSub &&
        (f.getName == "data" || f.getName.startsWith("data-r")))
      .foreach(deleteRecursively(_))
    // fingerprint BEFORE the build (the ensure() ordering): a source
    // re-ingested DURING a long build then compares stale and the next
    // ensure rebuilds — the race must err toward rebuilding, never
    // toward serving pre-change rows as current
    val fp = fingerprint(prior.source)
    val m = build(newData.getAbsolutePath)
    commit(spark, name, m.copy(
      sourceFp = if (m.source == prior.source) fp else fingerprint(m.source),
      params = m.params ++ Map("reindex_gen" -> gen.toString,
        "data_dir" -> newSub)))
  }

  private[graft] def deleteRecursively(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  /** Alterable option keys (search-time tuning hints) with their value
    * validators. Everything else in `params` is structural build
    * metadata (dims/m/ks/nlist/gen/seq/...) owned by the build — the
    * reference likewise rejects unknown keys ("not found") and invalid
    * values ("Invalid index options") in index_edit.slt; its alterable
    * set is the segment-lifecycle knobs, whose analogs here are session
    * confs (spark.graft.segments.maxGrowingRows etc.). */
  private val Alterable: Map[String, String => Boolean] = {
    val posInt = (v: String) => v.forall(_.isDigit) && v.nonEmpty &&
      v.length <= 9 && v.toInt > 0
    // sql_cols = "idCol,vecCol" recorded by the SQL-text CREATE path
    // (graft.index.SqlDdl) so vacuum_vector_index(name) can reconstruct
    // the build without re-asking for the columns — informational, never
    // read by searches. Column names accept anything comma-free that an
    // ensure accepted (Spark allows dots/hyphens/unicode in names — a
    // stricter pattern here would strand a BUILT index without its
    // recipe, round-10 advice); the comma is the recipe's one structural
    // delimiter.
    val colPair = (v: String) => {
      val p = v.split(",", -1)
      p.length == 2 && p.forall(s => s.trim.nonEmpty) &&
        !v.exists(_ < ' ')
    }
    Map("probe_hint" -> posInt, "nprobe" -> posInt,
      // ef_hint (round 17): the calibrated beam-breadth default —
      // manifest-only (serving reads the manifest directly, no sidecar
      // to sync), tunable like probe_hint; RESET drops ef_cal so the
      // next ensure recalibrates instead of serving a hint-less
      // calibrated claim
      "ef_hint" -> posInt,
      "ef_search" -> posInt, "rerank_window" -> posInt,
      "sql_cols" -> colPair,
      "sql_am" -> ((v: String) => Set("vectors", "hnsw", "ivfflat")(v)),
      "sql_opclass" -> IndexOptions.isOpclass _,
      // the verbatim WITH-options string of the SQL CREATE (the vacuum
      // replay recipe — preserves reloptions like indexing=ivf that the
      // structural params can't reconstruct); empty allowed
      "sql_options" -> ((v: String) => !v.exists(_ < ' ')),
      // the verbatim WHERE predicate of a PARTIAL SQL CREATE (vacuum
      // rebuilds over the same row scope; drop unregisters the
      // predicate-scoped planner entry); empty = full index
      "sql_where" -> ((v: String) => !v.exists(_ < ' ')),
      // the TableSnapshotResolver version token the build scanned
      // (transactional sources — a drift forces REINDEX on the next
      // CREATE/VACUUM); CREATE-owned like every sql_* key (the user
      // ALTER surfaces reject the prefix), empty = plain parquet
      "sql_snapshot" -> ((v: String) => !v.exists(_ < ' ')))
  }

  /** Live-alter an index option (`alter_vector_index` analog,
    * src/index/functions.rs:16-41). Search-time params take effect on the
    * next query; build-affecting params require a rebuild (drop+ensure).
    * Unknown keys and invalid values are rejected (index_edit.slt), so an
    * alter can never corrupt structural build metadata. */
  def alter(spark: SparkSession, name: String, key: String,
      value: String): Manifest = alterAll(spark, name, Map(key -> value))

  /** Keep what SEARCHES read in step with a probe_hint alter/reset:
    * graph fleets serve the hint from their routing.bin (round-12
    * review — a manifest-only alter silently changed nothing), and a
    * partitioned PARENT serves max(sub sidecar hints), so the alter
    * recurses into every sub-index (each sub alter is itself atomic;
    * a crash mid-loop leaves some subs altered, each consistent).
    * NOTE the semantics: the hint RAISES the AUTO floor
    * (max(ceil-sqrt, hint)) and the separability guard still wins on
    * non-separable fleets — to LOWER probing use the probe confs
    * (spark.graft.hnsw.probe / spark.graft.ann.nprobe), the explicit
    * informed override. */
  private def propagateHint(spark: SparkSession, name: String, m: Manifest,
      hint: Option[Int]): Unit = {
    if (m.kind == "hnsw_part") {
      // ONLY probe_hint propagates — a parent RESET naming other keys
      // must not wipe a sub's independently-tuned options or its sql_*
      // recipe (round-12 follow-up review). A sub dropped between the
      // listing and its turn is skipped, mirroring the rule-side
      // "a dropped sub-index must never throw" discipline.
      m.params.get("values").toSeq
        .flatMap(_.split(",", -1)).filter(_.nonEmpty)
        .map(v => graft.operators.PartitionedIndex.subName(name, v))
        .foreach { sub =>
          if (load(spark, sub).isDefined)
            try hint match {
              case Some(n) => alter(spark, sub, "probe_hint", n.toString)
              case None => resetAll(spark, sub, Seq("probe_hint"))
            } catch {
              case e: IllegalArgumentException
                  if e.getMessage.startsWith("no such index") => ()
            }
        }
    } else if (m.kind.startsWith("hnsw"))
      syncSidecarHint(spark, name, hint.getOrElse(0))
  }

  /** Mirror a probe_hint alter into a graph artifact's routing.bin (the
    * sidecar is what searches read); no-op for sidecar-less artifacts
    * (parts=1). */
  private def syncSidecarHint(spark: SparkSession, name: String,
      hint: Int): Unit = {
    val dirPath = new org.apache.hadoop.fs.Path(dataDir(spark, name))
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dirPath))
      graft.operators.Hnsw.Routing.setHint(fs, dirPath, hint)
  }

  /** Alter several options in ONE commit (one atomic manifest rename) —
    * the SQL-recipe writer: a crash between separate alters must never
    * leave a partial recipe that a later vacuum would misread (it
    * refuses on ANY missing recipe key, but partial recipes shouldn't
    * exist in the first place). Validates every pair before touching
    * the manifest. */
  def alterAll(spark: SparkSession, name: String,
      kvs: Map[String, String]): Manifest = withIndexLock(spark, name, "alter") {
    val m = load(spark, name).getOrElse(
      throw new IllegalArgumentException(s"no such index: $name"))
    kvs.foreach { case (key, value) =>
      val validate = Alterable.getOrElse(key,
        throw new IllegalArgumentException(s"option not found: $key"))
      if (!validate(value))
        throw new IllegalArgumentException(
          s"invalid index option value: $key = $value")
    }
    // every key already holding its value (an idempotent re-CREATE's
    // recipe) leaves MANIFEST.bin as it is
    val committed =
      if (kvs.forall { case (k, v) => m.params.get(k).contains(v) }) m
      else commit(spark, name, m.copy(params = m.params ++ kvs))
    // AFTER the commit (the manifest — the source of truth — mutates
    // first; a crash between the two leaves only the already-accepted
    // manifest-vs-sidecar gap, never a sidecar ahead of the manifest)
    kvs.get("probe_hint").foreach(v =>
      propagateHint(spark, name, m, Some(v.toInt)))
    committed
  }

  /** Remove alterable options in ONE commit — the Postgres
    * `ALTER INDEX ... RESET (k, ...)` shape: a removed key reverts to
    * its default resolution (session conf / auto) on the next query.
    * Unknown keys reject like [[alter]] ("option not found", the
    * index_edit.slt contract); resetting a key that isn't set is a
    * no-op, matching Postgres. */
  def resetAll(spark: SparkSession, name: String,
      keys: Seq[String]): Manifest = withIndexLock(spark, name, "alter") {
    val m = load(spark, name).getOrElse(
      throw new IllegalArgumentException(s"no such index: $name"))
    keys.foreach(key => if (!Alterable.contains(key))
      throw new IllegalArgumentException(s"option not found: $key"))
    // resetting the calibrated probe_hint also drops its generation tag:
    // a manifest claiming probe_cal with no hint would never recalibrate
    // (ensure's staleness check only sees probe_cal) — dropping both
    // makes the next ensure re-measure and restore an honest hint.
    // Graph fleets additionally zero the SIDECAR hint (what searches
    // read): AUTO reverts to the ceil-sqrt heuristic — the default the
    // RESET asks for — immediately, no rebuild needed.
    val dropped = keys ++
      (if (keys.contains("probe_hint")) Seq("probe_cal") else Nil) ++
      (if (keys.contains("ef_hint")) Seq("ef_cal") else Nil)
    val committed = commit(spark, name, m.copy(params = m.params -- dropped))
    if (keys.contains("probe_hint")) propagateHint(spark, name, m, None)
    committed
  }

  /** `fence_vector_index` analog (functions.rs:16-41): block until the
    * index is fully built. Builds here are synchronous jobs, so fencing
    * reduces to asserting a committed manifest exists. */
  def fence(spark: SparkSession, name: String): Unit =
    if (load(spark, name).isEmpty)
      throw new IllegalStateException(s"index $name has no committed build")

  /** `pgvectors_upgrade` analog: sweep the catalog and drop index dirs
    * whose manifests this version can no longer read — they rebuild on
    * the next ensure. The full sweep assumes a SINGLE driver owns the
    * catalog root (a concurrent writer mid-commit briefly looks
    * unreadable); pass `prefix` to scope the sweep to the index names
    * you own — read-path queries must use the scoped form. */
  def upgrade(spark: SparkSession, prefix: String = ""): Seq[String] = {
    val rootDir = new File(root(spark))
    Option(rootDir.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith(prefix) &&
        new File(d, "MANIFEST.bin").isFile)
      .filter(d => load(spark, d.getName).isEmpty)
      .map { d => drop(spark, d.getName); d.getName }
      .toSeq
  }

  /** Takes the same per-index lock as [[ensure]]: a drop racing an
    * in-flight build waits for it instead of deleting files under the
    * writer (drop_index_when_indexing.slt behavior). */
  def drop(spark: SparkSession, name: String): Unit = withIndexLock(spark, name, "drop") {
    val d = new File(dir(spark, name))
    if (d.exists()) deleteRecursively(d)
    cache.remove(manifestFile(spark, name).getAbsolutePath)
  }

  /** The `pg_vector_index_stat` analog (views.rs:17-80): one row per
    * committed index with its artifact footprint. */
  /** Stored tuple count of an artifact, DRIVER-side metadata I/O only
    * (the stats TVF's no-job contract): parquet row-store kinds sum the
    * files' footer row counts (rabitq4 counts only its rows/ side — the
    * blocks/ side is per-32-vector metadata, not tuples); plain-hnsw
    * graphs parse the FlatGraph header (Magic, Version, UTF metric,
    * dims, N — the metric field is variable-width, so the header is
    * parsed, never offset-skipped). Kinds whose layout doesn't expose a
    * cheap count (coded graph fleets, posting indexes where rows ≠
    * tuples, parents owning no data, incr bases with tombstone
    * visibility) report None — honest NULL beats a wrong number
    * (reference idx_tuples: views.rs:36-39).
    *
    * Results are CACHED per (dir, mtime, file count): the TVF resolves
    * fresh per analysis, and re-opening every footer on each EXPLAIN
    * would put real I/O latency on the driver. Generation dirs are
    * immutable once committed (REINDEX builds into fresh dirs; in-place
    * ensure rebuilds bump mtimes), so the fingerprint invalidates
    * exactly when content can have changed. */
  /** One cache entry PER ARTIFACT PATH (bounded by catalog size —
    * a mutating store polled by a monitoring loop must not mint
    * unbounded keys): path -> (fingerprint, count). */
  private case class TupleFp(files: Int, bytes: Long, mtime: Long)
  private val tupleCache =
    new ConcurrentHashMap[String, (TupleFp, Option[Long])]()
  private val TupleSidecar = "_tuples"

  /** Content fingerprint of an artifact dir EXCLUDING the sidecar the
    * count itself persists (writing it must not invalidate the key):
    * (non-sidecar file count, total bytes, max mtime) — mtime joins so
    * a byte-count-preserving in-place rewrite can't serve a stale
    * count, the repo's mtime/size staleness convention. */
  private def tupleFp(dataDir: File): TupleFp = {
    var files = 0; var bytes = 0L; var mtime = 0L
    def walk(f: File): Unit =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
      else if (f.isFile && !f.getName.startsWith(TupleSidecar)) {
        files += 1; bytes += f.length() // crash debris _tuples.tmp excluded too
        mtime = math.max(mtime, f.lastModified())
      }
    walk(dataDir)
    TupleFp(files, bytes, mtime)
  }

  private def parquetFiles(f: File): Seq[File] =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(parquetFiles)
    else if (f.isFile && f.getName.endsWith(".parquet")) Seq(f)
    else Seq.empty

  // footer reads are independent small I/O — a fresh catalog sweep
  // over a many-partition artifact opens hundreds of files, so they
  // run on a bounded SHARED pool (driver threads, still no Spark job).
  // ONE pool for the JVM (round-17 advice): the segment-stat sweep
  // calls footerRows once per segment — base + each delta — and a store
  // at the 64-delta sealing cap churned ~65 create/shutdown cycles per
  // cache refresh under the old per-call pool. Daemon threads, so the
  // pool never blocks JVM exit.
  private lazy val footerPool = java.util.concurrent.Executors
    .newFixedThreadPool(16, new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger()
      override def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-footer-${n.incrementAndGet()}")
        t.setDaemon(true); t
      }
    })

  // Round-17 optimization: memoize the per-directory footer sum on the
  // repo's staleness convention (file count + bytes + max mtime + name
  // hash). vacuumDue runs a footer sweep on EVERY incremental ensure
  // (base + each delta + tomb dirs — SOAK measured 61–81 ms per
  // evaluation); the layout only changes when a commit adds/renames
  // files, which the fingerprint sees. The walk is a few listFiles
  // syscalls; the footer OPENS are what this skips.
  private val footerCache = new ConcurrentHashMap[String, (String, Option[Long])]()

  private def footerFp(files: Seq[File]): String = {
    var n = 0L; var bytes = 0L; var maxM = 0L; var h = 0L
    files.foreach { f =>
      n += 1; val len = f.length(); val m = f.lastModified()
      bytes += len; if (m > maxM) maxM = m
      h += f.getName.hashCode.toLong * 1000003L + len * 31L + m
    }
    s"$n:$bytes:$maxM:$h"
  }

  private[graft] def footerRows(dir: File): Option[Long] = {
    val files = parquetFiles(dir)
    if (files.isEmpty) return footerRowsUncached(dir, files)
    val fp = footerFp(files)
    val key = dir.getAbsolutePath
    val cached = footerCache.get(key)
    if (cached != null && cached._1 == fp) cached._2
    else {
      if (footerCache.size() > 4096) footerCache.clear() // crude bound
      val v = footerRowsUncached(dir, files)
      footerCache.put(key, (fp, v))
      v
    }
  }

  private def footerRowsUncached(dir: File, files: Seq[File]): Option[Long] = scala.util.Try {
    val conf = new org.apache.hadoop.conf.Configuration()
    val futures = files.map(f => footerPool.submit(
      new java.util.concurrent.Callable[Long] {
        override def call(): Long = {
          val r = graft.ParquetCache.openReader(conf,
            new org.apache.hadoop.fs.Path(f.getAbsolutePath))
          try r.getRecordCount finally r.close()
        }
      }))
    futures.map(_.get()).sum
  }.toOption

  private def tupleCount(kind: String, dataDir: File): Option[Long] = {
    def graphRows: Option[Long] = scala.util.Try {
      Option(dataDir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("graph-") &&
          f.getName.endsWith(".bin"))
        .map { f =>
          val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
            new java.io.FileInputStream(f)))
          try {
            // header must be a FlatGraph we know how to parse (magic
            // "GRFT", version 1 — Hnsw.FlatGraph.write): a corrupt or
            // foreign .bin must yield the honest NULL, not a garbage
            // count (the Try turns this require into None)
            require(in.readInt() == 0x47524654 && in.readInt() == 1,
              "not a graft hnsw artifact header")
            in.readUTF()               // metric (variable width)
            in.readInt()               // dims
            in.readInt().toLong        // n
          } finally in.close()
        }.sum
    }.toOption
    // kinds whose layout exposes no cheap count are a STATIC None: no
    // sweep, no cache entry, no sidecar write (a polled mutating store
    // must not pay a tmp+rename per stat call)
    val countable: Option[File] = kind match {
      case "ivf" | "ivfpq" | "ivfsq8" | "sq8" | "pq" | "rabitq" => Some(dataDir)
      case k if graft.operators.Payload.kinds(k) => Some(dataDir)
      case "rabitq4" => Some(new File(dataDir, "rows"))
      case "hnsw" => Some(dataDir)
      case _ => None
    }
    if (countable.isEmpty) return None
    def compute(): Option[Long] =
      if (kind == "hnsw") graphRows else footerRows(countable.get)
    // evict keys whose dir is gone (REINDEX/VACUUM mint data-r<gen>
    // paths; displaced generations are swept later — without pruning,
    // a long-lived driver with periodic vacuums accretes dead entries
    // and the 'one entry per artifact' bound silently becomes
    // 'one per generation ever served'). The map is catalog-sized, so
    // the sweep is a few dozen File.exists calls.
    locally {
      val it = tupleCache.keys()
      while (it.hasMoreElements) {
        val k = it.nextElement()
        if (!new File(k).exists()) tupleCache.remove(k)
      }
    }
    val fp = tupleFp(dataDir)
    val path = dataDir.getAbsolutePath
    tupleCache.compute(path, (_, prior) => {
      if (prior != null && prior._1 == fp) prior
      else {
        // persistent sidecar: a FRESH JVM's first stat call reuses the
        // previous process's sweep instead of re-opening every footer
        // (atomic-rename write; readers of the artifact ignore
        // _-prefixed files). Content: "<files>:<bytes>:<mtime>:<count|none>".
        val sidecar = new File(dataDir, TupleSidecar)
        val fromDisk: Option[Option[Long]] = scala.util.Try {
          val s = new String(java.nio.file.Files.readAllBytes(
            sidecar.toPath), java.nio.charset.StandardCharsets.UTF_8).trim
          s.split(":") match {
            case Array(f, b, m, v) if f.toInt == fp.files &&
                b.toLong == fp.bytes && m.toLong == fp.mtime =>
              Some(if (v == "none") None else Some(v.toLong))
            case _ => None
          }
        }.toOption.flatten
        val v = fromDisk.getOrElse {
          val computed = compute()
          scala.util.Try {
            val tmp = new File(dataDir, TupleSidecar + ".tmp")
            java.nio.file.Files.write(tmp.toPath,
              (s"${fp.files}:${fp.bytes}:${fp.mtime}:" +
                computed.map(_.toString).getOrElse("none"))
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            tmp.renameTo(sidecar)
          }
          computed
        }
        (fp, v)
      }
    })._2
  }

  /** Segment observability (reference views.rs:33-71 — the IndexStat
    * `segments` list behind idx_sealed / idx_growing / idx_write): for
    * an index whose SOURCE is a Segments store (a committed VERSION
    * pointer), sealed = the base segment's raw length and growing = each
    * uncompacted delta's raw length — the store's own vocabulary
    * (Segments.append writes "growing deltas"; sealIfDue folds them into
    * the sealed base, the reference optimizing/mod.rs sealing rule).
    * Lengths are RAW per-segment footer counts, tombstone-BLIND —
    * exactly the reference's `segments.iter().map(|x| x.length)` — so
    * they stay driver-side parquet-footer sums, never a job. idx_write
    * is always 0: the reference's write segment is its appendable
    * in-memory buffer, which a batch engine doesn't hold between
    * statements (every append here seals into a delta at commit).
    *
    * Cached per source path: the fingerprint is the VERSION pointer's
    * (mtime, length) plus the top-level entry count — segment dirs are
    * immutable once committed and every commit rewrites VERSION, so the
    * key invalidates exactly when the store can have changed. */
  private val segStatCache = new ConcurrentHashMap[
    String, (String, (Option[Seq[Long]], Seq[Long], Long))]()

  private def segmentStat(source: String)
      : Option[(Option[Seq[Long]], Seq[Long], Long)] = {
    val src = new File(source)
    val vf = new File(src, "VERSION")
    if (!vf.isFile) return None
    // prune keys whose store is gone (the tupleCache convention — a
    // polled map over mutable storage must stay catalog-bounded)
    locally {
      val it = segStatCache.keys()
      while (it.hasMoreElements) {
        val k = it.nextElement()
        if (!new File(k, "VERSION").isFile) segStatCache.remove(k)
      }
    }
    val entries = Option(src.listFiles()).getOrElse(Array.empty[File])
    val fp = s"${vf.lastModified()}:${vf.length()}:${entries.length}"
    Some(segStatCache.compute(src.getAbsolutePath, (_, prior) => {
      if (prior != null && prior._1 == fp) prior
      else {
        val st = graft.operators.Segments.state(source)
        val sealedRows =
          if (st.gen < 0) None
          else footerRows(new File(src, s"base-${st.gen}")).map(Seq(_))
        val growing = graft.operators.Segments.deltaDirs(source, st)
          .flatMap(d => footerRows(new File(d)))
        // EXPLICIT tombstone rows feed idx_dead_frac (round 17): the
        // IncrMaint.storeFooterCounts statistic — tombs dirs with no
        // sibling delta (Segments.delete's rows, the reference
        // delete-map analog); append shadows are excluded so an
        // append-only store honestly reads 0. Same footer sweep, same
        // VERSION-keyed cache.
        val deltaSeqs = graft.operators.Segments.deltaDirs(source, st)
          .map(d => new File(d).getName.stripPrefix("delta-")).toSet
        val tombRows = graft.operators.Segments.tombDirs(source, st)
          .filter(d => !deltaSeqs.contains(
            new File(d).getName.stripPrefix("tombs-")))
          .flatMap(d => footerRows(new File(d))).sum
        (fp, (sealedRows, growing, tombRows))
      }
    })._2)
  }

  /** In-flight DDL observability (views.rs idx_indexing): true while a
    * build/reindex holds the name's cross-process lock file with a
    * fresh lease (a stale crashed-holder file reads false). EXACT since
    * round 17: the lease payload carries the operation kind, so a
    * drop/alter lease reads `f` — only build-kind leases (and empty
    * payloads: the momentary create→write window, conservatively
    * treated as build) report true. After any completed build it reads
    * the slt-pinned `f` (tests/sealing/check.slt). */
  private def indexingNow(spark: SparkSession, name: String): Boolean = {
    val lf = new File(new File(root(spark), ".locks"), s"$name.lock")
    lf.isFile &&
      System.currentTimeMillis() - lf.lastModified() <= lockTtlMs(spark) && {
        val op = scala.util.Try(
          java.nio.file.Files.readString(lf.toPath).trim).getOrElse("")
        op.isEmpty || op == "build"
      }
  }

  def stats(spark: SparkSession): DataFrame = {
    import spark.implicits._
    // data bytes: metadata files (_SUCCESS, _tuples, .crc) excluded so
    // the reported size is stable across calls (the tuple sweep itself
    // writes a sidecar on first touch)
    def du(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(du).sum
      else if (f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")) f.length()
      else 0L
    val rows = Option(new File(root(spark)).listFiles()).getOrElse(Array.empty)
      .filter(d => new File(d, "MANIFEST.bin").isFile)
      .flatMap { d =>
        load(spark, d.getName).map { m =>
          val tuples = tupleCount(m.kind, new File(dataDir(spark, d.getName)))
          // segment columns (views.rs:33-71): a Segments-store source
          // reports its real base/delta layout; a plain build IS one
          // sealed segment — sealed=[tuples], growing={} (what
          // tests/sealing/check.slt observes after CREATE INDEX)
          val segStat = segmentStat(m.source)
          val (sealedRows, growingRows) = segStat
            .map(t => (t._1, t._2))
            .getOrElse((tuples.map(Seq(_)), Seq.empty[Long]))
          // idx_dead_frac (round 17, additive): the "vacuum
          // recommended" signal — the fraction of artifact-resident
          // rows claimed dead by EXPLICIT tombstone rows + the promoted
          // dead/ snapshot, over stored + promoted rows. The same cheap
          // statistic IncrMaint.vacuumDue gates on (it confirms with an
          // exact count before acting); footer counts only, never a
          // job. Compare against spark.graft.segments.deleteThreshold;
          // re-insert shadows are excluded, so an append-only store
          // honestly reads 0.
          val deadFrac: Double = segStat match {
            case Some((sealedC, growingC, tombRows)) =>
              // promoted-dead location differs per family: IncrHnsw
              // keeps dead/ inside the artifact dir, the IncrMaint
              // families beside it — exactly one exists per kind
              val deadRows = footerRows(
                new File(dataDir(spark, d.getName), "dead")).getOrElse(0L) +
                footerRows(new File(dir(spark, d.getName), "dead"))
                  .getOrElse(0L)
              val denom = sealedC.toSeq.flatten.sum + growingC.sum + deadRows
              if (denom <= 0) 0.0
              else math.min(1.0, (tombRows + deadRows).toDouble / denom)
            case None => 0.0
          }
          (d.getName, m.kind, m.metric, m.source,
            m.params.map { case (k, v) => s"$k=$v" }.toSeq.sorted.mkString(","),
            du(d),
            // reference stat-view parity (views.rs:33-71): status is
            // NORMAL by construction — commits are atomic, a listed
            // manifest is always servable
            "NORMAL",
            tuples,
            indexingNow(spark, d.getName),
            sealedRows, growingRows, 0L, deadFrac)
        }
      }.toSeq
    rows.toDF("idx_name", "idx_type", "idx_metric", "idx_source",
      "idx_options", "idx_size_bytes", "idx_status", "idx_tuples",
      "idx_indexing", "idx_sealed", "idx_growing", "idx_write",
      "idx_dead_frac")
      // the reference VIEW's own column spellings (finalize.sql:807-818:
      // indexname/tablename from pg_class, idx_size from the stat
      // composite) as additive aliases — tests/sealing/check.slt filters
      // on `indexname`; the oid columns have no path-catalog analog
      .withColumn("indexname", org.apache.spark.sql.functions.col("idx_name"))
      .withColumn("tablename", org.apache.spark.sql.functions.col("idx_source"))
      .withColumn("idx_size", org.apache.spark.sql.functions.col("idx_size_bytes"))
  }
}
