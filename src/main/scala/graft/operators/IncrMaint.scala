package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.IndexCatalog

/**
 * Shared incremental-maintenance plumbing for artifacts that live over a
 * [[Segments]] store (the reference's optimizer contract,
 * crates/index/src/optimizing/mod.rs:58-104: appends touch only new
 * segments; deletes are tombstone versions; compaction promotes without
 * rebuilding). Used by [[IncrIvf]], [[IncrQuant]] and [[IncrSparse]];
 * [[IncrHnsw]] shares its promote, vacuum and delete_threshold policy.
 *
 * Visibility follows [[Segments.visible]]. Live tombstones come from the
 * store; compaction snapshots them into the index's `dead/` parquet
 * BEFORE [[Segments.compact]] deletes them (promote-on-compact), so
 * visibility survives the store folding its history.
 */
object IncrMaint {

  def deadDir(spark: SparkSession, name: String): java.io.File =
    new java.io.File(IndexCatalog.dir(spark, name), "dead")

  /** The promoted-dead parquet under `dd`, if it holds any file. */
  private def deadFrame(spark: SparkSession, dd: java.io.File): Option[DataFrame] =
    if (Option(dd.listFiles()).getOrElse(Array.empty).exists(_.getName.endsWith(".parquet")))
      Some(graft.ParquetCache.read(spark, dd.getAbsolutePath))
    else None

  /** (seq, dir) of committed deltas with seq > afterSeq — the shared
    * shape of every incremental family's "what is new" question
    * (round 16: the families batch all new deltas into ONE write job,
    * so the list is materialized once instead of looped). */
  def deltasAfter(segDir: String, st: Segments.State,
      afterSeq: Long): Seq[(Long, String)] =
    Segments.deltaDirs(segDir, st).map { dd =>
      (new java.io.File(dd).getName.stripPrefix("delta-").toLong, dd)
    }.filter(_._1 > afterSeq)

  /** Promoted-dead ∪ live tombstones, max version per id: the index's
    * [[Segments.tombstoneSnapshot]] as a frame. */
  def tombstones(spark: SparkSession, name: String, segDir: String,
      idCol: String): Option[DataFrame] =
    Segments.tombstoneSnapshot(segDir, idCol, Segments.state(segDir),
      Some(IndexCatalog.dir(spark, name)), Some(deadDir(spark, name))).frame(spark)

  /** Reference `delete_threshold` analog (crates/base/src/index.rs:243-263
    * — the background optimizer compacts a segment once its deleted
    * fraction passes the knob, default 0.2; decision loop
    * crates/index/src/optimizing/mod.rs:58-104). Executed at SYNC time on
    * the [[Segments.sealIfDue]] precedent: every incremental family's
    * ensure() consults [[vacuumIfDue]] first, so continuous ingest+delete
    * reclaims automatically instead of degrading until a manual VACUUM
    * (the round-16 smoke measured 122 ms vs 53 ms serving p50 for exactly
    * this forgetting). `<= 0` disables. The TOML `[optimizing]
    * delete_threshold` knob stays advisory ([[graft.index.IndexToml]]);
    * this conf is its executing analog — the segments.* convention. */
  def deleteThreshold(spark: SparkSession): Double =
    spark.conf.getOption("spark.graft.segments.deleteThreshold")
      .map(_.toDouble).getOrElse(0.2)

  /** Driver-side parquet-footer row sums over the store's committed
    * layout: (stored rows across base+deltas, EXPLICIT tombstone rows).
    * Explicit = tombs-<s> dirs with no sibling delta-<s> — the rows
    * [[Segments.delete]] wrote, the analog of the reference's delete-map
    * entries (delete.rs:10-75) that its delete_threshold counts. The
    * SHADOW tombstones appends pair with their deltas are deliberately
    * excluded from the trigger statistic: an append-only stream carries
    * one shadow row per ingested row while hiding nothing, and counting
    * them would force the exact check (a full-store count job) on every
    * sync — turning O(delta) syncs into O(store) ones. Re-insert-hidden
    * rows are still reclaimed whenever an explicit delete wave trips the
    * policy (the exact check below counts ALL hidden rows) or by manual
    * vacuum. */
  private[graft] def storeFooterCounts(segDir: String,
      st: Segments.State): (Long, Long) = {
    val deltas = Segments.deltaDirs(segDir, st)
    val stored = (s"$segDir/base-${st.gen}" +: deltas)
      .flatMap(d => IndexCatalog.footerRows(new java.io.File(d))).sum
    val deltaSeqs = deltas
      .map(d => new java.io.File(d).getName.stripPrefix("delta-")).toSet
    val tombs = Segments.tombDirs(segDir, st)
      .filter(d => !deltaSeqs.contains(
        new java.io.File(d).getName.stripPrefix("tombs-")))
      .flatMap(d => IndexCatalog.footerRows(new java.io.File(d))).sum
    (stored, tombs)
  }

  /** Exact-check verdict memo per store: key = segDir, value =
    * (committed "gen:seq:deadRows" fingerprint, verdict). Bounds the
    * pathological repeat (explicit tombstone OVERcount — double deletes
    * — passing the cheap gate while the true fraction sits below the
    * threshold) at one count job per committed store state per JVM. */
  private val dueCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Boolean)]()

  /** Is the store's dead fraction at/over [[deleteThreshold]]? Dead =
    * rows resident in the artifact but hidden from the visible set:
    * store-hidden rows (stored − visible) plus the promoted-dead
    * snapshot this index carries (rows already folded out of the store
    * but still resident in artifact files). Cheap explicit-tombstone
    * footer bound first — driver-side metadata only; the exact visible
    * count (one Spark job) runs only when the bound passes, so the
    * common append-only sync never pays it. */
  def vacuumDue(spark: SparkSession, name: String, segDir: String,
      idCol: String): Boolean = {
    val thr = deleteThreshold(spark)
    if (!(thr > 0)) return false
    val st = Segments.state(segDir)
    if (st.gen < 0) return false
    // promoted-dead lives under the index dir for the IncrMaint
    // families and under the artifact dir for IncrHnsw — exactly one
    // of the two can exist for a given kind
    val deadRows = IndexCatalog.footerRows(deadDir(spark, name)).getOrElse(0L) +
      IndexCatalog.footerRows(new java.io.File(
        IndexCatalog.dataDir(spark, name), "dead")).getOrElse(0L)
    val (stored, tombRows) = storeFooterCounts(segDir, st)
    val denom = stored + deadRows
    if (denom <= 0) return false
    if ((tombRows + deadRows).toDouble / denom < thr) return false
    val fp = s"${st.gen}:${st.seq}:$deadRows:$thr"
    val memo = dueCache.get(segDir)
    if (memo != null && memo._1 == fp) return memo._2
    val visible = Segments.readAt(spark, segDir, idCol, st).count()
    val due = (stored - visible + deadRows).toDouble / denom >= thr
    dueCache.put(segDir, (fp, due))
    due
  }

  /** The delete_threshold policy's action: when due, run the existing
    * vacuum PROLOGUE (fold the store, drop the artifact) and return true
    * — the family ensure() that called this then rebuilds from the
    * folded store exactly like [[vacuum]]'s re-ensure, with no
    * recursion. Same single-owner contract as manual [[vacuum]]: a store
    * backing SEVERAL incremental indexes gets its siblings force-rebuilt
    * on their next ensure (the gen check — visible rows stay correct),
    * but a sibling SEARCH in between could resurface dead rows whose
    * tombstones the fold consumed before that sibling promoted them;
    * multi-index stores should set the threshold conf to 0 and schedule
    * vacuum per family, exactly as they already must with manual
    * maintenance. */
  def vacuumIfDue(spark: SparkSession, name: String, segDir: String,
      idCol: String): Boolean = synchronized {
    if (!vacuumDue(spark, name, segDir, idCol)) false
    else {
      Segments.compact(spark, segDir, idCol)
      IndexCatalog.drop(spark, name)
      true
    }
  }

  /** Full optimize (the reference's vacuum-analog rebuild,
    * crates/index/src/optimizing/mod.rs:58-104 when every segment is
    * selected): fold the store, discard the promoted-dead snapshot (the
    * rebuilt artifact contains no dead rows for it to hide), drop the
    * artifact and re-ensure from scratch — reclaiming tombstoned rows
    * and refreshing drifted quantizers/centroids. The deliberately
    * expensive path; incremental ensure covers the common append case.
    * `reEnsure` is the family's own ensure call, run after the drop.
    *
    * Single-writer contract: between the drop and the re-ensure there is
    * a window with no committed manifest, so a CONCURRENT search on the
    * same index name would throw "no committed index". vacuum is a
    * maintenance operation scheduled by the single batch driver (the
    * reference's optimizer bgworker likewise owns the index exclusively
    * while optimizing, crates/index/src/optimizing/mod.rs); it does not
    * serialize against readers, only against other maintenance calls.
    *
    * Lock ORDER (round 17): the IncrMaint monitor is released BEFORE
    * reEnsure runs — reEnsure takes the family's own lock, and family
    * ensure() now takes the IncrMaint monitor via [[vacuumIfDue]], so
    * holding this monitor across reEnsure would be a family↔IncrMaint
    * inversion (deadlock under concurrent vacuum+ensure). The
    * fold+drop pair stays serialized against other maintenance. */
  def vacuum(spark: SparkSession, name: String, segDir: String,
      idCol: String)(reEnsure: => String): String = {
    synchronized {
      Segments.compact(spark, segDir, idCol)
      // drop removes the whole index dir — including the promoted-dead
      // snapshot, which the rebuilt artifact has no dead rows to need
      IndexCatalog.drop(spark, name)
    }
    reEnsure
  }

  /** Compact the store WITHOUT rebuilding the artifact: snapshot live
    * tombstones into `dead/` (write-then-rename publish), fold the data
    * side, record the promoted generation on the manifest. */
  def promoteOnCompact(spark: SparkSession, name: String, segDir: String,
      idCol: String): Unit =
    promoteOnCompact(spark, name, segDir, idCol, deadDir(spark, name))

  /** [[promoteOnCompact]] with the promoted-dead parquet at `dd` (IncrHnsw
    * keeps it under the artifact dir, the other families under the index
    * dir). */
  def promoteOnCompact(spark: SparkSession, name: String, segDir: String,
      idCol: String, dd: java.io.File): Unit = synchronized {
    Segments.tombstoneMax(spark, segDir, idCol).foreach { tombs =>
      val all = deadFrame(spark, dd)
        .map(_.unionByName(tombs)).getOrElse(tombs)
        .groupBy(col(idCol)).agg(max(col("_tomb_ver")).as("_tomb_ver"))
      // write-then-swap: never read and overwrite the same dir in one job
      val tmp = new java.io.File(dd.getParentFile, "dead.tmp")
      all.write.mode("overwrite").parquet(tmp.getAbsolutePath)
      if (dd.exists()) Segments.del(dd)
      if (!tmp.renameTo(dd))
        throw new java.io.IOException(s"failed to publish $dd")
    }
    Segments.compact(spark, segDir, idCol)
    val newSt = Segments.state(segDir)
    val pm = IndexCatalog.load(spark, name).getOrElse(
      throw new IllegalStateException(s"no index $name to promote"))
    // promoted_gen records that the artifact covers the new generation
    // without a rebuild
    IndexCatalog.commit(spark, name, pm.copy(params =
      pm.params ++ Map("promoted_gen" -> newSt.gen.toString,
        "seq" -> newSt.seq.toString)))
  }
}
