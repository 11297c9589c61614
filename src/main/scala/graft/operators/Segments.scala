package graft.operators

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Incremental table maintenance — the Spark shape of the reference's
 * segment lifecycle: a sealed `base` generation, append-only growing
 * `delta` segments (crates/index/src/segment/growing.rs:132-158 aminsert
 * analog), a versioned tombstone table (crates/index/src/delete.rs:10-75:
 * a delete at version v hides every row of that id with version <= v;
 * re-insert writes a higher version), and a compaction job that folds
 * base+deltas-tombstones into the next sealed generation
 * (crates/index/src/optimizing/mod.rs:58-104).
 *
 * Crash recovery follows the manifest rule (crates/index/src/lib.rs:
 * 128-211): data directories are written FIRST, the VERSION pointer is
 * swapped LAST (atomic rename); a generation directory without a
 * committed pointer is garbage and gets ignored/cleaned.
 *
 * Layout under `dir`:
 *   VERSION            committed state: "gen=<g> seq=<s>"
 *   base-<g>/          sealed generation parquet
 *   delta-<s>/         growing segments appended since gen g
 *   tombs-<s>/         tombstone parquet (id, _ver)
 *
 * Scale shape: read() is base ∪ deltas with one anti-join against the
 * (small, broadcastable) tombstone set; compaction is the only full
 * rewrite and runs offline, exactly like the reference's optimizer
 * thread.
 */
object Segments {

  case class State(gen: Long, seq: Long)

  /** Reference `max_growing_segment_size` analog (crates/base/src/index.rs:
    * 199-226 caps the write segment at 20k rows): no single growing delta
    * segment may exceed this many rows — an oversized append is split into
    * multiple sealed deltas at write time, so downstream per-delta work
    * (side-graph builds, tombstone joins) stays bounded. */
  def maxGrowingRows(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.segments.maxGrowingRows")
      .map(_.toLong).getOrElse(20000L)

  private def versionFile(dir: String) = new File(dir, "VERSION")

  def state(dir: String): State = {
    val f = versionFile(dir)
    if (!f.isFile) State(-1L, 0L)
    else {
      val kv = Files.readString(f.toPath).trim.split("\\s+")
        .map(_.split("=")).map(a => a(0) -> a(1).toLong).toMap
      State(kv("gen"), kv("seq"))
    }
  }

  /** Atomic pointer swap — the commit point. */
  private def commit(dir: String, s: State): Unit = {
    val tmp = Paths.get(dir, "VERSION.tmp")
    Files.writeString(tmp, s"gen=${s.gen} seq=${s.seq}\n")
    Files.move(tmp, versionFile(dir).toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Create generation 0 from `df` (rows get version 0). */
  def init(spark: SparkSession, dir: String, df: DataFrame, idCol: String): Unit = {
    new File(dir).mkdirs()
    df.withColumn("_ver", lit(0L))
      .write.mode("overwrite").parquet(s"$dir/base-0")
    commit(dir, State(0L, 0L))
  }

  /** Append a growing delta; an insert of an existing id shadows older
    * versions via the paired tombstone (reinsert = delete + insert).
    *
    * An append larger than [[maxGrowingRows]] is auto-sealed into
    * ceil(n/cap) delta segments, each with its own version, hash-split on
    * the id (reference sealing rule: optimizing/mod.rs:35-57 seals the
    * growing segment once it hits the cap). One partitioned write job —
    * the input is scanned once, then partition dirs are renamed into
    * place; the VERSION pointer moves only after every dir is written, so
    * a crash mid-split leaves only ignored uncommitted dirs.
    * Returns the last committed seq. */
  def append(spark: SparkSession, dir: String, df: DataFrame, idCol: String,
      shadow: Boolean = true): Long = {
    val s = state(dir)
    val cap = maxGrowingRows(spark)
    val n = df.count()
    val nChunks = math.max(1L, (n + cap - 1) / cap).toInt
    if (nChunks == 1) {
      val seq = s.seq + 1
      df.withColumn("_ver", lit(seq))
        .write.mode("overwrite").parquet(s"$dir/delta-$seq")
      if (shadow)
        df.select(col(idCol)).distinct().withColumn("_ver", lit(seq) - 1)
          .write.mode("overwrite").parquet(s"$dir/tombs-$seq")
      commit(dir, s.copy(seq = seq))
      seq
    } else {
      // chunk c gets version s.seq + 1 + c; its shadow tombstones version
      // (that - 1). Chunks hold disjoint id sets (hash split), so the
      // per-chunk shadow rule composes exactly like N sequential appends.
      val chunked = df
        .withColumn("_chunk", pmod(xxhash64(col(idCol)), lit(nChunks.toLong)))
      def publish(rows: DataFrame, verOff: Long, prefix: String): Unit = {
        val staging = s"$dir/.staging-$prefix-${s.seq + 1}"
        rows.withColumn("_ver", lit(verOff) + col("_chunk"))
          .write.mode("overwrite").partitionBy("_chunk").parquet(staging)
        (0 until nChunks).foreach { c =>
          val part = new File(staging, s"_chunk=$c")
          if (part.isDirectory) {
            val target = new File(dir, s"$prefix-${s.seq + 1 + c}")
            if (target.exists()) del(target)
            Files.move(part.toPath, target.toPath)
          }
        }
        del(new File(staging))
      }
      publish(chunked, s.seq + 1, "delta")
      if (shadow)
        publish(chunked.select(col(idCol), col("_chunk")).distinct(), s.seq, "tombs")
      val last = s.seq + nChunks
      commit(dir, s.copy(seq = last))
      last
    }
  }

  /** Tombstone the given ids as of the next version. */
  def delete(spark: SparkSession, dir: String, ids: DataFrame, idCol: String): Long = {
    val s = state(dir)
    val seq = s.seq + 1
    ids.select(col(idCol)).distinct().withColumn("_ver", lit(seq))
      .write.mode("overwrite").parquet(s"$dir/tombs-$seq")
    commit(dir, s.copy(seq = seq))
    seq
  }

  private def listDirs(dir: String, prefix: String, state: State): Seq[String] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .filter(_.getName.stripPrefix(prefix).toLong <= state.seq)
      .map(_.getAbsolutePath).toSeq.sorted

  def deltaDirs(dir: String, s: State): Seq[String] = listDirs(dir, "delta-", s)

  def tombDirs(dir: String, s: State): Seq[String] = listDirs(dir, "tombs-", s)

  /** Max tombstone version per id, or None if no tombstones committed. */
  def tombstoneMax(spark: SparkSession, dir: String, idCol: String): Option[DataFrame] =
    tombstoneMaxAt(spark, dir, idCol, state(dir))

  /** [[tombstoneMax]] pinned to an explicitly captured state. The Spark
    * form of [[tombstoneSnapshot]]: promote's input, and the reference
    * the specs compare the snapshot against. */
  def tombstoneMaxAt(spark: SparkSession, dir: String, idCol: String,
      s: State): Option[DataFrame] = {
    val tombDirs = listDirs(dir, "tombs-", s)
    if (tombDirs.isEmpty) None
    else Some(tombDirs.map(graft.ParquetCache.read(spark, _)).reduce(_ unionByName _)
      .groupBy(col(idCol)).agg(max(col("_ver")).as("_tomb_ver")))
  }

  /** Identity of the committed generation's data: the names of its base
    * parquet files, which carry the writing job's unique id. A store
    * deleted and re-initialised at the same path reuses (gen, seq)
    * numbers but never these names. */
  private def generationId(dir: String, s: State): Int =
    Option(new File(dir, s"base-${s.gen}").list()).getOrElse(Array.empty[String])
      .sorted.mkString(",").hashCode

  /** The integral Spark types a tombstone id or version may have, narrow
    * to wide — a union of files of two of them widens as `unionByName`
    * would. */
  private val Integral: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)

  private def wider(a: StructField, b: StructField): StructField =
    if (Integral.indexOf(b.dataType) > Integral.indexOf(a.dataType)) b else a

  /** Read the (id, version) columns of every parquet file under `dir` on
    * the driver through parquet-hadoop (the footer-read precedent of
    * [[graft.index.IndexCatalog.footerRows]]), passing each pair to `f`
    * as longs, as `cast("long")` would. Both columns must be byte, short,
    * int or long in the Spark schema the footer stores; anything else
    * throws, naming the file and the column. A row whose id or version is
    * null hides nothing and is skipped. Returns the id's field as Spark
    * reads it (the widest over the files), or None when there is no
    * file. */
  private[graft] def readIdVersions(dir: File, idCol: String, verCol: String)
      (f: (Long, Long) => Unit): Option[StructField] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.column.impl.ColumnReadStoreImpl
    import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
    import org.apache.parquet.schema.MessageType
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    import scala.jdk.CollectionConverters._
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(p => p.isFile && p.getName.endsWith(".parquet") &&
        !p.getName.startsWith(".") && !p.getName.startsWith("_"))
    val conf = new org.apache.hadoop.conf.Configuration()
    files.map { p =>
      val path = new Path(p.getAbsolutePath)
      val r = graft.ParquetCache.openReader(conf, path)
      try {
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new org.apache.parquet.hadoop.Footer(path, r.getFooter),
          new ParquetToSparkSchemaConverter(
            org.apache.spark.sql.internal.SQLConf.get))
        // Spark resolves column names case-insensitively by default
        def column(name: String): StructField = {
          val c = schema.find(_.name == name)
            .orElse(schema.find(_.name.equalsIgnoreCase(name)))
            .getOrElse(throw new IllegalArgumentException(
              s"$p: no column '$name' in tombstone file"))
          if (!Integral.contains(c.dataType))
            throw new IllegalArgumentException(
              s"$p: column '${c.name}' is ${c.dataType.simpleString}; " +
                "tombstone id and version columns must be byte, short, int or long")
          c
        }
        val (idF, verF) = (column(idCol), column(verCol))
        val meta = r.getFooter.getFileMetaData
        val file = meta.getSchema
        val proj = new MessageType(file.getName,
          file.getType(file.getFieldIndex(idF.name)),
          file.getType(file.getFieldIndex(verF.name)))
        r.setRequestedSchema(proj)
        val Seq(idDesc, verDesc) = proj.getColumns.asScala.toSeq
        val idInt = idDesc.getPrimitiveType.getPrimitiveTypeName == INT32
        val verInt = verDesc.getPrimitiveType.getPrimitiveTypeName == INT32
        val conv = new GroupRecordConverter(proj).getRootConverter
        var pages = r.readNextRowGroup()
        while (pages != null) {
          val store = new ColumnReadStoreImpl(pages, conv, proj, meta.getCreatedBy)
          val ids = store.getColumnReader(idDesc)
          val vers = store.getColumnReader(verDesc)
          var i = 0L
          while (i < pages.getRowCount) {
            if (ids.getCurrentDefinitionLevel == idDesc.getMaxDefinitionLevel &&
                vers.getCurrentDefinitionLevel == verDesc.getMaxDefinitionLevel)
              f(if (idInt) ids.getInteger.toLong else ids.getLong,
                if (verInt) vers.getInteger.toLong else vers.getLong)
            ids.consume(); vers.consume()
            i += 1
          }
          pages = r.readNextRowGroup()
        }
        idF
      } finally r.close()
    }.reduceOption(wider _)
  }

  /** Every tombstone a visibility check consults — the store's live
    * `tombs-<s>` dirs, plus an index's promoted `dead/` parquet — folded
    * max-per-id into id-sorted primitive arrays (the reference keeps the
    * same map in memory, crates/index/src/delete.rs:10-75). Published
    * arrays are never mutated; a newer snapshot copies. */
  private[graft] final class Tombs(val ids: Array[Long], val vers: Array[Long]) {
    /** A row of `id` carrying version `ver` is hidden. */
    def hides(id: Long, ver: Long): Boolean = {
      val i = java.util.Arrays.binarySearch(ids, id)
      i >= 0 && vers(i) >= ver
    }
  }

  private val NoTombs = new Tombs(Array.emptyLongArray, Array.emptyLongArray)

  /** [[Tombs]] with the committed store state they cover. `origin` holds
    * the rest of what the fold read: the dead/ dir, the store
    * generation's identity, the dead/ fingerprint and the id column;
    * `dirsRead` counts the `tombs-<s>` dirs the fold that built it read;
    * `idField` is the id as the folded files store it (None when no file
    * was read). */
  private[graft] final class TombSnapshot(val gen: Long, val seq: Long,
      val origin: String, val tombs: Tombs, val dirsRead: Int,
      val idField: Option[StructField]) {
    /** The (id, _tomb_ver) rows as a LocalRelation, built on first use. */
    private lazy val relation: Option[LocalRelation] = idField.map { f =>
      val id: Long => Any = f.dataType match {
        case ByteType => _.toByte
        case ShortType => _.toShort
        case IntegerType => _.toInt
        case _ => identity
      }
      val schema = StructType(Seq(f.copy(nullable = true),
        StructField("_tomb_ver", LongType)))
      LocalRelation(DataTypeUtils.toAttributes(schema),
        tombs.ids.indices.map(i => InternalRow(id(tombs.ids(i)), tombs.vers(i))))
    }

    /** The tombstones as a frame — what [[tombstoneMaxAt]] computes, with
      * fresh attribute ids per call; None when no tombstone file was read. */
    def frame(spark: SparkSession): Option[DataFrame] =
      relation.map(r => org.apache.spark.sql.graftshim.Shims.ofRows(spark, r.newInstance()))
  }

  /** Content fingerprint of a promoted-dead dir: file count plus a hash
    * of each file's name, length and mtime. */
  private def deadFp(dd: File): String = {
    val fs = Option(dd.listFiles()).getOrElse(Array.empty)
    var h = 0L
    fs.foreach(f => h += f.getName.hashCode.toLong * 1000003L +
      f.length() * 31L + f.lastModified())
    s"${fs.length}:$h"
  }

  /** DRIVER-side snapshot cache, one entry per (store, owner) — the owner
    * is an index dir, or none for the bare store — pruned when the
    * store's VERSION disappears. Freshness is the committed (gen, seq),
    * never mtime — seq strictly increases per commit, so rapid-fire
    * delete/search sequences can't alias — plus the snapshot's origin:
    * compaction bumps gen, a re-initialised store changes the
    * generation's identity, promote rewrites dead/, REINDEX moves
    * IncrHnsw's dead/ with its artifact dir. */
  private val snapshots = new ConcurrentHashMap[String, TombSnapshot]()

  /** Fold tombstones max-per-id: onto `prior` the `tombs-<s>` dirs with
    * prior.seq < s <= st.seq; with no prior, `dead` (when given) and
    * every committed dir. All read on the driver, with no Spark job. */
  private def fold(prior: Option[TombSnapshot], dead: Option[File],
      segDir: String, idCol: String, st: State, origin: String): TombSnapshot = {
    val m = new scala.collection.mutable.LongMap[Long]()
    val add = (id: Long, v: Long) =>
      if (v > m.getOrElse(id, Long.MinValue)) m.update(id, v)
    val after = prior.fold(Long.MinValue)(_.seq)
    val dirs = tombDirs(segDir, st)
      .filter(new File(_).getName.stripPrefix("tombs-").toLong > after)
    val fields = (if (prior.isEmpty) dead.flatMap(readIdVersions(_, idCol, "_tomb_ver")(add))
      else prior.flatMap(_.idField)) ++
      dirs.flatMap(d => readIdVersions(new File(d), idCol, "_ver")(add))
    new TombSnapshot(st.gen, st.seq, origin,
      merge(prior.fold(NoTombs)(_.tombs), m), dirs.length, fields.reduceOption(wider _))
  }

  /** `prior` with `m`'s versions merged in max-per-id, as new arrays. */
  private def merge(prior: Tombs, m: scala.collection.mutable.LongMap[Long]): Tombs = {
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

  /** The tombstone snapshot of store `segDir` at exactly `st`, as seen by
    * `owner` (an index dir, whose promoted-dead parquet is `dead`; None
    * for the bare store): the cached one when it is at `st`; else a
    * fold — forward from the cached one when only the store's seq
    * advanced, from scratch otherwise. A request older than the cached
    * snapshot (a pinned read) folds from scratch and leaves the newer
    * entry in place. */
  private[graft] def tombstoneSnapshot(segDir: String, idCol: String, st: State,
      owner: Option[String], dead: Option[File]): TombSnapshot = {
    locally {
      val it = snapshots.keys()
      while (it.hasMoreElements) {
        val key = it.nextElement()
        if (!versionFile(key.substring(0, key.indexOf('|'))).isFile)
          snapshots.remove(key)
      }
    }
    val origin = s"${dead.fold("")(_.getPath)}|${generationId(segDir, st)}|" +
      s"${dead.fold("")(deadFp)}|$idCol"
    val key = s"${new File(segDir).getAbsolutePath}|${owner.getOrElse("")}"
    val cur = snapshots.get(key)
    val sameOrigin = cur != null && cur.gen == st.gen && cur.origin == origin
    if (sameOrigin && cur.seq == st.seq) return cur
    if (sameOrigin && cur.seq > st.seq)
      return fold(None, dead, segDir, idCol, st, origin)
    // fold OUTSIDE the map lock: compute() would pin the CHM bin lock for
    // the whole read, blocking concurrent searches of this store AND
    // unrelated keys hashing to the same bin. A racing duplicate fold is
    // harmless: put() publishes whichever finishes last, and the next
    // request folds forward from it.
    val snap = fold(Option(cur).filter(_ => sameOrigin), dead, segDir, idCol, st, origin)
    snapshots.put(key, snap)
    snap
  }

  /** [[tombstoneMaxAt]] served from the bare store's snapshot. */
  def tombstoneMaxLocalAt(spark: SparkSession, dir: String, idCol: String,
      s: State): Option[DataFrame] =
    tombstoneSnapshot(dir, idCol, s, None, None).frame(spark)

  def tombstoneMaxLocal(spark: SparkSession, dir: String, idCol: String): Option[DataFrame] =
    tombstoneMaxLocalAt(spark, dir, idCol, state(dir))

  /** The visibility rule (crates/index/src/delete.rs:45-51 analog): a row
    * written at version `_ver` stays unless a tombstone of its id has
    * `_tomb_ver >= _ver`. Filters rows, not graph candidates, so it runs
    * before any top-k with no over-fetch. */
  def visible(rows: DataFrame, tombs: Option[DataFrame], idCol: String): DataFrame =
    tombs match {
      case Some(t) => rows.join(broadcast(t), Seq(idCol), "left_outer")
        .filter(col("_tomb_ver").isNull || col("_tomb_ver") < col("_ver"))
        .drop("_tomb_ver")
      case None => rows
    }

  /** Snapshot read: base ∪ committed deltas, minus rows hidden by a
    * tombstone of the same id at version >= the row's version. */
  def read(spark: SparkSession, dir: String, idCol: String): DataFrame =
    readAt(spark, dir, idCol, state(dir))

  /** [[read]] pinned to an explicitly captured state: an append that
    * commits AFTER the capture is invisible, so a fold stamped with
    * that state's seq can never double-index it. */
  def readAt(spark: SparkSession, dir: String, idCol: String,
      s: State): DataFrame = {
    require(s.gen >= 0, s"no committed generation under $dir")
    val parts = s"$dir/base-${s.gen}" +: deltaDirs(dir, s)
    val rows = parts.map(graft.ParquetCache.read(spark, _)).reduce(_ unionByName _)
    visible(rows, tombstoneMaxLocalAt(spark, dir, idCol, s), idCol)
  }

  /** Reference `sealing_secs` analog (crates/base/src/index.rs:248-264:
    * a growing segment seals by AGE as well as by size). The growing
    * state here is the accumulated pile of small delta dirs a trickle
    * stream produces — each micro-batch is immutable but the pile
    * degrades reads (per-delta file opens, per-delta tombstone joins)
    * until someone folds it. Age threshold: oldest uncompacted delta
    * older than `spark.graft.segments.sealingSecs` (default 600). */
  def sealingSecs(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.segments.sealingSecs")
      .map(_.toLong).getOrElse(600L)

  /** Count threshold for the same policy: more than
    * `spark.graft.segments.maxDeltas` (default 64) uncompacted deltas
    * is due regardless of age. */
  def maxDeltas(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.segments.maxDeltas")
      .map(_.toInt).getOrElse(64)

  /** Fold the delta pile when the sealing policy says it is due
    * (age of the OLDEST uncompacted delta >= [[sealingSecs]], or delta
    * count >= [[maxDeltas]]); returns whether it fired. `doCompact`
    * defaults to the plain [[compact]] — a store serving INCREMENTAL
    * indexes must pass the index-aware path instead
    * ([[IncrMaint.vacuum]] / promote-on-compact: plain compact deletes
    * tombstones those indexes still need to snapshot). Visible rows are
    * identical before and after — sealing is a layout fold, never a
    * semantic change. */
  def sealIfDue(spark: SparkSession, dir: String, idCol: String,
      doCompact: () => Unit = null): Boolean = {
    val s = state(dir)
    if (s.gen < 0) return false
    val deltas = deltaDirs(dir, s)
    if (deltas.isEmpty) return false
    val oldestMs = deltas.map(d => new File(d).lastModified()).min
    val due = deltas.length >= maxDeltas(spark) ||
      (System.currentTimeMillis() - oldestMs) / 1000L >= sealingSecs(spark)
    if (due) {
      if (doCompact == null) compact(spark, dir, idCol) else doCompact()
    }
    due
  }

  /** Fold everything visible into the next sealed generation; data first,
    * pointer swap last, old dirs cleaned only after the commit. */
  def compact(spark: SparkSession, dir: String, idCol: String): Unit = {
    val s = state(dir)
    val nextGen = s.gen + 1
    read(spark, dir, idCol).withColumn("_ver", lit(0L))
      .write.mode("overwrite").parquet(s"$dir/base-$nextGen")
    commit(dir, State(nextGen, s.seq))  // <- crash before here: old gen wins
    // post-commit cleanup (safe to redo after a crash)
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory &&
        (f.getName.startsWith("delta-") || f.getName.startsWith("tombs-") ||
          (f.getName.startsWith("base-") && f.getName != s"base-$nextGen")))
      .foreach(del)
  }

  private[operators] def del(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
    f.delete()
  }
}
