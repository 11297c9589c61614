package graft.operators

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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

  /** [[tombstoneMax]] pinned to an explicitly captured state — callers
    * that must observe one consistent snapshot across several reads
    * (REINDEX folds) pass the state they captured. */
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
  private[graft] def generationId(dir: String, s: State): Int =
    Option(new File(dir, s"base-${s.gen}").list()).getOrElse(Array.empty[String])
      .sorted.mkString(",").hashCode

  /** Driver-side read of the tombstones committed after `afterSeq`: every
    * (id, _ver) pair of the `tombs-<s>` dirs with afterSeq < s <= st.seq,
    * passed to `f`, with no Spark job. Committed tombs dirs are immutable
    * (a later commit only adds dirs; compaction bumps the gen and removes
    * them all), so a reader that has folded everything up to some seq
    * needs only the dirs after it. An id may arrive once per dir it was
    * tombstoned in; callers keep the max version. Returns the number of
    * dirs read. */
  def tombstonesAfter(dir: String, idCol: String, st: State, afterSeq: Long)
      (f: (Long, Long) => Unit): Int = {
    val dirs = listDirs(dir, "tombs-", st)
      .filter(new File(_).getName.stripPrefix("tombs-").toLong > afterSeq)
    dirs.foreach(d => readIdVersions(new File(d), idCol, "_ver")(f))
    dirs.length
  }

  /** Read the (id, version) columns of every parquet file under `dir` on
    * the driver through parquet-hadoop (the footer-read precedent of
    * [[graft.index.IndexCatalog.footerRows]]). INT32 and INT64 columns
    * read as long, as `cast("long")` would; any other physical type
    * throws, naming the file and the column. A row whose id or version is
    * null hides nothing and is skipped. */
  private[graft] def readIdVersions(dir: File, idCol: String, verCol: String)
      (f: (Long, Long) => Unit): Unit = {
    import org.apache.parquet.column.impl.ColumnReadStoreImpl
    import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
    import org.apache.parquet.schema.{MessageType, PrimitiveType, Type}
    import PrimitiveType.PrimitiveTypeName.{INT32, INT64}
    import scala.jdk.CollectionConverters._
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(p => p.isFile && p.getName.endsWith(".parquet") &&
        !p.getName.startsWith(".") && !p.getName.startsWith("_"))
    if (files.isEmpty) return
    val conf = new org.apache.hadoop.conf.Configuration()
    files.foreach { p =>
      val r = graft.ParquetCache.openReader(conf,
        new org.apache.hadoop.fs.Path(p.getAbsolutePath))
      try {
        val meta = r.getFooter.getFileMetaData
        val fields = meta.getSchema.getFields.asScala
        // Spark resolves column names case-insensitively by default
        def column(name: String): Type = {
          val t = fields.find(_.getName == name)
            .orElse(fields.find(_.getName.equalsIgnoreCase(name)))
            .getOrElse(throw new IllegalArgumentException(
              s"$p: no column '$name' in tombstone file"))
          if (!t.isPrimitive || t.isRepetition(Type.Repetition.REPEATED) ||
              !Set(INT32, INT64).contains(t.asPrimitiveType.getPrimitiveTypeName))
            throw new IllegalArgumentException(
              s"$p: column '${t.getName}' is '$t'; tombstone id and version " +
                "columns must be INT32 or INT64")
          t
        }
        val proj = new MessageType(meta.getSchema.getName, column(idCol), column(verCol))
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
      } finally r.close()
    }
  }

  /** Round-17 optimization: the SEARCH-path form of [[tombstoneMaxAt]] —
    * a driver-cached LocalRelation of the (id, max _tomb_ver) rows,
    * keyed on the committed (gen, seq) exactly like IncrHnsw's round-16
    * tombstone map (never mtime: every commit bumps seq, so rapid
    * delete→search sees each one; tombs-* dirs are immutable once their
    * seq is committed). Repeat queries skip the per-query parquet read +
    * groupBy job; the broadcast join downstream is unchanged, so results
    * are bit-identical. Memory = the same rows the broadcast join
    * already shipped per query. Maintenance folds keep calling
    * [[tombstoneMaxAt]] with their pinned state. */
  private val tombLocalCache = new graft.LruCache[
    String, (String, Option[(Array[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType)])](1024)

  def tombstoneMaxLocalAt(spark: SparkSession, dir: String, idCol: String,
      s: State): Option[DataFrame] = {
    val key = new File(dir).getAbsolutePath + "|" + idCol
    val fp = s"${s.gen}:${s.seq}"
    val cached = tombLocalCache.get(key)
    val v = if (cached != null && cached._1 == fp) cached._2
    else {
      val computed = tombstoneMaxAt(spark, dir, idCol, s)
        .map(df => (df.collect(), df.schema))
      tombLocalCache.put(key, (fp, computed))
      computed
    }
    v.map { case (rows, schema) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema) }
  }

  def tombstoneMaxLocal(spark: SparkSession, dir: String, idCol: String): Option[DataFrame] =
    tombstoneMaxLocalAt(spark, dir, idCol, state(dir))

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
    // round 17: the cached LocalRelation form — pinned to the SAME
    // captured state, so folds still see one consistent snapshot
    tombstoneMaxLocalAt(spark, dir, idCol, s) match {
      case None => rows
      case Some(tombs) =>
        rows.join(broadcast(tombs), Seq(idCol), "left_outer")
          .filter(col("_tomb_ver").isNull || col("_tomb_ver") < col("_ver"))
          .drop("_tomb_ver")
    }
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

  private def del(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
    f.delete()
  }
}
