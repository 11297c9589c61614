package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped, content-fingerprinted cache of `spark.read.parquet`
  * frames (round-17 optimization, guide §6 file-listing).
  *
  * Why: every bare `spark.read.parquet(path)` pays ~100 ms of
  * driver-side work (fresh Hadoop conf, file listing, footer schema
  * inference) — measured at sf0.1 by timing repeated reads: 98–126
  * ms/call. The bench makes ~700 such calls across its two passes, so
  * repeated listings of IMMUTABLE inputs dominated many queries' warm
  * floor. Real deployments get this for free from catalog/table-format
  * metadata (Iceberg/Delta manifests, HMS listing caches — the guide's
  * §6 argument); this helper is the single-driver analog.
  *
  * What is cached: the resolved file relation (HadoopFsRelation — the
  * DataSource resolution + file listing + footer schema inference that
  * cost the ~100 ms and sometimes a driver job). Every read wraps the
  * cached relation in a NEW LogicalRelation with fresh expression ids —
  * self-joins of two reads of the same path keep their pre-cache
  * analyzer semantics (caching the DataFrame itself made both sides of
  * the pushdown join arms one Dataset and tripped
  * failAmbiguousSelfJoin). No rows, no results, no artifacts memoized.
  *
  * Invalidation: the repo's staleness convention — a recursive
  * (count, bytes, max-mtime, name-hash) fingerprint of the path, walked
  * on EVERY read call (a few File.listFiles syscalls, ~1 ms). Any
  * append/rewrite/compaction changes file names (Spark part-UUIDs),
  * counts or sizes, so a changed store is re-read and re-listed; a
  * cross-process writer is picked up on the next call (the TwoProc
  * freshness scenarios re-verify this). Keyed per SparkSession — frames
  * never leak across sessions; stopped sessions are swept on insert.
  */
object ParquetCache {
  private final case class Entry(fp: String, rel: AnyRef)
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Entry]()

  private def localRoot(path: String): java.io.File = new java.io.File(
    if (path.startsWith("file:")) path.stripPrefix("file:") else path)

  /** Order-insensitive content fingerprint of a file or directory tree. */
  private def fingerprint(root: java.io.File): String = {
    var n = 0L; var bytes = 0L; var maxM = 0L; var h = 0L
    def walk(f: java.io.File): Unit = {
      if (f.isDirectory) {
        val kids = f.listFiles()
        if (kids != null) { var i = 0; while (i < kids.length) { walk(kids(i)); i += 1 } }
      } else {
        n += 1
        val len = f.length(); val m = f.lastModified()
        bytes += len
        if (m > maxM) maxM = m
        // commutative mix (listFiles order is unspecified)
        h += f.getName.hashCode.toLong * 1000003L + len * 31L + m
      }
    }
    walk(root)
    s"$n:$bytes:$maxM:$h"
  }

  def read(spark: SparkSession, path: String): DataFrame = {
    // Non-local roots (hdfs://, s3a://, catalog locations not visible as
    // local files) would walk to the CONSTANT fingerprint "0:0:0:0" and
    // serve a frozen file listing forever — silent stale reads (round-18
    // hardening, ADVICE/VERDICT item). Read through: correctness first;
    // at that point a metastore/table-format manifest is the cache.
    val root = localRoot(path)
    if (!root.exists()) return spark.read.parquet(path)
    val key = (spark, path)
    val fp = fingerprint(root)
    val e = cache.get(key)
    if (e != null && e.fp == fp)
      org.apache.spark.sql.graftshim.Shims.ofFileRelation(spark, e.rel)
    else {
      // sweep entries that can never hit again: stopped sessions and
      // vanished paths (SqlDml routes per-statement tmp staging dirs —
      // deleted in its finally — through this cache; without the path
      // check a long-lived session accumulates dead HadoopFsRelations)
      if (cache.size() > 512) {
        val it = cache.keys()
        while (it.hasMoreElements) {
          val k = it.nextElement()
          if (k._1.sparkContext.isStopped || !localRoot(k._2).exists())
            cache.remove(k)
        }
      }
      val df = spark.read.parquet(path)
      org.apache.spark.sql.graftshim.Shims.fileRelationOf(df)
        .foreach(rel => cache.put(key, Entry(fp, rel)))
      df
    }
  }

  /** Open a parquet file's footer and row groups with read options built
    * over `conf`, an already loaded Hadoop configuration:
    * `ParquetFileReader.open(file)` builds its options from a fresh
    * `Configuration`, which re-parses the default XML resources on every
    * open (measured on a 4-core host: ~12 ms a file, against ~1.3 ms
    * with these options). */
  def openReader(conf: org.apache.hadoop.conf.Configuration,
      p: org.apache.hadoop.fs.Path): org.apache.parquet.hadoop.ParquetFileReader =
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf, p).build())

  /** Test hook: drop every entry (e.g. before byte-identity replays). */
  private[graft] def invalidateAll(): Unit = cache.clear()
}
