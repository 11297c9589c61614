package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, BinaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, FloatType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.hadoop.fs.{FileSystem, Path}
import graft.functions._
import graft.index.IndexCatalog
import graft.index.IndexCatalog.Manifest

/**
 * IVF (inverted-file) ANN index, the Spark-native analog of the
 * reference's IVF (crates/ivf/src/lib.rs): k-means centroids, vectors
 * bucketed by nearest centroid, searches probe the `nprobe` closest lists.
 *
 * Spark mapping (SURVEY §2.6): the index is a parquet table
 * **partitioned by list_id**; a query ranks the (small) centroid table
 * on the driver and selects nprobe lists, so only nprobe/nlist of the
 * data is read. A single-query [[search]] scores the probed lists on
 * the driver, over list files loaded once into [[Hnsw.GraphCache]] on
 * first touch, with no Spark job (the reference answers an index scan
 * from the process that holds the index, src/bgworker/mod.rs). The
 * filtered, batch and range scans keep a Spark job, where the
 * `list_id IN (...)` predicate becomes *partition pruning* at the scan.
 * Distances are exact on the probed rows (quantized variant in
 * [[CodedIvf]]).
 *
 * Build and search are fully split: `ensure` trains + materializes the
 * partitioned artifact ONCE (a CREATE INDEX job, cataloged by
 * [[IndexCatalog]]); searches only read probed lists.
 *
 * Cosine follows the reference's rewrite (src/index/am_options.rs:53-63,
 * 231-249): vectors are L2-normalized at build, searched by dot.
 *
 * Defaults mirror the reference: nlist=1000 (scaled down for small SF),
 * 10 k-means iterations, nprobe=10 (crates/base/src/index.rs:367-377,
 * 558-560).
 */
object IvfIndex {

  case class Model(metric: String, centroids: Array[Array[Float]],
      radii: Array[Float] = null) {
    /** Probe order. With per-list radius stats (the same stats the
      * sphere-range pushdown uses) lists are ranked by their LOWER-BOUND
      * reachable distance — triangle inequality for l2, Cauchy-Schwarz
      * on the residual for cos/dot — with raw centroid distance as the
      * tie-break. A wide list sitting slightly farther than a tight one
      * can still hold closer rows; bound-first ordering captures it at
      * the same nprobe (measured: +0.02–0.04 recall@100 on the sf0.1
      * fixtures, no extra I/O). Exactness at nprobe = nlist never
      * depends on the ranking; without radii the raw centroid ranking
      * is used. */
    /** The reference's dimension contract
      * (tests/sqllogictest/error.slt): querying a vector index with a
      * vector of the wrong dimension is an ERROR, never a garbage
      * ranking. Every probe decision funnels through [[rankLists]] (or
      * calls this directly), so the check is centralized here. */
    def requireDims(q: Array[Float]): Unit =
      if (centroids.nonEmpty && q.length != centroids(0).length)
        throw new IllegalArgumentException(
          "The dimension of a vector does not match that in a vector " +
            s"index column: query ${q.length}, index ${centroids(0).length}")
    def rankLists(q: Array[Float]): Array[Int] = {
      requireDims(q)
      val qq = if (metric == "cos") Kernels.normalize(q) else q
      if (radii == null || radii.length != centroids.length)
        centroids.zipWithIndex
          .map { case (c, i) => (Kernels.dist(metric, c, qq), i) }
          .sortBy(_._1).map(_._2)
      else {
        val qn = math.sqrt(Kernels.dot(qq, qq))
        centroids.zipWithIndex.map { case (c, i) =>
          val cd = Kernels.dist(metric, c, qq)
          val r = math.sqrt(radii(i).toDouble)
          val lb = metric match {
            case "l2" =>
              val d = math.sqrt(cd) - r
              if (d > 0) d * d else 0.0
            case "cos" => cd + 1.0 - r // cd = -c·q̂; best cosdist = 1 - c·q̂ - R
            case "dot" => cd - r * qn // cd = -c·q; best negdot = -(c·q + R|q|)
          }
          ((lb, cd), i)
        }.sortBy(_._1).map(_._2)
      }
    }
    def nlist: Int = centroids.length
  }

  /** Alias for the existing call sites: the kernels live TOP-LEVEL
    * (graft.operators.IvfKernels) because Janino-generated code can only
    * call static forwarders of top-level objects — a nested object has
    * no `Kernels` member on the enclosing class, so codegen referencing
    * `IvfIndex.Kernels` failed to compile and every assign/dist fell
    * back to interpreted evaluation. */
  val Kernels = IvfKernels

  /** Codegen nearest-centroid assignment (replaces the round-1 Scala UDF;
    * stays inside whole-stage codegen on the build path). */
  case class NearestCentroid(vec: Expression, flatCentroids: Expression,
      useDot: Boolean) extends BinaryExpression {
    override def left: Expression = vec
    override def right: Expression = flatCentroids
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = IntegerType
    override def nullSafeEval(v: Any, f: Any): Any =
      Kernels.nearest(v.asInstanceOf[ArrayData], f.asInstanceOf[ArrayData], useDot)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (v, f) =>
        s"${ev.value} = graft.operators.IvfKernels.nearest($v, $f, $useDot);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(vec = l, flatCentroids = r)
    override def prettyName = "nearest_centroid"
  }

  def nearestCentroid(vec: Column, model: Model): Column = {
    val flat = model.centroids.flatten
    Shims.column(NearestCentroid(Shims.expression(vec),
      Shims.expression(typedLit(flat)), model.metric != "l2"))
  }

  /** l2² from each row to its assigned centroid. */
  case class CentroidDist(vec: Expression, flatCentroids: Expression,
      listId: Expression) extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
    override def first = vec; override def second = flatCentroids
    override def third = listId
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = org.apache.spark.sql.types.DoubleType
    override def nullSafeEval(v: Any, f: Any, l: Any): Any =
      Kernels.distToList(v.asInstanceOf[ArrayData], f.asInstanceOf[ArrayData],
        l.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (v, f, l) =>
        s"${ev.value} = graft.operators.IvfKernels.distToList($v, $f, $l);")
    override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
      copy(vec = a, flatCentroids = b, listId = c)
    override def prettyName = "centroid_dist"
  }

  /** Train centroids with MLlib KMeans (the reference's k_means crate
    * analog). Runs on a bounded sample — at 100 TB you never k-means the
    * full data (and never count() it just to size a sample). */
  def train(df: DataFrame, vecCol: String, metric: String, nlist: Int,
      maxIter: Int = 10, seed: Long = 42L, sampleCap: Int = 200000): Model = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // non-finite vectors are excluded like NULLs (MLlib KMeans raises on
    // NaN/Inf features; null.slt tolerates such rows in the table)
    val prep0 = df.filter(col(vecCol).isNotNull &&
      vectorIsFinite(col(vecCol))).select(col(vecCol).as("v"))
    val prep = if (metric == "cos") prep0.select(vectorNormalize(col("v")).as("v")) else prep0
    val sample = prep.limit(sampleCap)
      .withColumn("features", array_to_vector(col("v").cast("array<double>")))
    val km = new KMeans().setK(nlist).setMaxIter(maxIter).setSeed(seed)
      .setFeaturesCol("features")
    val model = km.fit(sample)
    Model(metric, model.clusterCenters.map(_.toArray.map(_.toFloat)))
  }

  /** Assign each row its nearest-centroid list id (codegen expression). */
  def assign(df: DataFrame, vecCol: String, model: Model): DataFrame = {
    val withVec =
      if (model.metric == "cos") df.withColumn(vecCol, vectorNormalize(col(vecCol)))
      else df
    withVec.withColumn("list_id", nearestCentroid(col(vecCol), model))
  }

  /** Train + assign + write the partitioned artifact (no catalog entry).
    * Rows shuffle onto their list before the write so each list is one
    * contiguous file set, not nInputPartitions fragments per list. */
  def build(df: DataFrame, vecCol: String, metric: String, nlist: Int,
      path: String, seed: Long = 42L): Model = {
    val model = train(df, vecCol, metric, nlist, seed = seed)
    assign(df.filter(col(vecCol).isNotNull && vectorIsFinite(col(vecCol))),
        vecCol, model)
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(path)
    model
  }

  /** One-time CREATE INDEX job: train + assign + write parquet partitioned
    * by list_id; centroids go to the catalog manifest. Reused across JVMs
    * until `source` changes. */
  def ensure(spark: SparkSession, name: String, df: => DataFrame,
      source: String, vecCol: String, metric: String, nlist: Int,
      seed: Long = 42L, maxIter: Int = 10): (Model, String) = {
    // manifests from before the range-pruning stats carry no radii —
    // rebuild them (staleness of the manifest *format*)
    if (IndexCatalog.load(spark, name).exists(m =>
        m.source == source && !m.floats.contains("radii")))
      IndexCatalog.drop(spark, name)
    // kmeans_iters joins staleness only when NON-default: existing
    // default-built artifacts stay untouched, and an explicit value
    // forces the retrain it asks for (default-over-explicit is the
    // documented asymmetric no-op — a perf hint, not a semantic key)
    val m = IndexCatalog.ensure(spark, name, source, "ivf",
      requires = Map("sample" -> graft.index.SampleSidecar.Gen,
        "probe_cal" -> CalGen) ++
        (if (maxIter != 10) Map("kmeans_iters" -> maxIter.toString)
         else Map.empty))(
      buildIvfArtifact(spark, df, source, vecCol, metric, nlist, seed,
        maxIter))
    (Model(m.metric, m.centroids, m.floats.get("radii").orNull),
      IndexCatalog.dataDir(spark, name))
  }

  /** REINDEX (reindex.slt): the [[ensure]] build — retrain included —
    * forced into a fresh generation dir with the atomic pointer swap
    * ([[graft.index.IndexCatalog.reindex]]); readers keep serving the
    * committed artifact throughout. */
  def reindex(spark: SparkSession, name: String, df: => DataFrame,
      source: String, vecCol: String, metric: String, nlist: Int,
      seed: Long = 42L, maxIter: Int = 10): (Model, String) = {
    val m = IndexCatalog.reindex(spark, name)(
      buildIvfArtifact(spark, df, source, vecCol, metric, nlist, seed,
        maxIter))
    (Model(m.metric, m.centroids, m.floats.get("radii").orNull),
      IndexCatalog.dataDir(spark, name))
  }

  /** The artifact build job shared by [[ensure]] and [[reindex]]. */
  private def buildIvfArtifact(spark: SparkSession, df: => DataFrame,
      source: String, vecCol: String, metric: String, nlist: Int,
      seed: Long, maxIter: Int = 10): String => Manifest = { dataDir =>
      val model = train(df, vecCol, metric, nlist, maxIter = maxIter,
        seed = seed)
      // NULL and non-finite vectors are not indexed (issue_427.slt /
      // null.slt: neither may break the build or pollute search results)
      assign(df.filter(col(vecCol).isNotNull && vectorIsFinite(col(vecCol))),
          vecCol, model)
        .repartition(col("list_id"))
        .write.mode("overwrite").partitionBy("list_id").parquet(dataDir)
      // selectivity sample for the filtered pushdown arm's probe sizing
      // — AFTER the overwrite (which clears the dir); underscore-named
      // so the parquet reader never treats it as a data file
      graft.index.SampleSidecar.write(spark, df, "", dataDir)
      // per-list max l2² radius to the centroid (range-pruning stats)
      val radii = listRadii(graft.ParquetCache.read(spark, dataDir), vecCol,
        model)
      // probe calibration (round 11; cos first, generalized to the full
      // dense family): on weakly-clustered corpora a fixed default
      // nprobe silently under-probes — cos worst (no sound radii lower
      // bound; RECALL random ivf_cos 0.83 at 10/16), l2/dot at the
      // ~probed-fraction floor (~0.88). Measure the artifact's own
      // probe-depth requirement once at build time and surface it as
      // probe_hint — the separability-guard philosophy applied to probe
      // count; the declarative default (spark.graft.ann.nprobe=auto)
      // resolves max(10, hint), explicit values never consult it. On
      // genuinely clustered corpora the hint stays at/below the default
      // and nothing changes.
      val full = Model(metric, model.centroids, radii)
      val calParams = Map(
        "probe_hint" -> probeHint(spark, graft.ParquetCache.read(spark, dataDir)
          .select(col(vecCol).as("v"), col("list_id").as("pid")), metric,
          full.nlist, full.rankLists).toString,
        "probe_cal" -> CalGen)
      Manifest("ivf", source, metric,
        Map("nlist" -> nlist.toString,
          "sample" -> graft.index.SampleSidecar.Gen) ++ calParams ++
          // recorded only when non-default, mirroring the requires key —
          // an absent param + present require would re-stale every run
          (if (maxIter != 10) Map("kmeans_iters" -> maxIter.toString)
           else Map.empty),
        centroids = model.centroids,
        floats = Map("radii" -> radii))
  }

  /** Calibration generation for the `probe_hint` (staleness key: bump
    * when the statistic or sampling changes — artifacts with an older
    * calibration rebuild on the next ensure). cal3 = 95%-coverage of
    * top-100 per query, p90 across the 64-query holdout, with the
    * query's own stored row (and byte-identical duplicates) EXCLUDED
    * from the neighbor set so the statistic reflects out-of-corpus
    * queries (round-12 de-bias); applies to every dense IVF metric. */
  val CalGen = "cal3"

  /** Per-list max l2² distance of `frame`'s (`vecCol`, list_id) rows to
    * their list's centroid — the range-pruning stats. Each radius is
    * rounded UP so float truncation can never shrink a list's bound
    * below a boundary point; a list with no rows gets 0. */
  private[operators] def listRadii(frame: DataFrame, vecCol: String,
      model: Model): Array[Float] = {
    val flat = typedLit(model.centroids.flatten)
    val maxima = frame
      .select(col("list_id"), Shims.column(CentroidDist(
        Shims.expression(col(vecCol)), Shims.expression(flat),
        Shims.expression(col("list_id")))).as("cd"))
      .groupBy(col("list_id")).agg(max(col("cd")).as("r2"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    Array.tabulate(model.centroids.length)(i =>
      java.lang.Math.nextUp(maxima.getOrElse(i, 0.0).toFloat))
  }

  /** Probe depth the artifact actually needs under its SEARCH metric
    * ([[ProbeCal]]'s statistic): on a deterministic 64-query holdout
    * drawn from `frame` (v = the stored vector in the ranking space,
    * pid = its list), for each query the prefix of the SEARCH-time
    * list order `rank` covering ≥95% of its true top-100 rows (the
    * recall convention's k), 90th percentile across queries, clamped
    * to [1, nlist]. On a clustered corpus the top-100 lives in a couple
    * of lists → the hint stays at or below the default; on a
    * weakly-clustered one it honestly approaches nlist — "this geometry
    * does not support coarse pruning, probe everything", the
    * routable=no analog. Typed artifacts measure in their densified
    * view under the canonical metric (hamming ≡ l2sq on 0/1 payloads).
    *
    * Cost: ONE extra pass over `frame` at build time with 64 distance
    * evaluations per row, in per-partition bounded heaps. */
  private[operators] def probeHint(spark: SparkSession, frame: DataFrame,
      metric: String, nlist: Int, rank: Array[Float] => Array[Int]): Int =
    if (nlist <= 1) math.max(nlist, 1)
    else {
      val mcode = metric match {
        case "dot" => 1
        case "cos" => 2
        case _ => 0 // l2 / hamming / jaccard score densified l2
      }
      val h = ProbeCal.hint(spark, frame, mcode,
        q => rank(q).zipWithIndex.map { case (l, i) => l -> (i + 1) }.toMap)
      math.min(math.max(h, 1), nlist)
    }

  /** DDL-option-spelling ensure (reference pgvector compatibility,
    * src/index/compatibility.rs:7-60): pgvector's `lists` ≡ native
    * `nlist`, parsed by [[graft.index.IndexOptions.ivf]] — both
    * spellings land on the SAME manifest, so re-ensuring under the
    * other spelling is a no-op. */
  def ensure(spark: SparkSession, name: String, df: => DataFrame,
      source: String, vecCol: String, metric: String,
      options: Map[String, String]): (Model, String) =
    ensure(spark, name, df, source, vecCol, metric,
      graft.index.IndexOptions.ivf(options - "kmeans_iters"),
      maxIter = graft.index.IndexOptions.ivfIters(options))

  /** EXACT within-radius search (sphere predicate pushdown): prune lists
    * whose triangle-inequality lower bound exceeds the radius —
    * ||q - x|| >= ||q - c|| - maxr(list) for x in the list — then apply
    * the exact distance filter on the surviving partitions. */
  /** Pruned scan only (no distance filter): partitions whose triangle-
    * inequality lower bound could still contain in-radius rows. */
  def rangeScan(spark: SparkSession, path: String, model: Model,
      radii: Array[Float], q: Array[Float], r2: Double): DataFrame = {
    require(model.metric == "l2", "range pushdown is defined for l2")
    model.requireDims(q)
    val rq = math.sqrt(r2)
    val probes = model.centroids.indices.filter { i =>
      val lb = math.sqrt(Kernels.l2sq(model.centroids(i), q)) -
        math.sqrt(radii(i).toDouble)
      lb <= rq + 1e-9
    }
    listScan(spark, path, probes)
  }

  def rangeSearch(spark: SparkSession, path: String, model: Model,
      radii: Array[Float], vecCol: String, q: Array[Float],
      r2: Double): DataFrame =
    rangeScan(spark, path, model, radii, q, r2)
      .filter(l2sq(col(vecCol), typedLit(q)) < r2)

  /** Cos-range pruned scan (strategy-2 cos opclass member): stored rows
    * are normalize-at-build unit vectors with ||x̂ − c|| ≤ R_c, so
    * x̂·q̂ ≤ c·q̂ + R_c (Cauchy-Schwarz on the residual) and the list's
    * best reachable cosdist is 1 − c·q̂ − R_c. Lists that can't beat r
    * are skipped; the exact filter on top keeps correctness. The small
    * eps absorbs the ±ulp of float normalization. */
  def rangeScanCos(spark: SparkSession, path: String, model: Model,
      radii: Array[Float], q: Array[Float], r: Double): DataFrame = {
    model.requireDims(q)
    val qn = Kernels.normalize(q)
    val probes = model.centroids.indices.filter { i =>
      1.0 - Kernels.dot(model.centroids(i), qn) -
        math.sqrt(radii(i).toDouble) <= r + 1e-6
    }
    listScan(spark, path, probes)
  }

  /** Dot-range pruned scan (strategy-2 dot opclass member): for x in a
    * list with ||x − c|| ≤ R_c, x·q ≤ c·q + R_c·||q||, so the list's
    * minimum reachable negdot is −(c·q + R_c·||q||) — the per-list bound
    * the radius stats provide without a separate max-norm stat. */
  def rangeScanDot(spark: SparkSession, path: String, model: Model,
      radii: Array[Float], q: Array[Float], r: Double): DataFrame = {
    model.requireDims(q)
    val qNorm = math.sqrt(Kernels.dot(q, q))
    val probes = model.centroids.indices.filter { i =>
      -(Kernels.dot(model.centroids(i), q) +
        math.sqrt(radii(i).toDouble) * qNorm) <= r + 1e-9
    }
    listScan(spark, path, probes)
  }

  /** Batched many-query search (batch-inference shape): ONE pruned scan
    * answers a whole query table. Probe lists resolve on the driver
    * (centroids are tiny); the scan reads the union of all probed
    * partitions once; each row scores only against the queries probing
    * its list (broadcast non-equi join on array_contains), and per-query
    * top-k comes from a window — at scale this is one pass over
    * ~nprobe/nlist of the data for the entire batch instead of one scan
    * per query. Returns (qid, idCol, dist, rn). */
  def batchSearch(spark: SparkSession, path: String, model: Model,
      idCol: String, vecCol: String, queries: Seq[(Long, Array[Float])],
      k: Int, nprobe: Int): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rows = queries.map { case (qid, qv) =>
      val qq = if (model.metric == "cos") Kernels.normalize(qv) else qv
      (qid, qq, model.rankLists(qv).take(nprobe))
    }
    val qdf = rows.toDF("qid", "qv", "probes")
    val allProbes = rows.flatMap(_._3).distinct
    val scan = listScan(spark, path, allProbes)
    val joined = scan.join(broadcast(qdf),
      array_contains(col("probes"), col("list_id")))
    val distCol = model.metric match {
      case "l2" => l2sq(col(vecCol), col("qv"))
      case "dot" => negdot(col(vecCol), col("qv"))
      case "cos" => negdot(col(vecCol), col("qv")) + lit(1.0)
    }
    val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col(idCol))
    joined.select(col("qid"), col(idCol), distCol.as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .orderBy(col("qid"), col("rn"))
  }

  /** Pruned full-row scan of the nprobe closest lists — the shared scan
    * for search and the filtered-ANN pushdown (which applies its own
    * predicate before TakeOrdered). */
  def prunedScan(spark: SparkSession, path: String, model: Model,
      q: Array[Float], nprobe: Int): DataFrame = {
    listScan(spark, path, model.rankLists(q).take(nprobe))
  }

  /** The artifact at `path` pruned to the partitions of `lists` — the
    * one list scan every IVF-family search, range and join reads. */
  def listScan(spark: SparkSession, path: String,
      lists: scala.collection.Seq[Int]): DataFrame =
    graft.ParquetCache.read(spark, path)
      .filter(col("list_id").isin(lists.map(Integer.valueOf).toSeq: _*))

  /** Search: rank centroids, then scan only the nprobe closest lists —
    * on the driver, over the lists resident in [[Hnsw.GraphCache]]
    * ([[searchLists]]), with no Spark job. Returns a local (idCol, dist)
    * frame ordered ascending. */
  def search(spark: SparkSession, path: String, model: Model,
      idCol: String, vecCol: String, q: Array[Float], k: Int,
      nprobe: Int): DataFrame =
    searchLists(spark, Seq((model, path, model.rankLists(q).take(nprobe).toSeq)),
      idCol, vecCol, q, k)

  /** The top-k over the probed lists of one or more artifacts — each
    * (model, artifact dir, probed list ids) — scanned on the driver and
    * merged in Spark's `orderBy(dist, id)` order ([[ResidentSearch]]).
    * Each list file loads once, on the first query that probes it, and
    * stays resident under its file identity; a list that is not probed
    * is never read. Rows score with the op chain of the SQL distance
    * expressions (l2sq, -dot, -dot + 1.0 for cos over the normalized
    * query), so they are bit-identical to a scan of the same lists. The
    * id column keeps the artifact's name and type. */
  private[graft] def searchLists(spark: SparkSession,
      probed: Seq[(Model, String, Seq[Int])], idCol: String, vecCol: String,
      q: Array[Float], k: Int): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = probed.flatMap { case (model, path, lists) =>
      val qq = if (model.metric == "cos") Kernels.normalize(q) else q
      val fs = new Path(path).getFileSystem(conf)
      lists.flatMap(listFiles(fs, path, _)).map(f => (f, model.metric, qq))
    }
    val idField = files.headOption match {
      case Some((f, _, _)) => Hnsw.GraphCache.getList(f, conf, idCol, vecCol).idField
      case None => ListRows.idFieldOf(spark, probed.map(_._2), idCol)
    }
    ResidentSearch.topKOf(spark, files, idField, k) { case (f, metric, qq) =>
      Hnsw.GraphCache.getList(f, conf, idCol, vecCol).scan(metric, qq)
    }
  }

  /** The data files of list `l` under the artifact dir `path`, sorted
    * (names starting with `_` or `.` are not data, as for Spark's file
    * index). A list no row was assigned to has no dir. */
  private def listFiles(fs: FileSystem, path: String, l: Int): Seq[String] =
    try fs.listStatus(new Path(path, s"list_id=$l")).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath.toString).sorted
    catch { case _: java.io.FileNotFoundException => Nil }

  /** One IVF list file's rows as the search scans them, resident in
    * [[Hnsw.GraphCache]]: ids as Spark internal values of `idField`'s
    * type (null where the id is null), and the vectors row-major, row i
    * at `vecs[offsets(i) until offsets(i + 1)]`. A stored row keeps its
    * own dims, and scoring it against a query of other dims throws the
    * distance kernel's `vectors differ in dimensions`. */
  private[graft] final class ListRows(val idField: StructField,
      val ids: Array[Any], val offsets: Array[Int], val vecs: Array[Float]) {
    /** Boxed ids counted at 24 bytes each. */
    def bytes: Long =
      ids.length * 24L + offsets.length * 4L + vecs.length * 4L + 256L

    /** Every row's (id, dist) for the query `qq` (normalized for cos):
      * l2sq, -dot, or -dot + 1.0 for cos, accumulated in double in index
      * order, the row on the left as in `l2sq(vecCol, query)`. */
    def scan(metric: String, qq: Array[Float]): Iterator[(Any, Double)] = {
      val dot = metric != "l2"
      val cos = metric == "cos"
      Iterator.range(0, ids.length).map { i =>
        val off = offsets(i)
        val n = offsets(i + 1) - off
        DenseKernels.checkDims(n, qq.length)
        var acc = 0.0; var j = 0
        if (dot) {
          while (j < n) { acc += vecs(off + j).toDouble * qq(j).toDouble; j += 1 }
          (ids(i), if (cos) -acc + 1.0 else -acc)
        } else {
          while (j < n) {
            val d = vecs(off + j).toDouble - qq(j).toDouble
            acc += d * d; j += 1
          }
          (ids(i), acc)
        }
      }
    }
  }

  private[graft] object ListRows {
    /** `name`'s field in the schema Spark reads from this file's footer,
      * resolved as Spark does by default (exact name first, then
      * case-insensitively). */
    private def fieldOf(p: Path, schema: StructType, name: String): StructField =
      schema.find(_.name == name)
        .orElse(schema.find(_.name.equalsIgnoreCase(name)))
        .getOrElse(throw new IllegalArgumentException(
          s"$p: no column '$name' in the IVF list file"))

    private def sparkSchema(fs: FileSystem, p: Path,
        footer: org.apache.parquet.hadoop.metadata.ParquetMetadata): StructType =
      ParquetFileFormat.readSchemaFromFooter(
        new org.apache.parquet.hadoop.Footer(p, footer),
        new ParquetToSparkSchemaConverter(
          org.apache.spark.sql.internal.SQLConf.get))

    /** The id field of the first list file under any of `dirs` — the
      * result schema of a search whose probed lists hold no rows. */
    def idFieldOf(spark: SparkSession, dirs: Seq[String], idCol: String): StructField = {
      val conf = spark.sparkContext.hadoopConfiguration
      val file = dirs.iterator.flatMap { d =>
        val fs = new Path(d).getFileSystem(conf)
        Option(fs.globStatus(new Path(d, "list_id=*/[!_.]*"))).toSeq.flatten
          .filter(_.isFile).map(st => (fs, st.getPath)).sortBy(_._2.toString)
      }.nextOption().getOrElse(throw new IllegalArgumentException(
        s"Unable to infer schema for Parquet: no list files under ${dirs.mkString(", ")}"))
      val (fs, p) = file
      val r = graft.ParquetCache.openReader(fs.getConf, p)
      try fieldOf(p, sparkSchema(fs, p, r.getFooter), idCol).copy(nullable = true)
      finally r.close()
    }

    /** Read the (idCol, vecCol) columns of one list file on the driver
      * through parquet-hadoop. Ids may be byte, short, int, long or
      * string columns; vectors are float arrays. A row whose vector is
      * null or holds a null element is skipped — the build indexes
      * neither (`isNotNull && vectorIsFinite`). */
    def read(fs: FileSystem, p: Path, idCol: String, vecCol: String): ListRows = {
      import org.apache.parquet.column.ColumnReader
      import org.apache.parquet.column.impl.ColumnReadStoreImpl
      import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
      import org.apache.parquet.schema.MessageType
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, FLOAT, INT32, INT64}
      import scala.jdk.CollectionConverters._
      val r = graft.ParquetCache.openReader(fs.getConf, p)
      try {
        val schema = sparkSchema(fs, p, r.getFooter)
        // the scanned relation's schema is nullable throughout
        val idF = fieldOf(p, schema, idCol).copy(nullable = true)
        val vecF = fieldOf(p, schema, vecCol)
        if (vecF.dataType != ArrayType(FloatType, true) &&
            vecF.dataType != ArrayType(FloatType, false))
          throw new IllegalArgumentException(
            s"$p: vector column '${vecF.name}' is ${vecF.dataType.simpleString}, not array<float>")
        val (physical, readId) = idF.dataType match {
          case IntegerType => (INT32, (c: ColumnReader) => c.getInteger: Any)
          case ShortType => (INT32, (c: ColumnReader) => c.getInteger.toShort: Any)
          case ByteType => (INT32, (c: ColumnReader) => c.getInteger.toByte: Any)
          case LongType => (INT64, (c: ColumnReader) => c.getLong: Any)
          case _: StringType => (BINARY, (c: ColumnReader) =>
            UTF8String.fromBytes(c.getBinary.getBytes): Any)
          case t => throw new IllegalArgumentException(
            s"$p: id column '${idF.name}' is ${t.simpleString}; the IVF search " +
              "serves byte, short, int, long and string ids")
        }
        val meta = r.getFooter.getFileMetaData
        val file = meta.getSchema
        val proj = new MessageType(file.getName,
          file.getType(file.getFieldIndex(idF.name)),
          file.getType(file.getFieldIndex(vecF.name)))
        r.setRequestedSchema(proj)
        val Seq(idDesc, vecDesc) = proj.getColumns.asScala.toSeq
        if (idDesc.getPrimitiveType.getPrimitiveTypeName != physical ||
            vecDesc.getPrimitiveType.getPrimitiveTypeName != FLOAT ||
            vecDesc.getMaxRepetitionLevel != 1)
          throw new IllegalArgumentException(
            s"$p: unexpected parquet layout of '${idF.name}'/'${vecF.name}': $proj")
        // definition levels: the vector is non-null from `present`, holds
        // an element from `entry`, and the element is non-null at max
        val path = vecDesc.getPath
        val present = proj.getMaxDefinitionLevel(path.take(1): _*)
        val entry = proj.getMaxDefinitionLevel(path.take(2): _*)
        val value = vecDesc.getMaxDefinitionLevel
        val n0 = math.min(r.getRecordCount, Int.MaxValue - 1).toInt
        val ids = new Array[Any](n0)
        val offsets = new Array[Int](n0 + 1)
        var vecs = new Array[Float](1024)
        var rows = 0; var len = 0
        val conv = new GroupRecordConverter(proj).getRootConverter
        var pages = r.readNextRowGroup()
        while (pages != null) {
          val store = new ColumnReadStoreImpl(pages, conv, proj, meta.getCreatedBy)
          val idR = store.getColumnReader(idDesc)
          val vR = store.getColumnReader(vecDesc)
          var left = vR.getTotalValueCount
          var row = 0L
          while (row < pages.getRowCount) {
            val id = if (idR.getCurrentDefinitionLevel == idDesc.getMaxDefinitionLevel)
              readId(idR) else null
            idR.consume()
            val start = len
            var keep = vR.getCurrentDefinitionLevel >= present
            var more = true
            while (more) {
              val d = vR.getCurrentDefinitionLevel
              if (d >= entry) {
                if (d < value) keep = false
                else {
                  if (len == vecs.length) vecs = java.util.Arrays.copyOf(vecs, len * 2)
                  vecs(len) = vR.getFloat; len += 1
                }
              }
              vR.consume(); left -= 1
              more = left > 0 && vR.getCurrentRepetitionLevel > 0
            }
            if (keep) {
              ids(rows) = id; rows += 1; offsets(rows) = len
            } else len = start
            row += 1
          }
          pages = r.readNextRowGroup()
        }
        new ListRows(idF, ids.take(rows), offsets.take(rows + 1), vecs.take(len))
      } finally r.close()
    }
  }

  /** [[search]] with a row predicate applied on the pruned scan — the
    * filtered-ANN shape (artifact rows are full source rows, so any
    * source predicate re-evaluates on the scan). Exact filtered top-k
    * at nprobe = nlist; below that, exact within the probed lists. */
  def searchFiltered(spark: SparkSession, path: String, model: Model,
      idCol: String, vecCol: String, q: Array[Float], k: Int,
      nprobe: Int, filter: Column): DataFrame = {
    val qq = if (model.metric == "cos") Kernels.normalize(q) else q
    val qLit = typedLit(qq)
    val scan = prunedScan(spark, path, model, q, nprobe).filter(filter)
    val distCol = model.metric match {
      case "l2" => l2sq(col(vecCol), qLit)
      case "dot" => negdot(col(vecCol), qLit)
      case "cos" => negdot(col(vecCol), qLit) + lit(1.0)
    }
    scan.select(col(idCol), distCol.as("dist"))
      .orderBy(col("dist"), col(idCol)).limit(k)
  }
}

/** Float/centroid kernels shared by the IVF family. Top-level so the
  * Scala compiler emits STATIC forwarders — generated Java (whole-stage
  * codegen) calls these as `graft.operators.IvfKernels.nearest(...)`. */
object IvfKernels {
  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    acc
  }
  def dot(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }
  def dist(metric: String, a: Array[Float], b: Array[Float]): Double = metric match {
    case "l2" => l2sq(a, b)
    case _ => -dot(a, b) // dot & cos (normalized) search by negative dot
  }
  def normalize(a: Array[Float]): Array[Float] = {
    val n = math.sqrt(dot(a, a))
    a.map(x => (x / n).toFloat)
  }

  /** Distance from a row vector to its own (already-assigned) centroid —
    * used to collect per-list max radii for range pruning. */
  def distToList(v: ArrayData, flat: ArrayData, listId: Int): Double = {
    val dims = v.numElements()
    var acc = 0.0; var i = 0; val off = listId * dims
    while (i < dims) {
      val d = v.getFloat(i).toDouble - flat.getFloat(off + i)
      acc += d * d; i += 1
    }
    acc
  }

  /** Nearest centroid by DIRECT one-pass cosine distance over RAW
    * (unnormalized) values — the semantic-dedup assignment
    * ([[Dedup.semanticDedup]]). Per-centroid distance accumulates
    * exactly like [[graft.functions.DenseKernels.cosDist]] (xy/xx/yy in
    * one interleaved double loop, index order 0..n-1), so the DuckDB
    * oracle replays assignments bit-exactly; strict `<` keeps the LOWEST
    * index on ties (the oracle's `ORDER BY cd, cid` row_number). Scaling
    * a vector by a power of two leaves every accumulator exactly scaled
    * and the ratio bit-identical, which is what pins the q_dedup_semantic
    * mirror duplicates (2x embeddings) to their originals' clusters.
    * Both norms are guarded with max(., 1e-30) — the CosRaw/TypedAnn
    * parity convention — so an all-zero row or centroid gets a DEFINED
    * (worst) distance instead of NaN and a silent argmin-0 default; the
    * q_dedup_semantic oracle mirrors the guard (greatest(., 1e-30)). */
  def nearestCos(v: ArrayData, flat: ArrayData): Int = {
    val dims = v.numElements()
    val nlist = flat.numElements() / dims
    var vv = 0.0
    var i = 0
    while (i < dims) { val x = v.getFloat(i).toDouble; vv += x * x; i += 1 }
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < nlist) {
      var xy = 0.0; var yy = 0.0; var j = 0; val off = c * dims
      while (j < dims) {
        val x = v.getFloat(j).toDouble
        val y = flat.getFloat(off + j).toDouble
        xy += x * y; yy += y * y; j += 1
      }
      val cd = 1.0 - xy / math.sqrt(math.max(vv, 1e-30) * math.max(yy, 1e-30))
      if (cd < bestD) { bestD = cd; best = c }
      c += 1
    }
    best
  }

  /** Driver-side guarded one-pass cosdist over plain float arrays — the
    * [[nearestCos]] accumulation (xy/xx/yy interleaved, index order,
    * max(., 1e-30) norm guards) for centroid→coarse-rep grouping. */
  def cosDistGuarded(a: Array[Float], b: Array[Float]): Double = {
    var xy = 0.0; var xx = 0.0; var yy = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      xy += x * y; xx += x * x; yy += y * y; i += 1
    }
    1.0 - xy / math.sqrt(math.max(xx, 1e-30) * math.max(yy, 1e-30))
  }

  /** TWO-LEVEL cosine argmin (round 9, the semantic-dedup scale path):
    * rank `nc` coarse representatives first, then run the EXACT
    * [[nearestCos]] accumulation only over centroids whose coarse group
    * is among the top-`pc` ranks — per-row cost O((nc + pc·k/nc)·d)
    * instead of O(k·d), ~O(√k·d) under the [[graft.operators
    * .Dedup.twoLevelParams]] policy. Approximate by design (the true
    * argmin's group can fall outside the probed ranks — SemDeDup
    * clusters are approximate to begin with; WHICH pairs get compared
    * changes, not how); per-centroid arithmetic and tie-breaks are
    * bit-identical to [[nearestCos]], so on well-separated fixtures the
    * assignments agree exactly (spec-asserted on the gate fixture).
    * Falls back to the full argmin when every probed group is empty. */
  def nearestCosTwoLevel(v: ArrayData, flat: ArrayData, coarse: ArrayData,
      groupOf: ArrayData, pc: Int): Int = {
    val dims = v.numElements()
    val nc = coarse.numElements() / dims
    val k = flat.numElements() / dims
    var vv = 0.0
    var i = 0
    while (i < dims) { val x = v.getFloat(i).toDouble; vv += x * x; i += 1 }
    val cd = new Array[Double](nc)
    var c = 0
    while (c < nc) {
      var xy = 0.0; var yy = 0.0; var j = 0; val off = c * dims
      while (j < dims) {
        val x = v.getFloat(j).toDouble
        val y = coarse.getFloat(off + j).toDouble
        xy += x * y; yy += y * y; j += 1
      }
      cd(c) = 1.0 - xy / math.sqrt(math.max(vv, 1e-30) * math.max(yy, 1e-30))
      c += 1
    }
    val order = Array.range(0, nc).sortWith { (a, b) =>
      cd(a) < cd(b) || (cd(a) == cd(b) && a < b)
    }
    val p = math.min(pc, nc)
    val chosen = new Array[Boolean](nc)
    i = 0
    while (i < p) { chosen(order(i)) = true; i += 1 }
    var best = -1; var bestD = Double.MaxValue
    c = 0
    while (c < k) {
      if (chosen(groupOf.getInt(c))) {
        var xy = 0.0; var yy = 0.0; var j = 0; val off = c * dims
        while (j < dims) {
          val x = v.getFloat(j).toDouble
          val y = flat.getFloat(off + j).toDouble
          xy += x * y; yy += y * y; j += 1
        }
        val d = 1.0 - xy / math.sqrt(math.max(vv, 1e-30) * math.max(yy, 1e-30))
        if (d < bestD || best < 0) { bestD = d; best = c }
      }
      c += 1
    }
    if (best < 0) nearestCos(v, flat) else best
  }

  /** Nearest centroid over a flattened [nlist*dims] centroid array —
    * the codegen'd assign kernel. useDot=true for dot/cos metrics. */
  def nearest(v: ArrayData, flat: ArrayData, useDot: Boolean): Int = {
    val dims = v.numElements()
    val nlist = flat.numElements() / dims
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < nlist) {
      var acc = 0.0; var i = 0; val off = c * dims
      if (useDot) {
        while (i < dims) { acc -= v.getFloat(i).toDouble * flat.getFloat(off + i).toDouble; i += 1 }
      } else {
        while (i < dims) {
          val d = v.getFloat(i).toDouble - flat.getFloat(off + i).toDouble
          acc += d * d; i += 1
        }
      }
      if (acc < bestD) { bestD = acc; best = c }
      c += 1
    }
    best
  }
}
