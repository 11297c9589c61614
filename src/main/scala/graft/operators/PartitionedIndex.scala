package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Per-partition vector indexes over a Hive-layout partitioned source —
 * the Spark shape of the reference's partitioned-table support
 * (tests/sqllogictest/partition.slt: `CREATE TABLE ... PARTITION BY
 * LIST(category_id)` with `CREATE INDEX` on individual partitions, and
 * parent-table ANN queries composing across them).
 *
 * The Postgres partitioned table maps onto a parquet dir partitioned by
 * the category column (`<source>/<partCol>=<v>/`); an index on one
 * partition is a standard [[Hnsw]] artifact whose SOURCE is that
 * partition's sub-directory. Consequences, all load-bearing at scale:
 *
 *  - **Per-partition staleness.** [[graft.index.IndexCatalog.ensure]]
 *    fingerprints each sub-source independently, so re-ingesting one
 *    partition rebuilds one sub-index — never the corpus-wide artifact.
 *    At 100 TB with daily-partitioned ingest this is the difference
 *    between an index maintenance job touching 1/N of the data and a
 *    full rebuild.
 *  - **Parent-table search = one ordered merge.** Each partition's
 *    graphs (or probed IVF lists) return their top-k on the driver from
 *    the resident [[Hnsw.GraphCache]], merged once in `ORDER BY dist,
 *    id` order ([[ResidentSearch]]) — the same LoserTree-merge shape
 *    the multi-part HNSW search already uses. Exact mode flat-scans
 *    each graph, so the merged result is provably the global top-k.
 *  - **Partition pruning at the INDEX level.** A query carrying a
 *    partition predicate searches only the matching sub-indexes — the
 *    analog of Postgres pruning the partitions (and thereby their
 *    indexes) before the index scan.
 */
object PartitionedIndex {

  /** INJECTIVE encoding of a partition value into a catalog-name-safe
    * token: [a-zA-Z0-9.-] pass through, everything else — including the
    * escape char '_' itself — becomes `_XXXX` (FIXED-width 4-hex-digit
    * code unit; variable-width escapes would let a two-char value whose
    * first char is u0012 encode identically to a one-char u0123 value). A lossy sanitizer would let two distinct values collide
    * onto one sub-index name and silently overwrite each other's
    * artifacts. */
  private def san(v: String) = v.flatMap { c =>
    if (c.isLetterOrDigit && c < 128 || c == '.' || c == '-') c.toString
    else f"_${c.toInt}%04x"
  }

  /** Sub-index catalog name for one partition value. */
  def subName(name: String, value: String): String = s"${name}__p${san(value)}"

  /** Partition values present in the source layout (`<partCol>=<v>`
    * sub-dirs), sorted, in USER space: Spark writes Hive-escaped dir
    * names (`a%20b` for `a b`), so listed names are unescaped with the
    * same codec ([[org.apache.spark.sql.catalyst.catalog
    * .ExternalCatalogUtils.unescapePathName]]) — operator `values`
    * arguments and pushdown partition-predicate literals both live in
    * user space, and comparing them against raw dir names would miss
    * every value Hive escapes. [[partitionPath]] re-escapes when
    * composing sub-source paths. Listed through the Hadoop FS API so
    * the same code targets local dirs or HDFS/S3 prefixes. */
  def partitionValues(spark: SparkSession, source: String,
      partCol: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val p = new org.apache.hadoop.fs.Path(source)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith(s"$partCol="))
      .map(n => ExternalCatalogUtils.unescapePathName(n.stripPrefix(s"$partCol=")))
      .sorted
  }

  /** The sub-source path for one USER-space partition value — the
    * escape inverse of [[partitionValues]]. */
  def partitionPath(source: String, partCol: String, v: String): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    s"$source/$partCol=${ExternalCatalogUtils.escapePathName(v)}"
  }

  /** Ensure one HNSW sub-index per partition of the source. Returns
    * (value, artifact dir) per partition. Each sub-index is an ordinary
    * catalog entry — alterable, droppable, reindexable on its own, the
    * way the reference indexes each table partition independently. */
  def ensureHnsw(spark: SparkSession, name: String, source: String,
      partCol: String, idCol: String, vecCol: String, metric: String,
      parts: Int = 1, m: Int = 12, efConstruction: Int = 300)
      : Seq[(String, String)] = {
    val values = partitionValues(spark, source, partCol)
    require(values.nonEmpty, s"no $partCol=* partitions under $source")
    // checked BEFORE any sub-build: values are comma-joined in the
    // parent manifest (Spark writes commas into dir names unescaped —
    // a later split would manufacture phantom values)
    require(values.forall(!_.contains(',')),
      s"partition values must not contain ',': ${values.filter(_.contains(","))}")
    val built = values.map { v =>
      val sub = partitionPath(source, partCol, v)
      v -> Hnsw.ensure(spark, subName(name, v), graft.ParquetCache.read(spark, sub),
        sub, idCol, vecCol, metric, parts, m, efConstruction)
    }
    // the PARENT catalog entry — the dispatchable index on the
    // partitioned table itself. It owns no artifact (sub-indexes do);
    // its manifest records the partition column and value list the
    // planner validates against the live layout at dispatch time.
    import graft.index.IndexCatalog
    val params = Map("partCol" -> partCol, "values" -> values.mkString(","),
      "m" -> m.toString, "ef_construction" -> efConstruction.toString,
      "parts" -> parts.toString)
    // the parent entry is DDL like any other: commit under the
    // per-index lock so a racing drop can't interleave
    IndexCatalog.withIndexLock(spark, name) {
      val prior = IndexCatalog.load(spark, name)
      if (!prior.exists(p => p.source == source && p.metric == metric &&
          params.forall { case (k2, v2) => p.params.get(k2).contains(v2) }))
        IndexCatalog.commit(spark, name,
          IndexCatalog.Manifest("hnsw_part", source, metric, params))
    }
    built
  }

  /** IVF flavor of [[ensureHnsw]]: one list-partitioned IVF artifact per
    * table partition, each independently stale-checked/trained, plus a
    * dispatchable `ivf_part` PARENT manifest (round 8 — partition.slt's
    * parent queries compose with every index form, so the IVF parent is
    * declarative like the HNSW one). Two pruning levels compose: a
    * partition predicate prunes sub-indexes, then each sub-index prunes
    * centroid lists. */
  def ensureIvf(spark: SparkSession, name: String, source: String,
      partCol: String, vecCol: String, metric: String, nlist: Int,
      seed: Long = 42L): Seq[(String, IvfIndex.Model)] = {
    val values = partitionValues(spark, source, partCol)
    require(values.nonEmpty, s"no $partCol=* partitions under $source")
    require(values.forall(!_.contains(',')),
      s"partition values must not contain ',': ${values.filter(_.contains(","))}")
    val built = values.map { v =>
      val sub = partitionPath(source, partCol, v)
      val (m, _) = IvfIndex.ensure(spark, subName(name, v),
        graft.ParquetCache.read(spark, sub), sub, vecCol, metric, nlist, seed)
      v -> m
    }
    import graft.index.IndexCatalog
    val params = Map("partCol" -> partCol, "values" -> values.mkString(","),
      "nlist" -> nlist.toString)
    IndexCatalog.withIndexLock(spark, name) {
      val prior = IndexCatalog.load(spark, name)
      if (!prior.exists(p => p.source == source && p.metric == metric &&
          params.forall { case (k2, v2) => p.params.get(k2).contains(v2) }))
        IndexCatalog.commit(spark, name,
          IndexCatalog.Manifest("ivf_part", source, metric, params))
    }
    built
  }

  /** IVF parent search: every chosen sub-index's probed lists in ONE
    * driver-side merge ([[IvfIndex.searchLists]]); exact at nprobe =
    * nlist per sub-index (each partition's exact top-k is a superset of
    * its global contribution). */
  def searchIvf(spark: SparkSession, name: String, source: String,
      partCol: String, idCol: String, vecCol: String, q: Array[Float],
      k: Int, nprobe: Int, values: Option[Seq[String]] = None): DataFrame = {
    val chosen = values.getOrElse(partitionValues(spark, source, partCol))
    require(chosen.nonEmpty, s"no partitions to search under $source")
    val probed = chosen.map { v =>
      val sub = subName(name, v)
      val m = graft.index.IndexCatalog.load(spark, sub).getOrElse(
        throw new IllegalArgumentException(s"no such index: $sub"))
      val model = IvfIndex.Model(m.metric, m.centroids,
        m.floats.get("radii").orNull)
      (model, graft.index.IndexCatalog.dataDir(spark, sub),
        model.rankLists(q).take(nprobe).toSeq)
    }
    IvfIndex.searchLists(spark, probed, idCol, vecCol, q, k)
  }

  /** FILTERED IVF parent search (round 10 — the mixed-predicate form of
    * partition.slt's parent queries): a non-partition source predicate
    * re-evaluates on each chosen sub-artifact's pruned scan (sub rows
    * are the partition's full source rows, the dense-IVF property),
    * with a PER-SUB probe count — the declarative arm escalates each
    * sub independently from its own selectivity sample, so a predicate
    * that is rare in one partition probes that partition exhaustively
    * without over-probing the others. Exact when every sub's probes
    * reach its nlist (each partition's exact filtered top-k is a
    * superset of its global contribution). `filter` binds by NAME on
    * the sub scans (unresolved-attribute Column, the filtered-join
    * convention). */
  def searchIvfFiltered(spark: SparkSession, name: String, source: String,
      partCol: String, idCol: String, vecCol: String, q: Array[Float],
      k: Int, probesBySub: Seq[(String, Int)],
      filter: org.apache.spark.sql.Column): DataFrame = {
    require(probesBySub.nonEmpty, s"no partitions to search under $source")
    val subs = probesBySub.map { case (v, probes) =>
      val sub = subName(name, v)
      val m = graft.index.IndexCatalog.load(spark, sub).getOrElse(
        throw new IllegalArgumentException(s"no such index: $sub"))
      (sub, IvfIndex.Model(m.metric, m.centroids,
        m.floats.get("radii").orNull), probes)
    }
    require(subs.forall(_._2.metric == subs.head._2.metric),
      s"partitioned parent $name has mixed sub-index metrics: " +
        subs.map(_._2.metric).distinct.mkString(", "))
    subs.map { case (sub, model, probes) =>
      IvfIndex.searchFiltered(spark,
        graft.index.IndexCatalog.dataDir(spark, sub), model, idCol, vecCol,
        q, k, math.min(math.max(probes, 1), model.nlist), filter)
    }.reduce(_ unionByName _)
      .orderBy(col("dist"), col(idCol)).limit(k)
  }

  /** Parent-table sphere RANGE (the strategy-2 sphere predicates of
    * partition.slt's parent queries): per-partition resident flat scans
    * ([[Hnsw.rangeSearchFlat]]) unioned — range is not top-k, so there
    * is no merge limit and the union IS the exact answer at any radius.
    * `values` prunes to the named partitions (the partition-predicate
    * path); None scans them all. Cos sub-indexes follow
    * normalize-at-build: the CALLER passes the normalized query. */
  def rangeHnsw(spark: SparkSession, name: String, source: String,
      partCol: String, idCol: String, q: Array[Float], r: Double,
      values: Option[Seq[String]] = None): DataFrame = {
    val chosen = resolveValues(spark, source, partCol, values)
    chosen.map { v =>
      val sub = subName(name, v)
      require(graft.index.IndexCatalog.load(spark, sub).nonEmpty,
        s"no such index: $sub (run ensureHnsw after adding partitions)")
      Hnsw.rangeSearchFlat(spark,
        graft.index.IndexCatalog.dataDir(spark, sub), idCol, q, r)
    }.reduce(_ unionByName _)
  }

  /** Shared partition-value resolution: None = every live partition;
    * Some = validated against the live layout (a named value with no
    * partition is a clear error, never a silent empty contribution). */
  private def resolveValues(spark: SparkSession, source: String,
      partCol: String, values: Option[Seq[String]]): Seq[String] = {
    val chosen = values match {
      case None => partitionValues(spark, source, partCol)
      case Some(vs) =>
        val all = partitionValues(spark, source, partCol)
        val missing = vs.filterNot(all.contains)
        require(missing.isEmpty,
          s"no such partition(s): ${missing.mkString(", ")}")
        vs
    }
    require(chosen.nonEmpty, s"no partitions to search under $source")
    chosen
  }

  /** Gather the chosen partitions' graph files plus a CONCATENATED
    * routing view: each sub-index contributes its sorted `graph-*.bin`
    * list and (when present) its aligned `routing.bin` entries. Routing
    * is all-or-nothing — one sub-index without a complete sidecar (a
    * parts=1 build, or a pre-sidecar artifact) and the whole parent
    * falls back to unrouted, because a PARTIAL routing view would rank
    * only the covered graphs and silently never prune (range) or never
    * select (knn) the uncovered ones consistently. Metrics agree by
    * construction (one parent metric), but drift bails to None too. */
  private def gatherGraphs(spark: SparkSession, name: String, source: String,
      partCol: String, values: Option[Seq[String]])
      : (Seq[String], Option[(String, Array[(Double, Array[Float])])],
         Int) = {
    val chosen = resolveValues(spark, source, partCol, values)
    val per = chosen.map { v =>
      val sub = subName(name, v)
      require(graft.index.IndexCatalog.load(spark, sub).nonEmpty,
        s"no such index: $sub (run ensureHnsw after adding partitions)")
      Hnsw.joinArtifacts(spark, graft.index.IndexCatalog.dataDir(spark, sub))
    }
    val files = per.flatMap(_._1)
    val metrics = per.flatMap(_._2.map(_._1)).distinct
    val routing =
      if (per.forall(_._2.isDefined) && metrics.length == 1)
        Some((metrics.head, per.toArray.flatMap(_._2.get._2)))
      else None
    // concatenated-fleet hint = max of the sub hints (round 12): each
    // sub measured its own 95%-coverage depth, and the combined AUTO
    // must probe at least the deepest sub's need — a floor, never a
    // ceiling (it only ever raises g, so recall cannot drop)
    (files, routing, per.map(_._3).foldLeft(0)(math.max))
  }

  /** Gather the chosen partitions' IVF sub-indexes as ONE combined
    * model: centroids and per-list radii concatenate in partition-value
    * order, sub `i`'s lists occupying combined ids
    * [offset_i, offset_i + nlist_i). One [[KnnJoin.ProbeLists]] /
    * [[KnnJoin.RangeLists]] expression over the combined model then
    * serves the WHOLE parent — one pass over the query table, the
    * hnsw_part concatenation rule applied to the IVF form (per-partition
    * joins unioned would scan the query side P times). Radii combine
    * all-or-nothing: one sub-index without stats and the combined model
    * carries none (rangeLists then keeps every list — still exact; probe
    * ranking falls back to raw centroid distance). */
  private def gatherIvf(spark: SparkSession, name: String, source: String,
      partCol: String, values: Option[Seq[String]])
      : (Seq[(String, Int)], IvfIndex.Model) = {
    val chosen = resolveValues(spark, source, partCol, values)
    var off = 0
    val subs = chosen.map { v =>
      val sub = subName(name, v)
      val m = graft.index.IndexCatalog.load(spark, sub).getOrElse(
        throw new IllegalArgumentException(
          s"no such index: $sub (run ensureIvf after adding partitions)"))
      val model = IvfIndex.Model(m.metric, m.centroids,
        m.floats.get("radii").orNull)
      val t = (graft.index.IndexCatalog.dataDir(spark, sub), off, model)
      off += model.nlist
      t
    }
    // the combined model ranks and scores EVERY partition with one
    // metric — mixed sub metrics (only reachable via manual sub-index
    // DDL, never ensureIvf) must be a hard error, not a silent
    // first-sub win
    require(subs.forall(_._3.metric == subs.head._3.metric),
      s"partitioned parent $name has mixed sub-index metrics: " +
        subs.map(_._3.metric).distinct.mkString(", "))
    val cents = subs.toArray.flatMap(_._3.centroids)
    val radii =
      if (subs.forall(_._3.radii != null)) subs.toArray.flatMap(_._3.radii)
      else null
    (subs.map(s => (s._1, s._2)),
      IvfIndex.Model(subs.head._3.metric, cents, radii))
  }

  /** The chosen partitions' artifact rows, each tagged with its
    * sub-index ordinal — the corpus side of the IVF parent joins. The
    * join key is (__graft_sub, RAW list_id): joining on the raw
    * partition column (never a shifted derivation of it) keeps the
    * equi-join DPP-prunable exactly like the single-artifact KnnJoin
    * shape — a derived key materializes a DynamicPruningSubquery on an
    * expression that breaks re-analysis of the spliced subtree. */
  private def ivfScan(spark: SparkSession, subs: Seq[(String, Int)],
      idCol: String, vecCol: String,
      corpusFilter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    subs.zipWithIndex.map { case ((dir, _), i) =>
      // FILTERED joins (round 9): sub-artifacts store the partition's
      // full source rows (the dense-IVF property), so a non-partition
      // corpus predicate applies per sub BEFORE the union and Catalyst
      // pushes it into each parquet scan
      val base = graft.ParquetCache.read(spark, dir)
      corpusFilter.fold(base)(base.filter).select(
        lit(i).as("__graft_sub"), col("list_id"), col(idCol), col(vecCol))
    }.reduce(_ unionByName _)

  /** Decompose a COMBINED list id column into (__graft_sub, local
    * list_id) via array-literal lookups (O(1) per row, codegen'd
    * element_at — never a P-long when-chain). */
  private def decompose(df: DataFrame, combinedCol: String,
      subs: Seq[(String, Int)], totalLists: Int): DataFrame = {
    val subArr = new Array[Int](totalLists)
    subs.indices.foreach { i =>
      val lo = subs(i)._2
      val hi = if (i + 1 < subs.length) subs(i + 1)._2 else totalLists
      java.util.Arrays.fill(subArr, lo, hi, i)
    }
    val offArr = subs.map(_._2).toArray
    df.withColumn("__graft_sub",
        element_at(typedLit(subArr), col(combinedCol) + 1))
      .withColumn("list_id", col(combinedCol) -
        element_at(typedLit(offArr), col("__graft_sub") + 1))
      .drop(combinedCol)
  }

  /** Table-valued KNN JOIN over the `ivf_part` parent (round 9 — the
    * join arms compose with every parent index form, the partition.slt
    * rule): one query-side pass computes per-row probe lists against the
    * COMBINED centroid set ([[gatherIvf]]) — cross-partition bound-first
    * ranking, the IVF analog of routed graph joins, so a query near one
    * partition's clusters never spends probes in another's — then the
    * standard list_id equi-join + qid window. probesTotal =
    * Σ min(nprobe, nlist_i): at nprobe ≥ every sub's nlist every list of
    * every sub is probed, so the join IS the brute-force window — exact
    * per sub-index, the scalar [[searchIvf]] contract lifted to the join
    * (the gate's oracle relies on it). Cos parents follow
    * normalize-at-build (query normalized here, artifacts store
    * normalized rows). Returns (qid, idCol, dist, rn). */
  def knnJoinIvf(spark: SparkSession, name: String, source: String,
      partCol: String, idCol: String, vecCol: String, queries: DataFrame,
      qidCol: String, qvecCol: String, k: Int, nprobe: Int,
      values: Option[Seq[String]] = None,
      corpusFilter: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (subs, combined) = gatherIvf(spark, name, source, partCol, values)
    val probesTotal = math.min(
      subs.indices.map(i => math.min(nprobe,
        (if (i + 1 < subs.length) subs(i + 1)._2 else combined.nlist)
          - subs(i)._2)).sum,
      combined.nlist)
    val qv0 = queries
      .filter(col(qvecCol).isNotNull &&
        graft.functions.vectorIsFinite(col(qvecCol)))
      .select(col(qidCol).as("qid"),
        (if (combined.metric == "cos")
          graft.functions.vectorNormalize(col(qvecCol))
        else col(qvecCol)).as("qv"))
    val probed = decompose(
      qv0.withColumn("__graft_clist",
        explode(KnnJoin.probeLists(col("qv"), combined, probesTotal))),
      "__graft_clist", subs, combined.nlist)
    val distCol = combined.metric match {
      case "l2" => graft.functions.l2sq(col(vecCol), col("qv"))
      case "dot" => graft.functions.negdot(col(vecCol), col("qv"))
      case "cos" => graft.functions.negdot(col(vecCol), col("qv")) + lit(1.0)
    }
    val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col(idCol))
    ivfScan(spark, subs, idCol, vecCol, corpusFilter)
      // round 18: broadcast the (small) probed query side so the
      // distance kernels run at the sub-scan union's parallelism (the
      // KnnJoin.broadcastQueriesIfSmall rationale)
      .join(KnnJoin.broadcastQueriesIfSmall(qv0, probed, probesTotal),
        Seq("__graft_sub", "list_id"))
      .select(col("qid"), col(idCol), distCol.as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** Table-valued RANGE join over the `ivf_part` parent: per-row
    * [[KnnJoin.rangeLists]] against the combined model (sound triangle /
    * Cauchy-Schwarz bounds over the concatenated per-list radii — never
    * prunes a list holding an in-range row), so the join is EXACT at any
    * radius like [[KnnJoin.rangeJoin]]. `strict` picks `<` (the
    * declarative pushdown spelling / rangeFlat convention) vs the
    * operator-API `<=`. Returns (qid, idCol, dist). */
  def rangeJoinIvf(spark: SparkSession, name: String, source: String,
      partCol: String, idCol: String, vecCol: String, queries: DataFrame,
      qidCol: String, qvecCol: String, r: Double, strict: Boolean = false,
      values: Option[Seq[String]] = None,
      corpusFilter: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    val (subs, combined) = gatherIvf(spark, name, source, partCol, values)
    val qv0 = queries
      .filter(col(qvecCol).isNotNull &&
        graft.functions.vectorIsFinite(col(qvecCol)))
      .select(col(qidCol).as("qid"),
        (if (combined.metric == "cos")
          graft.functions.vectorNormalize(col(qvecCol))
        else col(qvecCol)).as("qv"))
    val probed = decompose(
      qv0.withColumn("__graft_clist",
        explode(KnnJoin.rangeLists(col("qv"), combined, r))),
      "__graft_clist", subs, combined.nlist)
    val distCol = combined.metric match {
      case "l2" => graft.functions.l2sq(col(vecCol), col("qv"))
      case "dot" => graft.functions.negdot(col(vecCol), col("qv"))
      case "cos" => graft.functions.negdot(col(vecCol), col("qv")) + lit(1.0)
    }
    ivfScan(spark, subs, idCol, vecCol, corpusFilter)
      // round 18: same query-side broadcast; range fan-out bounded by
      // the combined nlist
      .join(KnnJoin.broadcastQueriesIfSmall(qv0, probed,
          math.max(combined.nlist, 1)),
        Seq("__graft_sub", "list_id"))
      .select(col("qid"), col(idCol), distCol.as("dist"))
      .filter(if (strict) col("dist") < r else col("dist") <= r)
  }

  /** Table-valued KNN JOIN over the partitioned parent — the
    * composition of partition.slt's parent-table queries with the
    * dataset-vs-dataset retrieval shapes: ONE pass over the query table
    * against the concatenation of the chosen partitions' graphs, the
    * global qid-window keeping the top-k (each sub-index's per-graph
    * top-k union is a superset of its global contribution, so exact mode
    * is globally exact — the oracle contract). `probeGraphs = g` routes
    * ACROSS partitions: graphs of every chosen partition rank together
    * by routing lower bound, so a query near one partition's clusters
    * never spends beams in another's. `values` prunes to the named
    * partitions (the partition-predicate path). Cos parents follow the
    * [[Hnsw.knnJoin]] convention: the CALLER normalizes the query
    * column. */
  def knnJoinHnsw(spark: SparkSession, name: String, source: String,
      partCol: String, idCol: String, queries: DataFrame, qidCol: String,
      qvecCol: String, k: Int, efSearch: Int = 100, exact: Boolean = false,
      probeGraphs: Int = 0, values: Option[Seq[String]] = None): DataFrame = {
    val (files, routing, hint) = gatherGraphs(spark, name, source,
      partCol, values)
    Hnsw.knnJoinFiles(spark, files, routing, idCol, queries, qidCol,
      qvecCol, k, efSearch, exact, probeGraphs, hint = hint)
  }

  /** Table-valued EXACT range join over the partitioned parent: one
    * query-side pass over the chosen partitions' graphs; routing (when
    * every sub-index carries a sidecar) prunes by the sound per-graph
    * lower bounds, so the join is exact at any radius — full oracle, no
    * twin ([[Hnsw.rangeJoin]]'s contract lifted to the parent). */
  def rangeJoinHnsw(spark: SparkSession, name: String, source: String,
      partCol: String, idCol: String, queries: DataFrame, qidCol: String,
      qvecCol: String, r: Double,
      values: Option[Seq[String]] = None): DataFrame = {
    val (files, routing, _) = gatherGraphs(spark, name, source, partCol,
      values)
    Hnsw.rangeJoinFiles(spark, files, routing, idCol, queries, qidCol,
      qvecCol, r)
  }

  /** Search the parent table: per-partition graph searches unioned, one
    * global ordered merge. `values` prunes to the named partitions (the
    * partition-predicate path); None searches them all. Exact mode is
    * globally exact — each partition's flat top-k is a superset of its
    * contribution to the global top-k. `probeGraphs = g` routes ACROSS
    * partitions (round 8): the query is a plan-time constant, so the
    * cross-partition routing view ranks driver-side and only the top-g
    * graphs of the whole fleet are searched — per-query cost stops
    * growing with partition count. Exact mode never routes, and a
    * sidecar-less sub-index falls back to all-graphs (the knnJoinHnsw
    * all-or-nothing rule). */
  def searchHnsw(spark: SparkSession, name: String, source: String,
      partCol: String, idCol: String, q: Array[Float], k: Int,
      efSearch: Int = 100, exact: Boolean = false,
      values: Option[Seq[String]] = None, probeGraphs: Int = 0): DataFrame = {
    if (!exact && (probeGraphs > 0 || probeGraphs == Hnsw.AutoProbe)) {
      val (files, routing, hint) = gatherGraphs(spark, name, source,
        partCol, values)
      val chosenFiles = routing match {
        case Some((met, aligned)) =>
          // AUTO resolves against the CONCATENATED fleet's separability
          // (Routing.autoResolve) — a non-separated partitioning walks
          // every graph instead of silently losing recall; the fleet
          // hint (max of sub hints) raises g like the scalar path
          val g = Hnsw.Routing.autoResolve(probeGraphs, files.length,
            aligned, hint)
          if (g > 0 && g < files.length)
            Hnsw.Routing.rankFiles(met, q, files, aligned, g)
          else files
        case _ => files
      }
      return Hnsw.searchFiles(spark, chosenFiles, idCol, q, k, efSearch,
        exact = false)
    }
    // either way the only driver-side work is one listStatus of the
    // source dir (metadata, never a job — safe inside an optimizer rule)
    val chosen = resolveValues(spark, source, partCol, values)
    // every partition's graph files, walked with that partition's beam,
    // in ONE driver-side merge: the global top-k of the per-partition
    // top-k unions is the global top-k
    val walks = chosen.flatMap { v =>
      val sub = subName(name, v)
      // a partition present in the layout but never ensured must be a
      // clear error, not an empty (silently-wrong) contribution
      require(graft.index.IndexCatalog.load(spark, sub).nonEmpty,
        s"no such index: $sub (run ensureHnsw after adding partitions)")
      val dir = graft.index.IndexCatalog.dataDir(spark, sub)
      val walk = Hnsw.walkFile(spark, q, k,
        Hnsw.beamEf(Hnsw.resolveEf(dir, efSearch), k), exact) _
      Hnsw.graphFiles(spark, dir).map(f => () => walk(f))
    }
    ResidentSearch.topK(spark, walks, idCol, k)(_())
  }
}
