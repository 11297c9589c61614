package graft.index

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** SQL-text index DDL — the reference's CREATE INDEX surface
  * (`CREATE ACCESS METHOD vectors` finalize.sql:714; ambuild
  * src/index/am.rs:135-244; every slt file drives index creation as SQL)
  * reachable two ways: the parsed statements
  * ([[GraftSqlParser]] — `CREATE/VACUUM/DROP VECTOR INDEX`, the
  * idiomatic execute-once RunnableCommand surface) and the
  * compatibility spark.sql functions on the admin-UDF precedent
  * ([[graft.functions]] registerAll: literal args constant-fold, so the
  * catalog work runs driver-side — once per ANALYSIS, the documented
  * wart the statements don't have):
  *
  * {{{
  * SELECT create_vector_index('idx', '/data/t.parquet', 'id', 'vec',
  *                            'hnsw', 'vector_l2_ops', 'm=12,ef_construction=300')
  * SELECT vacuum_vector_index('idx')
  * }}}
  *
  * `method` is the access-method spelling ([[IndexOptions.accessMethod]]:
  * the native `vectors` AM plus the pgvector-compatibility `hnsw` /
  * `ivfflat`); `opclass` the full opclass matrix
  * ([[IndexOptions.opclass]]); `options` the comma-separated reloptions
  * in either spelling (`lists` ≡ `nlist`), plus the native extensions
  * `parts` (graph-fleet width) and — under the `vectors` AM — `indexing`
  * (`hnsw` | `ivf`, the reference's `[indexing.*]` TOML section, default
  * hnsw). Creation is idempotent ensure semantics: an existing
  * non-stale artifact with the same params is a no-op, the reference's
  * re-CREATE behavior under the catalog.
  *
  * The SQL path records `sql_cols` / `sql_am` / `sql_opclass` /
  * `sql_options` manifest params IN ONE COMMIT so [[vacuum]] can replay
  * the exact build from the name alone (the reference's VACUUM knows
  * its table from the pg catalog; a path-based catalog must remember
  * the recipe itself — and a torn recipe must be impossible, not merely
  * refused). Those params are informational — searches never read them,
  * and ensure-built artifacts are otherwise manifest-identical.
  */
object SqlDdl {

  /** Parse "k=v, k=v" reloptions; blank → empty. */
  private[index] def parseOpts(options: String): Map[String, String] = {
    val s = Option(options).getOrElse("").trim
    if (s.isEmpty) Map.empty
    else s.split(',').map { kv =>
      kv.split('=') match {
        case Array(k, v) => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"malformed index option '$kv' (expected key=value)")
      }
    }.toMap
  }

  /** The (family, indexing) build dispatch shared by [[create]]
    * (`rebuild = false`: idempotent ensure) and [[vacuum]]
    * (`rebuild = true`: REINDEX — fresh generation dir, one atomic
    * pointer flip, readers served throughout; NO kind serves vacuum by
    * drop-any-more, so there is never a no-index window and a crashed
    * rebuild leaves the old generation committed). */
  private def dispatch(spark: SparkSession, name: String, source: String,
      idCol: String, vecCol: String, am: String, opclassName: String,
      options: String, rebuild: Boolean, where: String = ""): Unit = {
    val (family, metric) = IndexOptions.opclass(opclassName, am)
    val opts = parseOpts(options)
    val indexing = am match {
      case "hnsw" => "hnsw"
      case "ivfflat" => "ivf"
      case _ => opts.getOrElse("indexing", "hnsw") match {
        case k @ ("hnsw" | "ivf" | "flat" | "sparse_inverted_index") => k
        case other => throw new IllegalArgumentException(
          s"unknown indexing kind: $other (expected hnsw, ivf, flat or " +
            "sparse_inverted_index)")
      }
    }
    val parts = opts.get("parts").map(_.trim.toInt).getOrElse(1)
    // the reference's quantization sub-table ([indexing.X.quantization.Y],
    // crates/base/src/index.rs QuantizationOptions) and IVF extras —
    // validated upstream by IndexToml for the TOML spelling, re-checked
    // here for the flat k=v spelling
    val quant = opts.get("quantization")
    val qBits = opts.get("bits").map(_.trim.toInt).getOrElse(8)
    val qRatio = opts.get("ratio").map(_.trim.toInt).getOrElse(1)
    require(opts.get("spherical_centroids").forall(_ == "false"),
      "spherical_centroids is not supported — centroids are trained in " +
        "the stored space (cos artifacts already normalize at build)")
    // residual_quantization: accepted and recorded; the IVF×PQ/SQ8
    // builds here ALWAYS encode residuals (CodedIvf.residual) — a strict
    // estimate-quality improvement over the reference's non-residual
    // default, and exact twins (window<=0) never read codes.
    // spherical/residual are stripped on BOTH paths (valid [indexing.ivf]
    // keys with or without quantization); bits/ratio are quantization
    // sub-table keys and stay in `rest` for the PLAIN path so stray
    // spellings keep erroring through the strict option sets.
    val base = opts - "indexing" - "parts" - "spherical_centroids" -
      "residual_quantization"
    if (indexing == "sparse_inverted_index" || indexing == "flat" ||
        quant.isDefined) {
      dispatchExtended(spark, name, source, idCol, vecCol, family, metric,
        indexing, quant, qBits, qRatio, parts,
        base - "quantization" - "bits" - "ratio", rebuild, where)
      return
    }
    val rest = base
    // a WHERE clause scopes the build to matching rows — the Postgres
    // PARTIAL index: the artifact holds only the predicate's rows, and
    // registration is predicate-scoped so the planner claims exactly
    // the queries carrying the same canonical conjuncts
    def df = {
      val base = TableSnapshotResolver.readSource(spark, source)
      if (where.isEmpty) base else base.filter(where)
    }
    import graft.operators.{Hnsw, IvfIndex, Payload, TypedAnn}
    (family, indexing) match {
      case ("dense", "hnsw") =>
        val (m, efc) = IndexOptions.hnsw(rest)
        if (rebuild) Hnsw.reindex(spark, name, df, source, idCol, vecCol,
          metric, parts, m, efc)
        else Hnsw.ensure(spark, name, df, source, idCol, vecCol,
          metric, parts, m, efc)
      case ("dense", "ivf") =>
        // kmeans_iters is a DENSE build option only — the typed arms
        // below keep rejecting it through IndexOptions.ivf's strict set
        val nlist = IndexOptions.ivf(rest - "kmeans_iters")
        val iters = IndexOptions.ivfIters(rest)
        if (rebuild) IvfIndex.reindex(spark, name, df, source, vecCol,
          metric, nlist, maxIter = iters)
        else IvfIndex.ensure(spark, name, df, source, vecCol, metric, nlist,
          maxIter = iters)
      // typed IVF opclasses: one artifact per type family, the metric is
      // a search-time choice (TypedAnn convention) — validated above.
      // The SOURCE COLUMN may already be stored in the family's OWN
      // type (a `bvector(n)`/`svector(n)` table column from the
      // reference's CREATE TABLE spelling — the round-13 type mapping)
      // or be a dense array the build encodes (Payload.isStored reads
      // the stored schema; no job). A stored bvector densifies to exact
      // 0/1 floats, whose binarize is the identity — value-equal to the
      // dense-source path by construction.
      case (Payload(p), "ivf") =>
        val nlist = IndexOptions.ivf(rest)
        if (rebuild) TypedAnn.reindex(spark, p, name, df, source, idCol,
          vecCol, nlist)
        else TypedAnn.ensure(spark, p, name, df, source, idCol, vecCol, nlist)
      // typed opclasses under the hnsw AM: graphs over the family's
      // DENSIFIED view (l2 on the view IS the family metric or its
      // search-time override) — the declarative-closure conventions
      case (Payload(p), "hnsw") =>
        val (m, efc) = IndexOptions.hnsw(rest)
        def vdf = {
          val d = df
          d.select(col(idCol),
            p.view(p.encode(col(vecCol), p.isStored(d, vecCol))).as(p.viewCol))
        }
        if (rebuild) Hnsw.reindex(spark, name, vdf, source, idCol, p.viewCol,
          "l2", parts, m, efc)
        else Hnsw.ensure(spark, name, vdf, source, idCol, p.viewCol,
          "l2", parts, m, efc)
      case other =>
        throw new IllegalArgumentException(
          s"unsupported (opclass family, indexing) combination: $other")
    }
  }

  /** The reference indexing matrix beyond plain hnsw/ivf
    * (crates/base/src/index.rs IndexingOptions/QuantizationOptions; the
    * `[indexing.flat]` / `[indexing.sparse_inverted_index]` /
    * `[indexing.X.quantization.Y]` TOML selections):
    *
    *  - flat, no quantization → a catalog-only manifest (kind `flat`).
    *    The exact `ORDER BY dist LIMIT k` plan IS the flat scan on this
    *    engine (TakeOrderedAndProject over the parquet source), so
    *    there is no artifact to build and nothing registers with the
    *    planner — the reference's flat index is its brute-force scan
    *    operator, which Spark already executes optimally.
    *  - flat.scalar/product/rabitq → the coded flat scan
    *    ([[CodedFlat]] over the SQ8 / PQ / RaBitQ codec: code-column
    *    coarse scan + windowed exact rerank; window<=0 = exact).
    *  - hnsw.scalar/product/rabitq → the coded graph fleets
    *    ([[CodedHnsw]] over the same codecs).
    *  - ivf.scalar/product → the residual-coded pruned scans
    *    ([[CodedIvf]]). ivf.rabitq is rejected with a pointer to
    *    flat.rabitq (the rabitq artifact here is corpus-wide).
    *  - sparse_inverted_index → the token-bucketed posting index
    *    (SparseSearch) over the sparsified view, svector_dot_ops only.
    *
    * Quantized builds are dense-l2 only (the coded kernels score l2;
    * the reference likewise rejects quantization for non-dense types).
    * Scalar quantization supports bits=8 (the sq8 kernels); product
    * maps the reference's `ratio` (dims per subspace) to the subspace
    * count and `bits` to per-subspace centroids (ks = 2^bits). */
  private def dispatchExtended(spark: SparkSession, name: String,
      source: String, idCol: String, vecCol: String, family: String,
      metric: String, indexing: String, quant: Option[String], qBits: Int,
      qRatio: Int, parts: Int, rest: Map[String, String], rebuild: Boolean,
      where: String): Unit = {
    def df = {
      val base = TableSnapshotResolver.readSource(spark, source)
      if (where.isEmpty) base else base.filter(where)
    }
    import graft.operators.{Codec, CodedFlat, CodedHnsw, CodedIvf, ListQuant,
      PqQuant, Quant, RabitqQuant, SparseSearch, Sq8Quant}
    val allowedKeys: Set[String] = indexing match {
      case "hnsw" => Set("m", "ef_construction")
      case "ivf" => Set("lists", "nlist")
      case _ => Set.empty
    }
    val badKeys = rest.keySet -- allowedKeys
    require(badKeys.isEmpty,
      s"unknown field `${badKeys.toSeq.sorted.head}` in [indexing.$indexing]")
    if (indexing == "sparse_inverted_index") {
      require(family == "svec",
        s"sparse_inverted_index requires an svector opclass (got $family)")
      require(metric == "dot",
        "sparse_inverted_index serves dot-product ranking — use " +
          s"svector_dot_ops (got ${family}_${metric}_ops)")
      def sdf = df.select(col(idCol),
        (if (columnIsStruct(spark, source, vecCol)) col(vecCol)
         else graft.functions.svecFromDense(col(vecCol))).as("sv"))
      if (rebuild) SparseSearch.reindex(spark, name, sdf, source, idCol, "sv")
      else SparseSearch.ensure(spark, name, sdf, source, idCol, "sv")
      return
    }
    if (quant.isEmpty) { // plain [indexing.flat]: catalog entry only
      val build = (_: String) => IndexCatalog.Manifest("flat", source,
        metric, Map("indexing" -> "flat", "family" -> family))
      if (rebuild) IndexCatalog.reindex(spark, name)(build)
      else IndexCatalog.ensure(spark, name, source, "flat",
        requires = Map("indexing" -> "flat"))(build)
      return
    }
    require(family == "dense",
      "quantization is only supported for dense vectors")
    require(metric == "l2",
      s"quantized indexing scores l2 here — use vector_l2_ops (got $metric)")
    def requireBits8(): Unit = require(qBits == 8,
      s"only 8-bit scalar quantization is implemented (got bits=$qBits)")
    // product geometry: the reference's ratio = dims per subspace
    // (crates/quantization/src/product.rs), so subspaces = dims/ratio
    // and ks = 2^bits centroids per subspace. One row-limit job reads
    // the dims; ratio must divide them (Pq.train's divisibility rule).
    lazy val (pqM, pqKs) = {
      // round-17 optimization: the dims probe is memoized per (source
      // content fingerprint, column) — product-kind statements are
      // re-analyzed on every run (idempotent re-CREATE), and each paid
      // this one-row job for a value that can only change when the
      // source content does
      val dims = sourceDims(spark, df, source, vecCol)
      require(dims % qRatio == 0,
        s"product quantization ratio $qRatio must divide dims $dims")
      (dims / qRatio, 1 << qBits)
    }
    val (hm, efc) = IndexOptions.hnsw(rest.filter { case (k, _) =>
      k == "m" || k == "ef_construction" })
    def nlist = IndexOptions.ivf(rest.filter { case (k, _) =>
      k == "lists" || k == "nlist" })
    val quantizer: Quant[Codec] = quant.get match {
      case "scalar" => requireBits8(); Sq8Quant
      case "product" => PqQuant(pqM, pqKs)
      case _ => RabitqQuant
    }
    (indexing, quantizer) match {
      case ("flat", _) =>
        if (rebuild) CodedFlat.reindex(spark, name, df, source, idCol, vecCol,
          quantizer)
        else CodedFlat.ensure(spark, name, df, source, idCol, vecCol, quantizer)
      case ("hnsw", _) =>
        if (rebuild) CodedHnsw.reindex(spark, name, df, source, idCol, vecCol,
          parts, quantizer, hm, efc)
        else CodedHnsw.ensure(spark, name, df, source, idCol, vecCol,
          parts, quantizer, hm, efc)
      case ("ivf", listQuant: ListQuant[_]) =>
        if (rebuild) CodedIvf.reindex(spark, name, df, source, idCol, vecCol,
          nlist, listQuant)
        else CodedIvf.ensure(spark, name, df, source, idCol, vecCol,
          nlist, listQuant)
      case ("ivf", _) =>
        throw new IllegalArgumentException(
          "ivf.quantization.rabitq is not built here — the rabitq " +
            "artifact is a corpus-wide coded scan: use " +
            "[indexing.flat.quantization.rabitq]")
      case _ => throw new IllegalArgumentException(
        s"unsupported (indexing, quantization) combination: ${(indexing, quant.get)}")
    }
  }

  /** Is the source column stored as a STRUCT (the svector CSR /
    * bvector packed-words storage types — a `svector(n)`/`bvector(n)`
    * table column from the reference's CREATE TABLE spelling)? Dense
    * f32/f16 columns are arrays. One metadata-only schema read. */
  private def columnIsStruct(spark: SparkSession, source: String,
      vecCol: String): Boolean =
    TableSnapshotResolver.readSource(spark, source).schema.fields
      .find(_.name == vecCol)
      .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.StructType])

  /** The recipe params [[create]] writes and [[vacuum]] replays. */
  private def recipeParams(idCol: String, vecCol: String, am: String,
      opclassName: String, options: String, where: String): Map[String, String] =
    Map("sql_cols" -> s"$idCol,$vecCol", "sql_am" -> am,
      "sql_opclass" -> opclassName,
      "sql_options" -> Option(options).getOrElse("").trim,
      "sql_where" -> Option(where).getOrElse("").trim)

  /** CREATE INDEX as SQL text; `where` non-empty builds a PARTIAL
    * index over the predicate's rows and registers it
    * predicate-scoped. Returns "ok". */
  def create(spark: SparkSession, name: String, source: String,
      idCol: String, vecCol: String, method: String, opclassName: String,
      options: String, where: String = ""): String = {
    val am = IndexOptions.accessMethod(method)
    // validate the FULL recipe before dispatching the build: a
    // post-build failure here would strand an artifact whose vacuum
    // then refuses (round-10 advice) — the column-name rule is the
    // recipe format's own (comma-free, non-empty), and every value must
    // pass the SAME Alterable rules alterAll applies after the build
    // (a multi-line WHERE must error here, not post-build)
    val recipe = recipeParams(idCol, vecCol, am, opclassName, options, where)
    IndexOptions.opclass(opclassName, am)
    require(Seq(idCol, vecCol).forall(c =>
      c.trim.nonEmpty && !c.contains(",") && !c.exists(_ < ' ')),
      s"column names must be non-empty and comma-free: ('$idCol', '$vecCol')")
    require(recipe.values.forall(v => !v.exists(_ < ' ')),
      "recipe values must be single-line (no control characters)")
    // a partial predicate must canonicalize BEFORE the build too — a
    // constant-folding predicate ("1 = 1") errors here, not post-build
    val newWhere = Option(where).getOrElse("").trim
    val conj = Some(newWhere).filter(_.nonEmpty)
      .map(w => graft.plans.AnnPushdown.canonicalConjuncts(spark, source, w))
    // the ROW SCOPE participates in staleness: ensure() only checks
    // source + fingerprint + structural requires, so a re-CREATE with a
    // CHANGED (or removed) WHERE over an unchanged source would no-op
    // the build while rewriting the recipe and the planner claim to the
    // new predicate — the artifact would serve the OLD scope as the new
    // one. A differing recorded sql_where forces REINDEX instead.
    // the prior manifest is loaded BEFORE dispatch commits the new one:
    // both the scope check and the old-SOURCE retire below need the
    // pre-CREATE state
    val prior = IndexCatalog.load(spark, name)
    val scopeChanged = prior.exists(m =>
      !m.params.get("sql_where").map(_.trim).contains(newWhere))
    // any OTHER recipe drift forces REINDEX too (round 13): several
    // artifact kinds (sq8/pq/rabitq/flat/sparse) carry no structural
    // `requires`, so a re-CREATE changing their options/opclass/columns
    // over an unchanged source would no-op the build while rewriting
    // the recipe — the artifact would silently serve the old geometry.
    // Only SQL-created priors participate (a Scala-created name has no
    // recipe to drift from; requires-based staleness still applies).
    val recipeChanged = prior.exists { m =>
      m.params.contains("sql_am") &&
        Seq("sql_cols", "sql_am", "sql_opclass", "sql_options").exists(k =>
          !m.params.get(k).map(_.trim).contains(recipe(k).trim))
    }
    // transactional sources (TableSnapshotResolver): the snapshot
    // version joins the recipe — a NEW COMMIT since the recorded build
    // forces REINDEX here, because dir-mtime staleness cannot tell a
    // new snapshot from compaction debris. Resolved BEFORE the build
    // (the fingerprint ordering: a racing commit errs toward rebuild).
    // Plain parquet sources resolve to "" and never join the recipe.
    val snapVersion = TableSnapshotResolver.snapshotOf(spark, source)
      .map(_.version.trim).getOrElse("")
    require(!snapVersion.exists(_ < ' '),
      "snapshot version tokens must be single-line (no control characters)")
    val snapChanged = prior.exists(m =>
      m.params.contains("sql_am") &&
        m.params.getOrElse("sql_snapshot", "").trim != snapVersion)
    // NULL ids are un-indexable — the heap-TID divergence: the
    // reference keys rows by TID (never NULL), our builds key on idCol
    // and would otherwise fail with an opaque encoder assert (graph
    // writers) or silently store null-id rows (parquet-scan kinds).
    // Checked only when this CREATE can plausibly build (fresh name,
    // changed recipe/scope/source): one limit-1 scan with the IS NULL
    // filter pushed to parquet — the common idempotent re-CREATE pays
    // nothing.
    if (prior.isEmpty || scopeChanged || recipeChanged || snapChanged ||
        prior.exists(_.source != source)) {
      val hasNullId = TableSnapshotResolver.readSource(spark, source)
        .filter(org.apache.spark.sql.functions.col(idCol).isNull)
        .limit(1).count() > 0
      require(!hasNullId,
        s"column `$idCol` of $source contains NULL ids — index ids must " +
          "be non-null (rows are keyed by the id column here where " +
          "Postgres uses the heap TID); clean the source or choose " +
          "another id_col")
    }
    dispatch(spark, name, source, idCol, vecCol, am, opclassName, options,
      rebuild = scopeChanged || recipeChanged || snapChanged,
      where = newWhere)
    // ONE commit (atomic rename) under the DDL lock — a torn recipe
    // cannot exist
    // sql_snapshot is written whenever a version resolved OR a prior
    // build recorded one (writing "" after the resolver was unset keeps
    // the drift check from forcing a rebuild on every CREATE); plain
    // parquet recipes never carry the key
    IndexCatalog.alterAll(spark, name, recipe ++
      (if (snapVersion.nonEmpty ||
           prior.exists(_.params.contains("sql_snapshot")))
         Map("sql_snapshot" -> snapVersion)
       else Map.empty))
    // a SQL-only user's declarative queries accelerate without any
    // Scala call: CREATE registers the (source, metric) pushdown entry
    // (the reference's planner sees the index through pg_index; DROP
    // unregisters). Driver-local like the registry itself.
    // Every CREATE first retires ALL of this name's prior claims:
    // register() only replaces the same-(metric, conjuncts) entry, so a
    // re-CREATE with a changed/removed WHERE would otherwise leave the
    // old-conjuncts entry live and rewrite old-predicate queries onto
    // the re-scoped artifact — silent wrong results (round-11 advice).
    // A survivor the old entry was shadowing re-registers from its
    // recipe, the DROP-path convention.
    // order: survivors first, THEN this name — the newest CREATE must
    // end up shadowing any same-(metric, conjuncts) survivor, not the
    // other way around. The retire + catalog-root survivor sweep
    // (manifest loads + plan analysis per partial recipe) runs only
    // when this name's prior claim DIFFERS from the new one — the
    // common idempotent re-CREATE has an identical claim, which
    // register() replaces in place, and lifts no shadow (round-12
    // review: the sweep was running on every CREATE).
    // re-CREATE ON A DIFFERENT PATH moves the name: the artifact now
    // indexes the new source's data, but the OLD source's registry
    // entry (indexName == name) would stay live for the session and
    // keep rewriting old-path queries onto it — silent wrong results
    // until driver restart (round-12 advice). Retire the name's claims
    // on the old source and lift any shadow it held there.
    prior.map(_.source).filter(_ != source).foreach { oldSrc =>
      graft.plans.AnnPushdown.unregisterNamed(oldSrc, name)
      reregisterSource(spark, oldSrc, excluding = name)
    }
    val newEntry = pushdownEntry(name, idCol, vecCol, am, opclassName)
      .copy(partialConjuncts = conj)
    val rescoped = graft.plans.AnnPushdown.snapshot(source)
      .filter(_.indexName == name)
      .exists(p => p.metric != newEntry.metric ||
        p.partialConjuncts != newEntry.partialConjuncts)
    if (rescoped) {
      graft.plans.AnnPushdown.unregisterNamed(source, name)
      reregisterSource(spark, source, excluding = name)
    }
    // register only kinds the rewrite arms dispatch — a flat/quantized/
    // sparse claim would never rewrite (the arms' kind guards bail), and
    // for `flat` the unrewritten exact plan IS the index's semantics.
    // A re-CREATE that flipped a registrable kind to a non-registrable
    // one already retired the stale claim through unregisterNamed above
    // (rescoped covers metric/scope drift; same-metric kind flips are
    // retired by the recipeChanged REINDEX path keeping the name's
    // single-claim identity: register() below simply doesn't re-add it).
    if (registrableKind(IndexCatalog.load(spark, name).map(_.kind)
        .getOrElse("")))
      graft.plans.AnnPushdown.register(source, newEntry)
    else {
      graft.plans.AnnPushdown.unregisterNamed(source, name)
      reregisterSource(spark, source, excluding = name)
    }
    // transaction-block DDL (SqlTxn): a genuinely NEW index created
    // inside BEGIN...ABORT retracts on abort; re-CREATEs of existing
    // names rebuild in place and are not journaled (the documented
    // narrowed scope)
    if (prior.isEmpty) SqlTxn.journalCreate(spark, name, source)
    "ok"
  }

  /** Manifest kinds with declarative rewrite arms (plans/AnnPushdown):
    * everything else serves through the query APIs and the exact plan. */
  private[index] def registrableKind(kind: String): Boolean =
    Set("hnsw", "ivf", "hnsw_part", "ivf_part").contains(kind) ||
      graft.operators.Payload.kinds(kind)

  private[index] def pushdownEntry(name: String, idCol: String,
      vecCol: String, am: String, opclassName: String)
      : graft.plans.AnnPushdown.IndexedTable =
    graft.plans.AnnPushdown.IndexedTable(name, idCol, vecCol,
      IndexOptions.metricKey(opclassName, am))

  /** Re-register the planner entry of an ALREADY-COMMITTED SQL-created
    * index from its manifest recipe — the IF NOT EXISTS path: the
    * registry is driver-local, so a fresh JVM's `CREATE ... IF NOT
    * EXISTS` over a persisted index must still hand the planner its
    * entry (round-11 review finding). No-op for indexes without a
    * complete recipe (Scala-created names), and for names already
    * registered (repeat IF NOT EXISTS loops stay cheap). A PARTIAL
    * predicate that fails to canonicalize registers NOTHING — a full
    * (unscoped) claim over a predicate-scoped artifact would silently
    * lose every off-predicate row; no registration only loses the
    * acceleration. Driver-side only (canonicalizing is plan analysis,
    * no job). */
  private[index] def registerFromRecipe(spark: SparkSession, name: String,
      preloaded: Option[IndexCatalog.Manifest] = None,
      addIfVacant: Boolean = false): Unit =
    for (m <- preloaded.orElse(IndexCatalog.load(spark, name))
         if registrableKind(m.kind);
         cols <- m.params.get("sql_cols");
         am <- m.params.get("sql_am");
         op <- m.params.get("sql_opclass")
         if !graft.plans.AnnPushdown.snapshot(m.source)
           .exists(_.indexName == name)) {
      val Array(idCol, vecCol) = cols.split(",", 2)
      val conj: Option[Option[Seq[String]]] =
        m.params.get("sql_where").map(_.trim).filter(_.nonEmpty) match {
          case None => Some(None) // full index
          case Some(w) => scala.util.Try(
            graft.plans.AnnPushdown.canonicalConjuncts(spark, m.source, w)
          ).toOption match {
            case Some(c) => Some(Some(c))
            case None => None // cannot scope the claim -> register nothing
          }
        }
      conj.foreach { c =>
        val entry = pushdownEntry(name, idCol, vecCol, am, op)
          .copy(partialConjuncts = c)
        // the sweep path must never REPLACE a claim another name holds
        // live (round-15 advice): add-if-vacant there; the in-session
        // paths keep newest-create-shadows eviction
        if (addIfVacant)
          graft.plans.AnnPushdown.registerIfVacant(m.source, entry)
        else graft.plans.AnnPushdown.register(m.source, entry)
      }
    }

  // ---- restart durability (round 15) ----
  // planner registrations are driver-local while manifests are durable:
  // PG keeps serving a CREATE'd index after restart (the reference's
  // src/index/am.rs scan path reads the durable catalog), but a fresh
  // JVM here would silently run declarative `ORDER BY val <-> q LIMIT k`
  // queries unrewritten over persisted artifacts — a perf cliff, not
  // wrong results. The rewrite rule sweeps the manifest catalog into
  // registrations, fingerprint-cached so the steady state is one
  // driver-side dir listing per pass (the subSchemaCache convention;
  // never a job).
  /** Memo for the product-geometry dims probe (round 17): keyed on the
    * source's CONTENT fingerprint + vector column, so a re-ingested
    * source re-probes while idempotent statement re-analysis pays
    * nothing. Bounded by a crude clear. */
  private val dimsCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()

  private def sourceDims(spark: SparkSession,
      df: org.apache.spark.sql.DataFrame,
      source: String, vecCol: String): Int = {
    val key = s"$source|$vecCol|${IndexCatalog.fingerprint(source)}"
    val cached = dimsCache.get(key)
    if (cached != null) return cached.intValue()
    if (dimsCache.size() > 512) dimsCache.clear()
    val dims = df.select(org.apache.spark.sql.functions
      .size(col(vecCol)).as("d")).filter(col("d") > 0).first().getInt(0)
    dimsCache.put(key, dims)
    dims
  }

  private val sweepCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  // time throttle over the fingerprint CHECK itself: the optimizer can
  // invoke the rule several times per query, and a multi-hundred-entry
  // catalog listing per pass is measurable across a 242-query run.
  // Restart recovery needs no sub-second freshness — in-session CREATEs
  // register directly and never wait on the sweep; only manifests
  // written by OTHER processes ride it, and they can be 2 s late.
  private val sweepCheckedAt =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val SweepCheckMs = 2000L
  // one warning per (name -> fingerprint) epoch: a permanently-corrupt
  // manifest retries every throttled pass (the fingerprint is only
  // committed on an all-green sweep) but must not spam the log; the map
  // is catalog-bounded (one entry per failing name, overwritten per epoch)
  private val sweepWarned =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  // observability hook for specs (log capture is framework-fragile):
  // counts emitted sweep warnings, monotonic across the JVM
  private[graft] val sweepWarnCount =
    new java.util.concurrent.atomic.AtomicLong()

  private[graft] def resetSweepForTest(): Unit = {
    sweepCache.clear()
    sweepCheckedAt.clear()
    sweepWarned.clear()
  }

  /** Clear only the TIME throttle — a spec forcing back-to-back sweep
    * passes must not also clear the warned-epoch map (that would defeat
    * the warn-once assertion it exists to check). */
  private[graft] def resetSweepThrottleForTest(): Unit =
    sweepCheckedAt.clear()

  /** Sweep every recipe-complete, registrable-kind manifest under the
    * catalog root into a planner registration. Purely ADDITIVE: names
    * this session has already registered or retired are skipped
    * (AnnPushdown.nameTouched) and a swept claim never REPLACES one
    * another name holds live (registerIfVacant — round-15 advice: a
    * persisted recipe must not evict e.g. a gate's temp registration
    * made before the first rule pass), so an in-session DROP, CREATE or
    * test-scoped unregistration is never undone. Manifests sweep
    * NEWEST-first by commit mtime: under add-if-vacant the first
    * registrant wins a slot, so the newest same-claim CREATE shadows —
    * the in-session newest-create-shadows order. A manifest that fails
    * to load or scope registers nothing (registerFromRecipe's partial
    * contract); the sweep itself never throws into the optimizer. */
  def sweepRegistrations(spark: SparkSession): Unit = {
    val root = IndexCatalog.root(spark)
    val now = System.currentTimeMillis()
    val last = sweepCheckedAt.get(root)
    if (last != null && now - last < SweepCheckMs) return
    sweepCheckedAt.put(root, now)
    val manifests = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .map(d => (d, new java.io.File(d, "MANIFEST.bin")))
      .filter { case (d, mf) => d.isDirectory && mf.isFile }
    val fp = manifests.length.toString + ":" +
      (if (manifests.isEmpty) "0"
       else manifests.map(_._2.lastModified()).max.toString)
    if (sweepCache.get(root) == fp) return
    // the fingerprint commits only after an ALL-GREEN pass: a transient
    // manifest-read race (another process mid-commit) must retry on the
    // next throttled pass, not leave that index silently unregistered
    // until the root happens to change (round-15 advice). Succeeding
    // names become touched and skip; only failures re-attempt.
    var allOk = true
    manifests
      .sortBy { case (d, mf) => (-mf.lastModified(), d.getName) }
      .foreach { case (d, _) =>
        if (!graft.plans.AnnPushdown.nameTouched(d.getName)) {
          // a present-but-unloadable MANIFEST.bin is the corrupt case
          // (load swallows it to None); a loaded manifest can still
          // throw on malformed recipe params — both must be diagnosed
          val attempt = scala.util.Try {
            val m = IndexCatalog.load(spark, d.getName)
            if (m.isEmpty) throw new IllegalStateException(
              "manifest present but unreadable")
            registerFromRecipe(spark, d.getName, m, addIfVacant = true)
          }
          attempt match {
            case scala.util.Failure(e) =>
              allOk = false
              // never throw into the optimizer, but never be silent
              // either: a corrupt manifest degrading a restart to the
              // unrewritten plan must be diagnosable (round-15 verdict)
              if (sweepWarned.put(d.getName, fp) != fp) {
                sweepWarnCount.incrementAndGet()
                org.slf4j.LoggerFactory.getLogger("graft.index.SqlDdl").warn(
                  s"registration sweep: index '${d.getName}' failed to " +
                    "register — declarative queries over its source run " +
                    s"unrewritten until it registers or is re-created: $e")
              }
            case _ => ()
          }
        }
      }
    if (allOk) sweepCache.put(root, fp)
  }

  /** After a DROP, surviving same-source SQL-created indexes re-register
    * from their recipes: register() replaces same-(metric, conjuncts)
    * entries, so the dropped index may have been SHADOWING a survivor's
    * claim — without this, dropping the newer of two same-metric indexes
    * leaves the older one cataloged but invisible to the planner for the
    * rest of the session (round-11 review finding). Driver-side catalog
    * listing; DROP is rare. */
  private[index] def reregisterSource(spark: SparkSession, source: String,
      excluding: String): Unit =
    Option(new java.io.File(IndexCatalog.root(spark)).listFiles())
      .getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName != excluding &&
        new java.io.File(d, "MANIFEST.bin").isFile)
      .foreach { d =>
        IndexCatalog.load(spark, d.getName)
          .filter(_.source == source)
          .foreach(m => registerFromRecipe(spark, d.getName, Some(m)))
      }

  /** VACUUM as SQL text: rebuild the artifact from its current source,
    * reclaiming rows deleted from it. EVERY kind rebuilds through
    * REINDEX (fresh generation dir + one atomic pointer swap — readers
    * keep serving throughout, the CONCURRENTLY property; since round 11
    * the typed families take the same path, closing the documented
    * drop+create no-index window). Requires the index to have been
    * created via [[create]] with a COMPLETE recipe — any missing
    * sql_* param refuses rather than rebuilding under defaults that
    * could silently flip the artifact kind or metric. Returns "ok". */
  def vacuum(spark: SparkSession, name: String): String = {
    // EVERY vacuum entry point refuses inside a transaction block (the
    // PG 25001 rule) — the statement paths refuse at parse, but the
    // vacuum_vector_index() UDF spelling lands here directly
    // (round-17 advice)
    SqlTxn.refuseInTxn(spark, "VACUUM")
    val m = IndexCatalog.load(spark, name).getOrElse(
      throw new IllegalArgumentException(s"no such index: $name"))
    def recipe(key: String): String = m.params.getOrElse(key,
      throw new IllegalArgumentException(
        s"index $name carries no complete SQL recipe ($key missing) — " +
          "created via the Scala API or a pre-recipe version; vacuum via " +
          "the Scala API (reindex / IncrMaint.vacuum)"))
    val cols = recipe("sql_cols")
    val am = recipe("sql_am")
    val opclassName = recipe("sql_opclass")
    val Array(idCol, vecCol) = cols.split(",", 2)
    // the replay options: the verbatim CREATE string when recorded;
    // legacy recipes (pre-sql_options) reconstruct from the structural
    // build params. Either way the INDEXING KIND comes from the
    // committed manifest — the artifact's own truth — so a typed IVF
    // can never silently rebuild as a densified graph.
    // filter(nonEmpty): a create WITHOUT options records sql_options=""
    // — an empty RECORDED recipe must still fall back to the manifest's
    // structural params, otherwise the SECOND vacuum of such an index
    // (whose first vacuum restored "") silently rebuilds with defaults
    // (round-11 review finding)
    val baseOpts = m.params.get("sql_options").filter(_.nonEmpty)
      .map(parseOpts).getOrElse(
        Seq("m", "ef_construction", "nlist", "parts")
          .flatMap(k => m.params.get(k).map(k -> _)).toMap)
    // the INDEXING KIND (and quantization variant) come from the
    // committed manifest — the artifact's own truth (round 13: the
    // extended kinds too; a quantized artifact can never silently
    // rebuild as a plain graph even if its recorded options were
    // stripped)
    val indexing = m.kind match {
      case k if k.startsWith("ivf") => "ivf" // ivf, ivfpq, ivfsq8, ivf_*
      case "sparse" => "sparse_inverted_index"
      case "flat" | "sq8" | "pq" | "rabitq" => "flat"
      case _ => "hnsw" // hnsw, hnsw_sq8, hnsw_pq, hnsw_rabitq
    }
    val quantFromKind = m.kind match {
      case "sq8" | "ivfsq8" | "hnsw_sq8" => Some("scalar")
      case "pq" | "ivfpq" | "hnsw_pq" => Some("product")
      case "rabitq" | "hnsw_rabitq" => Some("rabitq")
      case _ => None
    }
    val opts = (baseOpts + ("indexing" -> indexing) ++
        quantFromKind.map("quantization" -> _))
      .map { case (k, v) => s"$k=$v" }.mkString(",")
    val where = m.params.getOrElse("sql_where", "")
    // snapshot version resolved BEFORE the rebuild (a racing commit errs
    // toward one more rebuild on the next CREATE/VACUUM)
    val snapVersion = TableSnapshotResolver.snapshotOf(spark, m.source)
      .map(_.version.trim).getOrElse("")
    dispatch(spark, name, m.source, idCol, vecCol, am, opclassName, opts,
      rebuild = true, where = where)
    // reindex manifests come from the family builders and drop the
    // sql_* recipe — restore it (one commit) so vacuum stays repeatable;
    // the refreshed sql_snapshot records what this rebuild scanned
    IndexCatalog.alterAll(spark, name, recipeParams(idCol, vecCol, am,
      opclassName, m.params.getOrElse("sql_options", ""), where) ++
      (if (snapVersion.nonEmpty || m.params.contains("sql_snapshot"))
         Map("sql_snapshot" -> snapVersion)
       else Map.empty))
    "ok"
  }
}
