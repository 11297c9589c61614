package graft.plans

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftshim.Shims
import graft.index.{IndexCatalog, SampleSidecar}
import graft.operators.{Hnsw, KnnJoin, PartitionedIndex}
import graft.functions.{CosDistance, L2sqDistance, NegDotDistance}
import graft.functions.{F16CosDist, F16L2sq, F16NegDot, ToF16Bits}
import graft.functions.{BVecHamming, BVecJaccard, BVecNegDot, Binarize}
import graft.functions.{SVecCosDist, SVecFromDense, SVecL2sq, SVecNegDot}
import graft.operators.{IvfIndex, Payload, TypedAnn}

/**
 * Catalyst rewrite of `ORDER BY l2sq(vec, q) LIMIT k` over an indexed
 * source into the IVF partition-pruned index scan — the Spark analog of
 * the reference's index access method kicking in on
 * `ORDER BY val <-> q LIMIT k` (src/index/am.rs:105-133,
 * am_scan.rs:26-55; plan shape asserted by
 * tests/sqllogictest/pushdown_plan.slt).
 *
 * GUC analogs (src/gucs/executing.rs:4-23), read per query:
 *  - spark.graft.ann.enabled  (default false): master switch
 *  - spark.graft.ann.nprobe   (default "auto" since round 11: resolves
 *    max(10, the artifact's calibrated probe_hint) per artifact —
 *    numeric values are the user's fixed override); = nlist → exact
 *
 * Tables opt in via [[AnnPushdown.register]], mapping the source parquet
 * path to a cataloged IVF index (a real engine would keep this in the
 * table catalog; the reference keeps it in pg_index).
 *
 * The replacement subtree is aliased back to the original output
 * exprIds, so parent operators resolve unchanged; results are identical
 * when nprobe = nlist and top-k approximate otherwise — exactly the
 * reference's contract.
 */
object AnnPushdown extends PredicateHelper {

  /** One registered index per (table, metric, predicate) — the opclass +
    * partial-index analog: a table can carry an l2, a cos AND a dot index
    * simultaneously, plus predicate-scoped PARTIAL indexes
    * (`partialConjuncts` = the canonical conjunct strings of the build
    * predicate; None = a full index). Dense f32 metrics register as
    * "l2"/"cos"/"dot"; TYPED opclasses register family-qualified —
    * "f16:l2", "bvec:hamming", "svec:dot", … — matching the
    * dual-wrapped query spelling (`f16_l2sq(to_f16_bits(col),
    * to_f16_bits(lit))`), so dense and typed registrations can never
    * satisfy each other's queries. */
  case class IndexedTable(indexName: String, idCol: String, vecCol: String,
      metric: String = "l2", partialConjuncts: Option[Seq[String]] = None)

  private val registry = new ConcurrentHashMap[String, List[IndexedTable]]()

  /** Index names whose claims this JVM has explicitly touched
    * (registered, retired, or scope-managed): the restart-recovery
    * catalog sweep ([[graft.index.SqlDdl.sweepRegistrations]]) is purely
    * ADDITIVE and skips them, so it can never undo an in-session
    * CREATE/DROP decision or a test-scoped unregistration. */
  private val touchedNames = ConcurrentHashMap.newKeySet[String]()

  private[graft] def nameTouched(indexName: String): Boolean =
    touchedNames.contains(indexName)

  /** Simulate a driver restart for specs, SCOPED to one source and a
    * set of names (suites share the JVM-global registry in parallel —
    * a blanket clear would race them): the names' claims and touched
    * marks reset, and the sweep fingerprint clears so the next rule
    * pass re-sweeps — a fresh JVM's state for exactly these indexes. */
  private[graft] def resetNamesForTest(sourcePath: String,
      names: Set[String]): Unit = {
    names.foreach(touchedNames.remove)
    registry.computeIfPresent(normalize(sourcePath), (_, cur) =>
      cur.filterNot(t => names.contains(t.indexName)) match {
        case Nil => null
        case rest => rest
      })
    graft.index.SqlDdl.resetSweepForTest()
  }

  def register(sourcePath: String, t: IndexedTable): Unit = {
    touchedNames.add(t.indexName)
    registry.compute(normalize(sourcePath), (_, cur) =>
      t :: Option(cur).getOrElse(Nil)
        .filterNot(x => x.metric == t.metric &&
          x.partialConjuncts == t.partialConjuncts))
  }

  /** ADD-IF-VACANT register — the restart-sweep's form: [[register]]
    * evicts an existing same-(metric, conjuncts) claim, which is right
    * for an in-session CREATE (newest-create-shadows) but wrong for the
    * catalog sweep — a swept PERSISTED recipe must never replace a claim
    * some other name already holds live (e.g. a gate's temp registration
    * made before the first ann-enabled rule pass; round-15 advice).
    * The name is marked touched either way: a skipped-because-occupied
    * claim is a FINAL sweep decision for this session (re-surfacing
    * after the occupant retires is the DROP path's reregisterSource job,
    * which scans manifests and ignores touch marks). Returns whether the
    * claim was added. */
  def registerIfVacant(sourcePath: String, t: IndexedTable): Boolean = {
    var added = false
    touchedNames.add(t.indexName)
    registry.compute(normalize(sourcePath), (_, cur) => {
      val existing = Option(cur).getOrElse(Nil)
      if (existing.exists(x => x.metric == t.metric &&
          x.partialConjuncts == t.partialConjuncts)) existing
      else { added = true; t :: existing }
    })
    added
  }

  /** Register a PARTIAL index (reference: partial indexes over
    * `CREATE INDEX ... WHERE pred`): `predSql` must be the same predicate
    * the index was built with. It is canonicalized through the SAME
    * optimizer pipeline the rewrite rule sees, so matching is robust to
    * cast insertion / constant folding. */
  def registerPartial(spark: SparkSession, sourcePath: String,
      t: IndexedTable, predSql: String): Unit = {
    val conj = canonicalConjuncts(spark, sourcePath, predSql)
    register(sourcePath, t.copy(partialConjuncts = Some(conj)))
  }

  private[graft] def canonicalConjuncts(spark: SparkSession,
      sourcePath: String, predSql: String): Seq[String] = {
    val plan = graft.ParquetCache.read(spark, sourcePath).filter(predSql)
      .queryExecution.optimizedPlan
    val cond = plan.collectFirst { case Filter(c, _) => c }
      .getOrElse(throw new IllegalArgumentException(
        s"predicate '$predSql' optimized away — not a usable partial-index predicate"))
    conjunctStrings(cond)
  }

  /** Name-normalized, sorted conjunct SQL strings — the comparable form
    * of a predicate. IsNotNull conjuncts are dropped ONLY when the
    * attribute is referenced by another conjunct (those are the ones the
    * optimizer infers and that carry no selectivity of their own); a
    * standalone `x IS NOT NULL` IS selective and must participate in the
    * match, otherwise a partial index built with it would silently claim
    * broader queries. An attribute prints as its bare name — the
    * unresolved-attribute spelling — but keeps its type, which an
    * `InSet` (an IN list of more than 10 values after `OptimizeIn`)
    * needs to print its values. */
  private[plans] def conjunctStrings(cond: Expression): Seq[String] = {
    val conj = splitConjunctivePredicates(cond)
    val otherRefs = AttributeSet(
      conj.filterNot(_.isInstanceOf[IsNotNull]).flatMap(_.references))
    conj.filterNot {
      case IsNotNull(a: AttributeReference) => otherRefs.contains(a)
      case _ => false
    }.map(_.transform {
      case a: AttributeReference => PrettyAttribute(
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(a.name).sql,
        a.dataType)
    }.sql).sorted
  }

  /** Sub-artifact field-name sets for the FILTERED ivf_part arm, keyed
    * by artifact DATA DIR and validated against a cheap content
    * fingerprint (top-level entry count + max mtime — the GraphCache/
    * SampleSidecar file-identity convention): reindex bumps the
    * generation dir, and an IN-PLACE re-ensure into the same dir bumps
    * the mtimes, so a rebuilt artifact always re-reads its footer
    * instead of serving a stale field set (whose remapped attribute
    * would fail analysis inside the rule — the convention is
    * drift-bails, never errors). One dir listing per rule pass,
    * metadata-only; footer I/O only on fingerprint change. */
  private val subSchemaCache =
    new ConcurrentHashMap[String, (String, Set[String])]()

  private[plans] def subFieldNames(spark: SparkSession,
      subIndexName: String): Set[String] = {
    val dir = IndexCatalog.dataDir(spark, subIndexName)
    val entries = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
    val fp = entries.length.toString + ":" +
      (if (entries.isEmpty) "0"
       else entries.map(_.lastModified()).max.toString)
    val cached = subSchemaCache.get(dir)
    if (cached != null && cached._1 == fp) cached._2
    else {
      val names = graft.ParquetCache.read(spark, dir).schema.fieldNames.toSet
      subSchemaCache.put(dir, (fp, names))
      names
    }
  }

  def unregister(sourcePath: String): Unit = {
    snapshot(sourcePath).foreach(t => touchedNames.add(t.indexName))
    registry.remove(normalize(sourcePath))
  }

  /** Remove the entries OWNED by an index name — the DROP-statement
    * path: matching on (metric, conjuncts) alone would deregister a
    * SURVIVING same-metric index that replaced this one's entry
    * (round-11 review finding), and recomputing a partial entry's
    * conjuncts at drop time needs the source to still exist. Name
    * identity needs neither. */
  def unregisterNamed(sourcePath: String, indexName: String): Boolean = {
    touchedNames.add(indexName)
    var removed = false
    registry.computeIfPresent(normalize(sourcePath), (_, cur) => {
      val rest = cur.filterNot(_.indexName == indexName)
      removed = rest.lengthCompare(cur.length) != 0
      if (rest.isEmpty) null else rest
    })
    removed
  }

  /** Remove ONLY the entry matching (metric, partialConjuncts) — a bench
    * helper tearing down its own registration must not clobber the user's
    * other indexes on the same table. */
  def unregister(sourcePath: String, t: IndexedTable): Unit =
    registry.computeIfPresent(normalize(sourcePath), (_, cur) =>
      cur.filterNot(x => x.metric == t.metric &&
          x.partialConjuncts == t.partialConjuncts) match {
        case Nil => null
        case rest => rest
      })

  /** Current registrations for a path (restore with [[restore]]) —
    * lets scoped helpers put back exactly what was there before. */
  def snapshot(sourcePath: String): List[IndexedTable] =
    Option(registry.get(normalize(sourcePath))).getOrElse(Nil)

  def restore(sourcePath: String, entries: List[IndexedTable]): Unit = {
    entries.foreach(t => touchedNames.add(t.indexName))
    if (entries.isEmpty) registry.remove(normalize(sourcePath))
    else registry.put(normalize(sourcePath), entries)
  }

  def lookupAll(paths: Seq[String], metric: String): Seq[IndexedTable] =
    paths.map(normalize)
      .flatMap(p => Option(registry.get(p)).getOrElse(Nil))
      .filter(_.metric == metric)

  def lookup(paths: Seq[String], metric: String): Option[IndexedTable] =
    lookupAll(paths, metric).find(_.partialConjuncts.isEmpty)

  private def normalize(p: String): String =
    p.stripPrefix("file:").replaceAll("/+$", "")

  /** Source parquet paths of a leaf plan — sees through the cache
    * manager's InMemoryRelation substitution. */
  private[plans] def pathsOf(rel: LogicalPlan): Seq[String] = rel match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
      case _ => Nil
    }
    case imr: InMemoryRelation =>
      imr.cacheBuilder.cachedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten
    case _ => Nil
  }

  /** Whether a leaf of `plan` scans files at or under `source` — the
    * check that a top-k statement over `source` was dispatched to its
    * index: the rewritten plan reads the index (the resident search's
    * local relation, or an artifact scan), never the table's files. */
  def scansSource(plan: LogicalPlan, source: String): Boolean = {
    val root = normalize(source)
    plan.collectLeaves().exists(pathsOf(_).map(normalize)
      .exists(p => p == root || p.startsWith(root + "/")))
  }

  /** Install on a live session (extraOptimizations) — usable without
    * restart; GraftExtensions covers spark.sql.extensions wiring. */
  def install(spark: SparkSession): Unit = {
    val existing = spark.experimental.extraOptimizations
    if (!existing.exists(_.isInstanceOf[AnnRewriteRule]))
      spark.experimental.extraOptimizations = existing :+ AnnRewriteRule(spark)
  }

  def floatsOf(lit: Literal): Array[Float] = {
    val arr = lit.value.asInstanceOf[ArrayData]
    val out = new Array[Float](arr.numElements())
    var i = 0
    while (i < out.length) { out(i) = arr.getFloat(i); i += 1 }
    out
  }

  /** Decode a query literal to the dense f32 view the typed searches
    * take, keyed by the literal's TYPE: f32 array (unfolded spelling),
    * f16-bit shorts (folded to_f16_bits — decoded values are already
    * f16-rounded, and the search re-rounds idempotently), packed-word
    * bvector struct (densified to 0/1), or CSR svector struct. */
  private[graft] def typedQueryFloats(l: Literal): Array[Float] = {
    import org.apache.spark.sql.types._
    l.dataType match {
      case ArrayType(FloatType, _) => floatsOf(l)
      case ArrayType(ShortType, _) =>
        val a = l.value.asInstanceOf[ArrayData]
        Array.tabulate(a.numElements())(i =>
          graft.types.Fp16.halfToFloat(a.getShort(i)))
      case s: StructType if s.fieldNames.contains("words") =>
        val r = l.value.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
        val dims = r.getInt(0)
        val words = r.getArray(1)
        Array.tabulate(dims)(i =>
          if (((words.getLong(i >> 6) >>> (i & 63)) & 1L) == 1L) 1f else 0f)
      case s: StructType if s.fieldNames.contains("indexes") =>
        val r = l.value.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
        val dims = r.getInt(0)
        val idxs = r.getArray(1); val vals = r.getArray(2)
        val out = new Array[Float](dims)
        var i = 0
        while (i < idxs.numElements()) {
          out(idxs.getInt(i)) = vals.getFloat(i); i += 1
        }
        out
      case t => throw new IllegalStateException(s"unexpected query literal type $t")
    }
  }
}

/** spark.sql.extensions entry point: inject via
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
  * Installs the ANN rewrite rule (conf-gated, spark.graft.ann.enabled)
  * and the vector-DDL statement parser ([[graft.index.GraftSqlParser]]
  * — a pure delegating extension, non-vector statements parse
  * unchanged). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(AnnRewriteRule)
    ext.injectParser((_, delegate) => new graft.index.GraftSqlParser(delegate))
    // `+ - *` on vector/svector and `& | ^` on bvector operands — the
    // reference's arithmetic operator overloads (finalize.sql:90-170)
    // resolved at analysis; non-vector operands are never touched
    ext.injectResolutionRule(VectorArithRule)
    // the pg_vector_index_stat VIEW (reference views.rs:17-80) as a SQL
    // table function: `SELECT * FROM pg_vector_index_stat()` — resolved
    // fresh per query from the catalog (driver-side manifest/file
    // listing, a LocalRelation: metadata-only, never a job)
    ext.injectTableFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("pg_vector_index_stat"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        "graft.index.IndexCatalog", "pg_vector_index_stat"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        // the Postgres function surface takes no arguments — silently
        // returning the full listing for pg_vector_index_stat('typo')
        // would hide the user's mistake (round-11 advice)
        if (args.nonEmpty) throw new IllegalArgumentException(
          "pg_vector_index_stat() takes no arguments")
        IndexCatalog.stats(SparkSession.active)
          .queryExecution.analyzed
      }))
    // PG's generate_series(start, stop [, step]) — the row generator
    // every reference slt INSERT uses — as Spark's Range plan (stop is
    // INCLUSIVE, the PG contract; the output column carries PG's own
    // name). Literal arguments only: the table function resolves at
    // analysis, exactly like PG plans a constant series.
    ext.injectTableFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("generate_series"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        "graft.plans.GraftExtensions", "generate_series"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        if (args.length < 2 || args.length > 3)
          throw new IllegalArgumentException(
            "generate_series(start, stop[, step]) takes 2 or 3 arguments")
        def longArg(i: Int, what: String): Long = {
          val e = args(i)
          if (!e.foldable) throw new IllegalArgumentException(
            s"generate_series $what must be a literal")
          e.eval() match {
            case n: Number => n.longValue()
            case other => throw new IllegalArgumentException(
              s"generate_series $what must be an integer, got $other")
          }
        }
        val start = longArg(0, "start")
        val stop = longArg(1, "stop")
        val step = if (args.length == 3) longArg(2, "step") else 1L
        if (step == 0) throw new IllegalArgumentException(
          "generate_series step must not be zero")
        val end = if (step > 0) stop + 1 else stop - 1
        val range = org.apache.spark.sql.catalyst.plans.logical.Range(
          start, end, step, None)
        org.apache.spark.sql.catalyst.plans.logical.Project(
          Seq(org.apache.spark.sql.catalyst.expressions.Alias(
            range.output.head, "generate_series")()),
          range)
      }))
  }
}

case class AnnRewriteRule(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {
  import AnnPushdown._

  private def enabled: Boolean =
    spark.conf.get("spark.graft.ann.enabled", "false").toBoolean
  /** spark.graft.ann.nprobe, default "auto" (round 11): AUTO resolves
    * per ARTIFACT as max(10, its manifest `probe_hint`) — for cos IVF
    * artifacts the hint is MEASURED at ensure time
    * ([[graft.operators.IvfIndex]] probe calibration: cos has no sound
    * radii lower bound in the raw ranking, so on non-clustered corpora
    * the fixed default under-probes — the separability-guard philosophy
    * applied to probe count). Artifacts without a hint resolve to the
    * reference default 10, exactly the old behavior. An explicit
    * numeric conf is the user's informed override and never consults
    * the hint; garbage values resolve to auto (toIntOption convention,
    * never an optimizer-rule throw). Manifest loads are driver-side and
    * mtime-cached — no job. */
  private[graft] def nprobeFor(idx: IndexedTable): Int = {
    val raw = spark.conf.get("spark.graft.ann.nprobe", "auto").trim
    raw.toIntOption.getOrElse {
      val m = IndexCatalog.load(spark, idx.indexName)
      val hint = m.flatMap(_.params.get("probe_hint")).flatMap(_.toIntOption)
        .orElse(m.filter(_.kind == "ivf_part")
          .flatMap(ivfPartSubHint(idx.indexName, _)))
        .getOrElse(0)
      math.max(10, hint)
    }
  }

  /** ivf_part parents own no data and never calibrate, so at
    * nprobe=auto the parent manifest carries no probe_hint of its own —
    * serve the MAX of the chosen subs' calibrated hints instead, the
    * hnsw_part convention (gatherGraphs takes max of sub sidecar
    * hints; round-12 advice). Metadata-only (manifest loads); a
    * missing/hint-less sub contributes nothing, and an empty result
    * falls back to the fixed floor like any uncalibrated artifact. */
  private def ivfPartSubHint(name: String,
      m: IndexCatalog.Manifest): Option[Int] = {
    val hints = for {
      (_, values) <- partParams(m).toSeq
      v <- values
      sub <- IndexCatalog.load(spark, PartitionedIndex.subName(name, v))
      h <- sub.params.get("probe_hint").flatMap(_.toIntOption)
    } yield h
    hints.maxOption
  }

  /** Marker to stop the rule re-matching its own replacement. */
  private val RewrittenTag = org.apache.spark.sql.catalyst.trees.TreeNodeTag[Boolean]("graft.ann.rewritten")

  private def filteredOverfetch: Int =
    spark.conf.get("spark.graft.ann.filteredOverfetch", "4").toInt

  /** Sampling-based selectivity guard for the filtered arm (round 10):
    * when the dense artifact carries a `_sample.bin` sidecar, the
    * predicate is evaluated on it driver-side and the candidate breadth
    * sized to the measured selectivity — hyper-selective predicates
    * fall back to the unrewritten pre-filter exact plan instead of the
    * underfilling fixed-breadth fetch (the reference's amcostestimate
    * use-the-index-or-don't decision, src/index/am.rs:105-133).
    * Unparseable conf values resolve to the default, never an
    * optimizer-rule throw. */
  private def filteredAdaptive: Boolean =
    spark.conf.get("spark.graft.ann.filteredAdaptive", "true")
      .toBooleanOption.getOrElse(true)

  /** Cap on the adaptive candidate fetch: beyond this the one-shot
    * candidate set stops being "small" (it is broadcast), and the
    * unrewritten pre-filter plan — one corpus scan, provably exact —
    * is the better access path. */
  private def filteredMaxCandidates: Int =
    spark.conf.get("spark.graft.ann.filteredMaxCandidates", "16384")
      .toIntOption.getOrElse(16384)

  /** Candidates needed so the breadth-kr fetch plausibly holds k
    * predicate survivors: 2k / (Wilson lower bound on selectivity),
    * i.e. conservative on BOTH factors. Long.MaxValue = no credible
    * lower bound (zero sample matches) — the caller treats it as
    * "pre-filter wins". */
  private def neededCandidates(k: Int, m: Long, n: Long): Long = {
    val sLo = SampleSidecar.wilsonLower(m, n)
    if (m == 0) Long.MaxValue else candidatesFor(k, sLo)
  }

  /** 2k over a selectivity lower bound; Long.MaxValue when the bound is
    * not positive. */
  private def candidatesFor(k: Int, selLo: Double): Long =
    if (selLo <= 0.0) Long.MaxValue else math.ceil(2.0 * k / selLo).toLong

  /** Probe escalation of the filtered IVF scans (round 10): widen `base`
    * probed lists of `nlist` so the expected predicate survivors in the
    * probed lists cover k, from a sample estimate (m matches of n sampled
    * rows, `total` rows). Survivors are assumed list-uniform — the
    * conservative Wilson bound absorbs the slack — and no credible bound
    * escalates to every list, where the pruned scan + filter IS the
    * exact filtered result: the IVF shapes degrade gracefully instead of
    * bailing. */
  private def escalatedProbes(k: Int, base: Long, nlist: Int)
      (est: (Long, Long, Long)): Int = {
    val (m, n, total) = est
    val need = neededCandidates(k, m, n)
    val fromNeed =
      if (need == Long.MaxValue || total <= 0) nlist.toLong
      else math.ceil(nlist.toDouble * need / total).toLong
    math.min(math.max(base, fromNeed), nlist.toLong).toInt
  }

  /** One-shot candidate breadth of the filtered graph arms: k ×
    * overfetch, widened to the `need` of a sampled (need, total) sizing.
    * None refuses the rewrite (round 10): when no credible breadth can
    * hold k survivors (need > cap, or >= the whole corpus), the untouched
    * Filter+Sort+Limit plan is the pre-filter exact scan, the access path
    * the reference's cost model would pick. */
  private def candidateBreadth(k: Int, sized: Option[(Long, Long)]): Option[Int] = {
    val baseKr = math.min(k.toLong * math.max(filteredOverfetch, 2),
      Int.MaxValue.toLong)
    sized match {
      case Some((need, total)) =>
        if (need > filteredMaxCandidates || need >= total) None
        else Some(math.min(math.max(baseKr, need), Int.MaxValue.toLong).toInt)
      case None => Some(baseKr.toInt)
    }
  }

  /** ef resolution (round 17, the nprobe=auto discipline applied to
    * beams): an EXPLICIT conf — either spelling, or the pgvector GUC
    * alias in compat mode — always wins; with the conf UNSET the
    * artifact's calibrated `ef_hint` raises the 100 floor
    * (max(100, hint)). Manifests without a hint (parents, coded,
    * pre-efcal artifacts) resolve to the former fixed 100, so easy
    * corpora serve exactly as before — only artifacts whose build
    * MEASURED a beam-recall shortfall (the 768-dim concentration
    * regime) widen by default. */
  private def hnswEfSearch(m: IndexCatalog.Manifest): Int =
    graft.index.Gucs.alias(spark, "spark.graft.hnsw.ef_search")
      .orElse(spark.conf.getOption("spark.graft.hnsw.efSearch")) match {
      case Some(v) if !v.trim.equalsIgnoreCase("auto") => v.trim.toInt
      case _ =>
        math.max(100, m.params.get("ef_hint").map(_.toInt).getOrElse(0))
    }

  /** HNSW search-time tunables (the pgvector spelling wins only in
    * compatibility mode — the GUC alias convention of
    * [[graft.index.Gucs.alias]], compact_var.slt). `spark.graft.hnsw.exact`
    * routes the rewrite to the provable flat scan of the artifact — the
    * ef=∞ analog that exact-mode queries rely on. */
  private def hnswExact: Boolean =
    spark.conf.get("spark.graft.hnsw.exact", "false").toBoolean

  /** Routed HNSW-join breadth (round 8): >0 walks only the top-g graphs
    * per query via the spatial routing sidecar — the HNSW-join nprobe.
    * DEFAULT "auto" (round 9): resolve g = ⌈√G⌉ (floor 2) from the
    * artifact's graph count whenever a complete sidecar exists
    * ([[graft.operators.Hnsw.autoProbeGraphs]]) — the default path must
    * be the routed one, matching the reference's own approximate
    * defaults (nprobe=10/ef_search=100, base/src/index.rs:558-563).
    * "0" walks every graph; exact mode always does; a missing/partial
    * sidecar falls back to all-graphs either way. */
  private def hnswJoinProbe: Int =
    probeConf("spark.graft.hnsw.join.probe")

  /** Routed SCALAR search breadth: same sidecar, ranked driver-side. */
  private def hnswProbe: Int =
    probeConf("spark.graft.hnsw.probe")

  private def probeConf(key: String): Int =
    spark.conf.get(key, "auto") match {
      case "auto" => Hnsw.AutoProbe
      // unparseable values resolve to AutoProbe instead of throwing from
      // inside the optimizer rule (drift bails, never errors)
      case v => v.toIntOption.getOrElse(Hnsw.AutoProbe)
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    // restart durability: persisted SQL-created indexes re-register on
    // first use in a fresh driver (fingerprint-cached, metadata-only)
    graft.index.SqlDdl.sweepRegistrations(spark)
    plan.transformDown {
      case gl @ GlobalLimit(Literal(k: Int, _),
          LocalLimit(_, s @ Sort(order, true, p @ Project(projList, child), _)))
          if gl.getTagValue(RewrittenTag).isEmpty =>
        // one arm dispatches both shapes: a Filter child is the filtered
        // ANN form (VBASE's flagship), a bare relation the plain top-k
        tagged(child match {
          case Filter(cond, rel) => matchFilteredTopK(k, order, projList, cond, rel)
          case rel => matchAnnTopK(k, order, projList, rel)
        }, gl)
      // INLINE-sort top-k (round 13): `SELECT id FROM t ORDER BY
      // val <-> '[...]' LIMIT k` — the reference's verbatim spelling
      // (vector.slt:1-40) projects NO dist column, so the analyzer
      // leaves the distance expression inline in the SortOrder under a
      // pruning Project. Rewrites when the projection is exactly the
      // registered id column; the replacement drops the dist column
      // after the (already sorted+limited) index search.
      case gl @ GlobalLimit(Literal(k: Int, _), LocalLimit(_,
          Project(outList,
            Sort(Seq(SortOrder(distExpr, Ascending, _, _)), true, inner, _))))
          if gl.getTagValue(RewrittenTag).isEmpty =>
        tagged(matchInlineTopK(k, distExpr, outList, inner), gl)
      // sphere predicate (strategy-2 "FOR SEARCH") pushdown: EXACT —
      // triangle-inequality list pruning + the same filter on top
      case p @ Project(projList, f @ Filter(cond, rel))
          if f.getTagValue(RewrittenTag).isEmpty =>
        matchRange(cond, rel) match {
          case Some(newChild) =>
            val nf = Filter(cond, newChild)
            nf.setTagValue(RewrittenTag, true)
            Project(projList, nf)
          case None => matchRangeHnsw(projList, cond, rel)
            .orElse(matchTypedRange(projList, cond, rel)).getOrElse(p)
        }
      // table-valued sphere JOIN: dist(corpus.vec, queries.vec) < r as a
      // join condition — the declarative spelling of KnnJoin.rangeJoin.
      // Without the rewrite this plans as a broadcast-nested-loop cross
      // product; with it, per-row codegen list selection + an equi-join
      // on list_id. EXACT at any radius (sound lower-bound pruning).
      case p @ Project(projList, j: Join)
          if j.getTagValue(RewrittenTag).isEmpty =>
        tagged(matchRangeJoin(projList, j), p)
      // table-valued KNN JOIN: the brute-force per-query top-k spelling
      // (cross join + row_number() over (partition by qid order by dist)
      // <= k) rewrites onto the probed list join — approximate at
      // nprobe < nlist, exact at nprobe = nlist, the same contract as
      // the scalar top-k pushdown.
      case f @ Filter(cond, w: Window)
          if f.getTagValue(RewrittenTag).isEmpty =>
        tagged(matchKnnJoinWindow(cond, w), f)
    }
  }

  /** A replacement, marked so the rule does not re-match it; `orig`
    * when the arm declined. */
  private def tagged(rewritten: Option[LogicalPlan],
      orig: LogicalPlan): LogicalPlan = rewritten match {
    case Some(p) =>
      p.setTagValue(RewrittenTag, true)
      p
    case None => orig
  }

  /** A relation leaf the arms rewrite over: a file scan, or the cache
    * manager's InMemoryRelation substitution for one (which
    * [[AnnPushdown.pathsOf]] sees through). */
  private def isScanLeaf(rel: LogicalPlan): Boolean =
    rel.isInstanceOf[LogicalRelation] || rel.isInstanceOf[InMemoryRelation]

  /** A plan's output attributes by name (a later duplicate wins). */
  private def byName(plan: LogicalPlan): Map[String, Attribute] =
    plan.output.map(a => a.name -> a).toMap

  /** The replacement's (id, dist) output aliased back to the original
    * exprIds, so parent operators resolve unchanged. */
  private def reAlias(plan: LogicalPlan, newId: Expression,
      newDist: Expression, id: NamedExpression,
      dist: NamedExpression): LogicalPlan =
    Project(Seq(
      Alias(newId, id.name)(exprId = id.exprId),
      Alias(newDist, dist.name)(exprId = dist.exprId)), plan)

  /** [[reAlias]] over a search whose output is exactly (id, dist). */
  private def searchOutput(searchDf: DataFrame, id: NamedExpression,
      dist: NamedExpression): Option[LogicalPlan] = {
    val newPlan = searchDf.queryExecution.analyzed
    val Seq(newId, newDist) = newPlan.output
    Some(reAlias(newPlan, newId, newDist, id, dist))
  }

  /** [[reAlias]] over a plan with `idCol` and "dist" output columns. */
  private def namedOutput(newPlan: LogicalPlan, idCol: String,
      id: NamedExpression, dist: NamedExpression): Option[LogicalPlan] = {
    val cols = byName(newPlan)
    Some(reAlias(newPlan, cols(idCol), cols("dist"), id, dist))
  }

  /** The projected id attribute, when the projection is exactly
    * {id, dist}: the replacement produces only those two, and anything
    * else would be silently dropped or left dangling for parents. */
  private def exactIdDist(projList: Seq[NamedExpression], idCol: String,
      dist: NamedExpression): Option[AttributeReference] =
    projList.collectFirst {
      case a: AttributeReference if a.name == idCol => a
    }.filter(id => projList.forall(ne =>
      ne.exprId == id.exprId || ne.exprId == dist.exprId))

  /** `e` with every attribute replaced by the same-named output of
    * `plan`; None when `plan` lacks one. */
  private def remapByName(e: Expression, plan: LogicalPlan): Option[Expression] = {
    val cols = byName(plan)
    var ok = true
    val out = e.transformUp {
      case a: AttributeReference => cols.getOrElse(a.name, { ok = false; a })
    }
    if (ok) Some(out) else None
  }

  private def ivfModel(m: IndexCatalog.Manifest): IvfIndex.Model =
    IvfIndex.Model(m.metric, m.centroids, m.floats.get("radii").orNull)

  /** `spark.graft.ann.nprobe` for `idx`, clamped to [1, nlist]. */
  private def clampedProbes(idx: IndexedTable, model: IvfIndex.Model): Int =
    math.min(math.max(nprobeFor(idx), 1), math.max(model.nlist, 1))

  /** The query a dense graph or IVF artifact scores against: cos
    * artifacts are normalize-at-build, so they take the normalized query
    * (and report 1 - dot, the cos-distance convention). */
  private def normalizedFor(metric: String, q: Array[Float]): Array[Float] =
    if (metric == "cos") IvfIndex.Kernels.normalize(q) else q

  private val denseMetrics = Set("l2", "cos", "dot")

  /** A family-qualified metric key ("bvec:dot") as its payload and
    * metric; None for the dense keys. */
  private def typedKey(metricKey: String): Option[(Payload, String)] =
    metricKey.split(':') match {
      case Array(Payload(p), m) => Some((p, m))
      case _ => None
    }

  /** The typed sphere-range keys: each payload's l2-family build metric
    * and dot, the metrics whose list bounds the radii support. */
  private def typedRangeKey(metricKey: String): Boolean =
    typedKey(metricKey).exists { case (p, m) =>
      m == p.buildMetric || m == "dot"
    }

  /** The first sphere-range conjunct `dist(vec, q) < r` whose distance
    * is one of [[distOf]]'s shapes under a metric key `keys` accepts:
    * (conjunct, vec, query, r, key). */
  private def rangeConjunct(conj: Seq[Expression], keys: String => Boolean)
      : Option[(LessThan, AttributeReference, Literal, Double, String)] =
    conj.iterator.flatMap {
      case lt @ LessThan(d, Literal(r: Double, _)) =>
        distOf(d).collect { case (v, q, m) if keys(m) => (lt, v, q, r, m) }
      case _ => None
    }.nextOption()

  /** Filter shape: dist(vecAttr, queryLit) < radiusLit over an indexed
    * relation, for l2 / cos / dot (the strategy-2 "FOR SEARCH" members
    * of each opclass). Replacement keeps the exact filter; only the scan
    * shrinks via the metric's triangle/Cauchy-Schwarz list bound.
    * l2 and dot artifacts store raw vectors — identical results by
    * construction; cos artifacts store normalize-at-build vectors, so the
    * reapplied filter evaluates on those (the same normalized-replay
    * convention as the cos top-k pushdown). */
  private def matchRange(cond: Expression, rel: LogicalPlan): Option[LogicalPlan] = {
    if (!isScanLeaf(rel)) return None
    val (_, vecAttr, qLit, r2, metric) =
      rangeConjunct(splitConjunctivePredicates(cond), denseMetrics)
        .getOrElse(return None)
    val idx = lookup(pathsOf(rel), metric).getOrElse(return None)
    if (vecAttr.name != idx.vecCol) return None
    val manifest = IndexCatalog.load(spark, idx.indexName)
      .getOrElse(return None)
    if (manifest.kind != "ivf" || manifest.metric != metric ||
        !manifest.floats.contains("radii"))
      return None
    val model = ivfModel(manifest)
    val dataDir = IndexCatalog.dataDir(spark, idx.indexName)
    val radii = manifest.floats("radii")
    val q = floatsOf(qLit)
    val scan = metric match {
      case "l2" => IvfIndex.rangeScan(spark, dataDir, model, radii, q, r2)
      case "cos" => IvfIndex.rangeScanCos(spark, dataDir, model, radii, q, r2)
      case "dot" => IvfIndex.rangeScanDot(spark, dataDir, model, radii, q, r2)
    }
    val newPlan = scan.queryExecution.analyzed
    // remap old relation attrs to the new scan's outputs by name
    val cols = byName(newPlan)
    val remap = rel.output.flatMap { old =>
      cols.get(old.name).map(n => Alias(n, old.name)(exprId = old.exprId))
    }
    if (remap.length != rel.output.length) return None
    Some(Project(remap, newPlan))
  }

  /** Table-valued sphere JOIN — `queries JOIN corpus ON
    * dist(corpus.vec, queries.vec) < r` where `corpus` carries a dense
    * IVF registration with radii stats. The unrewritten plan is a
    * nested-loop cross product (the join condition has no equi-key);
    * the replacement is the [[graft.operators.KnnJoin.rangeJoin]] shape:
    * each query row derives its reachable lists with ONE codegen
    * expression (sound triangle / Cauchy-Schwarz lower bounds — never
    * prunes a list containing an in-range row, so the rewrite is EXACT
    * at any radius), explodes to (query, list_id), equi-joins the
    * list-partitioned artifact, and re-applies the exact predicate.
    * Unlike the operator entry point, the rule never collects the
    * probed-list union (an optimizer rule must not launch jobs): the
    * static INSET prune is dropped and partition pruning is left to the
    * list_id equi-join (+ DPP when it fires). Guards mirror the other
    * arms: the indexed side strips to its relation through
    * attribute-only Projects / IsNotNull-only Filters (its artifact
    * carries only id + vec, so any other corpus predicate bails), the
    * sole non-IsNotNull join conjunct is the range predicate, and the
    * projection is query-side columns + the corpus id + the dist alias.
    * Cos follows normalize-at-build: the reapplied predicate evaluates
    * on the artifact's normalized vectors with the query side normalized
    * in-plan (the normalized-replay convention of [[matchRange]]). */
  private def matchRangeJoin(projList: Seq[NamedExpression], j: Join)
      : Option[LogicalPlan] = {
    if (j.joinType != org.apache.spark.sql.catalyst.plans.Inner &&
        j.joinType != org.apache.spark.sql.catalyst.plans.Cross) return None
    val cond = j.condition.getOrElse(return None)
    val nonNull = splitConjunctivePredicates(cond)
      .filterNot(_.isInstanceOf[IsNotNull])
    if (nonNull.length != 1) return None
    val (distExpr, a, b, r, metric) = nonNull.head match {
      case LessThan(de, Literal(rr: Double, _)) => joinDistPieces(de) match {
        case Some((x, y, m)) if denseMetrics(m) => (de, x, y, rr, m)
        case _ => return None
      }
      case _ => return None
    }
    // corpus side preference: right (the `queries.join(corpus, …)`
    // spelling), then left
    val candidates = Seq((j.right, j.left), (j.left, j.right))
    for ((iSide, qSide) <- candidates) {
      val pieces = for {
        (idx, manifest, qAttr, extras) <- joinCorpus(iSide, qSide, a, b,
          metric) { m =>
          m.metric == metric &&
            ((m.kind == "ivf" && m.floats.contains("radii")) ||
              m.kind == "hnsw" || m.kind == "hnsw_part" || m.kind == "ivf_part")
        }
        // dist alias and corpus id are OPTIONAL in the projection
        // (round 8): an aggregate on top — the declarative
        // decontamination shape, `range join → groupBy(qid)` — prunes
        // the projection down to the columns the agg needs, often just
        // query-side attrs. The range predicate itself lives in the
        // JOIN condition, so the rewrite needs neither; multiplicity is
        // preserved (same inner join, pruned) so aggregates above stay
        // correct. Every projected column must still be accounted for.
        distAliasOpt = projList.collectFirst {
          case al @ Alias(child, _) if child.semanticEquals(distExpr) => al
        }
        idAttrOpt = projList.collectFirst {
          case at: AttributeReference
              if iSide.outputSet.contains(at) && at.name == idx.idCol => at
        }
        if projList.forall {
          case at: AttributeReference =>
            idAttrOpt.exists(_.exprId == at.exprId) ||
              qSide.outputSet.contains(at)
          case al: Alias => distAliasOpt.exists(_.exprId == al.exprId)
          case _ => false
        }
        // internal working columns must not collide with query-side names
        if !qSide.output.map(_.name).exists(Set("__graft_qv",
          "__graft_list", "__graft_id", "__graft_dist"))
      } yield (idx, manifest, distAliasOpt, idAttrOpt, qAttr, extras)
      pieces match {
        case Some((idx, manifest, distAliasOpt, idAttrOpt, qAttr, extras)) =>
          if (manifest.kind == "ivf_part") {
            // IVF parent dispatch (round 9): per-row rangeLists against
            // the combined per-list radii — sound bounds, EXACT at any
            // radius like the dense IVF arm. rangeJoinIvf emits only
            // (qid, id, dist), so the graph branch's tight projection
            // contract applies (qid keeps its own type); extras must be
            // partition-column literals, drift/dropped-sub bail via
            // partitionChoice. strict=true replays the spelling's `<`.
            return rangeJoinTail(projList, distAliasOpt, idAttrOpt, qSide,
                idx.idCol, longQid = false) { qid =>
              ivfPartChoice(idx.indexName, manifest, extras, idx.vecCol).map {
                case (partCol, chosen, corpusFilter) =>
                  val out = PartitionedIndex.rangeJoinIvf(spark,
                    idx.indexName, manifest.source, partCol, idx.idCol,
                    idx.vecCol, Shims.ofRows(spark, qSide), qid, qAttr.name,
                    r, strict = true, values = Some(chosen),
                    corpusFilter = corpusFilter)
                  stripDpp(out.queryExecution.optimizedPlan)
              }
            }
          }
          if (manifest.kind == "hnsw" || manifest.kind == "hnsw_part") {
            // graph-kind dispatch — Hnsw.rangeJoin flat-scans the
            // resident payloads per query partition and emits only
            // (qid, id, dist), so the projection must be exactly
            // {qid, id, dist} with a single long query-side qid (the
            // window-arm HNSW convention). Exact at any radius — the
            // partitioned parent unions its sub-indexes' graphs under
            // the same sound routing bounds, so it stays exact too;
            // corpus-side extras must be partition-column literal
            // constraints and layout drift bails (partitionChoice).
            return rangeJoinTail(projList, distAliasOpt, idAttrOpt, qSide,
                idx.idCol, longQid = true) { qid =>
              val out =
                if (manifest.kind == "hnsw_part")
                  partitionChoice(idx.indexName, manifest, extras).map {
                    case (partCol, chosen) =>
                      PartitionedIndex.rangeJoinHnsw(spark, idx.indexName,
                        manifest.source, partCol, idx.idCol,
                        graphQueries(qSide, qAttr, metric), qid, qAttr.name,
                        r, values = Some(chosen))
                  }
                else Some(Hnsw.rangeJoin(spark,
                  IndexCatalog.dataDir(spark, idx.indexName), idx.idCol,
                  graphQueries(qSide, qAttr, metric), qid, qAttr.name, r))
              out.map(_.queryExecution.optimizedPlan)
            }
          }
          val model = ivfModel(manifest)
          val dataDir = IndexCatalog.dataDir(spark, idx.indexName)
          // range fan-out is per-row, bounded by nlist
          val (scanDf, joined, distC) = denseIvfJoin(qSide, qAttr, metric,
              idx.vecCol, dataDir, extras, math.max(model.nlist, 1))(
            KnnJoin.rangeLists(_, model, r)).getOrElse(return None)
          val result = joined
            .select(qSide.output.map(Shims.column) ++ Seq(
              scanDf(idx.idCol).as("__graft_id"),
              distC.as("__graft_dist")): _*)
            .filter(F.col("__graft_dist") < F.lit(r))
          // optimizedPlan, not analyzed: folds the distance filter into
          // the equi-join condition (out-of-range pairs die inside the
          // join operator — the plan the operator entry point gets).
          // Re-entry on the subtree is a no-op: its join is an equi-join.
          val newPlan = result.queryExecution.optimizedPlan
          val newId = newPlan.output.find(_.name == "__graft_id")
            .getOrElse(return None)
          val newDist = newPlan.output.find(_.name == "__graft_dist")
            .getOrElse(return None)
          val outProj = projList.map {
            case at: AttributeReference
                if idAttrOpt.exists(_.exprId == at.exprId) =>
              Alias(newId, at.name)(exprId = at.exprId)
            case al: Alias if distAliasOpt.exists(_.exprId == al.exprId) =>
              Alias(newDist, al.name)(exprId = al.exprId)
            case ne => ne
          }
          return Some(Project(outProj, newPlan))
        case None =>
      }
    }
    None
  }

  /** The tail of the range-join branches whose operator emits only
    * (qid, id, dist): the projection must be exactly {qid, id, dist}
    * with the dist alias and the corpus id present, the remaining
    * attribute query-side (LongType when `longQid`: the operator casts
    * it), the query-side names unique and the id column not named qid.
    * `join` gets the qid column's name and returns the replacement plan,
    * whose columns re-alias onto the projection's exprIds. */
  private def rangeJoinTail(projList: Seq[NamedExpression],
      distAliasOpt: Option[Alias], idAttrOpt: Option[AttributeReference],
      qSide: LogicalPlan, idCol: String, longQid: Boolean)
      (join: String => Option[LogicalPlan]): Option[LogicalPlan] = {
    val distAlias = distAliasOpt.getOrElse(return None)
    val idAttr = idAttrOpt.getOrElse(return None)
    val qidAttr = projList.collectFirst {
      case at: AttributeReference
          if at.exprId != idAttr.exprId && qSide.outputSet.contains(at) => at
    }.getOrElse(return None)
    if (projList.length != 3) return None
    if (longQid && qidAttr.dataType != org.apache.spark.sql.types.LongType)
      return None
    val qNames = qSide.output.map(_.name)
    if (qNames.distinct.length != qNames.length) return None
    if (idCol == "qid") return None
    val newPlan = join(qidAttr.name).getOrElse(return None)
    val cols = byName(newPlan)
    Some(Project(projList.map {
      case at: AttributeReference if at.exprId == idAttr.exprId =>
        Alias(cols(idCol), idAttr.name)(exprId = idAttr.exprId)
      case al: Alias if al.exprId == distAlias.exprId =>
        Alias(cols("dist"), distAlias.name)(exprId = distAlias.exprId)
      case ne => Alias(cols("qid"), ne.name)(exprId = ne.exprId)
    }, newPlan))
  }

  /** The query side of a graph join: cos graphs are normalize-at-build,
    * so the query column normalizes in-plan before the join. */
  private def graphQueries(qSide: LogicalPlan, qAttr: AttributeReference,
      metric: String): DataFrame = {
    val qdf = Shims.ofRows(spark, qSide)
    if (metric == "cos") qdf.withColumn(qAttr.name,
      graft.functions.vectorNormalize(Shims.column(qAttr)))
    else qdf
  }

  /** The dense-IVF join body shared by the range and KNN join arms. The
    * query side (finite vectors only; cos normalized in-plan) explodes
    * to one row per list `lists` selects from its vector; the corpus
    * predicate remaps by name onto the artifact scan (dense IVF rows are
    * source-row copies — the matchFilteredTopK convention) and pushes
    * into it; the two join on list_id. Returns (artifact scan, joined
    * rows, the metric's distance column); None when the artifact lacks
    * a predicate column. */
  private def denseIvfJoin(qSide: LogicalPlan, qAttr: AttributeReference,
      metric: String, vecCol: String, dataDir: String,
      extras: Seq[Expression], fanout: Int)(lists: Column => Column)
      : Option[(DataFrame, DataFrame, Column)] = {
    val qdf = Shims.ofRows(spark, qSide)
    val qCol = Shims.column(qAttr)
    val qv = if (metric == "cos") graft.functions.vectorNormalize(qCol)
             else qCol
    val probed = qdf
      .filter(qCol.isNotNull && graft.functions.vectorIsFinite(qCol))
      .withColumn("__graft_qv", qv)
      .withColumn("__graft_list", F.explode(lists(F.col("__graft_qv"))))
    val scanDf = graft.ParquetCache.read(spark, dataDir)
    val scanPlan0 = scanDf.queryExecution.analyzed
    val scanF =
      if (extras.isEmpty) scanDf
      else Shims.ofRows(spark, Filter(
        remapByName(extras.reduce(And), scanPlan0).getOrElse(return None),
        scanPlan0))
    // broadcast the probed query side when it provably fits (round 18,
    // at most `fanout` rows per query): the planner otherwise builds on
    // the CORPUS scan and the distance kernels run at the query side's
    // parallelism (measured: one 0.57 s task in q_operator_sql_knn_join
    // on 32 cores)
    val joined = scanF.join(
      KnnJoin.broadcastQueriesIfSmall(qdf, probed, fanout),
      scanDf("list_id") === probed("__graft_list"))
    val qvCol = F.col("__graft_qv")
    val distC = metric match {
      case "l2" => graft.functions.l2sq(scanDf(vecCol), qvCol)
      case "dot" => graft.functions.negdot(scanDf(vecCol), qvCol)
      case "cos" => graft.functions.negdot(scanDf(vecCol), qvCol) + F.lit(1.0)
    }
    Some((scanDf, joined, distC))
  }

  /** Strip a join side down to its relation through attribute-only
    * Projects and Filters, ACCUMULATING the non-IsNotNull filter
    * conjuncts — the corpus-side predicate of a FILTERED join. The
    * caller decides whether extras are admissible: dense IVF artifacts
    * store full source rows, so the predicate remaps onto the pruned
    * scan (the matchFilteredTopK convention); graph and typed payloads
    * carry only id + vec/codes, so any extra conjunct bails there. */
  private def stripJoinSide(plan: LogicalPlan)
      : Option[(LogicalPlan, Seq[Expression])] = plan match {
    case rel if isScanLeaf(rel) => Some((rel, Nil))
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      stripJoinSide(child)
    case Filter(c, child) =>
      stripJoinSide(child).map { case (rel, extras) =>
        (rel, splitConjunctivePredicates(c) ++ extras)
      }
    case _ => None
  }

  /** The corpus side of a join arm: `iSide` strips to a relation
    * registered under `metric` whose vector column is one of the
    * distance's attributes `a`/`b`, the other being a query-side
    * attribute, and whose manifest `kindOk` accepts. A corpus-side
    * predicate (a FILTERED join) is admissible only on dense IVF
    * artifacts, which store full source rows, and must not touch the
    * vector column itself (cos artifacts store normalize-at-build
    * vectors — a vec predicate would evaluate on different values) — or
    * on a partitioned parent (hnsw_part / ivf_part), where
    * partitionChoice later requires partition-column literals only.
    * Returns (idx, manifest, qAttr, extras). */
  private def joinCorpus(iSide: LogicalPlan, qSide: LogicalPlan,
      a: AttributeReference, b: AttributeReference, metric: String)
      (kindOk: IndexCatalog.Manifest => Boolean)
      : Option[(IndexedTable, IndexCatalog.Manifest, AttributeReference,
        Seq[Expression])] =
    for {
      (rel, extras0) <- stripJoinSide(iSide)
      vecAttr <- Seq(a, b).find(iSide.outputSet.contains)
      qAttr <- Seq(a, b).find(x => x.exprId != vecAttr.exprId &&
        qSide.outputSet.contains(x))
      idx <- lookup(pathsOf(rel), metric)
      if vecAttr.name == idx.vecCol
      extras = joinExtras(extras0, idx.vecCol)
      manifest <- IndexCatalog.load(spark, idx.indexName)
      if kindOk(manifest)
      if extras.isEmpty || (manifest.kind == "ivf" &&
        !extras.exists(_.references.exists(_.name == idx.vecCol))) ||
        manifest.kind == "hnsw_part" || manifest.kind == "ivf_part"
    } yield (idx, manifest, qAttr, extras)

  /** Corpus-side extras with the SAFE IsNotNull conjuncts dropped: the
    * optimizer infers `IsNotNull(vecCol)` from the join's distance
    * expression (artifacts exclude null vectors at build — inner-join
    * semantics), and `IsNotNull(a)` is implied by any other kept
    * conjunct referencing `a`. A STANDALONE not-null on some other
    * column is a selective user predicate and must stay — dropping it
    * would return rows the original query excluded. */
  private def joinExtras(extras: Seq[Expression],
      vecCol: String): Seq[Expression] = {
    val (nn, rest) = extras.partition(_.isInstanceOf[IsNotNull])
    rest ++ nn.filter {
      case IsNotNull(a: AttributeReference) =>
        a.name != vecCol &&
          !rest.exists(_.references.exists(_.exprId == a.exprId))
      case _ => true
    }
  }

  /** Join-shape distance spelling: both sides ATTRIBUTES (table vs
    * table), dense or dual-wrapped typed — the table-valued analog of
    * [[findDistAlias]]'s literal-query patterns. Returns
    * (sideA, sideB, metricKey); which side is the indexed column is
    * resolved by the caller against the join children. */
  private def joinDistPieces(e: Expression)
      : Option[(AttributeReference, AttributeReference, String)] = e match {
    case L2sqDistance(x: AttributeReference, y: AttributeReference) =>
      Some((x, y, "l2"))
    case CosDistance(x: AttributeReference, y: AttributeReference) =>
      Some((x, y, "cos"))
    case NegDotDistance(x: AttributeReference, y: AttributeReference) =>
      Some((x, y, "dot"))
    case BVecHamming(Binarize(x: AttributeReference),
        Binarize(y: AttributeReference)) => Some((x, y, "bvec:hamming"))
    case BVecJaccard(Binarize(x: AttributeReference),
        Binarize(y: AttributeReference)) => Some((x, y, "bvec:jaccard"))
    case BVecNegDot(Binarize(x: AttributeReference),
        Binarize(y: AttributeReference)) => Some((x, y, "bvec:dot"))
    case F16L2sq(ToF16Bits(x: AttributeReference),
        ToF16Bits(y: AttributeReference)) => Some((x, y, "f16:l2"))
    case F16NegDot(ToF16Bits(x: AttributeReference),
        ToF16Bits(y: AttributeReference)) => Some((x, y, "f16:dot"))
    case F16CosDist(ToF16Bits(x: AttributeReference),
        ToF16Bits(y: AttributeReference)) => Some((x, y, "f16:cos"))
    case SVecL2sq(SVecFromDense(x: AttributeReference),
        SVecFromDense(y: AttributeReference)) => Some((x, y, "svec:l2"))
    case SVecNegDot(SVecFromDense(x: AttributeReference),
        SVecFromDense(y: AttributeReference)) => Some((x, y, "svec:dot"))
    case SVecCosDist(SVecFromDense(x: AttributeReference),
        SVecFromDense(y: AttributeReference)) => Some((x, y, "svec:cos"))
    case _ => None
  }

  /** Expected manifest kind per metric-key family. Dense keys accept
    * ivf or hnsw (the kind dispatch); typed keys name their compact
    * artifact kind. */
  private def expectedJoinKinds(metricKey: String): Set[String] =
    typedKey(metricKey).fold(Set("ivf", "hnsw", "hnsw_part", "ivf_part"))(
      pm => Set(pm._1.kind, "hnsw"))

  /** Table-valued KNN JOIN — the brute-force spelling
    *
    *   queries CROSS JOIN corpus
    *     → project (qid…, corpus.id, dist(corpus.vec, queries.vec) AS d)
    *     → row_number() OVER (PARTITION BY qid ORDER BY d[, id]) AS rn
    *     → WHERE rn <= k
    *
    * over a corpus with a dense IVF registration rewrites onto the
    * [[graft.operators.KnnJoin.join]] shape: per-row codegen probe-list
    * selection (`spark.graft.ann.nprobe` lists, the scalar top-k
    * pushdown's GUC), explode to (query, list_id), equi-join against the
    * list-partitioned artifact, and the SAME window re-applied over the
    * joined candidates. Approximate at nprobe < nlist, exact at
    * nprobe = nlist — the reference's contract, identical to the scalar
    * arm. Guards: the join below the window is condition-less
    * (Inner/Cross with None), its corpus side strips to the registered
    * relation through attribute-only Projects / IsNotNull-only Filters,
    * the single window expression is row_number() partitioned by
    * query-side columns and ordered by the dist alias (ascending, with
    * an optional corpus-id tie-break — the replacement replays exactly
    * the sort keys the user wrote), and the rank filter is the sole
    * non-IsNotNull conjunct. Cos follows normalize-at-build, the
    * normalized-replay convention. */
  private def matchKnnJoinWindow(cond: Expression, w: Window)
      : Option[LogicalPlan] = {
    // exactly one window expression: row_number() over (ps, os)
    val rnAlias = w.windowExpressions match {
      case Seq(al @ Alias(WindowExpression(_: RowNumber, _), _)) => al
      case _ => return None
    }
    // rank filter: the sole non-IsNotNull conjunct compares rn to k
    val nonNull = splitConjunctivePredicates(cond)
      .filterNot(_.isInstanceOf[IsNotNull])
    if (nonNull.length != 1) return None
    val kLimit = nonNull.head match {
      case LessThanOrEqual(at: AttributeReference, Literal(k: Int, _))
          if at.exprId == rnAlias.exprId => k
      case LessThan(at: AttributeReference, Literal(k: Int, _))
          if at.exprId == rnAlias.exprId => k - 1
      case _ => return None
    }
    if (kLimit < 1) return None
    // below the window: an optional WindowGroupLimit (inserted by
    // InferWindowGroupLimit before this rule runs), then the projection
    // holding the dist alias over the condition-less join
    val core = w.child match {
      case wgl: WindowGroupLimit => wgl.child
      case c => c
    }
    val (projList2, j) = core match {
      case Project(pl, jj: Join) => (pl, jj)
      case _ => return None
    }
    // hard-negative mining spelling (round 8): the join may carry
    // EXACTLY the self-exclusion inequality `anchor_id != corpus_id`
    // (a WHERE between the cross join and the window pushes into the
    // join condition). The pair is validated once a side assignment is
    // chosen below; dense IVF only — the graph/typed arms delegate to
    // operators that window internally and cannot pre-filter.
    val selfExPair: Option[(AttributeReference, AttributeReference)] =
      j.condition match {
        case None => None
        case Some(Not(EqualTo(a: AttributeReference, b: AttributeReference))) =>
          Some((a, b))
        case Some(_) => return None
      }
    if (j.joinType != org.apache.spark.sql.catalyst.plans.Inner &&
        j.joinType != org.apache.spark.sql.catalyst.plans.Cross) return None
    // dist aliases: dist(vecAttr, qAttr) for an indexed metric — dense
    // or the dual-wrapped TYPED spellings (both sides attributes here,
    // so the query-side wrapper never constant-folds the way literal
    // queries do). SQL text produces TWO aliases of the same expression
    // (the projected dist plus the analyzer-extracted `_w0` the window
    // orders by), so every semantically-equal alias is collected and
    // all map to the one computed distance in the replacement.
    val distEntries = projList2.collect {
      case al: Alias if joinDistPieces(al.child).isDefined => al
    }
    if (distEntries.isEmpty) return None
    if (!distEntries.forall(_.child.semanticEquals(distEntries.head.child)))
      return None
    val distIds = distEntries.map(_.exprId).toSet
    val (vA, qA, metric) = joinDistPieces(distEntries.head.child)
      .getOrElse(return None)
    // order: dist ascending first, optional id tie-break matched below
    w.orderSpec.headOption match {
      case Some(SortOrder(at: AttributeReference, Ascending, _, _))
          if distIds.contains(at.exprId) =>
      case _ => return None
    }
    if (w.orderSpec.length > 2) return None
    for ((iSide, qSide) <- Seq((j.right, j.left), (j.left, j.right))) {
      val pieces = for {
        // dense artifacts bake the metric in; a typed artifact serves
        // every metric of its family (ranking/scoring are search-time)
        (idx, manifest, qAttr, extras) <- joinCorpus(iSide, qSide, vA, qA,
          metric) { m =>
          expectedJoinKinds(metric).contains(m.kind) &&
            (metric.contains(':') || m.metric == metric)
        }
        // the corpus-side id entry: the bare attr or an alias of it
        idEntry <- projList2.find {
          case at: AttributeReference =>
            iSide.outputSet.contains(at) && at.name == idx.idCol
          case Alias(at: AttributeReference, _) =>
            iSide.outputSet.contains(at) && at.name == idx.idCol
          case _ => false
        }
        // the self-exclusion pair, when present, must be the corpus id
        // against one query-side attribute — anything else bails
        idUnder = idEntry match {
          case at: AttributeReference => at
          case Alias(at: AttributeReference, _) => at
        }
        if selfExPair.forall { case (a, b) =>
          Seq(a, b).exists(_.exprId == idUnder.exprId) &&
            Seq(a, b).exists(x => x.exprId != idUnder.exprId &&
              qSide.outputSet.contains(x))
        }
        // everything else in the projection is query-side
        if projList2.forall { e =>
          distIds.contains(e.exprId) || (e eq idEntry) ||
            e.references.subsetOf(AttributeSet(qSide.output))
        }
        // window partitions by query-side outputs only
        if w.partitionSpec.nonEmpty && w.partitionSpec.forall {
          case at: AttributeReference => projList2.exists(e =>
            e.exprId == at.exprId && !distIds.contains(e.exprId) &&
              (e ne idEntry))
          case _ => false
        }
        // optional second sort key must be the corpus id, ascending
        if w.orderSpec.length < 2 || (w.orderSpec(1) match {
          case SortOrder(at: AttributeReference, Ascending, _, _) =>
            at.exprId == idEntry.exprId
          case _ => false
        })
        if !qSide.output.map(_.name).exists(_.startsWith("__graft"))
      } yield (idx, manifest, idEntry, idUnder, qAttr, extras)
      pieces match {
        case Some((idx, manifest, idEntry, idUnder, qAttr, extras)) =>
          // self-exclusion is replayable only where the rewrite builds
          // its own window (dense IVF below); graph/typed operators
          // window internally at k and a post-filter would underfill
          if (selfExPair.isDefined && manifest.kind != "ivf") return None
          if (metric.contains(':')) {
            // TYPED family dispatch — KnnJoin.joinTyped over the compact
            // artifact. joinTyped emits only (qid, id, dist, rn), so the
            // tight projection/window guards of the graph branch apply
            // (qid keeps its own type — joinTyped never casts it).
            // Scoring replays the original expression exactly: the
            // stored compact payload equals wrapper(col) by construction
            // (the pushdown-registration invariant), so typed rewrites
            // carry no normalized-replay caveat.
            val (p, met) = typedKey(metric).getOrElse(return None)
            val dataDir = IndexCatalog.dataDir(spark, idx.indexName)
            if (manifest.kind == "hnsw") {
              // typed opclass under the hnsw AM, table-valued (round 9):
              // dispatch onto Hnsw.knnJoinMetric over the densified
              // shared graphs — the query column densifies IN-PLAN the
              // way the family's prune view does (Payload.densifyCol);
              // the build metric walks the graphs' l2 (l2sq on 0/1
              // payloads IS hamming), the rest are distWith overrides.
              // svec l2/dot dispatch against RAW-vector graphs (the
              // scalar arm's registration-invariant rule — the CSR
              // kernels equal the dense chains exactly on raw
              // vectors); knnJoinMetric casts qid to long, so the
              // graph branch's LongType guard applies.
              return knnJoinTail(w, rnAlias, projList2, distEntries, idEntry,
                  qSide, idx.idCol, longQid = true) { qid =>
                val qdf0 = Shims.ofRows(spark, qSide)
                val qdf = Option.when(met == p.buildMetric ||
                    p.hnswOverrides(met))(p.densifyCol(Shims.column(qAttr))
                  .fold(qdf0)(qdf0.withColumn(qAttr.name, _)))
                val overrideMet = if (met == p.buildMetric) "l2" else met
                qdf.map { q =>
                  Hnsw.knnJoinMetric(spark, dataDir, idx.idCol, q, qid,
                    qAttr.name, k = kLimit, metric = overrideMet,
                    efSearch = math.max(hnswEfSearch(manifest), kLimit),
                    exact = hnswExact, probeGraphs = hnswJoinProbe)
                    .queryExecution.optimizedPlan
                }
              }
            }
            return knnJoinTail(w, rnAlias, projList2, distEntries, idEntry,
                qSide, idx.idCol, longQid = false) { qid =>
              val model = ivfModel(manifest)
              val probes = clampedProbes(idx, model)
              val out = KnnJoin.joinTyped(spark, Shims.ofRows(spark, qSide),
                qid, qAttr.name, dataDir, model, idx.idCol, p,
                kLimit, probes, met)
              Some(out.queryExecution.optimizedPlan)
            }
          }
          if (manifest.kind == "ivf_part") {
            // IVF parent dispatch (round 9): the combined-model probed
            // join — one query pass over the concatenation of the chosen
            // partitions' lists, exact at nprobe >= every sub's nlist
            // (the gate's contract). knnJoinIvf emits only
            // (qid, id, dist, rn), so the graph branch's tight guards
            // apply, except qid keeps its own type (no long cast — the
            // joinTyped convention). Corpus extras must be
            // partition-column literal constraints; drift and dropped
            // sub-indexes bail via partitionChoice.
            val (partCol, chosen, corpusFilter) =
              ivfPartChoice(idx.indexName, manifest, extras, idx.vecCol)
                .getOrElse(return None)
            return knnJoinTail(w, rnAlias, projList2, distEntries, idEntry,
                qSide, idx.idCol, longQid = false) { qid =>
              val out = PartitionedIndex.knnJoinIvf(spark,
                idx.indexName, manifest.source, partCol, idx.idCol,
                idx.vecCol, Shims.ofRows(spark, qSide), qid, qAttr.name,
                k = kLimit, nprobe = math.max(nprobeFor(idx), 1),
                values = Some(chosen), corpusFilter = corpusFilter)
              Some(stripDpp(out.queryExecution.optimizedPlan))
            }
          }
          if (manifest.kind == "hnsw" || manifest.kind == "hnsw_part") {
            // graph-kind dispatch: Hnsw.knnJoin walks each query
            // partition through the executor-resident graphs and emits
            // only (qid, id, dist, rn), so the guards tighten — the
            // projection must be exactly {qid, id, dist}, the window
            // partitioned by that single long query-side attribute and
            // ordered (dist asc, id asc), knnJoin's own canonical
            // window. Cos graphs are normalize-at-build: the query
            // column normalizes in-plan before the join. The PARTITIONED
            // parent (hnsw_part) joins against the concatenation of its
            // sub-indexes' graphs; corpus-side extras must be
            // partition-column literal constraints (index-level pruning)
            // and layout drift bails — partitionChoice owns both rules.
            val choice: Option[(String, Seq[String])] =
              if (manifest.kind == "hnsw_part")
                Some(partitionChoice(idx.indexName, manifest, extras).getOrElse(return None))
              else None
            return knnJoinTail(w, rnAlias, projList2, distEntries, idEntry,
                qSide, idx.idCol, longQid = true) { qid =>
              val qdf = graphQueries(qSide, qAttr, metric)
              val efSearch = math.max(hnswEfSearch(manifest), kLimit)
              val out = choice match {
                case Some((partCol, chosen)) =>
                  PartitionedIndex.knnJoinHnsw(spark, idx.indexName,
                    manifest.source, partCol, idx.idCol, qdf, qid,
                    qAttr.name, k = kLimit, efSearch = efSearch,
                    exact = hnswExact, probeGraphs = hnswJoinProbe,
                    values = Some(chosen))
                case None =>
                  Hnsw.knnJoin(spark,
                    IndexCatalog.dataDir(spark, idx.indexName), idx.idCol,
                    qdf, qid, qAttr.name, k = kLimit, efSearch = efSearch,
                    exact = hnswExact, probeGraphs = hnswJoinProbe)
              }
              Some(out.queryExecution.optimizedPlan)
            }
          }
          val model = ivfModel(manifest)
          val dataDir = IndexCatalog.dataDir(spark, idx.indexName)
          val baseProbes = clampedProbes(idx, model)
          // FILTERED join selectivity guard (round 10): a selective
          // corpus predicate inside fixed probe lists starves the
          // per-query window top-k the same way the scalar arm's fixed
          // breadth did — escalate the probe count so expected
          // survivors in probed lists cover k (the scalar IVF arm's
          // sizing; escalation to nlist = the exact filtered join).
          // extras carry the ORIGINAL corpus attributes, which map onto
          // the sample by name; no estimate -> base behavior.
          val probes =
            if (extras.isEmpty || !filteredAdaptive) baseProbes
            else SampleSidecar.estimate(spark, dataDir, extras.reduce(And))
              .fold(baseProbes)(escalatedProbes(kLimit, baseProbes, model.nlist))
          val (scanDf, joined0, distC) = denseIvfJoin(qSide, qAttr, metric,
              idx.vecCol, dataDir, extras, probes)(
            KnnJoin.probeLists(_, model, probes)).getOrElse(return None)
          // self-exclusion replay (hard-negative mining): drop the
          // anchor's own corpus row BEFORE the window, exactly where
          // the user's filter sat — the subsequent rank is over
          // non-self rows, so rn <= k keeps the true k negatives
          val joined = selfExPair match {
            case Some((a, b)) =>
              // idUnder is the comprehension's validated binding — the
              // same attribute the guard checked the pair against
              val anchor = if (a.exprId == idUnder.exprId) b else a
              joined0.filter(Shims.column(anchor) =!= scanDf(idx.idCol))
            case None => joined0
          }
          // replay the projection with the original expressions (their
          // Alias exprIds survive), swapping dist and id for the scan's;
          // every dist alias (SQL text carries the projected dist plus
          // the analyzer's _w0 order key) maps to one computed distance
          var di = -1
          val step = joined.select(projList2.map { e =>
            if (distIds.contains(e.exprId)) {
              di += 1; distC.as(s"__graft_dist$di")
            }
            else if (e eq idEntry) scanDf(idx.idCol).as("__graft_id")
            else Shims.column(e)
          }: _*)
          val ws = org.apache.spark.sql.expressions.Window
            .partitionBy(w.partitionSpec.map(Shims.column): _*)
            .orderBy((F.col("__graft_dist0") +:
              (if (w.orderSpec.length > 1) Seq(F.col("__graft_id")) else Nil)): _*)
          val out = step
            .withColumn("__graft_rn", F.row_number().over(ws))
            .filter(F.col("__graft_rn") <= F.lit(kLimit))
          // optimizedPlan so InferWindowGroupLimit (which already ran on
          // the outer query) re-fires for the rewritten window — the
          // map-side group limit before the qid shuffle. Re-entry on the
          // subtree bails: its join carries the list_id equality.
          val newPlan = out.queryExecution.optimizedPlan
          val cols = byName(newPlan)
          val newId = cols.getOrElse("__graft_id", return None)
          val newRn = cols.getOrElse("__graft_rn", return None)
          // filter output = window output = projList2 outputs ++ rn
          var dj = -1
          val outProj = projList2.map { e =>
            if (distIds.contains(e.exprId)) {
              dj += 1
              Alias(cols(s"__graft_dist$dj"), e.name)(exprId = e.exprId)
            }
            else if (e eq idEntry)
              Alias(newId, idEntry.name)(exprId = idEntry.exprId)
            else e.toAttribute
          } :+ Alias(newRn, rnAlias.name)(exprId = rnAlias.exprId)
          return Some(Project(outProj, newPlan))
        case None =>
      }
    }
    None
  }

  /** The tail of the KNN-join branches whose operator emits only
    * (qid, id, dist, rn): the window is partitioned by one query-side
    * qid (LongType when `longQid`: the operator casts it) and ordered by
    * (dist, id), the projection is exactly {qid, id, dist…}, the
    * query-side names are unique and the id column is not named qid.
    * `join` gets the qid column's name and returns the replacement plan;
    * every dist alias re-aliases onto its one dist column, the id entry
    * onto the id, the rest onto qid, and the rank onto rn. */
  private def knnJoinTail(w: Window, rnAlias: Alias,
      projList: Seq[NamedExpression], distEntries: Seq[Alias],
      idEntry: NamedExpression, qSide: LogicalPlan, idCol: String,
      longQid: Boolean)(join: String => Option[LogicalPlan])
      : Option[LogicalPlan] = {
    val qidAttr = w.partitionSpec match {
      case Seq(at: AttributeReference) => at
      case _ => return None
    }
    if (longQid && qidAttr.dataType != org.apache.spark.sql.types.LongType)
      return None
    if (w.orderSpec.length != 2) return None
    if (projList.length != 2 + distEntries.length) return None
    val qidSrc = projList.collectFirst {
      case at: AttributeReference if at.exprId == qidAttr.exprId => at
    }.getOrElse(return None)
    val qNames = qSide.output.map(_.name)
    if (qNames.distinct.length != qNames.length) return None
    if (idCol == "qid") return None
    val newPlan = join(qidSrc.name).getOrElse(return None)
    val cols = byName(newPlan)
    val distIds = distEntries.map(_.exprId).toSet
    Some(Project(projList.map { e =>
      if (distIds.contains(e.exprId))
        Alias(cols("dist"), e.name)(exprId = e.exprId)
      else if (e eq idEntry)
        Alias(cols(idCol), idEntry.name)(exprId = idEntry.exprId)
      else Alias(cols("qid"), e.name)(exprId = e.exprId)
    } :+ Alias(cols("rn"), rnAlias.name)(exprId = rnAlias.exprId), newPlan))
  }

  /** Sphere-range for HNSW-kind registrations — the reference's
    * strategy-2 sphere predicates work under EVERY index kind
    * (src/index/am_scan.rs:26-55; finalize.sql:745-803), so a table whose
    * only dense index is a graph must still get the rewrite. Graph
    * artifacts hold their vectors executor-resident, so the EXACT filter
    * is a resident flat scan (Hnsw.rangeSearchFlat) — no pruning stats
    * needed and no refill loop (range is not top-k). Unlike the IVF form,
    * graph payloads carry only (id, vec), so the original filter cannot
    * be reapplied wholesale; the guards therefore mirror matchTypedRange:
    * the projection must be exactly {id, dist} and the condition's only
    * non-IsNotNull conjunct the range predicate (the distance is
    * evaluated inside the scan, per-row, same kernel and accumulation
    * order as the exact-mode flat scan). Cos graphs follow
    * normalize-at-build: the rewrite hands them the normalized query and
    * rows score 1 - dot (the normalized-replay convention shared with the
    * cos top-k pushdown). */
  private def matchRangeHnsw(projList: Seq[NamedExpression],
      cond: Expression, rel: LogicalPlan): Option[LogicalPlan] = {
    if (!isScanLeaf(rel)) return None
    val nonNull = splitConjunctivePredicates(cond)
      .filterNot(_.isInstanceOf[IsNotNull])
    val (rangePred, vecAttr, qLit, r, metric) =
      rangeConjunct(nonNull, denseMetrics).getOrElse(return None)
    // conjuncts BESIDE the range predicate: none for the single-artifact
    // kind (graph payloads carry only id + vec — nothing to re-evaluate);
    // the partitioned parent additionally absorbs partition-column
    // constraints via index-level pruning (the filtered-top-k arm's rule)
    val others = nonNull.filterNot(_ eq rangePred)
    val idx = lookup(pathsOf(rel), metric).getOrElse(return None)
    if (vecAttr.name != idx.vecCol) return None
    val manifest = IndexCatalog.load(spark, idx.indexName)
      .getOrElse(return None)
    if (manifest.metric != metric) return None
    val distAlias = projList.collectFirst {
      case a @ Alias(child, _) if rangePred.left.semanticEquals(child) => a
    }.getOrElse(return None)
    val idAttr = exactIdDist(projList, idx.idCol, distAlias).getOrElse(return None)
    val qq = normalizedFor(metric, floatsOf(qLit))
    val df = manifest.kind match {
      case "hnsw" if others.isEmpty =>
        Hnsw.rangeSearchFlat(spark,
          IndexCatalog.dataDir(spark, idx.indexName), idx.idCol, qq, r)
      case "hnsw_part" =>
        // partitioned parent (partition.slt): per-partition flat scans
        // unioned — exact at any radius like the single-artifact form.
        // Extra conjuncts are admissible ONLY as partition-column
        // literal constraints (absorbed by index-level pruning, the
        // filtered-top-k arm's convention); the layout-drift guard
        // bails to the unrewritten plan when the live partition set no
        // longer matches the parent manifest.
        val (partCol, chosen) =
          partitionChoice(idx.indexName, manifest, others).getOrElse(return None)
        PartitionedIndex.rangeHnsw(spark, idx.indexName,
          manifest.source, partCol, idx.idCol, qq, r,
          values = Some(chosen))
      case _ => return None
    }
    namedOutput(df.queryExecution.analyzed, idx.idCol, idAttr, distAlias)
  }

  /** The parent manifest's (partCol, registered values) — None (bail,
    * never throw inside the rule) when a hand-edited manifest lost
    * either param. */
  private def partParams(manifest: IndexCatalog.Manifest)
      : Option[(String, Seq[String])] =
    for {
      pc <- manifest.params.get("partCol")
      vs <- manifest.params.get("values")
    } yield (pc, vs.split(',').toSeq)

  /** Partition choice for an `hnsw_part` dispatch, shared by the range,
    * window-join, and range-join arms: every extra conjunct must be a
    * partition-column literal constraint (EqualTo / In — absorbed by
    * index-level pruning); anything else bails. The layout-drift guard
    * bails when the LIVE partition set no longer matches the parent
    * manifest's value list — a partition added or removed without
    * re-ensure falls back to the unrewritten plan, never errors or
    * silently drops rows. Returns the chosen USER-space values (listing
    * unescapes Hive dir names; literals compare unescaped); None = bail,
    * including the provably-empty intersection (left to Spark). */
  private def partitionChoice(name: String,
      manifest: IndexCatalog.Manifest,
      extras: Seq[Expression]): Option[(String, Seq[String])] = {
    val (partCol, registered) = partParams(manifest).getOrElse(return None)
    val valueSets = extras.map(partValues(partCol))
    if (valueSets.exists(_.isEmpty)) return None
    if (PartitionedIndex.partitionValues(spark,
        manifest.source, partCol).toSet != registered.toSet) return None
    val chosen =
      if (valueSets.isEmpty) registered
      else registered.filter(
        valueSets.flatten.reduce(_ intersect _).contains)
    if (chosen.isEmpty) None
    else if (!subsExist(name, chosen, manifest.metric)) None
    else Some((partCol, chosen))
  }

  /** Strip DynamicPruningSubquery placeholders from a nested-OPTIMIZED
    * replacement subtree. The nested optimize may plant a DPP filter on
    * the artifact scan (the probed side is selective); the placeholder
    * is only resolvable by PHYSICAL planning, so a subtree carrying one
    * fails CheckAnalysis when the frame is re-planned from the logical
    * plan (the ofRows gate convention — the driver re-plans returned
    * frames). Dropping it is sound: DPP is an optimization, and the
    * list_id equi-join still discards unprobed lists at runtime. */
  private def stripDpp(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case _: DynamicPruningSubquery => Literal.TrueLiteral
    }

  /** The values a conjunct constrains `partCol` to, when it is a
    * literal EqualTo / In — the shape index-level pruning absorbs; None
    * for any other conjunct. */
  private def partValues(partCol: String)(e: Expression): Option[Set[String]] =
    e match {
      case EqualTo(a: AttributeReference, l: Literal) if a.name == partCol =>
        Some(Set(String.valueOf(l.value)))
      case EqualTo(l: Literal, a: AttributeReference) if a.name == partCol =>
        Some(Set(String.valueOf(l.value)))
      case In(a: AttributeReference, vs)
          if a.name == partCol && vs.forall(_.isInstanceOf[Literal]) =>
        Some(vs.map(v => String.valueOf(v.asInstanceOf[Literal].value)).toSet)
      case _ => None
    }

  private def isPartConj(partCol: String)(e: Expression): Boolean =
    partValues(partCol)(e).isDefined

  /** Partitioned-parent predicate split (round 9/10 — the Postgres
    * shape: partition pruning first, remaining quals at the
    * per-partition index scan): partition-column literal constraints
    * feed [[partitionChoice]] (index-level pruning); the REST is
    * returned for the caller to re-evaluate. Bails when a leftover
    * conjunct references the partition column in a non-literal shape
    * (the artifact rows don't carry it — it lives in the dir name) or
    * touches the vector column (the dense arm's cos normalize-at-build
    * rule). Returns (partCol, chosen values, rest). */
  private def partSplit(name: String, manifest: IndexCatalog.Manifest,
      extras: Seq[Expression], vecCol: String)
      : Option[(String, Seq[String], Seq[Expression])] = {
    val (partCol0, _) = partParams(manifest).getOrElse(return None)
    val (partConj, rest) = extras.partition(isPartConj(partCol0))
    if (rest.exists(_.references.exists(r =>
        r.name == partCol0 || r.name == vecCol))) return None
    val (pc, chosen) =
      partitionChoice(name, manifest, partConj).getOrElse(return None)
    Some((pc, chosen, rest))
  }

  /** The leftover predicate of an ivf_part dispatch as a name-resolved
    * filter over the sub-artifact scans — ivf_part sub-artifacts store
    * the partition's full source rows (the dense-IVF property), so a
    * non-partition predicate pushes into each sub scan like the dense
    * FILTERED join. It remaps onto EVERY chosen sub scan, so the guard
    * holds against the INTERSECTION of their schemas (a partition
    * re-ensured after a source schema change can drift); None when a
    * column is missing. The footer lookups are cached per artifact
    * generation — metadata-only, no job. */
  private def subScanFilter(name: String, chosen: Seq[String],
      rest: Seq[Expression]): Option[Column] = {
    val schema = chosen.map(v => AnnPushdown.subFieldNames(spark,
        PartitionedIndex.subName(name, v)))
      .reduce(_ intersect _)
    if (!rest.forall(_.references.forall(r => schema.contains(r.name))))
      return None
    Some(Shims.column(rest.map(_.transform {
      case a: AttributeReference =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(a.name)
    }).reduce(And)))
  }

  /** ivf_part extras split (round 9, FILTERED parent joins):
    * [[partSplit]], with the rest as the [[subScanFilter]] corpus
    * filter (None when there is no rest). */
  private def ivfPartChoice(name: String,
      manifest: IndexCatalog.Manifest,
      extras: Seq[Expression], vecCol: String)
      : Option[(String, Seq[String], Option[Column])] = {
    val (pc, chosen, rest) =
      partSplit(name, manifest, extras, vecCol).getOrElse(return None)
    if (rest.isEmpty) Some((pc, chosen, None))
    else subScanFilter(name, chosen, rest).map(f => (pc, chosen, Some(f)))
  }

  /** Dropped/drifted-sub-index staleness guard: a parent dispatch whose
    * chosen sub-index manifest was dropped — or re-ensured under a
    * DIFFERENT metric via manual sub-index DDL — must BAIL to the
    * unrewritten plan: the operators' hard `require`s would otherwise
    * THROW inside the optimizer rule, breaking the
    * drift-bails-never-errors convention for those staleness modes.
    * The requires stay for direct operator-API calls. */
  private def subsExist(name: String, chosen: Seq[String],
      parentMetric: String): Boolean =
    chosen.forall(v => IndexCatalog.load(spark,
        PartitionedIndex.subName(name, v))
      .exists(_.metric == parentMetric))

  /** Typed-family sphere range (the strategy-2 members of the bvector /
    * vecf16 / svector opclasses): `dist(wrapper(col), q) < r` over an
    * indexed relation — the l2-family metrics prune by the triangle
    * bound (hamming IS l2sq on 0/1 vectors; the f16/svec kernels equal
    * dense l2sq on the rounded/densified views the radii were measured
    * in), and the dot metrics by Cauchy-Schwarz in the same payload
    * space (x·q ≤ c·q + R_c·|q|). Typed artifacts store ONLY the compact
    * payload, so unlike the dense form the original filter cannot be
    * reapplied wholesale — instead both the filter and the dist
    * projection are rewritten onto the stored payload column, which by
    * construction equals wrapper(col) exactly. Guards: the projection is
    * exactly {id, dist}, and the condition's only non-IsNotNull conjunct
    * is the range predicate (artifact rows carry no other source
    * columns; IsNotNull on the vector column is vacuous — null vectors
    * are never indexed). */
  private def matchTypedRange(projList: Seq[NamedExpression],
      cond: Expression, rel: LogicalPlan): Option[LogicalPlan] = {
    if (!isScanLeaf(rel)) return None
    val nonNull = splitConjunctivePredicates(cond)
      .filterNot(_.isInstanceOf[IsNotNull])
    if (nonNull.length != 1) return None
    val (rangePred, vecAttr, qLit, r, metricKey) =
      rangeConjunct(nonNull, typedRangeKey).getOrElse(return None)
    val (p, met) = typedKey(metricKey).get
    val idx = lookup(pathsOf(rel), metricKey).getOrElse(return None)
    if (vecAttr.name != idx.vecCol) return None
    val distAlias = projList.collectFirst {
      case a @ Alias(child, _) if rangePred.left.semanticEquals(child) => a
    }.getOrElse(return None)
    val idAttr = exactIdDist(projList, idx.idCol, distAlias).getOrElse(return None)
    val manifest = IndexCatalog.load(spark, idx.indexName)
      .getOrElse(return None)
    if (manifest.kind == "hnsw") {
      // typed sphere range under the hnsw AM (round 9): resident flat
      // scan over the densified shared graphs — exact at any radius,
      // no pruning stats needed (the dense HNSW range arm's shape).
      // l2-FAMILY keys only: rangeFlat scores the build metric, and
      // l2sq on the densified payloads IS the hamming / f16-l2 /
      // svec-l2 kernel value (svec against RAW-vector graphs, the
      // registration-invariant rule); dot/cos graph ranges would need
      // override scoring inside rangeFlat.
      if (met == "dot") return None
      val df = Hnsw.rangeSearchFlat(spark,
        IndexCatalog.dataDir(spark, idx.indexName), idx.idCol,
        p.densify(AnnPushdown.typedQueryFloats(qLit)), r)
      return namedOutput(df.queryExecution.analyzed, idx.idCol, idAttr,
        distAlias)
    }
    if (!manifest.floats.contains("radii")) return None
    if (manifest.kind != p.kind) return None
    val model = IvfIndex.Model("l2", manifest.centroids)
    val radii = manifest.floats("radii")
    val q = AnnPushdown.typedQueryFloats(qLit)
    // prune in the same densified space the radii were measured in:
    // l2-family metrics by the triangle bound, dot by Cauchy-Schwarz
    val qPrune = p.densify(q)
    val dataDir = IndexCatalog.dataDir(spark, idx.indexName)
    val scan =
      if (met == "dot")
        IvfIndex.rangeScanDot(spark, dataDir, model, radii, qPrune, r)
      else IvfIndex.rangeScan(spark, dataDir, model, radii, qPrune, r)
    val distCol = p.score(met, F.col(p.payloadCol), p.queryForm(F.typedLit(q)))
    val df = scan.select(F.col(idx.idCol), distCol.as("dist"))
      .filter(F.col("dist") < F.lit(r))
    namedOutput(df.queryExecution.analyzed, idx.idCol, idAttr, distAlias)
  }

  /** Dist alias extraction: Alias(metricExpr(vecAttr, queryLit)) for any
    * of the three indexed metrics. Returns (alias, vecAttr, qLit, metric). */
  private def findDistAlias(projList: Seq[NamedExpression])
      : Option[(Alias, AttributeReference, Literal, String)] =
    projList.iterator.flatMap {
      case a: Alias => distOf(a.child).map { case (v, q, m) => (a, v, q, m) }
      case _ => None
    }.nextOption()

  /** The distance-expression shapes every top-k arm recognizes — shared
    * by the alias form (findDistAlias) and the round-13 INLINE sort form
    * (`ORDER BY val <-> '[...]'` with no projected dist). Typed
    * opclasses (finalize.sql:723-741, 765-803): the natural Spark
    * spelling wraps BOTH sides in the type constructor (to_f16_bits /
    * binarize / svec_from_dense). The column side keeps its wrapper
    * (attrs never fold); the query side is usually CONSTANT-FOLDED into
    * a typed literal (f16-bit shorts / packed-word struct / CSR
    * struct), so QueryLit accepts both forms and typedQueryFloats
    * decodes by literal type. Metric keys are family-qualified so a
    * dense registration can never satisfy a typed query or vice
    * versa. */
  private def distOf(e: Expression)
      : Option[(AttributeReference, Literal, String)] = e match {
    case L2sqDistance(v: AttributeReference, q: Literal) => Some((v, q, "l2"))
    case CosDistance(v: AttributeReference, q: Literal) => Some((v, q, "cos"))
    case NegDotDistance(v: AttributeReference, q: Literal) => Some((v, q, "dot"))
    case F16L2sq(ToF16Bits(v: AttributeReference), QueryLit(q)) =>
      Some((v, q, "f16:l2"))
    case F16NegDot(ToF16Bits(v: AttributeReference), QueryLit(q)) =>
      Some((v, q, "f16:dot"))
    case F16CosDist(ToF16Bits(v: AttributeReference), QueryLit(q)) =>
      Some((v, q, "f16:cos"))
    case BVecHamming(Binarize(v: AttributeReference), QueryLit(q)) =>
      Some((v, q, "bvec:hamming"))
    case BVecJaccard(Binarize(v: AttributeReference), QueryLit(q)) =>
      Some((v, q, "bvec:jaccard"))
    case BVecNegDot(Binarize(v: AttributeReference), QueryLit(q)) =>
      Some((v, q, "bvec:dot"))
    case SVecL2sq(SVecFromDense(v: AttributeReference), QueryLit(q)) =>
      Some((v, q, "svec:l2"))
    case SVecNegDot(SVecFromDense(v: AttributeReference), QueryLit(q)) =>
      Some((v, q, "svec:dot"))
    case SVecCosDist(SVecFromDense(v: AttributeReference), QueryLit(q)) =>
      Some((v, q, "svec:cos"))
    case _ => None
  }

  /** Query-side literal in either spelling: the raw (possibly folded)
    * typed literal, or the type constructor still wrapped around an f32
    * array literal. */
  private object QueryLit {
    def unapply(e: Expression): Option[Literal] = e match {
      case l: Literal => Some(l)
      case ToF16Bits(l: Literal) => Some(l)
      case Binarize(l: Literal) => Some(l)
      case SVecFromDense(l: Literal) => Some(l)
      case _ => None
    }
  }

  /** Common top-k guards: sort leads with the dist alias ascending, the
    * projection is exactly {id, dist} (bail otherwise — the replacement
    * produces only those two, and anything else would be silently
    * dropped / left dangling for parents), the table has a matching-
    * metric index. With a filter condition, a PARTIAL index whose build
    * predicate canonically equals the condition wins over the full index
    * (its artifact is a fraction of the table). Returns
    * (idx, alias, idAttr, qLit, metric). */
  private def topkPieces(order: Seq[SortOrder],
      projList: Seq[NamedExpression], rel: LogicalPlan,
      cond: Option[Expression] = None)
      : Option[(IndexedTable, Alias, AttributeReference, Literal, String)] = {
    if (!isScanLeaf(rel)) return None
    val (alias, vecAttr, qLit, metric) = findDistAlias(projList).getOrElse(return None)
    val all = lookupAll(pathsOf(rel), metric)
    val condConj = cond.map(conjunctStrings)
    val idx = condConj.flatMap(c => all.find(_.partialConjuncts.contains(c)))
      .orElse(all.find(_.partialConjuncts.isEmpty))
      .getOrElse(return None)
    if (vecAttr.name != idx.vecCol) return None
    order.headOption match {
      case Some(SortOrder(attr: AttributeReference, Ascending, _, _))
          if attr.exprId == alias.exprId =>
      case _ => return None
    }
    val idAttr = exactIdDist(projList, idx.idCol, alias).getOrElse(return None)
    Some((idx, alias, idAttr, qLit, metric))
  }

  /** Shape: Project(id, Alias(dist(vecAttr, queryLit)) AS dist) over an
    * indexed relation, sorted by dist (asc) first — l2, cos or dot. */
  private def matchAnnTopK(k: Int, order: Seq[SortOrder],
      projList: Seq[NamedExpression], rel: LogicalPlan): Option[LogicalPlan] = {
    val (idx, alias, idAttr, qLit, metricKey) =
      topkPieces(order, projList, rel).getOrElse(return None)
    rewriteTopK(k, idx, alias, idAttr, qLit, metricKey)
  }

  /** Inline-sort top-k (no projected dist — the reference's verbatim
    * `SELECT id FROM t ORDER BY val <-> q LIMIT k`): the projection
    * must be exactly the registered id column (the search output
    * carries only id + dist, so any other column would need a
    * join-back; that shape stays unrewritten), the sort expression one
    * of the recognized distance shapes over an indexed relation. The
    * replacement projects the id off the sorted+limited search plan —
    * ordering is preserved, the dist column is simply dropped. */
  private def matchInlineTopK(k: Int, distExpr: Expression,
      outList: Seq[NamedExpression], inner: LogicalPlan)
      : Option[LogicalPlan] = {
    def stripProj(pl0: LogicalPlan): LogicalPlan = pl0 match {
      case Project(pl, r) if pl.forall(_.isInstanceOf[AttributeReference]) => r
      case r => r
    }
    // the FILTERED inline form (`WHERE pred ORDER BY val <-> q LIMIT k`,
    // pushdown_range.slt) carries the Filter below the Sort's pruning
    // Project; it routes through the alias-form filtered dispatch with
    // synthesized (alias, order) pieces
    val (cond, rel) = stripProj(inner) match {
      case Filter(c, r) => (Some(c), stripProj(r))
      case r => (None, r)
    }
    if (!isScanLeaf(rel)) return None
    val (vecAttr, qLit, metric) = distOf(distExpr).getOrElse(return None)
    val idAttr = outList match {
      case Seq(a: AttributeReference) => a
      case _ => return None
    }
    val alias = Alias(distExpr, "dist")()
    val rewritten = cond match {
      case None =>
        val idx = lookupAll(pathsOf(rel), metric)
          .find(_.partialConjuncts.isEmpty).getOrElse(return None)
        if (vecAttr.name != idx.vecCol || idAttr.name != idx.idCol) return None
        rewriteTopK(k, idx, alias, idAttr, qLit, metric)
      case Some(c) =>
        matchFilteredTopK(k, Seq(SortOrder(alias.toAttribute, Ascending)),
          Seq(idAttr, alias), c, rel)
    }
    rewritten.flatMap(p => p.output.find(_.exprId == idAttr.exprId)
      .map(id => Project(Seq(id), p)))
  }

  /** The index-kind dispatch shared by the plain and the
    * partial-absorbed (typed) top-k rewrites. */
  private def rewriteTopK(k: Int, idx: IndexedTable, alias: Alias,
      idAttr: AttributeReference, qLit: Literal, metricKey: String)
      : Option[LogicalPlan] = {
    val manifest = IndexCatalog.load(spark, idx.indexName)
      .getOrElse(return None)
    // family-qualified keys ("f16:l2") name a TYPED opclass whose one
    // artifact serves every metric of the family (ranking and scoring
    // are search-time choices); bare keys are dense f32, where metric
    // is baked into the artifact (cos normalizes at build)
    val (family, metric) = metricKey.split(':') match {
      case Array(f, m) => (f, m)
      case _ => ("dense", metricKey)
    }
    if (family == "dense" && manifest.metric != metric) return None
    val dataDir = IndexCatalog.dataDir(spark, idx.indexName)
    val q = AnnPushdown.typedQueryFloats(qLit)
    // the planner picks whatever index KIND the registration provides
    // (the reference's am dispatch, src/index/am.rs:105-133): IVF scans
    // prune by centroid lists, HNSW scans search the resident graphs,
    // typed families dispatch to their compact-payload pruned scans
    val model = ivfModel(manifest)
    val probes = clampedProbes(idx, model)
    val searchDf = (family, manifest.kind) match {
      case ("dense", "ivf") =>
        IvfIndex.search(spark, dataDir, model, idx.idCol, idx.vecCol,
          q, k, probes)
      case ("dense", "hnsw") =>
        Hnsw.searchIndex(spark, dataDir, idx.idCol, normalizedFor(metric, q),
          k, efSearch = hnswEfSearch(manifest), exact = hnswExact,
          probeGraphs = hnswProbe)
      case ("dense", "hnsw_part" | "ivf_part") =>
        // partitioned parent (partition.slt): per-partition searches +
        // one ordered merge; the value list comes from the parent
        // manifest (the rule does metadata-only work, no jobs). If the
        // LAYOUT drifted since ensure (a partition added or removed),
        // the sub-index set no longer covers the table — bail to the
        // unrewritten plan rather than erroring or silently dropping
        // rows. The IVF parent is exact at nprobe >= every sub's nlist
        // (per-sub clamp), the scalar IVF arm's contract per partition.
        val (partCol, registered) =
          partitionChoice(idx.indexName, manifest, Nil).getOrElse(return None)
        if (manifest.kind == "ivf_part")
          PartitionedIndex.searchIvf(spark, idx.indexName,
            manifest.source, partCol, idx.idCol,
            idx.vecCol, q, k, nprobe = math.max(nprobeFor(idx), 1),
            values = Some(registered))
        else
          PartitionedIndex.searchHnsw(spark, idx.indexName,
            manifest.source, partCol, idx.idCol, normalizedFor(metric, q), k,
            efSearch = hnswEfSearch(manifest), exact = hnswExact,
            values = Some(registered), probeGraphs = hnswProbe)
      // typed opclasses under the hnsw AM (finalize.sql:719-803,
      // round 9): the registered graphs store the family's DENSIFIED
      // payload view (bvec: 0/1, f16: f16-rounded floats) built with
      // l2, so the payload's build metric walks the graphs (hamming =
      // l2sq on 0/1) and its hnswOverrides are searchIndexMetric
      // overrides scoring the stored payloads directly. Queries
      // densify exactly like the typed-IVF prune views. Routed under
      // the same auto default; exact mode flat-scans (the typed exact
      // twins' contract). svec l2/dot dispatch too: the CSR merge kernels
      // over svec_from_dense(col) equal the dense chains EXACTLY on
      // raw vectors (zero terms are exact identities — the
      // q_range_pushdown_svec oracle convention), so a registration
      // against a RAW-vector graph artifact satisfies the
      // registration invariant; artifacts storing SPARSIFIED views
      // (the shared svecHnsw fixtures) must simply not be registered
      // under svec keys, like any other artifact/spelling mismatch.
      case (Payload(p), "hnsw") =>
        val qd = p.densify(q)
        if (metric == p.buildMetric)
          Hnsw.searchIndex(spark, dataDir, idx.idCol, qd, k,
            efSearch = hnswEfSearch(manifest), exact = hnswExact,
            probeGraphs = hnswProbe)
        else if (p.hnswOverrides(metric))
          Hnsw.searchIndexMetric(spark, dataDir, idx.idCol, qd, k, metric,
            efSearch = hnswEfSearch(manifest), exact = hnswExact,
            probeGraphs = hnswProbe)
        else return None
      case (Payload(p), kind) if kind == p.kind =>
        TypedAnn.search(spark, p, dataDir, model, idx.idCol, q, k, probes,
          metric)
      case _ => return None
    }
    // alias replacement output back to the original exprIds
    searchOutput(searchDf, idAttr, alias)
  }

  /** Filtered ANN top-k: `Filter(pred) + Sort(dist) + Limit(k)` — the
    * reference's over-fetch/refill contract
    * (tests/sqllogictest/pushdown_range.slt:87-107) re-expressed
    * Spark-first: instead of pulling a candidate STREAM and refilling
    * until k survive (a cursor-model necessity), the predicate is pushed
    * INTO the pruned partition scan and TakeOrdered runs on the
    * survivors — exact within probed lists, so "over-fetch" becomes
    * probing `filteredOverfetch × nprobe` lists (the breadth analog of
    * fetching k·f candidates). At nprobe=nlist the result is exactly the
    * brute-force filtered top-k. */
  private def matchFilteredTopK(k: Int, order: Seq[SortOrder],
      projList: Seq[NamedExpression], cond: Expression, rel: LogicalPlan)
      : Option[LogicalPlan] = {
    val (idx, alias, idAttr, qLit, metric) =
      topkPieces(order, projList, rel, Some(cond)).getOrElse(return None)
    // the predicate must be over relation columns only (never the dist)
    if (!cond.references.subsetOf(AttributeSet(rel.output))) return None
    if (metric.contains(':')) {
      // TYPED family: the artifact stores only the compact payload, so an
      // arbitrary predicate cannot be reapplied on the scan. A PARTIAL
      // typed index whose build predicate canonically equals the query's
      // filter absorbs it entirely — rewrite as the plain typed top-k
      // over that artifact; anything else stays unrewritten.
      return if (idx.partialConjuncts.contains(conjunctStrings(cond)))
        rewriteTopK(k, idx, alias, idAttr, qLit, metric)
      else None
    }
    val manifest = IndexCatalog.load(spark, idx.indexName)
      .getOrElse(return None)
    if (manifest.metric != metric) return None
    // Partitioned parent (partition.slt): the predicate is absorbed by
    // PARTITION PRUNING when every non-inferred conjunct constrains the
    // partition column to literals (`category = 1`, `category IN (…)`) —
    // Postgres prunes the partitions (and thereby their indexes) before
    // the index scan; here the pruned value set picks the sub-indexes.
    // Any other predicate shape bails: graph payloads carry only
    // (id, vec), so nothing else can be re-evaluated on the artifact.
    if (manifest.kind == "hnsw_part" || manifest.kind == "ivf_part") {
      val (partCol0, _) = partParams(manifest).getOrElse(return None)
      val conj = splitConjunctivePredicates(cond).filterNot {
        // the optimizer infers IsNotNull from the equality/IN itself
        case IsNotNull(a: AttributeReference) => a.name == partCol0
        case _ => false
      }
      // the FILTERED arm requires at least one surviving conjunct (an
      // empty predicate wouldn't have reached this arm absorbed);
      // partition-conjunct classification, the layout-drift guard, and
      // the value intersection are partitionChoice's — shared with the
      // range and join arms so the admissibility rule cannot drift
      if (conj.isEmpty) return None
      // MIXED predicates (round 10 — the Postgres shape: partition
      // pruning first, remaining quals at the per-partition index
      // scan): partition-column literal conjuncts pick the sub-indexes;
      // the REST either re-evaluates on the sub-artifact scans
      // (ivf_part — full source rows) or semi-joins the base table
      // against a sample-sized candidate fetch (hnsw_part — graph
      // payloads carry only id/vec). A leftover referencing the
      // partition column in a non-literal shape, or the vector column,
      // bails (the partSplit rule).
      val (partCol, chosen, rest) =
        partSplit(idx.indexName, manifest, conj, idx.vecCol).getOrElse(return None)
      val q = floatsOf(qLit)
      if (rest.isEmpty) {
        // pure partition predicate: fully absorbed by sub-index pruning
        val searchDf =
          if (manifest.kind == "ivf_part")
            PartitionedIndex.searchIvf(spark, idx.indexName,
              manifest.source, partCol, idx.idCol, idx.vecCol, q, k,
              nprobe = math.max(nprobeFor(idx), 1), values = Some(chosen))
          else
            PartitionedIndex.searchHnsw(spark,
              idx.indexName, manifest.source, partCol, idx.idCol,
              normalizedFor(metric, q), k,
              efSearch = hnswEfSearch(manifest), exact = hnswExact,
              values = Some(chosen), probeGraphs = hnswProbe)
        return searchOutput(searchDf, idAttr, alias)
      }
      val restExpr = rest.reduce(And)
      if (manifest.kind == "ivf_part") {
        val filterCol =
          subScanFilter(idx.indexName, chosen, rest).getOrElse(return None)
        // PER-SUB probe escalation from each sub's own sample (the
        // dense filtered-IVF formula applied per partition): a
        // predicate that is rare in one partition probes that sub
        // exhaustively — graceful, never bails
        val baseProbes =
          math.max(nprobeFor(idx).toLong * math.max(filteredOverfetch, 1), 1L)
        val probesBySub = chosen.map { v =>
          val sub = PartitionedIndex.subName(idx.indexName, v)
          val nlist = IndexCatalog.load(spark, sub)
            .getOrElse(return None).centroids.length
          val est =
            if (filteredAdaptive) SampleSidecar.estimate(spark,
              IndexCatalog.dataDir(spark, sub), restExpr)
            else None
          v -> est.fold(math.min(baseProbes, nlist.toLong).toInt)(
            escalatedProbes(k, baseProbes, nlist))
        }
        return searchOutput(PartitionedIndex.searchIvfFiltered(
          spark, idx.indexName, manifest.source, partCol, idx.idCol,
          idx.vecCol, q, k, probesBySub, filterCol), idAttr, alias)
      }
      // hnsw_part MIXED: the one-shot dense form lifted to the parent —
      // a candidate fetch over the CHOSEN partitions sized by their
      // POOLED samples (Σ totalᵢ·wilson(mᵢ,nᵢ) / Σ totalᵢ, the natural
      // multi-sample lower bound — equal to the single-artifact formula
      // at one sub), semi-joined against the predicate-filtered base
      // scan. Refuses like the dense arm when no credible breadth can
      // hold k survivors (the pre-filter exact plan wins); a sub
      // without a sample refuses ADAPTIVITY (fixed breadth), never the
      // rewrite.
      val perSub =
        if (filteredAdaptive)
          Some(chosen.map(v => SampleSidecar.estimate(spark,
            IndexCatalog.dataDir(spark,
              PartitionedIndex.subName(idx.indexName, v)),
            restExpr)))
        else None
      val pooled = perSub match {
        case Some(ests) if ests.forall(_.isDefined) =>
          val ms = ests.flatten
          val totalAll = ms.map(_._3).sum
          val mLo = ms.map { case (m, n, t) =>
            t * SampleSidecar.wilsonLower(m, n) }.sum
          val selLo = if (totalAll > 0) mLo / totalAll else 0.0
          Some((candidatesFor(k, selLo), totalAll))
        case _ => None
      }
      val kr = candidateBreadth(k, pooled).getOrElse(return None)
      val cands = PartitionedIndex.searchHnsw(spark,
        idx.indexName, manifest.source, partCol, idx.idCol,
        normalizedFor(metric, q), kr,
        efSearch = math.max(hnswEfSearch(manifest), kr), exact = hnswExact,
        values = Some(chosen), probeGraphs = hnswProbe)
      return candidateJoin(k, cond, rel, idx.idCol, cands, idAttr, alias)
    }
    // HNSW-kind registrations get the ONE-SHOT breadth form — the
    // `search.mode = basic` contract (a single k·overfetch candidate
    // fetch semi-joined against the predicate-filtered base scan, which
    // may underfill on hyper-selective predicates). The VBASE refill
    // loop (Hnsw.searchIndexFiltered) runs eager driver rounds — wrong
    // to trigger from inside an optimizer rule — so refill semantics
    // stay with the explicit operator. With hnsw.exact the candidate
    // set is a distance-prefix of the full ranking, so whenever it
    // contains >= k survivors the result IS the exact filtered top-k.
    if (manifest.kind == "hnsw") {
      // selectivity guard (round 10): size the one-shot fetch to the
      // sampled selectivity (candidateBreadth refuses when no credible
      // breadth can hold k survivors)
      val est =
        if (filteredAdaptive) SampleSidecar.estimate(spark,
          IndexCatalog.dataDir(spark, idx.indexName), cond)
        else None
      val kr = candidateBreadth(k, est.map { case (m, n, total) =>
        (neededCandidates(k, m, n), total) }).getOrElse(return None)
      val cands = Hnsw.searchIndex(spark,
        IndexCatalog.dataDir(spark, idx.indexName), idx.idCol,
        normalizedFor(metric, floatsOf(qLit)), kr,
        efSearch = math.max(hnswEfSearch(manifest), kr), exact = hnswExact)
      return candidateJoin(k, cond, rel, idx.idCol, cands, idAttr, alias)
    }
    // filtered top-k pushes the predicate INTO a pruned scan — an IVF
    // shape (the predicate is evaluated on the scan's own rows).
    if (manifest.kind != "ivf") return None
    val model = ivfModel(manifest)
    val baseProbes = math.max(nprobeFor(idx).toLong * math.max(filteredOverfetch, 1), 1L)
    // selectivity guard (round 10): widen the probed-list fraction so
    // the expected survivor count in probed lists covers k
    // (escalatedProbes)
    val est =
      if (filteredAdaptive) SampleSidecar.estimate(spark,
        IndexCatalog.dataDir(spark, idx.indexName), cond)
      else None
    val probes = est.fold(math.min(baseProbes, model.nlist.toLong).toInt)(
      escalatedProbes(k, baseProbes, model.nlist))
    val q = floatsOf(qLit)
    val scanPlan = IvfIndex.prunedScan(spark,
      IndexCatalog.dataDir(spark, idx.indexName), model, q, probes)
      .queryExecution.analyzed
    // remap the predicate's attributes onto the scan's outputs by name
    val cond2 = remapByName(cond, scanPlan).getOrElse(return None)
    val cols = byName(scanPlan)
    val vecNew = cols.getOrElse(idx.vecCol, return None)
    val idNew = cols.getOrElse(idx.idCol, return None)
    // dist computed the way the INDEX computes it (cos: normalized at
    // build, scored by -dot + 1 on the normalized query)
    val qLit2 = Literal.create(normalizedFor(metric, q),
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = false))
    val distExpr: Expression = metric match {
      case "l2" => L2sqDistance(vecNew, qLit2)
      case "cos" => Add(NegDotDistance(vecNew, qLit2), Literal(1.0))
      case "dot" => NegDotDistance(vecNew, qLit2)
    }
    val nf = Filter(cond2, scanPlan)
    nf.setTagValue(RewrittenTag, true)
    Some(GlobalLimit(Literal(k),
      LocalLimit(Literal(k), Sort(order, global = true,
        reAlias(nf, idNew, distExpr, idAttr, alias)))))
  }

  /** The tail of the one-shot filtered graph fetches: the candidates
    * (broadcast) joined with the ids the predicate keeps over the base
    * relation, in Spark's (dist, id) order, limited to k. */
  private def candidateJoin(k: Int, cond: Expression, rel: LogicalPlan,
      idCol: String, cands: DataFrame, idAttr: AttributeReference,
      alias: Alias): Option[LogicalPlan] = {
    val nf = Filter(cond, rel)
    nf.setTagValue(RewrittenTag, true)
    val filteredIds = Shims.ofRows(spark, Project(Seq(
      rel.output.find(_.name == idCol).getOrElse(return None)), nf))
    val joined = filteredIds.join(F.broadcast(cands), idCol)
      .orderBy(F.col("dist"), F.col(idCol))
      .limit(k)
    // optimizedPlan, not analyzed: the broadcast HINT must be folded
    // into the join (EliminateResolvedHint already ran for the outer
    // query — an unresolved hint left in the replacement subtree is a
    // planner internal error). Re-entering this rule on the subtree is
    // harmless: no arm matches the join shape.
    namedOutput(joined.queryExecution.optimizedPlan, idCol, idAttr, alias)
  }
}
