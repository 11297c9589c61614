package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}
import graft.functions._

/**
 * Distributed KNN join: for EVERY row of a query table, the top-k nearest
 * corpus rows, through the IVF artifact — the set-at-a-time generalization
 * of [[IvfIndex.batchSearch]] (whose query side is a driver-collected
 * `Seq`). The reference answers one query per index scan
 * (crates/index/src/lib.rs:386-423); a training-data pipeline needs the
 * join shape (dataset-vs-dataset retrieval, hard-negative mining,
 * embedding-level decontamination) where the query side is itself a
 * billion-row table that never fits on the driver.
 *
 * Plan shape (all set-at-a-time, nothing per-query):
 *  1. each query row computes its `nprobe` probe lists with ONE codegen
 *     expression over the flattened centroids ([[ProbeLists]] — the same
 *     bound-first ranking as `IvfIndex.Model.rankLists`, radii
 *     permitting), then explodes to (query, list_id). The centroid
 *     literal rides in the stage's task binary, which Spark ships via
 *     TorrentBroadcast ONCE per executor — the same transport cost as an
 *     explicit broadcast variable (codegen references it through the
 *     ctx.addReferenceObj array, never spliced into generated source);
 *  2. the union of probed lists — at most `nlist` ints, collected
 *     driver-side like every probe decision — prunes the artifact scan to
 *     the partitions anybody probes (for a large query set that is all of
 *     them: one full pass over the corpus for the WHOLE table, vs one
 *     pruned scan per query);
 *  3. an equi-join on `list_id` co-locates queries with their lists (AQE
 *     splits skewed lists; key cardinality = nlist, so size nlist to the
 *     cluster as the IVF build already must);
 *  4. per-query top-k = `row_number` window over (dist, id) partitioned by
 *     the query id — the only per-query state is the heap inside the
 *     window sort.
 *
 * Exactness: at nprobe = nlist every (query, list) pair exists, so the
 * join IS the brute-force cross product and the result is exact — the
 * q_knn_join_exact gate relies on it; ranking never affects that.
 * Null/non-finite query vectors produce no output rows (the probe
 * expression is null-intolerant and the artifact excludes such rows on
 * the corpus side, mirroring the reference's null.slt behavior).
 */
object KnnJoin {

  /** Codegen probe-list selection: top-nprobe list ids for one query
    * vector, bound-first-ranked (lower-bound reachable distance, centroid
    * distance tie-break) when radii are present — one pass per query ROW,
    * inside whole-stage codegen, replacing the driver-side
    * `Model.rankLists` call of the collected-batch path. */
  case class ProbeLists(vec: Expression, flatCentroids: Expression,
      flatRadii: Expression, nprobe: Int, metric: String, dims: Int)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
    override def first: Expression = vec
    override def second: Expression = flatCentroids
    override def third: Expression = flatRadii
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    private val metricCode = KnnJoinKernels.metricCode(metric)
    override def nullSafeEval(v: Any, f: Any, r: Any): Any =
      KnnJoinKernels.probeLists(v.asInstanceOf[ArrayData],
        f.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], nprobe,
        metricCode, dims)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (v, f, r) =>
        s"${ev.value} = graft.operators.KnnJoinKernels.probeLists($v, $f, $r, $nprobe, $metricCode, $dims);")
    override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
      copy(vec = a, flatCentroids = b, flatRadii = c)
    override def prettyName = "probe_lists"
  }

  def probeLists(vec: Column, model: IvfIndex.Model, nprobe: Int): Column =
    probeListsMetric(vec, model, nprobe, model.metric)

  /** Probe selection with an explicit RANKING metric — the typed-family
    * entry point (one typed artifact serves every metric of its family;
    * ranking is a search-time choice, the TypedAnn.rankLists rule). */
  def probeListsMetric(vec: Column, model: IvfIndex.Model, nprobe: Int,
      rankMetric: String): Column = {
    val flat = model.centroids.flatten
    val radii = if (model.radii == null) Array.empty[Float] else model.radii
    Shims.column(ProbeLists(Shims.expression(vec),
      Shims.expression(typedLit(flat)), Shims.expression(typedLit(radii)),
      nprobe, rankMetric,
      if (model.centroids.nonEmpty) model.centroids(0).length else -1))
  }

  /** Codegen range-list selection: ALL list ids whose triangle /
    * Cauchy-Schwarz lower bound can still reach radius `r` — the
    * per-row form of `IvfIndex.rangeScan{,Cos,Dot}`'s driver-side list
    * filter. Pruning is SOUND (lower bounds only), so unlike top-k
    * probing it never loses a row: the range JOIN built on it is exact,
    * not approximate. Without radii stats every list is kept. */
  case class RangeLists(vec: Expression, flatCentroids: Expression,
      flatRadii: Expression, r: Double, metric: String, dims: Int)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
    override def first: Expression = vec
    override def second: Expression = flatCentroids
    override def third: Expression = flatRadii
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    private val metricCode = KnnJoinKernels.metricCode(metric)
    override def nullSafeEval(v: Any, f: Any, rr: Any): Any =
      KnnJoinKernels.rangeLists(v.asInstanceOf[ArrayData],
        f.asInstanceOf[ArrayData], rr.asInstanceOf[ArrayData], r, metricCode,
        dims)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      // splice the radius as exact bits: a bare Double token would emit
      // uncompilable Java for Infinity/NaN and silently fall back to
      // interpreted eval (the zero-ERROR-CodeGenerator rule)
      val rBits = java.lang.Double.doubleToRawLongBits(r)
      nullSafeCodeGen(ctx, ev, (v, f, rr) =>
        s"${ev.value} = graft.operators.KnnJoinKernels.rangeLists($v, $f, $rr, " +
          s"java.lang.Double.longBitsToDouble(${rBits}L), $metricCode, $dims);")
    }
    override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
      copy(vec = a, flatCentroids = b, flatRadii = c)
    override def prettyName = "range_lists"
  }

  def rangeLists(vec: Column, model: IvfIndex.Model, r: Double): Column = {
    val flat = model.centroids.flatten
    val radii = if (model.radii == null) Array.empty[Float] else model.radii
    Shims.column(RangeLists(Shims.expression(vec),
      Shims.expression(typedLit(flat)), Shims.expression(typedLit(radii)),
      r, model.metric,
      if (model.centroids.nonEmpty) model.centroids(0).length else -1))
  }

  /** The static probed-union INSET prune evaluates the query side
    * twice (once collecting the union, once inside the join) — a cost
    * trade for the partition pruning it buys, worthwhile only when the
    * query side is a small deterministic scan. Three gates:
    *
    *  - expression determinism: rand()-derived vectors could probe
    *    DIFFERENT lists on the second evaluation, and the stale INSET
    *    would silently drop pairs;
    *  - plan-level determinism: Sample and Limit nodes re-draw their
    *    row SUBSET on re-evaluation even when every expression is
    *    deterministic (sample repartitions differently, an un-ordered
    *    limit takes whichever rows arrive first) — same stale-INSET
    *    hazard, invisible to the expression walk;
    *  - cost (round 8): the prune's first evaluation is a FULL pass
    *    over the query side just to collect ≤nlist ints — pure waste
    *    when that side is a billion-row table. Sides estimated above
    *    `spark.graft.join.staticPruneMaxBytes` (default 256 MiB) skip
    *    it, like the pushdown arms always do.
    *
    * Skipping is always sound: the list_id equi-join (and DPP, when
    * Spark fires it) still prunes at runtime. */
  /** Broadcast the probed query side when its pre-explode optimizer
    * estimate (times the probe fan-out) fits under
    * `spark.graft.join.broadcastQueriesMaxBytes` (default 256 MiB) —
    * guide §3.1 "pick the join strategy deliberately". Left to its own
    * estimates the planner regularly builds on the CORPUS instead: the
    * pruned artifact scan at bench scale estimates under the
    * autoBroadcast threshold while the exploded query side's estimate is
    * inflated by the Generate, so the per-pair distance kernels end up
    * running at the query side's parallelism — measured round 18:
    * q_knn_join_exact computed every distance in ONE 0.5 s task on 32
    * cores. Hinting the query side keeps the kernels on the corpus
    * scan's partitioning and is the only scale-viable broadcast (a large
    * corpus can never be the build side); above the cap no hint is
    * added and the planner shuffles both sides on list_id — the correct
    * large-query-set shape. */
  private[graft] def broadcastQueriesIfSmall(qv0: DataFrame, probed: DataFrame,
      fanout: Int): DataFrame = {
    val maxBytes = BigInt(qv0.sparkSession.conf
      .get("spark.graft.join.broadcastQueriesMaxBytes", (256L << 20).toString))
    val est = qv0.queryExecution.optimizedPlan.stats.sizeInBytes *
      math.max(fanout, 1)
    if (est <= maxBytes) broadcast(probed) else probed
  }

  private[graft] def staticPruneWorthwhile(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalLimit, GlobalLimit, Sample}
    val plan = df.queryExecution.optimizedPlan
    val exprDet = !plan.exists(p =>
      p.expressions.exists(e => e.exists(!_.deterministic)))
    val planDet = !plan.exists {
      case _: Sample | _: LocalLimit | _: GlobalLimit => true
      case _ => false
    }
    lazy val maxBytes = BigInt(df.sparkSession.conf
      .get("spark.graft.join.staticPruneMaxBytes", (256L << 20).toString))
    exprDet && planDet && plan.stats.sizeInBytes <= maxBytes
  }

  /** The distinct lists a probed query side hits — one collect job; the
    * set is bounded by nlist, the boundedness class of every other
    * probe decision. */
  private def probedLists(probed: DataFrame): Array[Int] =
    probed.select(col("list_id")).distinct().collect().map(_.getInt(0))

  /** Distributed vector RANGE join: every (query row, corpus row) pair
    * with dist <= r, both sides tables — the all-pairs-within-radius
    * primitive behind embedding-level dedup and decontamination.
    * Same plan family as [[join]] (per-row codegen list selection →
    * explode → equi-join on list_id → exact distance filter) but EXACT
    * at any radius: the per-list lower bounds only ever prune lists
    * that provably contain no in-range row, and the kept rows pass
    * through the exact kernel filter. Distances follow the artifact's
    * conventions (l2 = squared L2; cos = 1 - dot on normalize-at-build
    * rows with the query normalized here; dot = negative dot).
    * Returns (qid, idCol, dist), dist <= r. */
  def rangeJoin(spark: SparkSession, queries: DataFrame, qidCol: String,
      qvecCol: String, path: String, model: IvfIndex.Model, idCol: String,
      vecCol: String, r: Double): DataFrame = {
    val qv0 = queries.filter(col(qvecCol).isNotNull && vectorIsFinite(col(qvecCol)))
      .select(col(qidCol).as("qid"),
        (if (model.metric == "cos") vectorNormalize(col(qvecCol))
         else col(qvecCol)).as("qv"))
    val probed = qv0
      .withColumn("list_id", explode(rangeLists(col("qv"), model, r)))
    val lists =
      if (model.radii == null || !staticPruneWorthwhile(queries)) None
      else Some(probedLists(probed)).filter(_.length < model.nlist)
    val scan = lists.fold(graft.ParquetCache.read(spark, path))(
      IvfIndex.listScan(spark, path, _))
    val distCol = model.metric match {
      case "l2" => l2sq(col(vecCol), col("qv"))
      case "dot" => negdot(col(vecCol), col("qv"))
      case "cos" => negdot(col(vecCol), col("qv")) + lit(1.0)
    }
    scan.select(col("list_id"), col(idCol), col(vecCol))
      // range fan-out is per-row (rangeLists); bound it by nlist
      .join(broadcastQueriesIfSmall(qv0, probed, model.nlist), "list_id")
      .select(col("qid"), col(idCol), distCol.as("dist"))
      .filter(col("dist") <= r)
  }

  /** Typed-family KNN join — [[join]] generalized over the compact
    * typed artifacts (the [[TypedAnn]] matrix): the query side is a
    * table of DENSE f32 vectors; each row ranks probes from its
    * [[Payload.densifyCol]] image (svec queries must be pre-sparsified
    * dense images, the ingest |x|>0.15 contract) and scores in the
    * payload's pair form — each the [[TypedAnn.batchSearch]] convention
    * per row. Probe ranking maps hamming/jaccard → the densified-space
    * L2 bounds and cos → the raw unnormalized-centroid ranking with
    * radii ignored (TypedAnn.rankLists, asserted formula-identical in
    * KnnJoinSpec). `metric` defaults to the payload's build metric.
    * Exact at nprobe = nlist like [[join]]. */
  def joinTyped(spark: SparkSession, queries: DataFrame, qidCol: String,
      qvecCol: String, path: String, model: IvfIndex.Model, idCol: String,
      p: Payload, k: Int, nprobe: Int, metric: String = null): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val met = Option(metric).getOrElse(p.buildMetric)
    val np = math.min(nprobe, model.nlist)
    val qv0 = queries
      .filter(col(qvecCol).isNotNull && vectorIsFinite(col(qvecCol)))
      .select(col(qidCol).as("qid"), col(qvecCol).as("qv"))
    val rankMetric = met match {
      case "hamming" | "jaccard" => "l2"
      case "cos" => "cosraw"
      case m => m
    }
    val probed = qv0.withColumn("list_id", explode(probeListsMetric(
      p.densifyCol(col("qv")).getOrElse(col("qv")), model, np, rankMetric)))
    val scan =
      if (np >= model.nlist || !staticPruneWorthwhile(queries))
        graft.ParquetCache.read(spark, path)
      else IvfIndex.listScan(spark, path, probedLists(probed))
    // the query's scoring form ONCE per probed query row (round 18):
    // spelled inside the dist kernel it re-ran per JOINED PAIR.
    // Identical values (deterministic expressions), so scores are
    // bit-identical.
    val probedScored = probed.withColumn("__graft_qs", p.pairQuery(col("qv")))
    val (scanProj, rowCol) = p.pairRow.fold((col(p.payloadCol), p.payloadCol))(
      r => (r.as("__graft_pv"), "__graft_pv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col(idCol))
    scan.select(col("list_id"), col(idCol), scanProj)
      .join(broadcastQueriesIfSmall(qv0, probedScored, np), "list_id")
      .select(col("qid"), col(idCol),
        p.pairScore(met, col(rowCol), col("__graft_qs")).as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** Hard-negative mining: for every anchor row of `queries`, the
    * `nNeg` nearest corpus rows EXCLUDING the anchor's own id — the
    * contrastive-training shape (anchors are usually drawn from the
    * indexed corpus itself, so the trivial dist-0 self match must not
    * burn a negative slot). Implemented as the k = nNeg+1 top-k join
    * with the identity row dropped and ranks renumbered; a duplicate
    * UNDER A DIFFERENT id is a legitimate (if easy) negative and is
    * kept — id identity, not vector identity, defines "self". Exact at
    * nprobe = nlist like [[join]]. Returns (qid, idCol, dist,
    * neg_rank 1..nNeg). */
  def hardNegatives(spark: SparkSession, queries: DataFrame, qidCol: String,
      qvecCol: String, path: String, model: IvfIndex.Model, idCol: String,
      vecCol: String, nNeg: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val j = join(spark, queries, qidCol, qvecCol, path, model, idCol,
      vecCol, k = nNeg + 1, nprobe = nprobe)
    val w = Window.partitionBy(col("qid")).orderBy(col("rn"))
    j.filter(col("qid") =!= col(idCol))
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= nNeg)
      .select(col("qid"), col(idCol), col("dist"), col("neg_rank"))
  }

  /** The join. `queries` supplies (qidCol, qvecCol); the corpus is the
    * IVF artifact at `path` described by `model` (metric and
    * normalize-at-build convention come from the artifact). Returns
    * (qid, idCol, dist, rn) with rn 1..k per qid, (dist, id)-tie-broken. */
  def join(spark: SparkSession, queries: DataFrame, qidCol: String,
      qvecCol: String, path: String, model: IvfIndex.Model, idCol: String,
      vecCol: String, k: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val np = math.min(nprobe, model.nlist)
    val qv0 = queries.filter(col(qvecCol).isNotNull && vectorIsFinite(col(qvecCol)))
      .select(col(qidCol).as("qid"),
        (if (model.metric == "cos") vectorNormalize(col(qvecCol))
         else col(qvecCol)).as("qv"))
    val probed = qv0
      .withColumn("list_id", explode(probeLists(col("qv"), model, np)))
    // partition pruning for selective query sets; no extra job when every
    // list is probed anyway
    val scan =
      if (np >= model.nlist || !staticPruneWorthwhile(queries))
        graft.ParquetCache.read(spark, path)
      else IvfIndex.listScan(spark, path, probedLists(probed))
    val joined = scan.select(col("list_id"), col(idCol), col(vecCol))
      .join(broadcastQueriesIfSmall(qv0, probed, np), "list_id")
    val distCol = model.metric match {
      case "l2" => l2sq(col(vecCol), col("qv"))
      case "dot" => negdot(col(vecCol), col("qv"))
      case "cos" => negdot(col(vecCol), col("qv")) + lit(1.0) // reference +1.0 (am_options.rs:244-249)
    }
    val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col(idCol))
    joined.select(col("qid"), col(idCol), distCol.as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }
}

/** Probe-selection kernel, top-level for Janino static forwarders (the
  * IvfKernels rule). */
object KnnJoinKernels {
  final val L2 = 0; final val Dot = 1; final val Cos = 2; final val CosRaw = 3

  def metricCode(metric: String): Int = metric match {
    case "l2" => L2
    case "dot" => Dot
    case "cos" => Cos
    // typed-family cos: raw cosdist ranking over UNNORMALIZED centroids,
    // radii never used (no sound bound from L2 radii on unnormalized
    // payloads — the TypedAnn.rankLists convention)
    case "cosraw" => CosRaw
    case m => throw new IllegalArgumentException(s"unknown metric $m")
  }

  /** All lists whose lower bound can reach radius `r` — the per-row
    * form of the `IvfIndex.rangeScan{,Cos,Dot}` list filters, same
    * bound formulas and epsilons (l2 compares on the sqrt scale like
    * rangeScan; the eps only ever ADDS lists, so pruning stays sound).
    * Empty `radii` = no stats: every list is kept (no sound bound). */
  /** The reference's dimension contract (error.slt): a query row of the
    * wrong dimension ERRORS instead of reading misaligned centroid
    * slices. `expectDims < 0` = unknown (no centroids) — skip.
    * Wording: the reference's literal message reads "does not matched
    * that in" (error.rs:141, a typo we deliberately do not mirror);
    * tests assert the shared "dimension of a vector" substring, so both
    * engines' messages satisfy the same checks. */
  private def checkDims(v: ArrayData, expectDims: Int): Int = {
    if (expectDims >= 0 && v.numElements() != expectDims)
      throw new IllegalArgumentException(
        "The dimension of a vector does not match that in a vector " +
          s"index column: query ${v.numElements()}, index $expectDims")
    v.numElements()
  }

  def rangeLists(v: ArrayData, flat: ArrayData, radii: ArrayData,
      r: Double, metric: Int, expectDims: Int): ArrayData = {
    val dims = checkDims(v, expectDims)
    val nlist = flat.numElements() / dims
    val hasRadii = radii.numElements() == nlist
    if (!hasRadii) {
      val all = new Array[Any](nlist)
      var i = 0
      while (i < nlist) { all(i) = i; i += 1 }
      return new GenericArrayData(all)
    }
    var qn = 0.0
    if (metric == Dot) {
      var i = 0
      while (i < dims) { val x = v.getFloat(i).toDouble; qn += x * x; i += 1 }
      qn = math.sqrt(qn)
    }
    val keep = new java.util.ArrayList[Any](nlist)
    var c = 0
    while (c < nlist) {
      val off = c * dims
      var acc = 0.0
      var i = 0
      if (metric == L2) {
        while (i < dims) {
          val d = v.getFloat(i).toDouble - flat.getFloat(off + i).toDouble
          acc += d * d; i += 1
        }
      } else {
        while (i < dims) { acc -= v.getFloat(i).toDouble * flat.getFloat(off + i).toDouble; i += 1 }
      }
      val rad = math.sqrt(radii.getFloat(c).toDouble)
      val reachable = metric match {
        case L2 => math.sqrt(acc) - rad <= math.sqrt(r) + 1e-9
        case Cos => 1.0 + acc - rad <= r + 1e-6
        case _ => acc - rad * qn <= r + 1e-9
      }
      if (reachable) keep.add(c)
      c += 1
    }
    new GenericArrayData(keep.toArray)
  }

  /** Top-nprobe lists by (lower bound, centroid distance) — the
    * `IvfIndex.Model.rankLists` ordering evaluated per row. `radii` empty
    * = no stats manifest: raw centroid-distance ranking (exactness at
    * nprobe = nlist never depends on the ranking). The query vector is
    * already normalized for cos (the caller normalizes at plan build,
    * matching normalize-at-build artifacts). */
  def probeLists(v: ArrayData, flat: ArrayData, radii: ArrayData,
      nprobe: Int, metric: Int, expectDims: Int): ArrayData = {
    val dims = checkDims(v, expectDims)
    val nlist = flat.numElements() / dims
    val hasRadii = radii.numElements() == nlist
    val lb = new Array[Double](nlist)
    val cd = new Array[Double](nlist)
    var qn = 0.0
    if ((metric == Dot && hasRadii) || metric == CosRaw) {
      var i = 0
      while (i < dims) { val x = v.getFloat(i).toDouble; qn += x * x; i += 1 }
      if (metric == Dot) qn = math.sqrt(qn) // Dot wants |q|; CosRaw wants q·q
    }
    var c = 0
    while (c < nlist) {
      val off = c * dims
      var acc = 0.0
      var i = 0
      if (metric == L2) {
        while (i < dims) {
          val d = v.getFloat(i).toDouble - flat.getFloat(off + i).toDouble
          acc += d * d; i += 1
        }
      } else if (metric == CosRaw) {
        // raw cosdist over the unnormalized centroid — the
        // TypedAnn.rankLists cos formula, term for term
        var dot = 0.0; var cc = 0.0
        while (i < dims) {
          val x = flat.getFloat(off + i).toDouble
          dot += v.getFloat(i).toDouble * x; cc += x * x; i += 1
        }
        // cc guarded like qn: an all-zero centroid must rank at a
        // defined (worst) distance, not NaN — mirrored in
        // TypedAnn.rankLists so the spec-asserted parity holds
        acc = 1.0 - dot / math.sqrt(math.max(cc, 1e-30) * math.max(qn, 1e-30))
      } else {
        while (i < dims) { acc -= v.getFloat(i).toDouble * flat.getFloat(off + i).toDouble; i += 1 }
      }
      cd(c) = acc
      lb(c) =
        if (!hasRadii || metric == CosRaw) acc
        else {
          val r = math.sqrt(radii.getFloat(c).toDouble)
          metric match {
            case L2 =>
              val d = math.sqrt(acc) - r
              if (d > 0) d * d else 0.0
            case Cos => acc + 1.0 - r
            case _ => acc - r * qn
          }
        }
      c += 1
    }
    val order = Array.range(0, nlist).sortWith { (a, b) =>
      lb(a) < lb(b) || (lb(a) == lb(b) &&
        (cd(a) < cd(b) || (cd(a) == cd(b) && a < b)))
    }
    val n = math.min(nprobe, nlist)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) { out(i) = order(i); i += 1 }
    new GenericArrayData(out)
  }
}
