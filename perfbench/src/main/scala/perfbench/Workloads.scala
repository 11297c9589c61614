package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

object Workloads {
  val names = Seq("topk_sql", "ingest_mixed")
  val K = 10

  def run(name: String, ctx: Ctx): Outcome = name match {
    case "topk_sql" => new TopkSql(ctx).run()
    case "ingest_mixed" => new IngestMixed(ctx).run()
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Used heap after a full collection. */
  def residentMb(): Double = {
    System.gc(); System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    m.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
    else f.length()

  /** The corpus as a DataFrame (id, embedding, label). */
  def corpusDf(ctx: Ctx): DataFrame = {
    import ctx.spark.implicits._
    val c = ctx.corpus
    c.ids.indices.map(i => (c.ids(i), c.vecs(i), c.labels(i)))
      .toDF("id", "embedding", "label").repartition(ctx.cores)
  }

  def writeCorpus(ctx: Ctx, dir: String): Unit =
    corpusDf(ctx).write.mode("overwrite").parquet(dir)

  /** System.nanoTime at which a timed loop that starts now must stop. */
  def deadline(ctx: Ctx): Long = System.nanoTime() + ctx.seconds * 1000000000L

  /** Run a query DataFrame with one span per layer boundary: the
    * optimizer (where the ANN rewrite runs), physical planning, then the
    * Spark jobs. Untraced operations make the same calls. */
  def execute(ctx: Ctx, d: DataFrame): (DataFrame, Array[Row]) = {
    val tr = ctx.trace
    tr.span("plans.optimize")(d.queryExecution.optimizedPlan)
    tr.span("plans.physical")(d.queryExecution.executedPlan)
    (d, tr.span("spark.execute")(d.collect()))
  }
}

/** Interactive SQL top-10 against an HNSW-indexed and an IVF-indexed copy
  * of the corpus, a third of the statements filtered on `label`. */
final class TopkSql(ctx: Ctx) {
  import Workloads._
  private val spark = ctx.spark
  private val c = ctx.corpus
  private val out = new Outcome
  private val HnswToml = "[indexing.hnsw]\nm = 12\nef_construction = 64"
  private val IvfToml = "[indexing.ivf]\nnlist = 50"
  private val Pool = 256

  private def stmt(table: String, q: Array[Float], label: Option[Int]): String =
    s"SELECT id, embedding <-> ${Truth.vectorLiteral(q)} AS dist FROM $table " +
      label.fold("")(l => s"WHERE label = $l ") + s"ORDER BY dist LIMIT $K"

  private def setup(): (String, String) = {
    val dir = s"${ctx.runDir}/data/topk"
    val (ht, it) = ("t_hnsw", "t_ivf")
    val (_, s) = timed {
      writeCorpus(ctx, s"$dir/hnsw")
      writeCorpus(ctx, s"$dir/ivf")
      spark.sql(s"CREATE TABLE $ht USING parquet LOCATION '$dir/hnsw'")
      spark.sql(s"CREATE TABLE $it USING parquet LOCATION '$dir/ivf'")
      val (_, h) = timed(spark.sql(s"""CREATE INDEX ${ht}_idx ON $ht USING vectors
        (embedding vector_l2_ops) WITH (options = "$HnswToml")""").collect())
      val (_, i) = timed(spark.sql(s"""CREATE INDEX ${it}_idx ON $it USING vectors
        (embedding vector_l2_ops) WITH (options = "$IvfToml")""").collect())
      out.layer("index.create_index_s.hnsw") = h
      out.layer("index.create_index_s.ivf") = i
    }
    out.setupS = s
    (ht, it)
  }

  def run(): Outcome = {
    spark.sql("SET vectors.enable_index = on")
    val (ht, it) = setup()
    out.residentMb = residentMb()
    val root = graft.index.IndexCatalog.root(spark)
    out.layer("index.bytes_per_input_byte.hnsw") =
      dirBytes(new java.io.File(s"$root/${ht}_idx")).toDouble / c.payloadBytes
    out.layer("index.bytes_per_input_byte.ivf") =
      dirBytes(new java.io.File(s"$root/${it}_idx")).toDouble / c.payloadBytes

    // build-time calibrations of the two indexes, for reading drift
    Seq(ht, it).foreach { t =>
      graft.index.IndexCatalog.load(spark, s"${t}_idx").foreach { m =>
        out.notes(if (t == ht) "hnsw_calibration" else "ivf_calibration") = Json.obj(
          m.params.toSeq.filter { case (k, _) => k.contains("hint") || k.contains("cal") }
            .sortBy(_._1).map { case (k, v) => k -> Json.str(v) }: _*)
      }
    }
    val pool = Array.fill(Pool)(c.query())
    val plan = (0 until 100000).iterator.map { i =>
      // tables alternate in pairs so traced (even) operations hit both
      (pool(i % Pool), if (i / 2 % 2 == 0) ht else it,
        if (i % 3 == 0) Some(c.nextInt(c.Labels)) else None)
    }
    def lookup(label: Option[Int])(id: Long): Either[String, Array[Float]] =
      if (id < 0 || id >= c.n) Left(s"unknown id $id")
      else if (label.exists(_ != c.labels(id.toInt))) Left(s"id $id outside the filter")
      else Right(c.vecs(id.toInt))
    def truth(q: Array[Float], label: Option[Int]) =
      Truth.topk(q, c.ids, c.vecs, K, i => label.forall(_ == c.labels(i)))
    def one(i: Int, q: Array[Float], table: String, label: Option[Int],
        exact: Boolean = false): Option[((DataFrame, Array[Row]), Double)] = {
      val kind = "topk_sql." + (if (table == ht) "hnsw" else "ivf") +
        (if (label.isDefined) "_filtered" else "") + (if (exact) "_exact" else "")
      val traced = !exact && ctx.traceOp(i)
      ctx.ledger.attempt(kind, traced) {
        execute(ctx, ctx.trace.span("index.sql")(spark.sql(stmt(table, q, label))))
      } { case (d, rows) =>
        // rewrite and probed-list bookkeeping, outside the timed body
        if (traced) {
          rewrites += 1
          val plan = d.queryExecution.optimizedPlan
          if (readsIndex(plan, root)) rewritten += 1
          if (table == it) ivfLists(plan)
        }
        val t = truth(q, label)
        val got = rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq
        // the SQL rewrite of a filtered HNSW statement is one candidate
        // fetch, filtered after (AnnPushdown's basic-mode form), which may
        // return fewer than k rows: a recall loss, counted in the record
        val basic = table == ht && label.isDefined
        val verdict = Checks.topk(got, q, t, K, lookup(label), exact = exact,
          mayUnderfill = basic)
        if (verdict.isEmpty && !exact) out.recalls += Truth.recall(got.map(_._2), t)
        if (verdict.isEmpty && got.length < t.length) shortAnswers += 1
        verdict
      }
    }

    // untimed warm-up: JIT, codegen and graph cache
    (0 until 20).foreach { i => val (q, t, l) = plan.next(); one(-1, q, t, l) }
    val (h0, l0) = graft.operators.Hnsw.GraphCache.counters
    val end = deadline(ctx)
    val t0 = System.nanoTime()
    var i = 0
    while (System.nanoTime() < end) {
      val (q, t, l) = plan.next()
      one(i, q, t, l).foreach { case (_, s) => out.sample(s * 1000, ctx.traceOp(i)) }
      i += 1
    }
    out.workSecs = (System.nanoTime() - t0) / 1e9
    out.work = out.latMs.length
    val (h1, l1) = graft.operators.Hnsw.GraphCache.counters

    // exact path: the same statements with the index disabled
    spark.sql("SET vectors.enable_index = off")
    Seq((ht, None), (it, None), (ht, Some(3)), (it, Some(7))).foreach {
      case (t, l) => one(-1, pool(0), t, l, exact = true)
    }
    spark.sql("SET vectors.enable_index = on")

    out.notes("hnsw_filtered_short_answers") = shortAnswers.toString
    out.named("topk_p50_ms") = (Stats.pct(out.latMs, 0.5), "ms")
    out.named("topk_p95_ms") = (Stats.pct(out.latMs, 0.95), "ms")
    out.named("topk_recall_at_10") = (Stats.mean(out.recalls.toSeq), "share")
    if (ctx.traced) {
      out.layer("plans.rewrite_ratio") = rewritten.toDouble / math.max(1, rewrites)
      out.layer("operators.graphcache_loads") = (l1 - l0).toDouble
      out.layer("operators.graphcache_hit_ratio") =
        (h1 - h0).toDouble / math.max(1L, (h1 - h0) + (l1 - l0))
      val hnswDir = graft.index.IndexCatalog.dataDir(spark, s"${ht}_idx")
      Layers.walkMetrics(ctx, out, hnswDir, pool)
      val m = graft.index.IndexCatalog.load(spark, s"${it}_idx").get
      val model = graft.operators.IvfIndex.Model(m.metric, m.centroids,
        m.floats.get("radii").orNull)
      Layers.routeMetrics(out, model, pool)
      val sizes = Layers.listSizes(spark, graft.index.IndexCatalog.dataDir(spark, s"${it}_idx"))
      out.kernelPairs = ivfProbed.map(_.map(sizes.getOrElse(_, 0L)).sum).sum
      out.kernelOps = ivfProbed.length
      out.kernelKind = "topk_sql.ivf"
    }
    out
  }

  private var shortAnswers = 0
  private var rewrites = 0
  private var rewritten = 0
  private val ivfProbed = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
  private val ListsRe = """list_id#\d+ (?:IN \(|INSET )([0-9, ]+)""".r

  /** The IVF lists a statement's plan probes, read from its list filter. */
  private def ivfLists(plan: LogicalPlan): Unit =
    ListsRe.findFirstMatchIn(plan.toString).foreach { m =>
      ivfProbed += m.group(1).split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
    }

  /** Did the ANN rewrite replace the table scan: the plan reads an index
    * artifact (IVF lists under the index root) or an index frontier RDD
    * (HNSW graphs) instead of the table. */
  private def readsIndex(plan: LogicalPlan, root: String): Boolean =
    plan.collectLeaves().exists {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.exists(_.toString.contains(root))
        case _ => false
      }
      case leaf => leaf.nodeName.contains("RDD")
    }
}

/** Writes beside reads on the segment store: each round appends a batch
  * (a fifth of it re-inserts of live ids), deletes a batch, runs
  * `IncrHnsw.ensure`, then sequential searches checked against the
  * benchmark's own model of the visible rows. Ends with a vacuum. */
final class IngestMixed(ctx: Ctx) {
  import Workloads._
  import graft.operators.{IncrHnsw, Segments}
  private val spark = ctx.spark
  private val c = ctx.corpus
  private val out = new Outcome
  private val AppendRows = 500
  private val UpdateRows = 100
  private val DeleteRows = 150
  private val SearchesPerRound = 15
  private val Efc = 100
  private val Rounds = math.max(2, ctx.seconds * 2 / 5)

  def run(): Outcome = {
    val (seg, name) = (s"${ctx.runDir}/data/seg", "incr")
    val (_, setupS) = timed {
      Segments.init(spark, seg, corpusDf(ctx).select("id", "embedding"), "id")
      val (_, e) = timed(IncrHnsw.ensure(spark, name, seg, "id", "embedding",
        efConstruction = Efc))
      out.layer("index.create_index_s.incr_hnsw") = e
    }
    out.setupS = setupS
    out.residentMb = residentMb()
    import spark.implicits._

    // the model: id -> current vector of every visible row
    val live = scala.collection.mutable.LongMap.empty[Array[Float]]
    c.ids.indices.foreach(i => live(c.ids(i)) = c.vecs(i))
    val updated = scala.collection.mutable.HashSet.empty[Long]
    val deleted = scala.collection.mutable.HashSet.empty[Long]
    var nextId = c.n.toLong
    def liveArrays = {
      val ks = live.keys.toArray
      (ks, ks.map(live(_)))
    }
    def lookup(id: Long): Either[String, Array[Float]] =
      live.get(id).toRight(if (deleted(id)) s"tombstoned id $id" else s"unknown id $id")
    def search(i: Int, q: Array[Float], exact: Boolean): Option[Double] = {
      val (ids, vecs) = liveArrays
      ctx.ledger.attempt("ingest.search" + (if (exact) "_exact" else ""),
          !exact && ctx.traceOp(i)) {
        execute(ctx, ctx.trace.span("operators.incr_search")(
          IncrHnsw.search(spark, name, seg, "id", q, K, exact = exact)))._2
      } { rows =>
        val t = Truth.topk(q, ids, vecs, K)
        val got = rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val v = Checks.topk(got, q, t, K, lookup, updated, exact)
        if (v.isEmpty && !exact) out.recalls += Truth.recall(got.map(_._2), t)
        v
      }.map(_._2)
    }
    val appendS, deleteS, ensureS = scala.collection.mutable.ArrayBuffer.empty[Double]
    def pick(n: Int, from: Array[Long]): Array[Long] = {
      val chosen = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (chosen.size < n) chosen += from(c.nextInt(from.length))
      chosen.toArray
    }

    var i = 0
    /** One round; a warm-up one (`record = false`) records no samples and no
      * write times. */
    def round(record: Boolean): Unit = {
      val liveIds = live.keys.toArray.sorted
      val ups = pick(UpdateRows, liveIds)
      val upSet = ups.toSet
      val dels = pick(DeleteRows, liveIds.filterNot(upSet))
      val batch = ups.map(id => (id, c.fresh())) ++
        Array.fill(AppendRows - UpdateRows) { nextId += 1; (nextId - 1, c.fresh()) }
      val a = ctx.ledger.attempt("ingest.append") {
        Segments.append(spark, seg, batch.toSeq.toDF("id", "embedding"), "id")
      }(_ => None)
      a.foreach { case (_, s) =>
        if (record) appendS += s
        batch.foreach { case (id, v) => live(id) = v }
        updated ++= ups
      }
      val d = ctx.ledger.attempt("ingest.delete") {
        Segments.delete(spark, seg, dels.toSeq.toDF("id"), "id")
      }(_ => None)
      d.foreach { case (_, s) =>
        if (record) deleteS += s
        dels.foreach { id => live.remove(id); deleted += id; updated -= id }
      }
      ctx.ledger.attempt("ingest.ensure") {
        IncrHnsw.ensure(spark, name, seg, "id", "embedding", efConstruction = Efc)
      }(_ => None).foreach { case (_, s) => if (record) ensureS += s }
      (0 until SearchesPerRound).foreach { _ =>
        if (record) {
          search(i, c.query(), exact = false).foreach(s => out.sample(s * 1000, ctx.traceOp(i)))
          i += 1
        } else search(-1, c.query(), exact = false)
      }
      search(-1, c.query(), exact = true)
    }

    // untimed warm-up: JIT and codegen of the search and the write paths
    // (with one warm-up round, search and ensure times still fell over
    // the timed rounds)
    (0 until 20).foreach(_ => search(-1, c.query(), exact = false))
    (0 until 2).foreach(_ => round(record = false))
    val (h0, l0) = graft.operators.Hnsw.GraphCache.counters
    val t0 = System.nanoTime()
    // a fixed number of rounds, about --seconds long on a 4-core host:
    // the store's end state (side graphs, tombstones) is then the same on
    // every run of a seed, instead of depending on how fast the host was
    (0 until Rounds).foreach(_ => round(record = true))
    val (h1, l1) = graft.operators.Hnsw.GraphCache.counters
    val writeS = appendS.sum + deleteS.sum + ensureS.sum
    out.work = appendS.length * AppendRows + deleteS.length * DeleteRows
    out.workSecs = writeS
    val sides = Option(new java.io.File(graft.index.IndexCatalog.dataDir(spark, name))
      .listFiles()).getOrElse(Array.empty).count(_.getName.startsWith("side-"))

    val vac = ctx.ledger.attempt("ingest.vacuum") {
      IncrHnsw.vacuum(spark, name, seg, "id", "embedding", efConstruction = Efc)
    }(_ => None).map(_._2)
    (0 until 3).foreach(_ => search(-1, c.query(), exact = true))

    out.named("ingest_rows_per_s") = (out.work / out.workSecs, "1/s")
    out.named("fresh_topk_p50_ms") = (Stats.pct(out.latMs, 0.5), "ms")
    out.named("fresh_topk_p95_ms") = (Stats.pct(out.latMs, 0.95), "ms")
    out.named("fresh_recall_at_10") = (Stats.mean(out.recalls.toSeq), "share")
    out.named("vacuum_s") = (vac.getOrElse(Double.NaN), "s")
    out.notes("rounds") = Rounds.toString
    // per round, to read how search and ensure cost grow with the store
    out.notes("round_search_p50_ms") = Json.arr(
      out.latMs.grouped(SearchesPerRound).map(r => Json.num(Stats.median(r))).toSeq)
    out.notes("round_ensure_s") = Json.arr(ensureS.map(Json.num).toSeq)
    out.notes("loop_s") = Json.num((System.nanoTime() - t0) / 1e9)
    if (ctx.traced) {
      out.layer("operators.append_s") = Stats.median(appendS.toSeq)
      out.layer("operators.delete_s") = Stats.median(deleteS.toSeq)
      out.layer("operators.incr_ensure_s") = Stats.median(ensureS.toSeq)
      out.layer("operators.side_graphs") = sides.toDouble
      out.layer("operators.vacuum_s") = vac.getOrElse(0.0)
      out.layer("operators.graphcache_loads") = (l1 - l0).toDouble
      out.layer("operators.graphcache_hit_ratio") =
        (h1 - h0).toDouble / math.max(1L, (h1 - h0) + (l1 - l0))
      val graphs = Option(new java.io.File(graft.index.IndexCatalog.dataDir(spark, name))
        .listFiles()).getOrElse(Array.empty).filter(_.getName.endsWith(".bin"))
      graphs.sortBy(-_.length()).headOption.foreach { g =>
        Layers.walkMetrics(ctx, out, g.getParent, Array.fill(64)(c.query()))
      }
    }
    out
  }
}
