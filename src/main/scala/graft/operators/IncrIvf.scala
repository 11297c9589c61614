package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.index.IndexCatalog

/**
 * Incremental IVF maintenance over a [[Segments]] store — the IVF half of
 * the reference's optimizer contract (crates/index/src/optimizing/
 * index_source.rs:12-146: only affected segments are (re)indexed; an
 * append never retrains or rewrites what is already sealed):
 *
 *  - First ensure trains k-means on the BASE segment and writes the
 *    list-partitioned parquet artifact (rows carry `_ver` = their
 *    segment's version, base = 0).
 *  - An appended delta is assigned to the EXISTING centroids (no
 *    retrain) and its rows are APPENDED as new parquet files inside the
 *    same `list_id=N` partition dirs — previously-written files are
 *    never touched (the spec asserts byte- and mtime-stability).
 *  - Deletes are pure tombstone work: searches version-filter against
 *    the store's live tombstones, the same "tombstone at v hides rows
 *    with version <= v" rule [[IncrHnsw]] uses.
 *  - Compaction promotes: tombstone versions are snapshotted into the
 *    index's `dead/` parquet, then [[Segments.compact]] folds the data
 *    side; list files stay as they are. A later full re-ensure (vacuum
 *    analog) reclaims dead rows and re-centers drifted centroids.
 *
 * Scale shape: the append path reads ONLY the new delta (bounded by
 * `spark.graft.segments.maxGrowingRows`), one assign pass + one
 * partitioned append write; a 0.1% append to a 100 TB corpus costs 0.1%,
 * not a full re-train/rewrite. Searches stay the plain IVF shape — a
 * pruned scan of nprobe/nlist partitions with a broadcast tombstone
 * anti-filter on top.
 *
 * Centroid-drift caveat (same as the reference's optimizer, which also
 * keeps sealed segments' structure until a full optimize): appended rows
 * are bucketed by the base-trained centroids, so recall at fixed nprobe
 * degrades only as far as the append distribution drifts; exactness at
 * nprobe = nlist NEVER depends on centroid quality.
 */
object IncrIvf {

  /** How a family turns segment rows (idCol, fCol) into artifact rows:
    * `prep` keeps the indexable rows and emits the ranking column
    * `rankCol` (dense f32, the k-means / assignment space) plus the
    * stored payload column; `score` gives a query's ranking image and
    * its exact distance column. */
  private case class Family(
      kind: String, metric: String,
      prep: (DataFrame, String, String) => DataFrame,
      rankCol: String, payload: String, useDot: Boolean,
      score: Array[Float] => (Array[Float], Column))

  private def dense(metric: String) = Family(
    "ivf_incr", metric,
    prep = (df, _, fCol) => {
      val v = if (metric == "cos") vectorNormalize(col(fCol)) else col(fCol)
      df.filter(col(fCol).isNotNull && vectorIsFinite(col(fCol)))
        .withColumn("rv", v)
    },
    rankCol = "rv", payload = "rv", useDot = metric != "l2",
    score = q => metric match {
      case "l2" => (q, l2sq(col("rv"), typedLit(q)))
      case "dot" => (q, negdot(col("rv"), typedLit(q)))
      case "cos" =>
        val qn = IvfIndex.Kernels.normalize(q)
        (qn, negdot(col("rv"), typedLit(qn)) + lit(1.0))
    })

  /** A typed family: the [[Payload]]'s encoding and view over the
    * segment's dense column (sparsification policy belongs to the
    * ingest pipeline), its build metric and exact kernel; kind = the
    * payload's kind + `_incr`. */
  private def typed(p: Payload) = Family(
    p.kind + "_incr", p.buildMetric, prep = p.prepare,
    rankCol = p.viewCol, payload = p.payloadCol, useDot = false,
    score = q => (p.densify(q), p.score(p.buildMetric, col(p.payloadCol),
      p.queryForm(typedLit(q)))))

  private def famFor(metric: String): Family = metric match {
    case "hamming" => typed(BvecPayload)
    case "f16" => typed(F16Payload)
    case "svec" => typed(SvecPayload)
    case m => dense(m)
  }

  /** ONE append write for a SET of new deltas (round 16): the per-delta
    * loop paid a full job per delta — at the 64-delta sealing cap that
    * is 64 sequential job overheads per ensure. Rows are identical to
    * the serial path's (each delta's rows stamp their own seq as _ver);
    * only the job count changes, and append-mode writes touch only NEW
    * files (the mtime-stability contract). */
  private def writeSegments(spark: SparkSession, fam: Family,
      dataDir: String, segs: Seq[(Long, String)], idCol: String,
      fCol: String, model: IvfIndex.Model): Unit = {
    if (segs.isEmpty) return
    segs.map { case (ver, dd) =>
      fam.prep(graft.ParquetCache.read(spark, dd), idCol, fCol)
        .withColumn("list_id",
          IvfIndex.nearestCentroid(col(fam.rankCol), model))
        .select(col(idCol), col(fam.payload), col("list_id"),
          lit(ver).as("_ver"))
    }.reduce(_ unionAll _)
      .repartition(col("list_id"))
      .write.mode("append").partitionBy("list_id").parquet(dataDir)
  }

  /** Sync the artifact to the store's committed state, building only
    * what is new (one append write per new delta). Returns the data dir. */
  def ensure(spark: SparkSession, name: String, segDir: String,
      idCol: String, fCol: String, metric: String = "l2",
      nlist: Int = 16, seed: Long = 42L): String = synchronized {
    val fam = famFor(metric)
    // delete_threshold policy (round 17): a due store takes the vacuum
    // prologue here — the rebuild below then runs over the folded store
    IncrMaint.vacuumIfDue(spark, name, segDir, idCol)
    val st = Segments.state(segDir)
    require(st.gen >= 0, s"no committed generation under $segDir")
    val dataDir = IndexCatalog.dataDir(spark, name)
    val prior = IndexCatalog.load(spark, name)
      .filter(_.source == segDir).filter(_.kind == fam.kind)
      .filter(_.metric == fam.metric)
      .filter(_.params.get("nlist").contains(nlist.toString))
      // pre-calibration artifacts rebuild once (the probe_cal staleness
      // convention — round 12)
      .filter(_.params.get("probe_cal").contains(IvfIndex.CalGen))
    val priorGen = prior.flatMap(_.params.get("gen")).map(_.toLong).getOrElse(-1L)
    val priorSeq = prior.flatMap(_.params.get("seq")).map(_.toLong).getOrElse(-1L)
    val promotedGen = prior.flatMap(_.params.get("promoted_gen")).map(_.toLong).getOrElse(-1L)
    val genOk = priorGen == st.gen || promotedGen == st.gen
    if (prior.isEmpty || !genOk) {
      IndexCatalog.drop(spark, name)
      val base = graft.ParquetCache.read(spark, s"$segDir/base-${st.gen}")
      val trained = IvfIndex.train(fam.prep(base, idCol, fCol),
        fam.rankCol, "l2", nlist, seed = seed)
      // carry the assignment metric on the model so base and later delta
      // assigns use the SAME rule (nearestCentroid keys useDot off it)
      val model = IvfIndex.Model(if (fam.useDot) "dot" else "l2", trained.centroids)
      // prep + assign the base ONCE (cached): both the artifact write
      // and the calibration below read it — a second full prep/assign
      // pass over the base segment would roughly double the dominant
      // rebuild cost (round-12 review; the TypedAnn cached-frame shape)
      val baseAssigned = fam.prep(base, idCol, fCol)
        .withColumn("list_id",
          IvfIndex.nearestCentroid(col(fam.rankCol), model))
        .cache()
      try {
      baseAssigned
        .select(col(idCol), col(fam.payload), col("list_id"),
          lit(0L).as("_ver"))
        .repartition(col("list_id"))
        .write.mode("overwrite").partitionBy("list_id").parquet(dataDir)
      writeSegments(spark, fam, dataDir,
        IncrMaint.deltasAfter(segDir, st, -1L), idCol, fCol, model)
      // probe calibration (round 12): measured once on the BASE segment
      // and FROZEN across appends — the IncrQuant frozen-trained-state
      // convention; vacuum retrains and re-measures. The rank closure is
      // search's own ranking (raw-centroid rankLists on the same model —
      // incremental models carry no radii), so coverage is measured in
      // exactly the space the probes are chosen in. Deltas are unseen by
      // the statistic, like they are by the centroids; exactness at
      // nprobe = nlist never depends on either.
      val hint = IvfIndex.probeHint(spark, baseAssigned
          .select(col(fam.rankCol).as("v"), col("list_id").as("pid")),
        fam.metric, nlist, model.rankLists)
      IndexCatalog.commit(spark, name, IndexCatalog.Manifest(
        fam.kind, segDir, fam.metric,
        Map("gen" -> st.gen.toString, "seq" -> st.seq.toString,
          "nlist" -> nlist.toString,
          "probe_cal" -> IvfIndex.CalGen, "probe_hint" -> hint.toString),
        centroids = model.centroids))
      // finally, not post-commit: a failed delta write or calibration
      // must not leak the cached base segment for the session
      } finally baseAssigned.unpersist()
    } else if (st.seq > priorSeq) {
      val pm = prior.get
      val model = IvfIndex.Model(if (fam.useDot) "dot" else "l2", pm.centroids)
      writeSegments(spark, fam, dataDir,
        IncrMaint.deltasAfter(segDir, st, priorSeq), idCol, fCol, model)
      IndexCatalog.commit(spark, name, pm.copy(
        params = pm.params + ("seq" -> st.seq.toString)))
    }
    dataDir
  }

  /** Full optimize: fold the store, rebuild from scratch — reclaims
    * tombstoned rows and re-centers drifted centroids. */
  def vacuum(spark: SparkSession, name: String, segDir: String,
      idCol: String, fCol: String, metric: String = "l2",
      nlist: Int = 16, seed: Long = 42L): String =
    IncrMaint.vacuum(spark, name, segDir, idCol) {
      ensure(spark, name, segDir, idCol, fCol, metric, nlist, seed)
    }

  /** Search: prune to the nprobe closest lists, version-filter against
    * live + promoted-dead tombstones (BEFORE top-k — rows are data, not
    * graph candidates, so no over-fetch is needed), exact-rerank.
    * Exact at nprobe = nlist. Returns (idCol, dist) ascending. */
  def search(spark: SparkSession, name: String, segDir: String,
      idCol: String, q: Array[Float], k: Int, nprobe: Int): DataFrame = {
    val pm = IndexCatalog.load(spark, name).getOrElse(
      throw new IllegalStateException(s"no committed index $name"))
    val fam = Payload.all.find(_.kind + "_incr" == pm.kind).map(typed)
      .getOrElse(dense(pm.metric))
    val (rankQ, distCol) = fam.score(q)
    val model = IvfIndex.Model(if (fam.useDot) "dot" else "l2", pm.centroids)
    val scan = IvfIndex.listScan(spark, IndexCatalog.dataDir(spark, name),
      model.rankLists(rankQ).take(nprobe))
    val visible = Segments.visible(scan,
      IncrMaint.tombstones(spark, name, segDir, idCol), idCol)
    visible.select(col(idCol), distCol.as("dist"))
      .orderBy(col("dist"), col(idCol)).limit(k)
  }
}
