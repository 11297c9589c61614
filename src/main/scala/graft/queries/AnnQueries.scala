package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.operators.{BvecPayload, Codec, CodedFlat, CodedHnsw, CodedIvf, F16Payload, Hnsw, IncrHnsw, IncrQuant, IvfIndex, KnnJoin, MaxSimJoin, PqCodec, PqQuant, Quant, Rabitq, Rabitq4, RabitqCodec, RabitqQuant, SparseSearch, Sq8Codec, Sq8Quant, SvecPayload, TypedAnn}

/**
 * ANN search paths (SURVEY §2.6): IVF (partition-pruned index table),
 * HNSW (persisted per-partition graphs), SQ8 quantized two-stage rerank,
 * and the sparse inverted-index top-k.
 *
 * Index builds are one-time CREATE INDEX jobs cataloged on disk
 * (graft.index.IndexCatalog); every query here only READS artifacts.
 * Bench pre-ensures them untimed, mirroring the reference where `CREATE
 * INDEX` cost never pollutes a SELECT.
 *
 * Exactness contract mirrors the reference's test corpus (BASELINE §3):
 * approximate queries assert "returns exactly k rows" (oracle omitted)
 * with recall@k measured in AnnSpec, and EACH has an exact-mode twin with
 * a full DuckDB oracle: IVF at nprobe=nlist, SQ8 at full rerank window,
 * HNSW single-graph at ef=n — provably exhaustive configurations scoring
 * true distances.
 */
object AnnQueries {
  import Tables.t

  private def san(dir: String) = dir.replaceAll("[^a-zA-Z0-9]", "_")

  def ivf(s: SparkSession, d: String, metric: String): (IvfIndex.Model, String) =
    IvfIndex.ensure(s, s"ivf_${metric}_${san(d)}", t(s, d, "embeddings"), d,
      "embedding", metric, nlist = 16)

  def sq8(s: SparkSession, d: String): (Sq8Codec, String) =
    CodedFlat.ensure(s, s"sq8_${san(d)}", t(s, d, "embeddings"), d, "vec_id",
      "embedding", Sq8Quant)

  def hnsw(s: SparkSession, d: String, parts: Int, metric: String = "l2"): String =
    Hnsw.ensure(s, s"hnsw_${metric}_p${parts}_${san(d)}", t(s, d, "embeddings"), d,
      "vec_id", "embedding", metric, parts)

  def hnswsq(s: SparkSession, d: String, parts: Int): (Codec, String) =
    CodedHnsw.ensure(s, s"hnswsq8_p${parts}_${san(d)}", t(s, d, "embeddings"), d,
      "vec_id", "embedding", parts, Sq8Quant)

  def hnswpq(s: SparkSession, d: String, parts: Int): (Codec, String) =
    CodedHnsw.ensure(s, s"hnswpq_p${parts}_${san(d)}", t(s, d, "embeddings"), d,
      "vec_id", "embedding", parts, PqQuant())

  def hnswrq(s: SparkSession, d: String, parts: Int): (Codec, String) =
    CodedHnsw.ensure(s, s"hnswrq_p${parts}_${san(d)}", t(s, d, "embeddings"), d,
      "vec_id", "embedding", parts, RabitqQuant)

  def sparse(s: SparkSession, d: String): String =
    SparseSearch.ensure(s, s"sparse_${san(d)}", sparseDocs(s, d), d, "vec_id", "sv")

  def sparsePruned(s: SparkSession, d: String): String =
    // top_m=1024: ~8x truncation of the sf0.1 posting lists; a no-op at
    // sf0.01 where lists are shorter than the cap
    SparseSearch.ensurePruned(s, s"sparsepr_${san(d)}", sparseDocs(s, d), d,
      "vec_id", "sv", topM = 1024)

  def pq(s: SparkSession, d: String): (PqCodec, String) =
    CodedFlat.ensure(s, s"pq_${san(d)}", t(s, d, "embeddings"), d, "vec_id",
      "embedding", PqQuant())

  /** 4-bit packed PQ (the fast_scan layout analog,
    * crates/quantization/src/fast_scan/): codes two-per-byte, m/2 bytes
    * scanned per row by the coarse pass. */
  def pq4(s: SparkSession, d: String): (PqCodec, String) =
    CodedFlat.ensure(s, s"pq4_${san(d)}", t(s, d, "embeddings"), d,
      "vec_id", "embedding", PqQuant(packed = true))

  def rabitq(s: SparkSession, d: String): (RabitqCodec, String) =
    CodedFlat.ensure(s, s"rabitq_${san(d)}", t(s, d, "embeddings"), d,
      "vec_id", "embedding", RabitqQuant)

  /** RaBitQ fast_scan blocked layout (rq_fast_scan analog): 32-vector
    * interleaved nibble blocks scored from per-query group LUTs. */
  def rq4(s: SparkSession, d: String): (Rabitq.Model, String) =
    Rabitq4.ensure(s, s"rq4_${san(d)}", t(s, d, "embeddings"), d,
      "vec_id", "embedding")

  /** bvector Hamming IVF over binarized embeddings (opclass matrix row:
    * bvector_l2/hamming, finalize.sql:719-803). */
  def bvecAnn(s: SparkSession, d: String): (IvfIndex.Model, String) =
    TypedAnn.ensure(s, BvecPayload, s"bvecann_${san(d)}",
      t(s, d, "embeddings"), d,
      "vec_id", "embedding", nlist = 16)

  /** vecf16 L2 IVF. The indexed vectors are small-int-valued (f16
    * rounding is exact on them), which is what lets the exact-mode twin
    * carry a plain double-arithmetic DuckDB oracle — the index/search
    * code path is identical for any f32 input. */
  private def f16Source(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").select(col("c_custkey"),
      array(col("c_nationkey").cast("float"),
        (col("c_custkey") % 100).cast("float"),
        (col("c_custkey") % 7).cast("float"),
        (col("c_custkey") % 13).cast("float")).as("v4"))

  def f16Ann(s: SparkSession, d: String): (IvfIndex.Model, String) =
    TypedAnn.ensure(s, F16Payload, s"f16ann_${san(d)}", f16Source(s, d), d,
      "c_custkey", "v4", nlist = 16)

  /** svector IVF over the sparsified embeddings (opclass rows
    * svector_l2/dot/cos_ops) — one artifact serves all three metrics. */
  def svecAnn(s: SparkSession, d: String): (IvfIndex.Model, String) =
    TypedAnn.ensure(s, SvecPayload, s"svecann_${san(d)}", sparseDocs(s, d), d,
      "vec_id", "sv", nlist = 16)

  /** svector IVF over UN-sparsified embeddings (sv = svec_from_dense of
    * the raw column) for the svec range-pushdown path: the artifact's
    * stored CSR payload must equal the query spelling's
    * `svec_from_dense(embedding)` exactly for the rewritten filter to be
    * value-identical. */
  def svecRange(s: SparkSession, d: String): (IvfIndex.Model, String) =
    TypedAnn.ensure(s, SvecPayload, s"svecrange_${san(d)}",
      t(s, d, "embeddings").select(col("vec_id"),
        svecFromDense(col("embedding")).as("sv")),
      d, "vec_id", "sv", nlist = 16)

  def ivfpq(s: SparkSession, d: String): (CodedIvf.Model, String) =
    CodedIvf.ensure(s, s"ivfpq_${san(d)}", t(s, d, "embeddings"), d,
      "vec_id", "embedding", nlist = 16, PqQuant())

  /** bvector Hamming HNSW (opclass bvector_hamming_ops): graphs over the
    * densified 0/1 view — l2sq on 0/1 vectors IS Hamming distance, so
    * the stock graph + kernels give exact Hamming semantics. (HNSW
    * graphs are memory-resident f32; the compact-payload scale path for
    * bvector is [[graft.operators.TypedAnn]].) */
  def bvecHnsw(s: SparkSession, d: String, parts: Int): String =
    Hnsw.ensure(s, s"hnswbv_p${parts}_${san(d)}",
      t(s, d, "embeddings").select(col("vec_id"),
        bvecToDense(binarize(col("embedding"))).as("bv01")),
      d, "vec_id", "bv01", "l2", parts)

  /** vecf16 L2 HNSW (opclass vecf16_l2_ops): graphs over the f16-rounded
    * f32 view of the same small-int fixture vectors the vecf16 IVF
    * indexes — f16 rounding is exact on them, so the exact twin carries
    * the same double-arithmetic oracle. */
  def f16Hnsw(s: SparkSession, d: String, parts: Int): String =
    Hnsw.ensure(s, s"hnswf16_p${parts}_${san(d)}",
      f16Source(s, d).select(col("c_custkey"),
        f16ToVector(toF16Bits(col("v4"))).as("v16")),
      d, "c_custkey", "v16", "l2", parts)

  /** svector L2 HNSW (opclass svector_l2_ops on the HNSW AM,
    * src/sql/finalize.sql:731–735): graphs over the densified CSR view —
    * l2 over the densified sparsified vectors IS svector l2 term-for-term
    * in index order (restored zeros contribute exact +0.0), so the exact
    * twin shares the q_svec_ann_exact oracle. The compact-CSR-payload
    * scale path for svector stays [[TypedAnn]] over [[SvecPayload]]. */
  def svecHnsw(s: SparkSession, d: String, parts: Int): String =
    Hnsw.ensure(s, s"hnswsv_p${parts}_${san(d)}",
      sparseDocs(s, d).select(col("vec_id"), svecToDense(col("sv")).as("dv")),
      d, "vec_id", "dv", "l2", parts)

  def ivfsq(s: SparkSession, d: String): (CodedIvf.Model, String) =
    CodedIvf.ensure(s, s"ivfsq8_${san(d)}", t(s, d, "embeddings"), d,
      "vec_id", "embedding", nlist = 16, Sq8Quant)

  /** PARTIAL l2 IVF over `vec_id % 7 = 0` (reference partial indexes:
    * `CREATE INDEX ... WHERE pred`) — the artifact holds only matching
    * rows, 1/7 of the table. */
  def ivfPartial(s: SparkSession, d: String): (IvfIndex.Model, String) =
    IvfIndex.ensure(s, s"ivf_l2_part7_${san(d)}",
      t(s, d, "embeddings").filter(col("vec_id") % 7 === 0), d,
      "embedding", "l2", nlist = 8)

  /** Build-once vector segment store: base = embeddings, reinsert mirror
    * ids (+20000 for vec_id < 5), delete ids 1 and 20003. */
  def ensureVecSegments(s: SparkSession, d: String): String = {
    import graft.operators.Segments
    val segDir = sys.props("java.io.tmpdir") + "/graft_vecsegments_" + san(d)
    Segments.synchronized {
      if (Segments.state(segDir).gen < 0) {
        val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        Segments.init(s, segDir, e, "vec_id")
        Segments.append(s, segDir, e.filter(col("vec_id") < 5)
          .select((col("vec_id") + 20000).as("vec_id"), col("embedding")),
          "vec_id")
        Segments.delete(s, segDir,
          s.range(1).select(lit(1L).as("vec_id"))
            .unionAll(s.range(1).select(lit(20003L).as("vec_id"))), "vec_id")
      }
    }
    segDir
  }

  /** Build-once UPDATE store (update.slt analog): the hybrid store's
    * construction plus an in-place row update — id 2 is deleted and
    * re-appended carrying row 0's embedding, the reference's UPDATE =
    * DELETE + INSERT decomposition (a tombstone at v hides the old row;
    * the re-insert lands in a delta with version > v, so exactly the new
    * value is visible). Marker-gated: a crash mid-construction rebuilds
    * instead of serving a half-updated store. */
  def ensureUpdateSegments(s: SparkSession, d: String): String = {
    import graft.operators.Segments
    val segDir = sys.props("java.io.tmpdir") + "/graft_updsegments_" + san(d)
    val marker = new java.io.File(segDir, "_GRAFT_FIXTURE_DONE")
    Segments.synchronized {
      if (!marker.isFile) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete()
        }
        rm(new java.io.File(segDir))
        val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        Segments.init(s, segDir, e, "vec_id")
        Segments.append(s, segDir, e.filter(col("vec_id") < 5)
          .select((col("vec_id") + 20000).as("vec_id"), col("embedding")),
          "vec_id")
        Segments.delete(s, segDir,
          s.range(1).select(lit(1L).as("vec_id"))
            .unionAll(s.range(1).select(lit(20003L).as("vec_id"))), "vec_id")
        // the UPDATE: delete id 2, re-append it with row 0's embedding
        Segments.delete(s, segDir,
          s.range(1).select(lit(2L).as("vec_id")), "vec_id")
        Segments.append(s, segDir, e.filter(col("vec_id") === 0)
          .select(lit(2L).as("vec_id"), col("embedding")), "vec_id")
        marker.createNewFile()
      }
    }
    segDir
  }

  /** Build-once UPDATE store driven by the STATEMENT surface
    * (update.slt:14/:29 executable): identical final visible set to
    * [[ensureUpdateSegments]], but the tombstone deletes and the row
    * update run as parsed `DELETE FROM '<dir>'` / `UPDATE '<dir>' SET
    * ...` statements — SqlDml's segment-store arm, where UPDATE
    * re-appends matched rows (the shadow tombstone hides old versions)
    * and DELETE writes an id tombstone set. The in-fixture `require`s
    * pin the reported row counts, so a statement that silently matched
    * nothing fails the gate, not just a spec. */
  def ensureUpdateStmtSegments(s0: SparkSession, d: String): String = {
    import graft.operators.Segments
    val s = LifecycleQueries.ddlSession(s0)
    val segDir = sys.props("java.io.tmpdir") + "/graft_updstmtsegs_" + san(d)
    val marker = new java.io.File(segDir, "_GRAFT_FIXTURE_DONE")
    Segments.synchronized {
      if (!marker.isFile) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete()
        }
        rm(new java.io.File(segDir))
        val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        Segments.init(s, segDir, e, "vec_id")
        Segments.append(s, segDir, e.filter(col("vec_id") < 5)
          .select((col("vec_id") + 20000).as("vec_id"), col("embedding")),
          "vec_id")
        val del = s.sql(
          s"DELETE FROM '$segDir' WHERE vec_id = 1 OR vec_id = 20003")
          .head().getString(0)
        require(del == "ok (2 rows deleted)", s"DELETE statement: $del")
        Segments.read(s, segDir, "vec_id").drop("_ver")
          .createOrReplaceTempView("graft_updstmt_src")
        val upd = s.sql(s"UPDATE '$segDir' SET embedding = " +
          "(SELECT embedding FROM graft_updstmt_src WHERE vec_id = 0) " +
          "WHERE vec_id = 2").head().getString(0)
        require(upd == "ok (1 rows updated)", s"UPDATE statement: $upd")
        marker.createNewFile()
      }
    }
    segDir
  }

  /** Build-once SPARSIFIED vector segment store (the ingest pipeline
    * owns sparsification — IncrIvf's svec-family convention): base =
    * sparsified embeddings, same mirror/delete construction as
    * [[ensureVecSegments]] so visible-set oracles replay identically. */
  def ensureSparseSegments(s: SparkSession, d: String): String = {
    import graft.operators.Segments
    val segDir = sys.props("java.io.tmpdir") + "/graft_svecsegments_" + san(d)
    Segments.synchronized {
      if (Segments.state(segDir).gen < 0) {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), sparsify(col("embedding")).as("embedding"))
        Segments.init(s, segDir, e, "vec_id")
        Segments.append(s, segDir, e.filter(col("vec_id") < 5)
          .select((col("vec_id") + 20000).as("vec_id"), col("embedding")),
          "vec_id")
        Segments.delete(s, segDir,
          s.range(1).select(lit(1L).as("vec_id"))
            .unionAll(s.range(1).select(lit(20003L).as("vec_id"))), "vec_id")
      }
    }
    segDir
  }

  /** Pre-build every index artifact for a data dir (bench warmup / the
    * CREATE INDEX phase). */
  def ensureAll(s: SparkSession, d: String): Unit = {
    ivf(s, d, "l2"); ivf(s, d, "cos"); ivf(s, d, "dot")
    sq8(s, d); pq(s, d); pq4(s, d); rabitq(s, d); rq4(s, d)
    hnsw(s, d, 4); hnsw(s, d, 1); hnsw(s, d, 4, "cos"); hnsw(s, d, 1, "cos")
    hnswsq(s, d, 4); hnswpq(s, d, 4); hnswrq(s, d, 4)
    bvecHnsw(s, d, 1); f16Hnsw(s, d, 1)
    svecHnsw(s, d, 1); svecHnsw(s, d, 4)
    bvecAnn(s, d); f16Ann(s, d); svecAnn(s, d); svecRange(s, d)
    ivfpq(s, d); ivfsq(s, d); ivfPartial(s, d)
    sparse(s, d); sparsePruned(s, d)
    val segDir = ensureVecSegments(s, d)
    IncrHnsw.ensure(s, s"incrhnsw_${san(d)}", segDir, "vec_id", "embedding")
    // the statement-driven update store (q_sql_update_stmt) is a
    // multi-step fixture — pre-built untimed per the round-8 rule;
    // tmp-sourced, so the q_index_stat idx_source filter never sees it
    locally {
      val updStmtDir = ensureUpdateStmtSegments(s, d)
      IncrHnsw.ensure(s, s"updstmthnsw_${san(d)}", updStmtDir,
        "vec_id", "embedding")
    }
    graft.operators.IncrIvf.ensure(s, s"ivfincr_${san(d)}", segDir,
      "vec_id", "embedding", metric = "l2", nlist = 16)
    Seq(Sq8Quant, PqQuant(), RabitqQuant).foreach { quant =>
      IncrQuant.ensure(s, incrQuantName(quant, d), segDir,
        "vec_id", "embedding", quant)
    }
    graft.operators.IncrSparse.ensure(s, s"sparseincr_${san(d)}",
      ensureSparseSegments(s, d), "vec_id", "embedding")
  }

  /** The incremental coded index of `quant` over the vec segment store:
    * the one spelling for the untimed prebuild in [[ensureAll]] and the
    * q_<family>incr queries. Tmp-sourced, so q_index_stat never sees it. */
  private def incrQuantName(quant: Quant[Codec], d: String): String = {
    val family = if (quant == RabitqQuant) "rq" else quant.name
    s"${family}incr_${san(d)}"
  }

  private def qvec(s: SparkSession, dir: String): Array[Float] =
    Tables.fixture("qvec:" + dir) {
      t(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
    }

  /** Query row 0's sparsified CSR terms — shared by every sparse search
    * entry (cached: four queries re-fetched the identical row). */
  private def sparseQTerms(s: SparkSession, dir: String): Seq[(Int, Float)] =
    Tables.fixture("sparseq:" + dir) {
      val r = sparseDocs(s, dir).filter(col("vec_id") === 0)
        .select(col("sv.indexes"), col("sv.values")).head()
      r.getSeq[Int](0).zip(r.getSeq[Float](1))
    }

  /** Densified sparsified query — same threshold rule as [[sparsify]]
    * (double compare, matching the Column expression's type promotion). */
  private def qvecSparse(s: SparkSession, dir: String): Array[Float] =
    qvec(s, dir).map(x => if (math.abs(x.toDouble) > 0.15) x else 0.0f)

  private def batchQueries(s: SparkSession, dir: String): Seq[(Long, Array[Float])] =
    Tables.fixture("batchq:" + dir) {
      t(s, dir, "embeddings").filter(col("vec_id") < 3)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    }

  /** Fixed small-int f16-exact batch queries for the vecf16 artifact
    * (f16 rounding is identity on these values — the
    * q_vecf16_ann_exact oracle convention). */
  private val f16BatchQueries: Seq[(Long, Array[Float])] = Seq(
    (0L, Array(12f, 50f, 3f, 7f)),
    (1L, Array(0f, 10f, 1f, 2f)),
    (2L, Array(24f, 99f, 6f, 12f)))

  /** Batch queries sparsified by the [[sparsify]] threshold rule (the
    * svector artifact's document-side convention). */
  private def batchQueriesSparse(s: SparkSession, dir: String): Seq[(Long, Array[Float])] =
    batchQueries(s, dir).map { case (id, v) =>
      (id, v.map(x => if (math.abs(x.toDouble) > 0.15) x else 0.0f))
    }

  /** Search-time tunables — GUC analogs (src/gucs/executing.rs:4-23).
    * pgvector compatibility mode (src/index/compatibility.rs:7-60,
    * compact_var.slt): the pgvector spellings (`ivfflat.probes`,
    * `hnsw.ef_search`) are honored as aliases ONLY while
    * `spark.graft.pgvector.compatibility` is on — with it off they are
    * inert, exactly the reference (the utility hook returns without
    * swapping names when the GUC is disabled). */
  /** "auto" — the round-11 default spelling of spark.graft.ann.nprobe,
    * whose per-artifact resolution lives in the REWRITE RULE — resolves
    * to the fixed default here (direct-call gates must not throw on a
    * conf another component understands). Any OTHER non-numeric value
    * still errors like before: silently mapping a typo to the default
    * would discard the user's intent. */
  /** Restore spark.graft.ann.nprobe to its pre-gate state. UNSET is a
    * meaningful state (the round-11 "auto" default resolves in the
    * rewrite rule): restoring a synthesized "10" into a previously
    * unset conf would pin the session away from the calibrated
    * per-artifact default for its remaining lifetime. */
  private def restoreNprobe(s: SparkSession, prev: Option[String]): Unit =
    prev match {
      case Some(v) => s.conf.set("spark.graft.ann.nprobe", v)
      case None => s.conf.unset("spark.graft.ann.nprobe")
    }

  private def conf2(s: SparkSession, pgvector: String, native: String,
      dflt: String): Int = {
    val raw = graft.index.Gucs.alias(s, pgvector)
      .getOrElse(s.conf.get(native, dflt)).trim
    if (raw.equalsIgnoreCase("auto")) dflt.toInt else raw.toInt
  }
  private def nprobeConf(s: SparkSession) =
    conf2(s, "spark.graft.ivfflat.probes", "spark.graft.ann.nprobe", "10")
  /** Per-ARTIFACT nprobe resolution for direct (non-declarative) search
    * entry points whose artifacts carry a calibrated probe_hint —
    * AnnRewriteRule.nprobeFor's shape: an explicit numeric conf wins,
    * "auto" (the default) resolves max(10, hint). Round 12: IncrIvf
    * calibrates its base segment, and its searches have no declarative
    * arm (tombstone filtering), so the query layer resolves here. */
  private def nprobeConfFor(s: SparkSession, name: String): Int = {
    val raw = graft.index.Gucs.alias(s, "spark.graft.ivfflat.probes")
      .getOrElse(s.conf.get("spark.graft.ann.nprobe", "auto")).trim
    // the conf2 contract: only the literal "auto" resolves — garbage
    // still errors like every sibling query (round-12 review; the
    // rule-side never-throw leniency doesn't apply to a direct entry)
    if (raw.equalsIgnoreCase("auto")) {
      val hint = graft.index.IndexCatalog.load(s, name)
        .flatMap(_.params.get("probe_hint")).flatMap(_.toIntOption)
        .getOrElse(0)
      math.max(10, hint)
    } else raw.toInt
  }
  private def efSearchConf(s: SparkSession) =
    conf2(s, "spark.graft.hnsw.ef_search", "spark.graft.hnsw.efSearch", "100")
  /** Per-ARTIFACT ef resolution for the dense plain-hnsw gates
    * (round 17 — the [[nprobeConfFor]] shape applied to beams): an
    * explicit conf wins; with the conf UNSET (or literal "auto") the
    * artifact's calibrated `ef_hint` raises the 100 floor. `dataDir`
    * is a hnsw fixture dir (`<root>/<name>/<gen>`) — the manifest
    * lives one level up. */
  private def efSearchConfFor(s: SparkSession, dataDir: String): Int = {
    def auto: Int = {
      val name = new java.io.File(dataDir).getParentFile.getName
      math.max(100, graft.index.IndexCatalog.load(s, name)
        .flatMap(_.params.get("ef_hint")).flatMap(_.toIntOption)
        .getOrElse(0))
    }
    graft.index.Gucs.alias(s, "spark.graft.hnsw.ef_search")
      .orElse(s.conf.getOption("spark.graft.hnsw.efSearch")) match {
      case Some(v) if !v.trim.equalsIgnoreCase("auto") => v.trim.toInt
      case _ => auto
    }
  }
  /** Reference `vectors.sq_rerank_size` / `vectors.pq_rerank_size`
    * (executing.rs: an ABSOLUTE candidate count) override the native
    * window MULTIPLIER when set > 0: effective window =
    * ceil(size / k) — every quantized gate runs k = 100, and the ceil
    * reads as "at least size candidates before the exact rerank". A
    * stored 0 (the reference's default sentinel) keeps the engine's
    * richer multiplier default. */
  private def absWindow(s: SparkSession, sizeKey: String, dflt: Int): Int =
    s.conf.getOption(sizeKey).map(_.trim.toInt) match {
      case Some(sz) if sz > 0 => math.max(1, (sz + 99) / 100)
      case _ => dflt
    }
  private def sq8WindowConf(s: SparkSession) =
    absWindow(s, "spark.graft.sq8.rerankSize",
      s.conf.get("spark.graft.sq8.rerankWindow", "4").toInt)
  private def pqWindowConf(s: SparkSession) =
    absWindow(s, "spark.graft.pq.rerankSize",
      s.conf.get("spark.graft.pq.rerankWindow", "8").toInt)
  // spark.graft.rabitq.epsilon (default 1.9): error-bound confidence for
  // the RaBitQ bounded reranker — read inline in q_rabitq_bounded_l2

  /** Install + register the metric's IVF index, run `mk` with the rewrite
    * enabled at nprobe=nlist (exact mode), assert the optimizer actually
    * rewrote, and freeze the rewritten plan so the temporary conf flags
    * can't leak into other queries. The rewrite shows as `needle` in the
    * plan (the filtered and range arms scan the list-partitioned
    * artifact); with None — the unfiltered top-k, answered on the driver
    * as a local relation — as no leaf scanning the table's files. */
  private def withAnnRewrite(s: SparkSession, d: String, metric: String,
      needle: Option[String] = Some("list_id"))
      (mk: => DataFrame): DataFrame = {
    import graft.plans.AnnPushdown
    val (m, _) = ivf(s, d, metric)
    AnnPushdown.install(s)
    val srcPath = s"$d/embeddings.parquet"
    // scoped registration: snapshot the user's own entries first and put
    // them back in the finally — running one bench query must not clobber
    // prior registrations for the same table
    val prevReg = AnnPushdown.snapshot(srcPath)
    AnnPushdown.register(srcPath,
      AnnPushdown.IndexedTable(s"ivf_${metric}_${san(d)}", "vec_id",
        "embedding", metric))
    val prevEnabled = s.conf.get("spark.graft.ann.enabled", "false")
    val prevNprobe = s.conf.getOption("spark.graft.ann.nprobe")
    s.conf.set("spark.graft.ann.enabled", "true")
    s.conf.set("spark.graft.ann.nprobe", m.nlist.toString)
    try {
      val df = mk
      val optimized = df.queryExecution.optimizedPlan
      assert(needle.fold(!AnnPushdown.scansSource(optimized, srcPath))(
          optimized.toString.contains(_)),
        "ann pushdown did not rewrite the top-k plan")
      org.apache.spark.sql.graftshim.Shims.ofRows(s, optimized)
        .orderBy(col("dist"), col("vec_id"))
    } finally {
      s.conf.set("spark.graft.ann.enabled", prevEnabled)
      restoreNprobe(s, prevNprobe)
      AnnPushdown.restore(srcPath, prevReg)
    }
  }

  private def sparsify(c: org.apache.spark.sql.Column) =
    transform(c, x => when(abs(x) > lit(0.15), x).otherwise(lit(0.0f)))

  private def sparseDocs(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
      .select(col("vec_id"), svecFromDense(sparsify(col("embedding"))).as("sv"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // IVF: centroid ranking -> partition pruning -> exact rerank
    "q_ivf_topk_l2" -> ((s, d) => {
      val (m, path) = ivf(s, d, "l2")
      IvfIndex.search(s, path, m, "vec_id", "embedding", qvec(s, d),
        k = 100, nprobe = nprobeConf(s))
    }),
    "q_ivf_topk_cos" -> ((s, d) => {
      val (m, path) = ivf(s, d, "cos")
      IvfIndex.search(s, path, m, "vec_id", "embedding", qvec(s, d),
        k = 100, nprobe = nprobeConf(s))
    }),
    // exact mode: probe every list — identical to the flat scan by
    // construction, so it carries the flat oracle
    "q_ivf_exact_l2" -> ((s, d) => {
      val (m, path) = ivf(s, d, "l2")
      IvfIndex.search(s, path, m, "vec_id", "embedding", qvec(s, d),
        k = 100, nprobe = m.nlist)
    }),
    // cos exact twin: the oracle replays the engine's normalize-at-build
    // (float-rounded unit vectors) + dot-in-double computation bit-exactly
    "q_ivf_exact_cos" -> ((s, d) => {
      val (m, path) = ivf(s, d, "cos")
      IvfIndex.search(s, path, m, "vec_id", "embedding", qvec(s, d),
        k = 100, nprobe = m.nlist)
    }),
    // the reference's core UX, driver-visible: a plain
    // `ORDER BY l2sq(vec, q) LIMIT k` DataFrame rewritten BY THE
    // OPTIMIZER RULE into the IVF scan (exact at nprobe=nlist, so it
    // carries the flat oracle). The rewritten plan is frozen so the
    // temporary conf flags can't leak into other queries.
    "q_topk_pushdown" -> ((s, d) => withAnnRewrite(s, d, "l2", needle = None) {
      graft.ParquetCache.read(s, s"$d/embeddings.parquet")
        .select(col("vec_id"),
          l2sq(col("embedding"), typedLit(qvec(s, d))).as("dist"))
        .orderBy(col("dist")).limit(100)
    }),
    // TYPED opclass through the same rule: the dual-wrapped bvector
    // hamming spelling rewrites onto the bvecann typed artifact's pruned
    // packed-word scan. Exact at nprobe=nlist; hamming over binarized
    // floats is integer arithmetic, so this pushdown path carries a full
    // value oracle (unlike f16, whose rounding DuckDB can't replay on
    // arbitrary floats).
    "q_topk_pushdown_bvec" -> ((s, d) => {
      import graft.plans.AnnPushdown
      val (m, _) = bvecAnn(s, d)
      AnnPushdown.install(s)
      val srcPath = s"$d/embeddings.parquet"
      val prevReg = AnnPushdown.snapshot(srcPath)
      AnnPushdown.register(srcPath, AnnPushdown.IndexedTable(
        s"bvecann_${san(d)}", "vec_id", "embedding", "bvec:hamming"))
      val prevEnabled = s.conf.get("spark.graft.ann.enabled", "false")
      val prevNprobe = s.conf.getOption("spark.graft.ann.nprobe")
      s.conf.set("spark.graft.ann.enabled", "true")
      s.conf.set("spark.graft.ann.nprobe", m.nlist.toString)
      try {
        val df = graft.ParquetCache.read(s, srcPath)
          .select(col("vec_id"),
            bvecHamming(binarize(col("embedding")),
              binarize(typedLit(qvec(s, d)))).as("dist"))
          .orderBy(col("dist"), col("vec_id")).limit(100)
        val optimized = df.queryExecution.optimizedPlan
        assert(optimized.toString.contains("list_id"),
          "typed bvec pushdown did not rewrite the top-k plan")
        org.apache.spark.sql.graftshim.Shims.ofRows(s, optimized)
          .orderBy(col("dist"), col("vec_id"))
      } finally {
        s.conf.set("spark.graft.ann.enabled", prevEnabled)
        restoreNprobe(s, prevNprobe)
        AnnPushdown.restore(srcPath, prevReg)
      }
    }),
    // typed opclass under the hnsw AM, DECLARATIVE (round 9 — the
    // reference's bvector_hamming_ops on hnsw, finalize.sql:719-803):
    // the dual-wrapped hamming spelling over a bvec:hamming-registered
    // HNSW manifest rewrites onto the 0/1-densified graph search
    // (hamming IS l2sq on the stored payloads). hnsw.exact flat-scans,
    // so the q_bvec_hnsw_exact brute-force Hamming oracle applies.
    "q_bvec_hnsw_pushdown" -> ((s, d) => {
      import graft.plans.AnnPushdown
      bvecHnsw(s, d, 1)
      AnnPushdown.install(s)
      val srcPath = s"$d/embeddings.parquet"
      val prevReg = AnnPushdown.snapshot(srcPath)
      AnnPushdown.register(srcPath, AnnPushdown.IndexedTable(
        s"hnswbv_p1_${san(d)}", "vec_id", "embedding", "bvec:hamming"))
      val prevEnabled = s.conf.get("spark.graft.ann.enabled", "false")
      val prevExact = s.conf.get("spark.graft.hnsw.exact", "false")
      s.conf.set("spark.graft.ann.enabled", "true")
      s.conf.set("spark.graft.hnsw.exact", "true")
      try {
        val df = graft.ParquetCache.read(s, srcPath)
          .select(col("vec_id"),
            bvecHamming(binarize(col("embedding")),
              binarize(typedLit(qvec(s, d)))).as("dist"))
          .orderBy(col("dist"), col("vec_id")).limit(100)
        val optimized = df.queryExecution.optimizedPlan
        require(!optimized.toString.contains("embeddings.parquet"),
          "typed bvec hnsw pushdown did not rewrite the top-k plan")
        org.apache.spark.sql.graftshim.Shims.ofRows(s, optimized)
          .orderBy(col("dist"), col("vec_id"))
      } finally {
        s.conf.set("spark.graft.ann.enabled", prevEnabled)
        s.conf.set("spark.graft.hnsw.exact", prevExact)
        AnnPushdown.restore(srcPath, prevReg)
      }
    }),
    // Filtered top-k over an HNSW-only registration through the
    // optimizer rule: the one-shot basic-mode breadth form (k*overfetch
    // exact candidates broadcast-joined against the filtered base scan).
    // In exact mode the candidate set is a distance-prefix of the full
    // ranking, and label < 5 keeps ~half the rows, so 4x overfetch holds
    // >= k survivors with near-certainty -> the q_hnsw_filtered_exact
    // oracle replays it.
    "q_hnsw_filtered_pushdown" -> ((s, d) => {
      import graft.plans.AnnPushdown
      hnsw(s, d, 4)
      AnnPushdown.install(s)
      val srcPath = s"$d/embeddings.parquet"
      val prevReg = AnnPushdown.snapshot(srcPath)
      AnnPushdown.register(srcPath, AnnPushdown.IndexedTable(
        s"hnsw_l2_p4_${san(d)}", "vec_id", "embedding", "l2"))
      val prevEnabled = s.conf.get("spark.graft.ann.enabled", "false")
      val prevExact = s.conf.get("spark.graft.hnsw.exact", "false")
      val prevAdaptive = s.conf.get("spark.graft.ann.filteredAdaptive", "true")
      s.conf.set("spark.graft.ann.enabled", "true")
      s.conf.set("spark.graft.hnsw.exact", "true")
      // this gate pins the FIXED-breadth basic-mode contract; the
      // selectivity-adaptive default has its own gates below
      s.conf.set("spark.graft.ann.filteredAdaptive", "false")
      try {
        val df = graft.ParquetCache.read(s, srcPath)
          .filter(col("label") < 5)
          .select(col("vec_id"),
            l2sq(col("embedding"), typedLit(qvec(s, d))).as("dist"))
          .orderBy(col("dist")).limit(100)
        val optimized = df.queryExecution.optimizedPlan
        assert(optimized.toString.contains("Join"),
          "hnsw filtered top-k did not rewrite to the candidate join")
        org.apache.spark.sql.graftshim.Shims.ofRows(s, optimized)
          .orderBy(col("dist"), col("vec_id"))
      } finally {
        s.conf.set("spark.graft.ann.enabled", prevEnabled)
        s.conf.set("spark.graft.hnsw.exact", prevExact)
        s.conf.set("spark.graft.ann.filteredAdaptive", prevAdaptive)
        AnnPushdown.restore(srcPath, prevReg)
      }
    }),
    // SELECTIVITY-GUARDED filtered top-k, pre-filter side (round 10):
    // the artifact's build-time sample says vec_id % 83 keeps ~1.4% of
    // rows — no candidate breadth under the cap can credibly hold k
    // survivors, so the arm REFUSES the rewrite and the untouched
    // Filter+Sort+Limit plan pre-filters the base scan and scores
    // exactly (the reference's amcostestimate use-the-index-or-don't
    // decision, src/index/am.rs:105-133). Exact by construction ->
    // full oracle. The guard-off probe pins that the non-rewrite was
    // the guard's decision, not a failed match.
    "q_hnsw_filtered_prefilter" -> ((s, d) => {
      import graft.plans.AnnPushdown
      hnsw(s, d, 4)
      AnnPushdown.install(s)
      val srcPath = s"$d/embeddings.parquet"
      val prevReg = AnnPushdown.snapshot(srcPath)
      AnnPushdown.register(srcPath, AnnPushdown.IndexedTable(
        s"hnsw_l2_p4_${san(d)}", "vec_id", "embedding", "l2"))
      val prevEnabled = s.conf.get("spark.graft.ann.enabled", "false")
      val prevExact = s.conf.get("spark.graft.hnsw.exact", "false")
      val prevAdaptive = s.conf.get("spark.graft.ann.filteredAdaptive", "true")
      s.conf.set("spark.graft.ann.enabled", "true")
      s.conf.set("spark.graft.hnsw.exact", "true")
      try {
        def mk = graft.ParquetCache.read(s, srcPath)
          .filter(col("vec_id") % 83 === 0)
          .select(col("vec_id"),
            l2sq(col("embedding"), typedLit(qvec(s, d))).as("dist"))
          .orderBy(col("dist")).limit(10)
        s.conf.set("spark.graft.ann.filteredAdaptive", "true")
        val kept = mk.queryExecution.optimizedPlan
        // the unrewritten shape keeps the relation scan under the sort;
        // (logical Relation nodes print WITHOUT the file path — Join
        // absence is the rewrite discriminator here)
        require(!kept.toString.contains("Join") &&
            kept.toString.contains("Relation"),
          "hyper-selective filtered top-k should stay on the pre-filter scan")
        s.conf.set("spark.graft.ann.filteredAdaptive", "false")
        require(mk.queryExecution.optimizedPlan.toString.contains("Join"),
          "guard-off filtered top-k should take the candidate join")
        s.conf.set("spark.graft.ann.filteredAdaptive", prevAdaptive)
        org.apache.spark.sql.graftshim.Shims.ofRows(s, kept)
          .orderBy(col("dist"), col("vec_id"))
      } finally {
        s.conf.set("spark.graft.ann.enabled", prevEnabled)
        s.conf.set("spark.graft.hnsw.exact", prevExact)
        s.conf.set("spark.graft.ann.filteredAdaptive", prevAdaptive)
        AnnPushdown.restore(srcPath, prevReg)
      }
    }),
    // SELECTIVITY-GUARDED filtered top-k, widen side (round 10): at
    // ~10% selectivity the fixed 4x overfetch (40 candidates for k=10)
    // expects only ~4 survivors — the documented basic-mode underfill.
    // The sample sizes the fetch to 2k/sel_lower instead, so the
    // one-shot candidate join fills k; with hnsw.exact the candidate
    // set is a distance-prefix of the full ranking, making the filled
    // result provably the exact filtered top-k -> full oracle. The
    // in-query count `require` pins the fill (the fixed breadth
    // returns fewer than k on this fixture).
    "q_hnsw_filtered_adaptive" -> ((s, d) => {
      import graft.plans.AnnPushdown
      hnsw(s, d, 4)
      AnnPushdown.install(s)
      val srcPath = s"$d/embeddings.parquet"
      val prevReg = AnnPushdown.snapshot(srcPath)
      AnnPushdown.register(srcPath, AnnPushdown.IndexedTable(
        s"hnsw_l2_p4_${san(d)}", "vec_id", "embedding", "l2"))
      val prevEnabled = s.conf.get("spark.graft.ann.enabled", "false")
      val prevExact = s.conf.get("spark.graft.hnsw.exact", "false")
      s.conf.set("spark.graft.ann.enabled", "true")
      s.conf.set("spark.graft.hnsw.exact", "true")
      try {
        val df = graft.ParquetCache.read(s, srcPath)
          .filter(col("label") === 3)
          .select(col("vec_id"),
            l2sq(col("embedding"), typedLit(qvec(s, d))).as("dist"))
          .orderBy(col("dist")).limit(10)
        val optimized = df.queryExecution.optimizedPlan
        require(optimized.toString.contains("Join"),
          "moderately selective filtered top-k should take the candidate join")
        val out = org.apache.spark.sql.graftshim.Shims.ofRows(s, optimized)
          .orderBy(col("dist"), col("vec_id"))
        require(out.count() == 10,
          "adaptive candidate breadth did not fill k survivors")
        out
      } finally {
        s.conf.set("spark.graft.ann.enabled", prevEnabled)
        s.conf.set("spark.graft.hnsw.exact", prevExact)
        AnnPushdown.restore(srcPath, prevReg)
      }
    }),
    // SELECTIVITY-GUARDED filtered top-k on the IVF shape (round 10):
    // nprobe pinned to 1 so the fixed form would probe 4 of nlist
    // lists; the sampled ~1.4% selectivity escalates the probe count to
    // nlist, where the predicate-filtered pruned scan IS the exact
    // filtered top-k (the IVF arm degrades gracefully instead of
    // bailing) -> full oracle, which only passes at full probes.
    "q_ivf_filtered_adaptive" -> ((s, d) => {
      import graft.plans.AnnPushdown
      val (m, _) = ivf(s, d, "l2")
      AnnPushdown.install(s)
      val srcPath = s"$d/embeddings.parquet"
      val prevReg = AnnPushdown.snapshot(srcPath)
      AnnPushdown.register(srcPath,
        AnnPushdown.IndexedTable(s"ivf_l2_${san(d)}", "vec_id",
          "embedding", "l2"))
      val prevEnabled = s.conf.get("spark.graft.ann.enabled", "false")
      val prevNprobe = s.conf.getOption("spark.graft.ann.nprobe")
      s.conf.set("spark.graft.ann.enabled", "true")
      s.conf.set("spark.graft.ann.nprobe", "1")
      try {
        val df = graft.ParquetCache.read(s, srcPath)
          .filter(col("vec_id") % 83 === 0)
          .select(col("vec_id"),
            l2sq(col("embedding"), typedLit(qvec(s, d))).as("dist"))
          .orderBy(col("dist")).limit(10)
        val optimized = df.queryExecution.optimizedPlan
        require(optimized.toString.contains("list_id"),
          "ivf filtered top-k did not rewrite to the pruned scan")
        org.apache.spark.sql.graftshim.Shims.ofRows(s, optimized)
          .orderBy(col("dist"), col("vec_id"))
      } finally {
        s.conf.set("spark.graft.ann.enabled", prevEnabled)
        restoreNprobe(s, prevNprobe)
        AnnPushdown.restore(srcPath, prevReg)
      }
    }),
    // Sphere range over an HNSW-only registration (the reference's
    // strategy-2 sphere predicates work under every index kind): the
    // rewrite flat-scans the executor-resident FlatGraph payloads and
    // evaluates the exact l2 kernel per row — same accumulation order as
    // the stored-vector exact mode, so the dense l2 oracle replays it.
    "q_range_pushdown_hnsw" -> ((s, d) => {
      import graft.plans.AnnPushdown
      hnsw(s, d, 4)
      AnnPushdown.install(s)
      val srcPath = s"$d/embeddings.parquet"
      val prevReg = AnnPushdown.snapshot(srcPath)
      AnnPushdown.register(srcPath, AnnPushdown.IndexedTable(
        s"hnsw_l2_p4_${san(d)}", "vec_id", "embedding", "l2"))
      val prevEnabled = s.conf.get("spark.graft.ann.enabled", "false")
      s.conf.set("spark.graft.ann.enabled", "true")
      try {
        val df = graft.ParquetCache.read(s, srcPath)
          .select(col("vec_id"),
            l2sq(col("embedding"), typedLit(qvec(s, d))).as("dist"))
          .filter(col("dist") < lit(1.5))
        val optimized = df.queryExecution.optimizedPlan
        assert(!optimized.toString.contains("embeddings.parquet"),
          "hnsw range pushdown did not rewrite the plan")
        org.apache.spark.sql.graftshim.Shims.ofRows(s, optimized)
          .orderBy(col("dist"), col("vec_id"))
      } finally {
        s.conf.set("spark.graft.ann.enabled", prevEnabled)
        AnnPushdown.restore(srcPath, prevReg)
      }
    }),
    // TYPED sphere range through the optimizer rule (strategy-2 members
    // of the typed opclasses): hamming over binarized floats is integer
    // arithmetic -> full value oracle. EXACT by construction: triangle
    // pruning in the densified 0/1 space + the same packed-word kernel
    // re-evaluated on the stored payload (= binarize(embedding) exactly).
    "q_range_pushdown_bvec" -> ((s, d) => {
      import graft.plans.AnnPushdown
      bvecAnn(s, d)
      AnnPushdown.install(s)
      val srcPath = s"$d/embeddings.parquet"
      val prevReg = AnnPushdown.snapshot(srcPath)
      AnnPushdown.register(srcPath, AnnPushdown.IndexedTable(
        s"bvecann_${san(d)}", "vec_id", "embedding", "bvec:hamming"))
      val prevEnabled = s.conf.get("spark.graft.ann.enabled", "false")
      s.conf.set("spark.graft.ann.enabled", "true")
      try {
        val df = graft.ParquetCache.read(s, srcPath)
          .select(col("vec_id"),
            bvecHamming(binarize(col("embedding")),
              binarize(typedLit(qvec(s, d)))).as("dist"))
          .filter(col("dist") < lit(27.0))
        val optimized = df.queryExecution.optimizedPlan
        assert(optimized.toString.contains("list_id"),
          "typed bvec range pushdown did not rewrite the plan")
        org.apache.spark.sql.graftshim.Shims.ofRows(s, optimized)
          .orderBy(col("dist"), col("vec_id"))
      } finally {
        s.conf.set("spark.graft.ann.enabled", prevEnabled)
        AnnPushdown.restore(srcPath, prevReg)
      }
    }),
    // typed sphere range under the hnsw AM (round 9): the same hamming
    // range spelling against a bvec:hamming-registered HNSW manifest
    // rewrites onto the resident flat scan of the 0/1-densified graphs
    // — exact at ANY radius (range is not top-k; no twin), same oracle
    // as the IVF form.
    "q_range_pushdown_bvec_hnsw" -> ((s, d) => {
      import graft.plans.AnnPushdown
      bvecHnsw(s, d, 1)
      AnnPushdown.install(s)
      val srcPath = s"$d/embeddings.parquet"
      val prevReg = AnnPushdown.snapshot(srcPath)
      AnnPushdown.register(srcPath, AnnPushdown.IndexedTable(
        s"hnswbv_p1_${san(d)}", "vec_id", "embedding", "bvec:hamming"))
      val prevEnabled = s.conf.get("spark.graft.ann.enabled", "false")
      s.conf.set("spark.graft.ann.enabled", "true")
      try {
        val df = graft.ParquetCache.read(s, srcPath)
          .select(col("vec_id"),
            bvecHamming(binarize(col("embedding")),
              binarize(typedLit(qvec(s, d)))).as("dist"))
          .filter(col("dist") < lit(27.0))
        val optimized = df.queryExecution.optimizedPlan
        require(!optimized.toString.contains("embeddings.parquet"),
          "typed bvec hnsw range pushdown did not rewrite the plan")
        org.apache.spark.sql.graftshim.Shims.ofRows(s, optimized)
          .orderBy(col("dist"), col("vec_id"))
      } finally {
        s.conf.set("spark.graft.ann.enabled", prevEnabled)
        AnnPushdown.restore(srcPath, prevReg)
      }
    }),
    // svector l2 sphere range: the CSR merge kernel over
    // svec_from_dense(embedding) equals the dense l2 chain exactly
    // (index-ordered merge, zero terms are exact identities) -> full
    // value oracle via the dense construction.
    "q_range_pushdown_svec" -> ((s, d) => {
      import graft.plans.AnnPushdown
      svecRange(s, d)
      AnnPushdown.install(s)
      val srcPath = s"$d/embeddings.parquet"
      val prevReg = AnnPushdown.snapshot(srcPath)
      AnnPushdown.register(srcPath, AnnPushdown.IndexedTable(
        s"svecrange_${san(d)}", "vec_id", "embedding", "svec:l2"))
      val prevEnabled = s.conf.get("spark.graft.ann.enabled", "false")
      s.conf.set("spark.graft.ann.enabled", "true")
      try {
        val df = graft.ParquetCache.read(s, srcPath)
          .select(col("vec_id"),
            svecL2sq(svecFromDense(col("embedding")),
              svecFromDense(typedLit(qvec(s, d)))).as("dist"))
          .filter(col("dist") < lit(1.6))
        val optimized = df.queryExecution.optimizedPlan
        assert(optimized.toString.contains("list_id"),
          "typed svec range pushdown did not rewrite the plan")
        org.apache.spark.sql.graftshim.Shims.ofRows(s, optimized)
          .orderBy(col("dist"), col("vec_id"))
      } finally {
        s.conf.set("spark.graft.ann.enabled", prevEnabled)
        AnnPushdown.restore(srcPath, prevReg)
      }
    }),
    // typed DOT sphere-range through the same rule: the svector dot
    // opclass's strategy-2 member. Lists prune by Cauchy-Schwarz in the
    // densified payload space (x·q <= c·q + R_c|q|); the kept negdot
    // filter re-evaluates on the stored CSR payload, which equals
    // svec_from_dense(embedding) by construction — the CSR≡dense-dot
    // identity gives the plain double-arithmetic oracle.
    "q_range_pushdown_svec_dot" -> ((s, d) => {
      import graft.plans.AnnPushdown
      svecRange(s, d)
      AnnPushdown.install(s)
      val srcPath = s"$d/embeddings.parquet"
      val prevReg = AnnPushdown.snapshot(srcPath)
      AnnPushdown.register(srcPath, AnnPushdown.IndexedTable(
        s"svecrange_${san(d)}", "vec_id", "embedding", "svec:dot"))
      val prevEnabled = s.conf.get("spark.graft.ann.enabled", "false")
      s.conf.set("spark.graft.ann.enabled", "true")
      try {
        val df = graft.ParquetCache.read(s, srcPath)
          .select(col("vec_id"),
            svecNegdot(svecFromDense(col("embedding")),
              svecFromDense(typedLit(qvec(s, d)))).as("dist"))
          .filter(col("dist") < lit(-0.30))
        val optimized = df.queryExecution.optimizedPlan
        assert(optimized.toString.contains("list_id"),
          "typed svec dot-range pushdown did not rewrite the plan")
        org.apache.spark.sql.graftshim.Shims.ofRows(s, optimized)
          .orderBy(col("dist"), col("vec_id"))
      } finally {
        s.conf.set("spark.graft.ann.enabled", prevEnabled)
        AnnPushdown.restore(srcPath, prevReg)
      }
    }),
    // cos opclass through the same rule: `ORDER BY cosdist(vec, q)` over
    // a cos-indexed table (exact at nprobe=nlist -> the normalized-replay
    // cos oracle)
    "q_topk_pushdown_cos" -> ((s, d) => withAnnRewrite(s, d, "cos", needle = None) {
      graft.ParquetCache.read(s, s"$d/embeddings.parquet")
        .select(col("vec_id"),
          cosdist(col("embedding"), typedLit(qvec(s, d))).as("dist"))
        .orderBy(col("dist")).limit(100)
    }),
    // filtered ANN (VBASE's flagship): attribute predicate + dist order +
    // limit; the rule pushes the predicate INTO the pruned scan (exact at
    // nprobe=nlist -> filtered flat oracle)
    "q_topk_pushdown_filtered" -> ((s, d) => withAnnRewrite(s, d, "l2") {
      graft.ParquetCache.read(s, s"$d/embeddings.parquet")
        .filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"),
          l2sq(col("embedding"), typedLit(qvec(s, d))).as("dist"))
        .orderBy(col("dist")).limit(100)
    }),
    // PARTIAL index: the filtered top-k resolves to the predicate-scoped
    // artifact (1/7 of the table) when the query predicate canonically
    // matches the build predicate (exact at nprobe=nlist -> same
    // filtered flat oracle)
    "q_topk_pushdown_partial" -> ((s, d) => {
      import graft.plans.AnnPushdown
      val (m, _) = ivfPartial(s, d)
      AnnPushdown.install(s)
      val srcPath = s"$d/embeddings.parquet"
      val prevReg = AnnPushdown.snapshot(srcPath)
      AnnPushdown.registerPartial(s, srcPath,
        AnnPushdown.IndexedTable(s"ivf_l2_part7_${san(d)}", "vec_id",
          "embedding"), "vec_id % 7 = 0")
      val prevEnabled = s.conf.get("spark.graft.ann.enabled", "false")
      val prevNprobe = s.conf.getOption("spark.graft.ann.nprobe")
      s.conf.set("spark.graft.ann.enabled", "true")
      s.conf.set("spark.graft.ann.nprobe", m.nlist.toString)
      try {
        val df = graft.ParquetCache.read(s, s"$d/embeddings.parquet")
          .filter(col("vec_id") % 7 === 0)
          .select(col("vec_id"),
            l2sq(col("embedding"), typedLit(qvec(s, d))).as("dist"))
          .orderBy(col("dist")).limit(100)
        val optimized = df.queryExecution.optimizedPlan
        // the artifact path only prints in the PHYSICAL plan
        assert(df.queryExecution.sparkPlan.toString.contains("part7"),
          "filtered top-k did not resolve to the partial index artifact")
        org.apache.spark.sql.graftshim.Shims.ofRows(s, optimized)
          .orderBy(col("dist"), col("vec_id"))
      } finally {
        s.conf.set("spark.graft.ann.enabled", prevEnabled)
        restoreNprobe(s, prevNprobe)
        AnnPushdown.restore(srcPath, prevReg)
      }
    }),

    // cos sphere-range pushdown (strategy-2 cos opclass member): the
    // optimizer prunes lists by the 1 - c·q̂ - R_c bound and keeps the
    // exact cos filter on top — values follow the normalized-replay
    // convention (the index stores normalize-at-build vectors)
    "q_range_pushdown_cos" -> ((s, d) => withAnnRewrite(s, d, "cos") {
      graft.ParquetCache.read(s, s"$d/embeddings.parquet")
        .select(col("vec_id"),
          cosdist(col("embedding"), typedLit(qvec(s, d))).as("dist"))
        .filter(col("dist") < lit(0.8))
    }),

    // dot-product opclass exact twin
    "q_ivf_exact_dot" -> ((s, d) => {
      val (m, path) = ivf(s, d, "dot")
      IvfIndex.search(s, path, m, "vec_id", "embedding", qvec(s, d),
        k = 100, nprobe = m.nlist)
    }),

    // batched many-query IVF: one pruned scan answers a query table
    // PLAID-style approximate MaxSim: candidate groups come from ONE
    // batched IVF pruned scan over all 4 query positions (top-100 per
    // position), then the bounded candidate set is exactly rescored with
    // the Σ-of-maxes kernel of q_maxsim_topk (its exact twin and the
    // recall reference — AnnSpec). The driver collects only candidate
    // group ids (≤ 4·k — the Rerank.fetchByIds contract) and the member
    // re-fetch is an IN(vec_id) row-group-pruned scan.
    "q_maxsim_ivf" -> ((s, d) => {
      import s.implicits._
      val (m, path) = ivf(s, d, "l2")
      val qs = batchQueries(s, d) ++ Seq(
        Tables.fixture("qvec3:" + d) {
          t(s, d, "embeddings").filter(col("vec_id") === 3)
            .select(col("vec_id"), col("embedding")).collect()
            .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).head
        })
      val cand = IvfIndex.batchSearch(s, path, m, "vec_id", "embedding", qs,
        k = 100, nprobe = nprobeConf(s))
      val gids = cand.filter(col("vec_id") >= 4)
        .select(org.apache.spark.sql.functions.expr("vec_id div 4").as("gid"))
        .distinct().as[Long].collect()
      val memberIds = gids.flatMap(g => (0L until 4L).map(g * 4 + _))
      val e = t(s, d, "embeddings")
        .filter(col("vec_id").isin(memberIds.map(java.lang.Long.valueOf).toSeq: _*))
        .select(org.apache.spark.sql.functions.expr("vec_id div 4").as("gid"),
          col("embedding"))
      val qset = qs.toDF("qpos", "qv")
      def mx(i: Int) = max(when(col("qpos") === i, col("dotv"))).as(s"m$i")
      e.crossJoin(broadcast(qset))
        .select(col("gid"), col("qpos"),
          (-negdot(col("embedding"), col("qv"))).as("dotv"))
        .groupBy(col("gid")).agg(mx(0), mx(1), mx(2), mx(3))
        .select(col("gid"),
          (col("m0") + col("m1") + col("m2") + col("m3")).as("score"))
        .orderBy(col("score").desc, col("gid")).limit(50)
    }),
    // TABLE-VALUED MaxSim join (round 10): the multi-vector QUERY side is
    // a distributed table (10 query docs × 4 token vectors), candidates
    // from one per-position KnnJoin pass, bounded rescore with the
    // q_maxsim_topk fixed-order Σ-of-maxes kernel. Approximate
    // (rows-only; recall in RECALL.json + KnnJoinSpec).
    "q_maxsim_join" -> ((s, d) => {
      val (m, path) = ivf(s, d, "l2")
      val e = t(s, d, "embeddings")
      val corpus = e.filter(col("vec_id") >= 40)
        .select(org.apache.spark.sql.functions.expr("vec_id div 4").as("gid"),
          col("vec_id"), col("embedding"))
      val qdocs = e.filter(col("vec_id") < 40)
        .select(org.apache.spark.sql.functions.expr("vec_id div 4").as("qdoc"),
          (col("vec_id") % 4).as("qpos"), col("embedding"))
      // kPerPos 40: a Σ-of-maxes objective needs broader per-position
      // candidate sets on clustered corpora (near-tied in-cluster sums —
      // 20 measured 0.88 pair recall, 40 clears the 0.9 bar)
      MaxSimJoin.join(s, qdocs, "qdoc", "qpos", "embedding", positions = 4,
        path, m, corpus, "gid", "vec_id", "embedding",
        k = 5, kPerPos = 40, nprobe = nprobeConf(s))
    }),
    // MaxSim join over the HNSW-KIND artifact (round 11): same query/
    // corpus fixture and Σ-of-maxes rescore, candidates from Hnsw.knnJoin
    // graph beams (routed 2-of-4, the q_hnsw_knn_join convention) — a
    // graph-indexed corpus serves ColBERT retrieval without a parallel
    // IVF build. Approximate (rows-only; q_maxsim_join_exact is the
    // exact twin; recall in RECALL.json + KnnJoinSpec parity).
    "q_maxsim_hnsw_join" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val corpus = e.filter(col("vec_id") >= 40)
        .select(org.apache.spark.sql.functions.expr("vec_id div 4").as("gid"),
          col("vec_id"), col("embedding"))
      val qdocs = e.filter(col("vec_id") < 40)
        .select(org.apache.spark.sql.functions.expr("vec_id div 4").as("qdoc"),
          (col("vec_id") % 4).as("qpos"), col("embedding"))
      MaxSimJoin.joinHnsw(s, qdocs, "qdoc", "qpos", "embedding",
        positions = 4, hnsw(s, d, 4), "vec_id", corpus, "gid", "embedding",
        k = 5, kPerPos = 40, efSearch = efSearchConf(s), probeGraphs = 2)
    }),
    // exact twin: every (query doc, group) pair scored — full cross-join
    // oracle, the Σ-of-maxes brute force (per-position candidate top-k is
    // not provably complete for a sum objective, so exact mode skips
    // candidate generation entirely, the window<=0 precedent)
    "q_maxsim_join_exact" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val corpus = e.filter(col("vec_id") >= 40)
        .select(org.apache.spark.sql.functions.expr("vec_id div 4").as("gid"),
          col("embedding"))
      val qdocs = e.filter(col("vec_id") < 40)
        .select(org.apache.spark.sql.functions.expr("vec_id div 4").as("qdoc"),
          (col("vec_id") % 4).as("qpos"), col("embedding"))
      MaxSimJoin.joinExact(s, qdocs, "qdoc", "qpos", "embedding",
        positions = 4, corpus, "gid", "embedding", k = 5)
    }),
    "q_ivf_batch" -> ((s, d) => {
      val (m, path) = ivf(s, d, "l2")
      IvfIndex.batchSearch(s, path, m, "vec_id", "embedding",
        batchQueries(s, d), k = 20, nprobe = nprobeConf(s))
    }),
    // exact mode: probe every list -> per-query flat top-k oracle
    "q_ivf_batch_exact" -> ((s, d) => {
      val (m, path) = ivf(s, d, "l2")
      IvfIndex.batchSearch(s, path, m, "vec_id", "embedding",
        batchQueries(s, d), k = 20, nprobe = m.nlist)
    }),

    // distributed KNN join: a whole query TABLE against the IVF artifact
    // in one plan — codegen probe-list assign, explode, equi-join on
    // list_id, per-query window top-k. No driver-side query collect
    // (contrast q_ivf_batch, whose query side is a Seq). Approximate
    // (rows-only; exact twin below carries the oracle + recall spec).
    "q_knn_join" -> ((s, d) => {
      val (m, path) = ivf(s, d, "l2")
      KnnJoin.join(s, t(s, d, "embeddings").filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", path, m, "vec_id", "embedding",
        k = 10, nprobe = nprobeConf(s))
    }),
    // exact mode: nprobe = nlist joins every (query, list) pair — the
    // brute-force cross product by construction -> full cross-join oracle
    "q_knn_join_exact" -> ((s, d) => {
      val (m, path) = ivf(s, d, "l2")
      KnnJoin.join(s, t(s, d, "embeddings").filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", path, m, "vec_id", "embedding",
        k = 10, nprobe = m.nlist)
    }),
    // the DECLARATIVE spelling of the KNN join: the user writes the
    // brute-force cross join + per-query row_number window, and the
    // optimizer rule swaps in the probed list join. nprobe = nlist here,
    // so the rewrite is exact and this carries the q_knn_join_exact
    // brute-force window oracle.
    "q_knn_join_pushdown" -> ((s, d) => {
      import graft.plans.AnnPushdown
      import org.apache.spark.sql.expressions.Window
      val (m, _) = ivf(s, d, "l2")
      AnnPushdown.install(s)
      val srcPath = s"$d/embeddings.parquet"
      val prevReg = AnnPushdown.snapshot(srcPath)
      AnnPushdown.register(srcPath, AnnPushdown.IndexedTable(
        s"ivf_l2_${san(d)}", "vec_id", "embedding", "l2"))
      val prevEnabled = s.conf.get("spark.graft.ann.enabled", "false")
      val prevNprobe = s.conf.getOption("spark.graft.ann.nprobe")
      s.conf.set("spark.graft.ann.enabled", "true")
      s.conf.set("spark.graft.ann.nprobe", m.nlist.toString)
      try {
        val corpus = graft.ParquetCache.read(s, srcPath)
        val queries = graft.ParquetCache.read(s, srcPath)
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val df = queries.crossJoin(corpus)
          .select(queries("qid"), corpus("vec_id"),
            l2sq(corpus("embedding"), queries("qvec")).as("dist"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
          .filter(col("rn") <= 10)
        val optimized = df.queryExecution.optimizedPlan
        require(optimized.toString.contains("probe_lists"),
          "knn-join pushdown did not rewrite the window join")
        org.apache.spark.sql.graftshim.Shims.ofRows(s, optimized)
      } finally {
        s.conf.set("spark.graft.ann.enabled", prevEnabled)
        restoreNprobe(s, prevNprobe)
        AnnPushdown.restore(srcPath, prevReg)
      }
    }),

    // SELECTIVITY-GUARDED filtered KNN join (round 10): nprobe pinned
    // to 1, but the corpus predicate keeps ~1.4% of rows — the sample
    // says probed-list survivors can't cover k, so the arm escalates
    // the probe count to nlist, where the filtered window join is
    // exact by construction -> full oracle, which only passes at full
    // probes (the q_ivf_filtered_adaptive contract on the join shape).
    "q_ivf_filtered_join_adaptive" -> ((s, d) => {
      import graft.plans.AnnPushdown
      import org.apache.spark.sql.expressions.Window
      val (m, _) = ivf(s, d, "l2")
      AnnPushdown.install(s)
      val srcPath = s"$d/embeddings.parquet"
      val prevReg = AnnPushdown.snapshot(srcPath)
      AnnPushdown.register(srcPath, AnnPushdown.IndexedTable(
        s"ivf_l2_${san(d)}", "vec_id", "embedding", "l2"))
      val prevEnabled = s.conf.get("spark.graft.ann.enabled", "false")
      val prevNprobe = s.conf.getOption("spark.graft.ann.nprobe")
      s.conf.set("spark.graft.ann.enabled", "true")
      s.conf.set("spark.graft.ann.nprobe", "1")
      try {
        val corpus = graft.ParquetCache.read(s, srcPath)
          .filter(col("vec_id") % 83 === 0)
        val queries = graft.ParquetCache.read(s, srcPath)
          .filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val df = queries.crossJoin(corpus)
          .select(queries("qid"), corpus("vec_id"),
            l2sq(corpus("embedding"), queries("qvec")).as("dist"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
          .filter(col("rn") <= 3)
        val optimized = df.queryExecution.optimizedPlan
        require(optimized.toString.contains("probe_lists"),
          "filtered knn-join pushdown did not rewrite the window join")
        org.apache.spark.sql.graftshim.Shims.ofRows(s, optimized)
      } finally {
        s.conf.set("spark.graft.ann.enabled", prevEnabled)
        restoreNprobe(s, prevNprobe)
        AnnPushdown.restore(srcPath, prevReg)
      }
    }),

    // the HARD-NEGATIVE declarative spelling (round 8): the cross-join
    // window form with the self-exclusion inequality between join and
    // window (anchors drawn from the corpus — the dist-0 self match
    // must not burn a negative slot). The optimizer pushes the filter
    // into the join condition; the arm replays it before the rewritten
    // window. Exact at nprobe=nlist -> full oracle.
    "q_hard_negatives_pushdown" -> ((s, d) => {
      import graft.plans.AnnPushdown
      import org.apache.spark.sql.expressions.Window
      val (m, _) = ivf(s, d, "l2")
      AnnPushdown.install(s)
      val srcPath = s"$d/embeddings.parquet"
      val prevReg = AnnPushdown.snapshot(srcPath)
      AnnPushdown.register(srcPath, AnnPushdown.IndexedTable(
        s"ivf_l2_${san(d)}", "vec_id", "embedding", "l2"))
      val prevEnabled = s.conf.get("spark.graft.ann.enabled", "false")
      val prevNprobe = s.conf.getOption("spark.graft.ann.nprobe")
      s.conf.set("spark.graft.ann.enabled", "true")
      s.conf.set("spark.graft.ann.nprobe", m.nlist.toString)
      try {
        val corpus = graft.ParquetCache.read(s, srcPath)
        val anchors = graft.ParquetCache.read(s, srcPath)
          .filter(col("vec_id") % 25 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val df = anchors.crossJoin(corpus)
          .filter(anchors("qid") =!= corpus("vec_id"))
          .select(anchors("qid"), corpus("vec_id"),
            l2sq(corpus("embedding"), anchors("qvec")).as("dist"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
          .filter(col("rn") <= 5)
        val optimized = df.queryExecution.optimizedPlan
        require(optimized.toString.contains("probe_lists"),
          "hard-negative pushdown did not rewrite the window join")
        org.apache.spark.sql.graftshim.Shims.ofRows(s, optimized)
      } finally {
        s.conf.set("spark.graft.ann.enabled", prevEnabled)
        restoreNprobe(s, prevNprobe)
        AnnPushdown.restore(srcPath, prevReg)
      }
    }),

    // the DECONTAMINATION declarative spelling (round 8): range join
    // aggregated per eval row. The optimizer prunes the projection
    // between the Aggregate and the Join down to {qid}, so the
    // range-join arm must fire WITHOUT a dist alias or corpus id in
    // the projection; multiplicity is preserved so the counts are
    // exact at any radius -> full oracle.
    "q_decontaminate_pushdown" -> ((s, d) => {
      import graft.plans.AnnPushdown
      val (_, _) = ivf(s, d, "l2")
      AnnPushdown.install(s)
      val srcPath = s"$d/embeddings.parquet"
      val prevReg = AnnPushdown.snapshot(srcPath)
      AnnPushdown.register(srcPath, AnnPushdown.IndexedTable(
        s"ivf_l2_${san(d)}", "vec_id", "embedding", "l2"))
      val prevEnabled = s.conf.get("spark.graft.ann.enabled", "false")
      s.conf.set("spark.graft.ann.enabled", "true")
      try {
        val corpus = graft.ParquetCache.read(s, srcPath)
        val evalSet = graft.ParquetCache.read(s, srcPath)
          .filter(col("vec_id") % 25 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val df = evalSet.join(corpus,
            l2sq(corpus("embedding"), evalSet("qvec")) < lit(1.2))
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("n_contaminated"))
          .orderBy(col("qid"))
        val optimized = df.queryExecution.optimizedPlan
        require(optimized.toString.contains("range_lists"),
          "decontamination aggregate did not rewrite the range join")
        org.apache.spark.sql.graftshim.Shims.ofRows(s, optimized)
      } finally {
        s.conf.set("spark.graft.ann.enabled", prevEnabled)
        AnnPushdown.restore(srcPath, prevReg)
      }
    }),

    // typed table-valued joins: the KnnJoin shape over the compact
    // typed artifacts — query side a table, probe ranking per row in
    // each family's densified space, scoring by the exact payload
    // kernel. Exact at nprobe=nlist (full oracles); approx twins below.
    "q_bvec_knn_join_exact" -> ((s, d) => {
      val (m, path) = bvecAnn(s, d)
      KnnJoin.joinTyped(s, t(s, d, "embeddings").filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", path, m, "vec_id", BvecPayload,
        k = 10, nprobe = m.nlist)
    }),
    // the declarative TYPED window-join spelling: the dual-wrapped
    // bvector hamming distance in a brute-force cross-join window
    // rewrites onto KnnJoin.joinTyped over the packed-word artifact.
    // At nprobe = nlist exact; hamming over binarized floats is integer
    // arithmetic, so this carries the q_bvec_knn_join_exact oracle.
    "q_bvec_knn_join_pushdown" -> ((s, d) => {
      import graft.plans.AnnPushdown
      import org.apache.spark.sql.expressions.Window
      val (m, _) = bvecAnn(s, d)
      AnnPushdown.install(s)
      val srcPath = s"$d/embeddings.parquet"
      val prevReg = AnnPushdown.snapshot(srcPath)
      AnnPushdown.register(srcPath, AnnPushdown.IndexedTable(
        s"bvecann_${san(d)}", "vec_id", "embedding", "bvec:hamming"))
      val prevEnabled = s.conf.get("spark.graft.ann.enabled", "false")
      val prevNprobe = s.conf.getOption("spark.graft.ann.nprobe")
      s.conf.set("spark.graft.ann.enabled", "true")
      s.conf.set("spark.graft.ann.nprobe", m.nlist.toString)
      try {
        val corpus = graft.ParquetCache.read(s, srcPath)
        val queries = graft.ParquetCache.read(s, srcPath)
          .filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val df = queries.crossJoin(corpus)
          .select(queries("qid"), corpus("vec_id"),
            bvecHamming(binarize(corpus("embedding")),
              binarize(queries("qvec"))).as("dist"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
          .filter(col("rn") <= 10)
        val optimized = df.queryExecution.optimizedPlan
        require(optimized.toString.contains("probe_lists"),
          "typed knn-join pushdown did not rewrite the window join")
        org.apache.spark.sql.graftshim.Shims.ofRows(s, optimized)
      } finally {
        s.conf.set("spark.graft.ann.enabled", prevEnabled)
        restoreNprobe(s, prevNprobe)
        AnnPushdown.restore(srcPath, prevReg)
      }
    }),
    // typed-graph window-join spelling (round 9): the dual-wrapped
    // bvector hamming window join against a bvec:hamming-registered
    // HNSW manifest dispatches onto Hnsw.knnJoinMetric over the
    // 0/1-densified shared graphs (query side densified in-plan;
    // hamming walks the build metric). hnsw.exact flat-scans every
    // graph, so the brute-force hamming window oracle applies — the
    // same SQL as q_bvec_knn_join_exact.
    "q_bvec_hnsw_knn_join_pushdown" -> ((s, d) => {
      import graft.plans.AnnPushdown
      import org.apache.spark.sql.expressions.Window
      bvecHnsw(s, d, 1)
      AnnPushdown.install(s)
      val srcPath = s"$d/embeddings.parquet"
      val prevReg = AnnPushdown.snapshot(srcPath)
      AnnPushdown.register(srcPath, AnnPushdown.IndexedTable(
        s"hnswbv_p1_${san(d)}", "vec_id", "embedding", "bvec:hamming"))
      val prevEnabled = s.conf.get("spark.graft.ann.enabled", "false")
      val prevExact = s.conf.get("spark.graft.hnsw.exact", "false")
      s.conf.set("spark.graft.ann.enabled", "true")
      s.conf.set("spark.graft.hnsw.exact", "true")
      try {
        val corpus = graft.ParquetCache.read(s, srcPath)
        val queries = graft.ParquetCache.read(s, srcPath)
          .filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val df = queries.crossJoin(corpus)
          .select(queries("qid"), corpus("vec_id"),
            bvecHamming(binarize(corpus("embedding")),
              binarize(queries("qvec"))).as("dist"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
          .filter(col("rn") <= 10)
        val optimized = df.queryExecution.optimizedPlan
        require(optimized.toString.contains("MapPartitions"),
          "typed-graph knn-join pushdown did not rewrite the window join")
        org.apache.spark.sql.graftshim.Shims.ofRows(s, optimized)
      } finally {
        s.conf.set("spark.graft.ann.enabled", prevEnabled)
        s.conf.set("spark.graft.hnsw.exact", prevExact)
        AnnPushdown.restore(srcPath, prevReg)
      }
    }),
    "q_bvec_knn_join" -> ((s, d) => {
      val (m, path) = bvecAnn(s, d)
      KnnJoin.joinTyped(s, t(s, d, "embeddings").filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", path, m, "vec_id", BvecPayload,
        k = 10, nprobe = nprobeConf(s))
    }),
    "q_svec_knn_join_exact" -> ((s, d) => {
      val (m, path) = svecAnn(s, d)
      val qs = t(s, d, "embeddings").filter(col("vec_id") % 100 === 0)
        .select(col("vec_id"), sparsify(col("embedding")).as("qd"))
      KnnJoin.joinTyped(s, qs, "vec_id", "qd", path, m, "vec_id", SvecPayload,
        k = 10, nprobe = m.nlist)
    }),
    "q_svec_knn_join" -> ((s, d) => {
      val (m, path) = svecAnn(s, d)
      val qs = t(s, d, "embeddings").filter(col("vec_id") % 100 === 0)
        .select(col("vec_id"), sparsify(col("embedding")).as("qd"))
      KnnJoin.joinTyped(s, qs, "vec_id", "qd", path, m, "vec_id", SvecPayload,
        k = 10, nprobe = nprobeConf(s))
    }),
    "q_vecf16_knn_join_exact" -> ((s, d) => {
      val (m, path) = f16Ann(s, d)
      val qs = f16Source(s, d).filter(col("c_custkey") % 50 === 0)
      KnnJoin.joinTyped(s, qs, "c_custkey", "v4", path, m, "c_custkey",
        F16Payload, k = 10, nprobe = m.nlist)
    }),
    "q_vecf16_knn_join" -> ((s, d) => {
      val (m, path) = f16Ann(s, d)
      val qs = f16Source(s, d).filter(col("c_custkey") % 50 === 0)
      KnnJoin.joinTyped(s, qs, "c_custkey", "v4", path, m, "c_custkey",
        F16Payload, k = 10, nprobe = nprobeConf(s))
    }),

    // hard-negative mining: nearest non-self corpus rows per anchor —
    // the k+1 join minus the identity row, ranks renumbered. Exact at
    // nprobe=nlist; the oracle replays the same drop-self-then-renumber
    // (NOT "exclude self before ranking" — a duplicate under a
    // different id is a legitimate negative and both engines keep it).
    "q_hard_negatives" -> ((s, d) => {
      val (m, path) = ivf(s, d, "l2")
      KnnJoin.hardNegatives(s,
        t(s, d, "embeddings").filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", path, m, "vec_id", "embedding",
        nNeg = 5, nprobe = m.nlist)
    }),

    // vector RANGE join: all (query, corpus) pairs within radius, both
    // sides tables. EXACT at any radius (lower-bound list pruning is
    // sound), so it carries a full value oracle with no approximate twin.
    "q_vec_range_join" -> ((s, d) => {
      val (m, path) = ivf(s, d, "l2")
      KnnJoin.rangeJoin(s, t(s, d, "embeddings").filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", path, m, "vec_id", "embedding", r = 1.5)
    }),
    // the DECLARATIVE spelling of the range join: a plain DataFrame inner
    // join whose condition is the distance predicate. The optimizer rule
    // replaces the nested-loop cross product with the KnnJoin.rangeJoin
    // shape (per-row codegen list selection + list_id equi-join); sound
    // lower-bound pruning makes the rewrite EXACT at any radius, so this
    // carries the same full cross-filter oracle as q_vec_range_join
    // (strict < here, mirroring the join predicate verbatim).
    "q_range_join_pushdown" -> ((s, d) => {
      import graft.plans.AnnPushdown
      ivf(s, d, "l2")
      AnnPushdown.install(s)
      val srcPath = s"$d/embeddings.parquet"
      val prevReg = AnnPushdown.snapshot(srcPath)
      AnnPushdown.register(srcPath, AnnPushdown.IndexedTable(
        s"ivf_l2_${san(d)}", "vec_id", "embedding", "l2"))
      val prevEnabled = s.conf.get("spark.graft.ann.enabled", "false")
      s.conf.set("spark.graft.ann.enabled", "true")
      try {
        val corpus = graft.ParquetCache.read(s, srcPath)
        val queries = graft.ParquetCache.read(s, srcPath)
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val df = queries.join(corpus,
            l2sq(corpus("embedding"), queries("qvec")) < lit(1.5))
          .select(queries("qid"), corpus("vec_id"),
            l2sq(corpus("embedding"), queries("qvec")).as("dist"))
        val optimized = df.queryExecution.optimizedPlan
        require(optimized.toString.contains("range_lists"),
          "range-join pushdown did not rewrite the join")
        org.apache.spark.sql.graftshim.Shims.ofRows(s, optimized)
      } finally {
        s.conf.set("spark.graft.ann.enabled", prevEnabled)
        AnnPushdown.restore(srcPath, prevReg)
      }
    }),
    // FILTERED declarative range join: the corpus side carries an extra
    // predicate, which the rule remaps onto the pruned artifact scan
    // (dense IVF rows are source-row copies). Sound list pruning is
    // filter-independent, so the rewrite stays EXACT at any radius —
    // full cross-filter oracle with the predicate replayed.
    "q_range_join_pushdown_filtered" -> ((s, d) => {
      import graft.plans.AnnPushdown
      ivf(s, d, "l2")
      AnnPushdown.install(s)
      val srcPath = s"$d/embeddings.parquet"
      val prevReg = AnnPushdown.snapshot(srcPath)
      AnnPushdown.register(srcPath, AnnPushdown.IndexedTable(
        s"ivf_l2_${san(d)}", "vec_id", "embedding", "l2"))
      val prevEnabled = s.conf.get("spark.graft.ann.enabled", "false")
      s.conf.set("spark.graft.ann.enabled", "true")
      try {
        val corpus = graft.ParquetCache.read(s, srcPath)
        val queries = graft.ParquetCache.read(s, srcPath)
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val df = queries.join(corpus.filter(col("label") > 2),
            l2sq(corpus("embedding"), queries("qvec")) < lit(1.5))
          .select(queries("qid"), corpus("vec_id"),
            l2sq(corpus("embedding"), queries("qvec")).as("dist"))
        val optimized = df.queryExecution.optimizedPlan
        require(optimized.toString.contains("range_lists"),
          "filtered range-join pushdown did not rewrite the join")
        org.apache.spark.sql.graftshim.Shims.ofRows(s, optimized)
      } finally {
        s.conf.set("spark.graft.ann.enabled", prevEnabled)
        AnnPushdown.restore(srcPath, prevReg)
      }
    }),
    // embedding-level decontamination: the eval set is planted as exact
    // copies of train rows (vec_id%37, id+500000 — the fixtures carry no
    // guaranteed near pairs, the dedup-mirror convention); every train
    // row within r of ANY eval row is contaminated. One range join +
    // hash agg — never an all-pairs product.
    "q_knn_decontaminate" -> ((s, d) => {
      val (m, path) = ivf(s, d, "l2")
      val evals = t(s, d, "embeddings").filter(col("vec_id") % 37 === 0)
        .select((col("vec_id") + 500000).as("eval_id"), col("embedding"))
      KnnJoin.rangeJoin(s, evals, "eval_id", "embedding", path, m,
        "vec_id", "embedding", r = 0.05)
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_evals"), min(col("qid")).as("first_eval"))
    }),

    // HNSW: persisted per-partition graphs, global ordered merge
    "q_hnsw_topk_l2" -> ((s, d) => {
      val dir = hnsw(s, d, 4)
      Hnsw.searchIndex(s, dir, "vec_id", qvec(s, d), k = 100,
        efSearch = efSearchConfFor(s, dir))
    }),
    // exact mode: single-graph artifact, provably-exhaustive flat scan of
    // the stored vectors (graph reachability is NOT part of the contract)
    "q_hnsw_exact_l2" -> ((s, d) => {
      Hnsw.searchIndexExact(s, hnsw(s, d, 1), "vec_id", qvec(s, d), k = 100)
    }),
    // filtered search over a graph-only index (the VBASE refill contract):
    // over-fetch candidates, evaluate the predicate on the base table,
    // quadruple until k survive. Exact mode is provably the brute-force
    // filtered top-k (full-ranking prefix argument) -> full value oracle.
    "q_hnsw_filtered_exact" -> ((s, d) => {
      Hnsw.searchIndexFiltered(s, hnsw(s, d, 1), "vec_id", qvec(s, d),
        k = 100, source = t(s, d, "embeddings"), pred = col("label") < 5,
        exact = true)
    }),
    // vbase.slt's search-mode flow under the GUC SPELLING: the `SET
    // vectors.search_mode=vbase` statement flips the native conf, the
    // slt's own dialect count query runs as SQL text, and the filtered
    // search dispatches on the GUC value into the VBASE refill loop
    // (exact mode -> the q_hnsw_filtered_exact oracle). In-query
    // requires: (a) the GUC landed on spark.graft.search.mode, (b) the
    // slt count query returns 100, (c) the refill loop actually engaged
    // (Hnsw.lastFilteredRounds observability — round-10 convention).
    "q_operator_sql_vbase" -> ((s0, d) => {
      val s = LifecycleQueries.ddlSession(s0)
      val prevMode = s.conf.getOption("spark.graft.search.mode")
      try {
        s.sql("SET vectors.search_mode=vbase")
        val mode = s.conf.get("spark.graft.search.mode", "")
        require(mode == "vbase",
          s"SET vectors.search_mode did not land on the native conf: $mode")
        t(s, d, "embeddings").createOrReplaceTempView("graft_vbase_emb")
        val lit = qvec(s, d).mkString("[", ", ", "]")
        val cnt = s.sql(
          s"""SELECT COUNT(1) FROM (SELECT 1 FROM graft_vbase_emb
              ORDER BY embedding <-> '$lit' limit 100) t2""").head().getLong(0)
        require(cnt == 100L, s"vbase.slt count query returned $cnt")
        val res = Hnsw.searchIndexFiltered(s, hnsw(s, d, 1), "vec_id",
          qvec(s, d), k = 100, source = t(s, d, "embeddings"),
          pred = col("label") < 5, exact = true)
        require(Hnsw.lastFilteredRounds >= 1,
          "VBASE refill loop did not engage")
        res
      } finally prevMode match {
        case Some(v) => s.conf.set("spark.graft.search.mode", v)
        case None => s.conf.unset("spark.graft.search.mode")
      }
    }),
    // approximate twin: graph traversal at default ef with the same
    // refill loop (rows-only; the exact twin above carries the oracle).
    // `spark.graft.search.mode` mirrors vectors.search_mode: "vbase"
    // (default) refills until k predicate-survivors; "basic" does ONE
    // fixed-size candidate fetch and filters on top — the reference's
    // basic mode, which may return fewer than k rows on selective
    // predicates.
    "q_hnsw_filtered_topk" -> ((s, d) => {
      val src = t(s, d, "embeddings")
      if (s.conf.get("spark.graft.search.mode", "vbase") == "basic") {
        val dir = hnsw(s, d, 4)
        val cands = Hnsw.searchIndex(s, dir, "vec_id", qvec(s, d),
          k = 400, efSearch = math.max(efSearchConfFor(s, dir), 400))
        src.filter(col("label") < 5).select(col("vec_id"))
          .join(broadcast(cands), Seq("vec_id"))
          .orderBy(col("dist"), col("vec_id")).limit(100)
      } else
        Hnsw.searchIndexFiltered(s, hnsw(s, d, 4), "vec_id", qvec(s, d),
          k = 100, source = src, pred = col("label") < 5)
    }),
    // cosine: normalized-at-build graphs searched by dot
    "q_hnsw_topk_cos" -> ((s, d) => {
      val dir = hnsw(s, d, 4, "cos")
      Hnsw.searchIndex(s, dir, "vec_id",
        IvfIndex.Kernels.normalize(qvec(s, d)), k = 100,
        efSearch = efSearchConfFor(s, dir))
    }),
    // cos exact twin: flat scan of the normalized-at-build artifact —
    // reuses the IVF cos oracle (dot-in-double replayed bit-exactly)
    "q_hnsw_exact_cos" -> ((s, d) => {
      Hnsw.searchIndexExact(s, hnsw(s, d, 1, "cos"), "vec_id",
        IvfIndex.Kernels.normalize(qvec(s, d)), k = 100)
    }),

    // batched many-query HNSW: resident graph answers the whole batch
    "q_hnsw_batch" -> ((s, d) => {
      val dir = hnsw(s, d, 4)
      Hnsw.searchIndexBatch(s, dir, "vec_id",
        batchQueries(s, d), k = 20, efSearch = efSearchConfFor(s, dir))
    }),
    // exact mode: single-graph flat scan per query -> per-query flat
    // top-k oracle (same as q_ivf_batch_exact)
    "q_hnsw_batch_exact" -> ((s, d) => {
      Hnsw.searchIndexBatch(s, hnsw(s, d, 1), "vec_id",
        batchQueries(s, d), k = 20, exact = true)
    }),

    // table-valued HNSW KNN join: the query side is a table that never
    // touches the driver — each task walks its query partition through
    // the resident graphs. ROUTED (round 8): graphs are spatially
    // partitioned at build and each query walks only the top-2-of-4
    // graphs by routing lower bound — the HNSW-join nprobe. Approximate
    // (exact twin below ignores routing by contract); pair recall in
    // RECALL.json.
    "q_hnsw_knn_join" -> ((s, d) => {
      val dir = hnsw(s, d, 4)
      Hnsw.knnJoin(s, dir, "vec_id",
        t(s, d, "embeddings").filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", k = 10, efSearch = efSearchConfFor(s, dir),
        probeGraphs = 2)
    }),
    // exact mode on the single-graph artifact: per-graph flat scans are
    // provably the brute force -> the cross-join window oracle
    "q_hnsw_knn_join_exact" -> ((s, d) => {
      Hnsw.knnJoin(s, hnsw(s, d, 1), "vec_id",
        t(s, d, "embeddings").filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", k = 10, exact = true)
    }),
    // table-valued EXACT range join over the graph artifact: per-task
    // flat scans of the resident payloads — exact at any radius and any
    // parts, so it carries the full cross-filter oracle (strict <, the
    // rangeFlat convention).
    "q_hnsw_range_join" -> ((s, d) => {
      Hnsw.rangeJoin(s, hnsw(s, d, 4), "vec_id",
        t(s, d, "embeddings").filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", r = 1.5)
    }),
    // declarative window-join spelling against an HNSW-kind
    // registration: the rule dispatches on the manifest kind (the
    // scalar top-k arm's convention) and swaps in Hnsw.knnJoin. With
    // hnsw.exact each graph is flat-scanned, so the per-graph union
    // provably contains the global top-k and the replayed window keeps
    // exactly it — the brute-force window oracle applies at any parts.
    "q_hnsw_knn_join_pushdown" -> ((s, d) => {
      import graft.plans.AnnPushdown
      import org.apache.spark.sql.expressions.Window
      hnsw(s, d, 4)
      AnnPushdown.install(s)
      val srcPath = s"$d/embeddings.parquet"
      val prevReg = AnnPushdown.snapshot(srcPath)
      AnnPushdown.register(srcPath, AnnPushdown.IndexedTable(
        s"hnsw_l2_p4_${san(d)}", "vec_id", "embedding", "l2"))
      val prevEnabled = s.conf.get("spark.graft.ann.enabled", "false")
      val prevExact = s.conf.get("spark.graft.hnsw.exact", "false")
      s.conf.set("spark.graft.ann.enabled", "true")
      s.conf.set("spark.graft.hnsw.exact", "true")
      try {
        val corpus = graft.ParquetCache.read(s, srcPath)
        val queries = graft.ParquetCache.read(s, srcPath)
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val df = queries.crossJoin(corpus)
          .select(queries("qid"), corpus("vec_id"),
            l2sq(corpus("embedding"), queries("qvec")).as("dist"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
          .filter(col("rn") <= 10)
        val optimized = df.queryExecution.optimizedPlan
        require(optimized.toString.contains("MapPartitions"),
          "hnsw knn-join pushdown did not rewrite the window join")
        org.apache.spark.sql.graftshim.Shims.ofRows(s, optimized)
      } finally {
        s.conf.set("spark.graft.ann.enabled", prevEnabled)
        s.conf.set("spark.graft.hnsw.exact", prevExact)
        AnnPushdown.restore(srcPath, prevReg)
      }
    }),

    // HNSW×SQ8: coded resident graphs (4x smaller), LUT traversal,
    // exact rerank of the ef frontier re-fetched from the source
    "q_hnswsq8_topk_l2" -> ((s, d) => {
      val (codec, path) = hnswsq(s, d, 4)
      // ROUTED (round 9): top-2-of-4 spatially partitioned coded graphs
      // by the sidecar's l2 bounds; recall in RECALL.json (hnsw_sq8)
      CodedHnsw.searchIndex(s, path, t(s, d, "embeddings"), "vec_id",
        "embedding", qvec(s, d), k = 100, codec,
        efSearch = efSearchConf(s), probeGraphs = 2)
    }),
    // exact mode (Sq8 window<=0 contract): skip the graphs, score every
    // source row -> provably the flat top-k, carries the flat oracle
    "q_hnswsq8_exact_l2" -> ((s, d) => {
      val (codec, path) = hnswsq(s, d, 4)
      CodedHnsw.searchIndex(s, path, t(s, d, "embeddings"), "vec_id",
        "embedding", qvec(s, d), k = 100, codec, exact = true)
    }),

    // HNSW×PQ: m-byte coded resident graphs (deepest compression of the
    // composition matrix), ADC-LUT traversal, exact frontier rerank
    "q_hnswpq_topk_l2" -> ((s, d) => {
      val (codec, path) = hnswpq(s, d, 4)
      CodedHnsw.searchIndex(s, path, t(s, d, "embeddings"), "vec_id",
        "embedding", qvec(s, d), k = 100, codec,
        efSearch = efSearchConf(s), window = Some(pqWindowConf(s)),
        probeGraphs = 2)
    }),
    // exact mode: skip graphs, score every source row -> flat oracle
    "q_hnswpq_exact_l2" -> ((s, d) => {
      val (codec, path) = hnswpq(s, d, 4)
      CodedHnsw.searchIndex(s, path, t(s, d, "embeddings"), "vec_id",
        "embedding", qvec(s, d), k = 100, codec, exact = true)
    }),

    // HNSW×RaBitQ: sign-bit coded resident graphs (~3% of raw bytes),
    // estimator-scored traversal via a per-query byte LUT, exact rerank
    "q_hnswrq_topk_l2" -> ((s, d) => {
      val (codec, path) = hnswrq(s, d, 4)
      CodedHnsw.searchIndex(s, path, t(s, d, "embeddings"), "vec_id",
        "embedding", qvec(s, d), k = 100, codec,
        efSearch = efSearchConf(s),
        window = Some(s.conf.get("spark.graft.rabitq.rerankWindow", "4").toInt),
        probeGraphs = 2)
    }),
    // exact mode: skip graphs, score every source row -> flat oracle
    "q_hnswrq_exact_l2" -> ((s, d) => {
      val (codec, path) = hnswrq(s, d, 4)
      CodedHnsw.searchIndex(s, path, t(s, d, "embeddings"), "vec_id",
        "embedding", qvec(s, d), k = 100, codec, exact = true)
    }),

    // SQ8: persisted codes -> coarse scan -> rerank window -> exact top-k
    "q_sq8_topk_l2" -> ((s, d) => {
      val (codec, path) = sq8(s, d)
      CodedFlat.search(graft.ParquetCache.read(s, path), "vec_id", "embedding",
        qvec(s, d), k = 100, codec, window = Some(sq8WindowConf(s)))
    }),
    // exact mode: rerank window = everything
    "q_sq8_exact_l2" -> ((s, d) => {
      val (codec, path) = sq8(s, d)
      CodedFlat.search(graft.ParquetCache.read(s, path), "vec_id", "embedding",
        qvec(s, d), k = 100, codec, window = Some(0))
    }),

    // PQ: ADC LUT coarse scan over m-byte codes -> windowed exact rerank
    // `spark.graft.pq.fastScan` mirrors the reference's
    // vectors.pq_fast_scan GUC: when true the top-k routes to the
    // 4-bit-packed artifact's ADC scan (half the coarse-scan bytes,
    // scores bit-identical to unpacked — PqSpec) instead of the 8-bit
    // code column.
    "q_pq_topk_l2" -> ((s, d) => {
      if (s.conf.get("spark.graft.pq.fastScan", "false").toBoolean) {
        val (codec, path) = pq4(s, d)
        CodedFlat.search(graft.ParquetCache.read(s, path), "vec_id", "embedding",
          qvec(s, d), k = 100, codec)
      } else {
        val (codec, path) = pq(s, d)
        CodedFlat.search(graft.ParquetCache.read(s, path), "vec_id", "embedding",
          qvec(s, d), k = 100, codec, window = Some(pqWindowConf(s)))
      }
    }),
    // exact mode: rerank window = everything
    "q_pq_exact_l2" -> ((s, d) => {
      val (codec, path) = pq(s, d)
      CodedFlat.search(graft.ParquetCache.read(s, path), "vec_id", "embedding",
        qvec(s, d), k = 100, codec, window = Some(0))
    }),

    // 4-bit packed PQ (fast_scan layout analog): half the coarse-scan
    // bytes of 8-bit PQ; packed ADC is bit-identical to unpacked (spec)
    "q_pq4_topk_l2" -> ((s, d) => {
      val (codec, path) = pq4(s, d)
      CodedFlat.search(graft.ParquetCache.read(s, path), "vec_id", "embedding",
        qvec(s, d), k = 100, codec)
    }),
    "q_pq4_exact_l2" -> ((s, d) => {
      val (codec, path) = pq4(s, d)
      CodedFlat.search(graft.ParquetCache.read(s, path), "vec_id", "embedding",
        qvec(s, d), k = 100, codec, window = Some(0))
    }),

    // RaBitQ: 1-bit rotated sign codes + correction factors -> windowed
    // exact rerank
    "q_rabitq_topk_l2" -> ((s, d) => {
      val (codec, path) = rabitq(s, d)
      CodedFlat.search(graft.ParquetCache.read(s, path), "vec_id", "embedding",
        qvec(s, d), k = 100, codec)
    }),
    // exact mode: rerank window = everything
    "q_rabitq_exact_l2" -> ((s, d) => {
      val (codec, path) = rabitq(s, d)
      CodedFlat.search(graft.ParquetCache.read(s, path), "vec_id", "embedding",
        qvec(s, d), k = 100, codec, window = Some(0))
    }),

    // fast_scan blocked layout (rq_fast_scan analog): one LUT sweep per
    // 32-vector block. Approximate (rows-only; recall in RabitqSpec +
    // RECALL.json); the window<=0 exact twin scores raw vectors only.
    "q_rq4_topk_l2" -> ((s, d) => {
      val (model, path) = rq4(s, d)
      Rabitq4.search(s, path, "vec_id", "embedding", qvec(s, d),
        k = 100, model)
    }),
    "q_rq4_exact_l2" -> ((s, d) => {
      val (model, path) = rq4(s, d)
      Rabitq4.search(s, path, "vec_id", "embedding", qvec(s, d),
        k = 100, model, window = 0)
    }),
    // error-BOUND reranker (error.rs analog): candidate set sized by the
    // theoretical estimator bound, not a tuned window — exact w.h.p.
    // (probabilistic guarantee -> rows-only; RabitqSpec checks equality
    // with the flat top-k on the fixture)
    "q_rabitq_bounded_l2" -> ((s, d) => {
      val (codec, path) = rabitq(s, d)
      Rabitq.searchBounded(graft.ParquetCache.read(s, path), "vec_id", "embedding",
        "code", qvec(s, d), k = 100, codec.model,
        eps = s.conf.get("spark.graft.rabitq.epsilon", "1.9").toDouble)
    }),

    // IVF×PQ residual composition: pruned partitions, per-list residual
    // LUT ADC over the code column, windowed exact rerank
    "q_ivfpq_topk_l2" -> ((s, d) => {
      val (m, path) = ivfpq(s, d)
      CodedIvf.search(s, path, m, "vec_id", "embedding", qvec(s, d),
        k = 100, nprobe = nprobeConf(s), window = Some(pqWindowConf(s)))
    }),
    // exact mode: every list probed, no ADC -> provably the flat scan
    "q_ivfpq_exact_l2" -> ((s, d) => {
      val (m, path) = ivfpq(s, d)
      CodedIvf.search(s, path, m, "vec_id", "embedding", qvec(s, d),
        k = 100, nprobe = m.coarse.nlist, window = Some(0))
    }),

    // IVF×SQ8 residual composition: pruned partitions, u8 residual codes
    // scored against the per-list residual query, windowed exact rerank
    "q_ivfsq8_topk_l2" -> ((s, d) => {
      val (m, path) = ivfsq(s, d)
      CodedIvf.search(s, path, m, "vec_id", "embedding", qvec(s, d),
        k = 100, nprobe = nprobeConf(s), window = Some(sq8WindowConf(s)))
    }),
    // exact mode: every list probed, no decode -> provably the flat scan
    "q_ivfsq8_exact_l2" -> ((s, d) => {
      val (m, path) = ivfsq(s, d)
      CodedIvf.search(s, path, m, "vec_id", "embedding", qvec(s, d),
        k = 100, nprobe = m.coarse.nlist, window = Some(0))
    }),

    // bvector Hamming IVF: packed-word payload scan, 0/1-space centroids
    "q_bvec_ann_topk" -> ((s, d) => {
      val (m, path) = bvecAnn(s, d)
      TypedAnn.search(s, BvecPayload, path, m, "vec_id", qvec(s, d), k = 100,
        nprobe = nprobeConf(s), metric = "hamming")
    }),
    // exact mode: probe every list -> brute-force Hamming oracle
    "q_bvec_ann_exact" -> ((s, d) => {
      val (m, path) = bvecAnn(s, d)
      TypedAnn.search(s, BvecPayload, path, m, "vec_id", qvec(s, d), k = 100,
        nprobe = m.nlist, metric = "hamming")
    }),

    // batched typed search: one pruned scan answers the whole query
    // batch against the packed artifact (the typed sibling of
    // q_ivf_batch). Approximate (rows-only; exact twin below).
    "q_bvec_batch" -> ((s, d) => {
      val (m, path) = bvecAnn(s, d)
      TypedAnn.batchSearch(s, BvecPayload, path, m, "vec_id",
        batchQueries(s, d),
        k = 20, nprobe = nprobeConf(s), metric = "hamming")
    }),
    // exact mode: probe every list -> per-query flat hamming top-k oracle
    "q_bvec_batch_exact" -> ((s, d) => {
      val (m, path) = bvecAnn(s, d)
      TypedAnn.batchSearch(s, BvecPayload, path, m, "vec_id",
        batchQueries(s, d),
        k = 20, nprobe = m.nlist, metric = "hamming")
    }),

    // svector batch: the CSR sibling; queries sparsified by the same
    // |x| > 0.15 rule as the artifact's documents
    "q_svec_batch" -> ((s, d) => {
      val (m, path) = svecAnn(s, d)
      TypedAnn.batchSearch(s, SvecPayload, path, m, "vec_id",
        batchQueriesSparse(s, d), k = 20, nprobe = nprobeConf(s), metric = "l2")
    }),
    "q_svec_batch_exact" -> ((s, d) => {
      val (m, path) = svecAnn(s, d)
      TypedAnn.batchSearch(s, SvecPayload, path, m, "vec_id",
        batchQueriesSparse(s, d), k = 20, nprobe = m.nlist, metric = "l2")
    }),

    // vecf16 batch over the small-int f16-exact source (the
    // q_vecf16_ann_exact convention — rounding is identity on these
    // values, so the exact twin replays in plain double arithmetic)
    "q_vecf16_batch" -> ((s, d) => {
      val (m, path) = f16Ann(s, d)
      TypedAnn.batchSearch(s, F16Payload, path, m, "c_custkey", f16BatchQueries,
        k = 20, nprobe = nprobeConf(s), metric = "l2")
    }),
    "q_vecf16_batch_exact" -> ((s, d) => {
      val (m, path) = f16Ann(s, d)
      TypedAnn.batchSearch(s, F16Payload, path, m, "c_custkey", f16BatchQueries,
        k = 20, nprobe = m.nlist, metric = "l2")
    }),

    // bvector Jaccard opclass (bvector_jaccard_ops): same artifact, the
    // packed-word Jaccard kernel scores the pruned scan
    "q_bvec_jaccard_ann_topk" -> ((s, d) => {
      val (m, path) = bvecAnn(s, d)
      TypedAnn.search(s, BvecPayload, path, m, "vec_id", qvec(s, d), k = 100,
        nprobe = nprobeConf(s), metric = "jaccard")
    }),
    // exact mode: probe every list -> brute-force Jaccard oracle
    "q_bvec_jaccard_ann_exact" -> ((s, d) => {
      val (m, path) = bvecAnn(s, d)
      TypedAnn.search(s, BvecPayload, path, m, "vec_id", qvec(s, d), k = 100,
        nprobe = m.nlist, metric = "jaccard")
    }),
    // bvector dot opclass (bvector_dot_ops): -popcount(and), dot-ranked
    // list pruning; exact mode -> brute-force oracle
    "q_bvec_dot_ann_exact" -> ((s, d) => {
      val (m, path) = bvecAnn(s, d)
      TypedAnn.search(s, BvecPayload, path, m, "vec_id", qvec(s, d), k = 100,
        nprobe = m.nlist, metric = "dot")
    }),

    // bvector Hamming HNSW exact twin: flat scan of the 0/1-view
    // artifact — l2sq(0/1) == Hamming, so it carries the same
    // brute-force Hamming oracle as the bvector IVF. (Graph traversal
    // is NOT used in exact mode: duplicate-heavy Hamming spaces can
    // disconnect the graph.)
    "q_bvec_hnsw_exact" -> ((s, d) => {
      val q01 = qvec(s, d).map(x => if (x > 0f) 1f else 0f)
      Hnsw.searchIndexExact(s, bvecHnsw(s, d, 1), "vec_id", q01, k = 100)
    }),
    // vecf16 L2 HNSW exact twin: flat scan over f16-rounded small-int
    // vectors — same double-arithmetic oracle as the vecf16 IVF
    "q_vecf16_hnsw_exact" -> ((s, d) => {
      Hnsw.searchIndexExact(s, f16Hnsw(s, d, 1), "c_custkey",
        Array(12f, 50f, 3f, 7f), k = 100)
    }),
    // bvector Jaccard HNSW (opclass bvector_jaccard_ops on the hnsw AM):
    // SEARCH-TIME metric override on the shared 0/1 graph artifact — the
    // typed-IVF convention (one artifact per family, metric a search
    // choice) lifted to graphs. Exact mode flat-scans with the jaccard
    // kernel: integer intersection/union counts -> exact-ratio oracle.
    "q_bvec_jaccard_hnsw_exact" -> ((s, d) => {
      val q01 = qvec(s, d).map(x => if (x > 0f) 1f else 0f)
      Hnsw.searchIndexMetric(s, bvecHnsw(s, d, 1), "vec_id", q01,
        k = 100, metric = "jaccard", exact = true)
    }),
    // approximate twin: jaccard-ranked walk of the hamming-built graph
    // (rows-only; recall vs the exact twin in AnnSpec)
    "q_bvec_jaccard_hnsw_topk" -> ((s, d) => {
      val q01 = qvec(s, d).map(x => if (x > 0f) 1f else 0f)
      Hnsw.searchIndexMetric(s, bvecHnsw(s, d, 1), "vec_id", q01,
        k = 100, metric = "jaccard", efSearch = efSearchConf(s))
    }),

    // svector L2 HNSW: graph search over the densified CSR view
    // (approximate — rows-only; recall vs the exact twin in AnnSpec)
    "q_svec_hnsw_topk" -> ((s, d) =>
      Hnsw.searchIndex(s, svecHnsw(s, d, 4), "vec_id", qvecSparse(s, d),
        k = 100, efSearch = efSearchConf(s))),
    // exact twin: flat scan of the single-graph artifact — identical
    // term order to the svector l2 kernel, same oracle as q_svec_ann_exact
    "q_svec_hnsw_exact" -> ((s, d) =>
      Hnsw.searchIndexExact(s, svecHnsw(s, d, 1), "vec_id",
        qvecSparse(s, d), k = 100)),
    // typed GRAPH table-valued join (round 9): metric-override KNN join
    // over the shared densified-CSR graphs, ROUTED — per-query graph
    // ranking goes through the override metric map (dot =
    // Cauchy-Schwarz on the l2 sidecar radii), so typed joins stop
    // walking every graph at parts>1. Approximate (exact twin below);
    // pair recall in RECALL.json (svec_hnsw_knn_join, clustered).
    "q_svec_hnsw_knn_join" -> ((s, d) => {
      val qs = t(s, d, "embeddings").filter(col("vec_id") % 100 === 0)
        .select(col("vec_id"), sparsify(col("embedding")).as("qd"))
      Hnsw.knnJoinMetric(s, svecHnsw(s, d, 4), "vec_id", qs, "vec_id",
        "qd", k = 10, metric = "dot", efSearch = efSearchConf(s),
        probeGraphs = 2)
    }),
    // exact mode on the single-graph artifact: per-graph flat scan with
    // the dot override kernel (stored densified payloads, index-order
    // double accumulation) == the brute-force negdot window — full
    // oracle, the graph-join exact-twin convention.
    "q_svec_hnsw_knn_join_exact" -> ((s, d) => {
      val qs = t(s, d, "embeddings").filter(col("vec_id") % 100 === 0)
        .select(col("vec_id"), sparsify(col("embedding")).as("qd"))
      Hnsw.knnJoinMetric(s, svecHnsw(s, d, 1), "vec_id", qs, "vec_id",
        "qd", k = 10, metric = "dot", exact = true)
    }),

    // vecf16 L2 IVF: f16 half-word payload scan, f16-rounded centroids
    "q_vecf16_ann_topk" -> ((s, d) => {
      val (m, path) = f16Ann(s, d)
      TypedAnn.search(s, F16Payload, path, m, "c_custkey",
        Array(12f, 50f, 3f, 7f), k = 100, nprobe = nprobeConf(s), metric = "l2")
    }),
    // exact mode: probe every list -> double-arithmetic oracle (values
    // exactly representable in f16)
    "q_vecf16_ann_exact" -> ((s, d) => {
      val (m, path) = f16Ann(s, d)
      TypedAnn.search(s, F16Payload, path, m, "c_custkey",
        Array(12f, 50f, 3f, 7f), k = 100, nprobe = m.nlist, metric = "l2")
    }),
    // vecf16 cos opclass (vecf16_cos_ops): direct f16 cos kernel (one
    // pass, double accumulators — replayable on f16-exact values)
    "q_vecf16_ann_cos_topk" -> ((s, d) => {
      val (m, path) = f16Ann(s, d)
      TypedAnn.search(s, F16Payload, path, m, "c_custkey",
        Array(12f, 50f, 3f, 7f), k = 100, nprobe = nprobeConf(s),
        metric = "cos")
    }),
    // exact mode: probe every list -> double-arithmetic cos oracle
    "q_vecf16_ann_cos_exact" -> ((s, d) => {
      val (m, path) = f16Ann(s, d)
      TypedAnn.search(s, F16Payload, path, m, "c_custkey",
        Array(12f, 50f, 3f, 7f), k = 100, nprobe = m.nlist,
        metric = "cos")
    }),
    // vecf16 dot opclass (vecf16_dot_ops) exact twin
    "q_vecf16_ann_dot_exact" -> ((s, d) => {
      val (m, path) = f16Ann(s, d)
      TypedAnn.search(s, F16Payload, path, m, "c_custkey",
        Array(12f, 50f, 3f, 7f), k = 100, nprobe = m.nlist,
        metric = "dot")
    }),

    // sealed ∪ growing lifecycle search: IVF over the sealed artifact,
    // brute force over visible deltas, tombstones filtered on both sides
    // (exact at nprobe=nlist -> full oracle)
    "q_hybrid_topk" -> ((s, d) => {
      val segDir = ensureVecSegments(s, d)
      val (m, ivfPath) = ivf(s, d, "l2")
      graft.operators.HybridSearch.topkL2(s, segDir, ivfPath, m,
        "vec_id", "embedding", qvec(s, d), k = 100, nprobe = m.nlist)
    }),

    // incremental HNSW over the same segment store: base graphs + one
    // side graph per append, tombstone version filter at search — an
    // append never rebuilds the base artifact. Approximate (rows-only;
    // exact twin below + HybridSpec lifecycle).
    "q_incrhnsw_topk" -> ((s, d) => {
      val segDir = ensureVecSegments(s, d)
      val name = s"incrhnsw_${san(d)}"
      IncrHnsw.ensure(s, name, segDir, "vec_id", "embedding")
      IncrHnsw.search(s, name, segDir, "vec_id", qvec(s, d), k = 100,
        efSearch = efSearchConf(s))
    }),
    // exact twin: flat scan of every resident graph (base + sides) then
    // the version filter — provably the visible set, so it carries the
    // same sealed ∪ growing ∖ deleted oracle as q_hybrid_topk
    "q_incrhnsw_exact" -> ((s, d) => {
      val segDir = ensureVecSegments(s, d)
      val name = s"incrhnsw_${san(d)}"
      IncrHnsw.ensure(s, name, segDir, "vec_id", "embedding")
      IncrHnsw.search(s, name, segDir, "vec_id", qvec(s, d), k = 100,
        exact = true)
    }),

    // incremental IVF over the same segment store: appends assign to the
    // existing centroids and append list files (no retrain/rewrite);
    // tombstone version filter at search. Approximate at nprobe < nlist
    // (rows-only; exact twin below + IncrIvfSpec lifecycle).
    "q_ivfincr_topk" -> ((s, d) => {
      val segDir = ensureVecSegments(s, d)
      val name = s"ivfincr_${san(d)}"
      graft.operators.IncrIvf.ensure(s, name, segDir, "vec_id", "embedding",
        metric = "l2", nlist = 16)
      graft.operators.IncrIvf.search(s, name, segDir, "vec_id", qvec(s, d),
        k = 100, nprobe = nprobeConfFor(s, name))
    }),
    // exact twin: every list probed + the version filter — provably the
    // visible set, the same sealed ∪ growing ∖ deleted oracle
    "q_ivfincr_exact" -> ((s, d) => {
      val segDir = ensureVecSegments(s, d)
      val name = s"ivfincr_${san(d)}"
      graft.operators.IncrIvf.ensure(s, name, segDir, "vec_id", "embedding",
        metric = "l2", nlist = 16)
      graft.operators.IncrIvf.search(s, name, segDir, "vec_id", qvec(s, d),
        k = 100, nprobe = 16)
    }),

    // incremental flat-quantized artifacts over the same segment store:
    // appends encode with the FROZEN base-trained quantizer and append
    // files (no retrain/rewrite); tombstone version filter at search.
    // Approximate two-stage forms are rows-only; each window<=0 exact
    // twin scores the stored raw vectors — provably the visible set, the
    // same sealed ∪ growing ∖ deleted oracle (+ IncrQuantSpec lifecycle).
    "q_sq8incr_topk" -> ((s, d) => {
      val segDir = ensureVecSegments(s, d)
      val name = incrQuantName(Sq8Quant, d)
      IncrQuant.ensure(s, name, segDir, "vec_id", "embedding", Sq8Quant)
      IncrQuant.search(s, name, segDir, "vec_id", qvec(s, d),
        k = 100, Sq8Quant, window = sq8WindowConf(s))
    }),
    "q_sq8incr_exact" -> ((s, d) => {
      val segDir = ensureVecSegments(s, d)
      val name = incrQuantName(Sq8Quant, d)
      IncrQuant.ensure(s, name, segDir, "vec_id", "embedding", Sq8Quant)
      IncrQuant.search(s, name, segDir, "vec_id", qvec(s, d),
        k = 100, Sq8Quant, window = 0)
    }),
    "q_pqincr_topk" -> ((s, d) => {
      val segDir = ensureVecSegments(s, d)
      val name = incrQuantName(PqQuant(), d)
      IncrQuant.ensure(s, name, segDir, "vec_id", "embedding", PqQuant())
      IncrQuant.search(s, name, segDir, "vec_id", qvec(s, d),
        k = 100, PqQuant(), window = pqWindowConf(s))
    }),
    "q_pqincr_exact" -> ((s, d) => {
      val segDir = ensureVecSegments(s, d)
      val name = incrQuantName(PqQuant(), d)
      IncrQuant.ensure(s, name, segDir, "vec_id", "embedding", PqQuant())
      IncrQuant.search(s, name, segDir, "vec_id", qvec(s, d),
        k = 100, PqQuant(), window = 0)
    }),
    "q_rqincr_topk" -> ((s, d) => {
      val segDir = ensureVecSegments(s, d)
      val name = incrQuantName(RabitqQuant, d)
      IncrQuant.ensure(s, name, segDir, "vec_id", "embedding", RabitqQuant)
      IncrQuant.search(s, name, segDir, "vec_id", qvec(s, d),
        k = 100, RabitqQuant, window = pqWindowConf(s))
    }),
    "q_rqincr_exact" -> ((s, d) => {
      val segDir = ensureVecSegments(s, d)
      val name = incrQuantName(RabitqQuant, d)
      IncrQuant.ensure(s, name, segDir, "vec_id", "embedding", RabitqQuant)
      IncrQuant.search(s, name, segDir, "vec_id", qvec(s, d),
        k = 100, RabitqQuant, window = 0)
    }),

    // --- row-update semantics (update.slt): UPDATE decomposed as
    //     DELETE + INSERT of the same id through the segment store. The
    //     query returns the IncrHnsw exact visible top-k (the graph
    //     family — the visibility path where the OLD row stays resident
    //     in its graph and must be version-hidden while the NEW row
    //     surfaces from a younger side graph), and `require`s in-query
    //     that the quantized and IVF incremental families see the
    //     IDENTICAL visible set — cross-family update agreement is part
    //     of the gate, not just a spec.
    "q_update_scan" -> ((s, d) => {
      import s.implicits._
      val segDir = ensureUpdateSegments(s, d)
      val q = qvec(s, d)
      val hname = s"updhnsw_${san(d)}"
      graft.operators.IncrHnsw.ensure(s, hname, segDir, "vec_id", "embedding")
      val hn = graft.operators.IncrHnsw.search(s, hname, segDir, "vec_id", q,
        k = 100, exact = true)
      val qname = s"updsq8_${san(d)}"
      IncrQuant.ensure(s, qname, segDir, "vec_id", "embedding", Sq8Quant)
      val sq = IncrQuant.search(s, qname, segDir, "vec_id", q,
        k = 100, Sq8Quant, window = 0)
      val iname = s"updivf_${san(d)}"
      graft.operators.IncrIvf.ensure(s, iname, segDir, "vec_id", "embedding",
        "l2", nlist = 16)
      val iv = graft.operators.IncrIvf.search(s, iname, segDir, "vec_id", q,
        k = 100, nprobe = 16)
      val hIds = hn.select(col("vec_id")).as[Long].collect().toSeq
      val sqIds = sq.select(col("vec_id")).as[Long].collect().toSeq
      val ivIds = iv.select(col("vec_id")).as[Long].collect().toSeq
      require(hIds == sqIds && hIds == ivIds,
        s"update visibility diverges across incremental families: " +
          s"hnsw=$hIds sq8=$sqIds ivf=$ivIds")
      hn
    }),

    // the same UPDATE semantics driven by the parsed SQL statement
    // surface (update.slt:14/:29 run verbatim against a segment-store
    // path) — the fixture's require()s pin the statement row counts,
    // and the visible set replays the q_update_scan oracle exactly
    "q_sql_update_stmt" -> ((s, d) => {
      val segDir = ensureUpdateStmtSegments(s, d)
      val q = qvec(s, d)
      val name = s"updstmthnsw_${san(d)}"
      graft.operators.IncrHnsw.ensure(s, name, segDir, "vec_id", "embedding")
      graft.operators.IncrHnsw.search(s, name, segDir, "vec_id", q,
        k = 100, exact = true)
    }),

    // incremental sparse inverted index over the SPARSIFIED segment
    // store: appends explode into bucket partitions (no trained state to
    // freeze); tombstone version filter on posting rows before the
    // per-doc fold. Posting-join search is EXACT, so this carries its
    // own visible-set oracle directly.
    "q_sparseincr_topk" -> ((s, d) => {
      val segDir = ensureSparseSegments(s, d)
      val name = s"sparseincr_${san(d)}"
      graft.operators.IncrSparse.ensure(s, name, segDir, "vec_id", "embedding")
      val terms = sparseQTerms(s, d)
      graft.operators.IncrSparse.search(s, name, segDir, "vec_id", terms, k = 50)
    }),

    // svector IVF: compact CSR payload scan, dense centroids
    "q_svec_ann_topk" -> ((s, d) => {
      val (m, path) = svecAnn(s, d)
      TypedAnn.search(s, SvecPayload, path, m, "vec_id", qvecSparse(s, d),
        k = 100, nprobe = nprobeConf(s), metric = "dot")
    }),
    // exact twins: probe every list -> the q_svec_dist lambda-chain oracles
    "q_svec_ann_exact" -> ((s, d) => {
      val (m, path) = svecAnn(s, d)
      TypedAnn.search(s, SvecPayload, path, m, "vec_id", qvecSparse(s, d),
        k = 100, nprobe = m.nlist, metric = "l2")
    }),
    "q_svec_ann_cos_exact" -> ((s, d) => {
      val (m, path) = svecAnn(s, d)
      TypedAnn.search(s, SvecPayload, path, m, "vec_id", qvecSparse(s, d),
        k = 100, nprobe = m.nlist, metric = "cos")
    }),
    "q_svec_ann_dot_exact" -> ((s, d) => {
      val (m, path) = svecAnn(s, d)
      TypedAnn.search(s, SvecPayload, path, m, "vec_id", qvecSparse(s, d),
        k = 100, nprobe = m.nlist, metric = "dot")
    }),

    // Sparse inverted index: EXACT, full oracle, persisted postings
    "q_sparse_topk" -> ((s, d) => {
      val path = sparse(s, d)
      val terms = sparseQTerms(s, d)
      SparseSearch.searchIndex(s, path, "vec_id", terms, k = 50)
    }),
    // approximate scale path: impact-pruned postings (top-M per token) —
    // rows-only; recall vs the exact index in AnnSpec
    "q_sparse_topk_pruned" -> ((s, d) => {
      val path = sparsePruned(s, d)
      val terms = sparseQTerms(s, d)
      SparseSearch.searchIndex(s, path, "vec_id", terms, k = 50)
    }),

    // --- hybrid retrieval: dense l2 top-50 ∪ sparse dot top-50 fused by
    //     reciprocal rank (RRF, k0=60) — the dense+sparse fusion every
    //     two-tower retrieval stack ends with. Both legs are EXACT (flat
    //     scan; persisted posting lists), so the fusion is fully
    //     oracle-replayable; rank windows run over k rows, never the
    //     table. 1/(60+rank) sums are exact-double-identical across
    //     engines (small-int division, fixed add order). ---
    // the two unpartitioned rank windows here operate on k-bounded
    // frames (both retrieval legs are limit(50) before ranking), so the
    // single-partition WindowExec touches <=50 rows — not a scale hazard
    "q_hybrid_rrf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val dense = t(s, d, "embeddings")
        .select(col("vec_id"), l2sq(col("embedding"), typedLit(qvec(s, d))).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(50)
        .withColumn("r_dense",
          row_number().over(Window.orderBy(col("dist"), col("vec_id"))))
      val terms = sparseQTerms(s, d)
      val sp = SparseSearch.searchIndex(s, sparse(s, d), "vec_id", terms, k = 50)
        .withColumn("r_sparse",
          row_number().over(Window.orderBy(col("score").desc, col("vec_id"))))
      dense.select(col("vec_id"), col("r_dense"))
        .join(sp.select(col("vec_id"), col("r_sparse")), Seq("vec_id"), "full_outer")
        .select(col("vec_id"),
          (coalesce(lit(1.0) / (lit(60) + col("r_dense")), lit(0.0)) +
           coalesce(lit(1.0) / (lit(60) + col("r_sparse")), lit(0.0))).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(30)
    })
  )

  /** Visible rows of the build-once vector segment store: base ∪
    * appended mirrors (+20000 for vec_id < 5) minus deletes (1, 20003). */
  private val hybridVisibleOracle =
    """WITH delta AS (
         SELECT vec_id + 20000 AS vec_id, embedding FROM embeddings WHERE vec_id < 5),
       allr AS (
         SELECT vec_id, embedding FROM embeddings
         UNION ALL SELECT vec_id, embedding FROM delta)
       SELECT a.vec_id AS vec_id,
         list_aggregate(list_transform(list_zip(a.embedding, q.qv), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist
       FROM allr a CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
       WHERE a.vec_id NOT IN (1, 20003)
       ORDER BY dist, vec_id LIMIT 100"""

  /** [[hybridVisibleOracle]]'s construction + the UPDATE: row 2 carries
    * row 0's embedding (old value excluded, mirrors untouched). Shared
    * by q_update_scan (API-driven store) and q_sql_update_stmt
    * (statement-driven store) — both converge to this visible set. */
  private val updateVisibleOracle =
    """WITH delta AS (
         SELECT vec_id + 20000 AS vec_id, embedding FROM embeddings WHERE vec_id < 5),
       upd AS (
         SELECT CAST(2 AS BIGINT) AS vec_id, embedding FROM embeddings WHERE vec_id = 0),
       allr AS (
         SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 2
         UNION ALL SELECT vec_id, embedding FROM delta
         UNION ALL SELECT vec_id, embedding FROM upd)
       SELECT a.vec_id AS vec_id,
         list_aggregate(list_transform(list_zip(a.embedding, q.qv), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist
       FROM allr a CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
       WHERE a.vec_id NOT IN (1, 20003)
       ORDER BY dist, vec_id LIMIT 100"""

  private val spD = "list_transform(d.embedding, x -> CASE WHEN abs(x) > CAST(0.15 AS DOUBLE) THEN x ELSE CAST(0 AS FLOAT) END)"
  private val spQ = "list_transform(q.embedding, x -> CASE WHEN abs(x) > CAST(0.15 AS DOUBLE) THEN x ELSE CAST(0 AS FLOAT) END)"

  /** Exact top-100 including the query row itself (the index holds it). */
  private val exactL2Oracle =
    """SELECT e.vec_id AS vec_id,
       list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist
       FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
       ORDER BY dist, vec_id LIMIT 100"""

  val oracles: Map[String, String] = Map(
    "q_ivf_exact_l2" -> exactL2Oracle,
    "q_ivf_exact_cos" ->
      """WITH n AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(CAST(x AS DOUBLE)
             / sqrt(list_aggregate(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum')) AS FLOAT)) AS ne
           FROM embeddings)
         SELECT e.vec_id AS vec_id,
           1.0 - list_aggregate(list_transform(list_zip(e.ne, q.ne), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum') AS dist
         FROM n e CROSS JOIN (SELECT ne FROM n WHERE vec_id = 0) q
         ORDER BY dist, vec_id LIMIT 100""",
    "q_topk_pushdown" -> exactL2Oracle,
    "q_topk_pushdown_bvec" ->
      """SELECT e.vec_id AS vec_id,
         CAST(list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> CASE WHEN (p[1] > 0) <> (p[2] > 0) THEN 1 ELSE 0 END), 'sum') AS DOUBLE) AS dist
         FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         ORDER BY dist, vec_id LIMIT 100""",
    "q_topk_pushdown_cos" ->
      """WITH n AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(CAST(x AS DOUBLE)
             / sqrt(list_aggregate(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum')) AS FLOAT)) AS ne
           FROM embeddings)
         SELECT e.vec_id AS vec_id,
           1.0 - list_aggregate(list_transform(list_zip(e.ne, q.ne), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum') AS dist
         FROM n e CROSS JOIN (SELECT ne FROM n WHERE vec_id = 0) q
         ORDER BY dist, vec_id LIMIT 100""",
    "q_topk_pushdown_filtered" ->
      """SELECT e.vec_id AS vec_id,
         list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist
         FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         WHERE e.vec_id % 7 = 0
         ORDER BY dist, vec_id LIMIT 100""",
    "q_topk_pushdown_partial" ->
      """SELECT e.vec_id AS vec_id,
         list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist
         FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         WHERE e.vec_id % 7 = 0
         ORDER BY dist, vec_id LIMIT 100""",
    "q_range_pushdown_cos" ->
      """SELECT vec_id, dist FROM (
           WITH n AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(CAST(x AS DOUBLE)
               / sqrt(list_aggregate(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum')) AS FLOAT)) AS ne
             FROM embeddings)
           SELECT e.vec_id AS vec_id,
             1.0 - list_aggregate(list_transform(list_zip(e.ne, q.qv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
               / sqrt(list_aggregate(list_transform(e.ne, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')
                    * list_aggregate(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS dist
           FROM n e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q)
         WHERE dist < 0.8 ORDER BY vec_id""",
    "q_hnsw_filtered_pushdown" ->
      """SELECT e.vec_id AS vec_id,
         list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist
         FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         WHERE e.label < 5
         ORDER BY dist, vec_id LIMIT 100""",
    // pre-filter fallback is exact by construction (plain filter + sort)
    "q_hnsw_filtered_prefilter" ->
      """SELECT e.vec_id AS vec_id,
         list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist
         FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         WHERE e.vec_id % 83 = 0
         ORDER BY dist, vec_id LIMIT 10""",
    // widened exact-prefix fill: provably the exact filtered top-k once
    // k survivors land in the candidate prefix (the in-query require)
    "q_hnsw_filtered_adaptive" ->
      """SELECT e.vec_id AS vec_id,
         list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist
         FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         WHERE e.label = 3
         ORDER BY dist, vec_id LIMIT 10""",
    // probe escalation to nlist = the exact filtered scan
    "q_ivf_filtered_adaptive" ->
      """SELECT e.vec_id AS vec_id,
         list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist
         FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         WHERE e.vec_id % 83 = 0
         ORDER BY dist, vec_id LIMIT 10""",
    "q_range_pushdown_hnsw" ->
      """SELECT vec_id, dist FROM (
           SELECT e.vec_id AS vec_id,
             list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist
           FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q)
         WHERE dist < 1.5 ORDER BY dist, vec_id""",
    "q_range_pushdown_bvec" ->
      """SELECT vec_id, dist FROM (
           SELECT e.vec_id AS vec_id,
             CAST(list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> CASE WHEN (p[1] > 0) <> (p[2] > 0) THEN 1 ELSE 0 END), 'sum') AS DOUBLE) AS dist
           FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q)
         WHERE dist < 27 ORDER BY dist, vec_id""",
    // exact flat-scan range over the densified graphs == the IVF form
    "q_range_pushdown_bvec_hnsw" ->
      """SELECT vec_id, dist FROM (
           SELECT e.vec_id AS vec_id,
             CAST(list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> CASE WHEN (p[1] > 0) <> (p[2] > 0) THEN 1 ELSE 0 END), 'sum') AS DOUBLE) AS dist
           FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q)
         WHERE dist < 27 ORDER BY dist, vec_id""",
    "q_range_pushdown_svec" ->
      """SELECT vec_id, dist FROM (
           SELECT e.vec_id AS vec_id,
             list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist
           FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q)
         WHERE dist < 1.6 ORDER BY dist, vec_id""",
    "q_range_pushdown_svec_dot" ->
      """SELECT vec_id, dist FROM (
           SELECT e.vec_id AS vec_id,
             -list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum') AS dist
           FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q)
         WHERE dist < -0.30 ORDER BY dist, vec_id""",
    "q_ivf_exact_dot" ->
      """SELECT e.vec_id AS vec_id,
         -list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum') AS dist
         FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         ORDER BY dist, vec_id LIMIT 100""",
    "q_hnsw_exact_l2" -> exactL2Oracle,
    "q_hnsw_filtered_exact" ->
      """SELECT e.vec_id AS vec_id,
         list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist
         FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         WHERE e.label < 5
         ORDER BY dist, vec_id LIMIT 100""",
    // the vbase GUC gate runs the same exact filtered search (every
    // refill round is exact in exact mode — results are mode-invariant
    // by construction, the requires pin the mode plumbing)
    "q_operator_sql_vbase" ->
      """SELECT e.vec_id AS vec_id,
         list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist
         FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         WHERE e.label < 5
         ORDER BY dist, vec_id LIMIT 100""",
    "q_hnsw_exact_cos" ->
      """WITH n AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(CAST(x AS DOUBLE)
             / sqrt(list_aggregate(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum')) AS FLOAT)) AS ne
           FROM embeddings)
         SELECT e.vec_id AS vec_id,
           1.0 - list_aggregate(list_transform(list_zip(e.ne, q.ne), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum') AS dist
         FROM n e CROSS JOIN (SELECT ne FROM n WHERE vec_id = 0) q
         ORDER BY dist, vec_id LIMIT 100""",
    "q_sq8_exact_l2" -> exactL2Oracle,
    "q_hnswsq8_exact_l2" -> exactL2Oracle,
    "q_hnswpq_exact_l2" -> exactL2Oracle,
    "q_hnswrq_exact_l2" -> exactL2Oracle,
    "q_bvec_ann_exact" ->
      """SELECT e.vec_id AS vec_id,
         CAST(list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> CASE WHEN (p[1] > 0) <> (p[2] > 0) THEN 1 ELSE 0 END), 'sum') AS DOUBLE) AS dist
         FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         ORDER BY dist, vec_id LIMIT 100""",
    "q_bvec_jaccard_ann_exact" ->
      """SELECT e.vec_id AS vec_id,
         1.0 - CAST(list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> CASE WHEN (p[1] > 0) AND (p[2] > 0) THEN 1 ELSE 0 END), 'sum') AS DOUBLE)
             / CAST(list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> CASE WHEN (p[1] > 0) OR (p[2] > 0) THEN 1 ELSE 0 END), 'sum') AS DOUBLE) AS dist
         FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         ORDER BY dist, vec_id LIMIT 100""",
    "q_bvec_dot_ann_exact" ->
      """SELECT e.vec_id AS vec_id,
         -CAST(list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> CASE WHEN (p[1] > 0) AND (p[2] > 0) THEN 1 ELSE 0 END), 'sum') AS DOUBLE) AS dist
         FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         ORDER BY dist, vec_id LIMIT 100""",
    "q_vecf16_ann_cos_exact" ->
      """SELECT c_custkey,
         1.0 - (CAST(c_nationkey AS DOUBLE) * 12 + CAST(c_custkey % 100 AS DOUBLE) * 50
             + CAST(c_custkey % 7 AS DOUBLE) * 3 + CAST(c_custkey % 13 AS DOUBLE) * 7)
           / sqrt((CAST(c_nationkey AS DOUBLE) * c_nationkey
             + CAST(c_custkey % 100 AS DOUBLE) * (c_custkey % 100)
             + CAST(c_custkey % 7 AS DOUBLE) * (c_custkey % 7)
             + CAST(c_custkey % 13 AS DOUBLE) * (c_custkey % 13)) * 2702.0) AS dist
         FROM customer ORDER BY dist, c_custkey LIMIT 100""",
    "q_vecf16_ann_dot_exact" ->
      """SELECT c_custkey,
         -(CAST(c_nationkey AS DOUBLE) * 12 + CAST(c_custkey % 100 AS DOUBLE) * 50
           + CAST(c_custkey % 7 AS DOUBLE) * 3 + CAST(c_custkey % 13 AS DOUBLE) * 7) AS dist
         FROM customer ORDER BY dist, c_custkey LIMIT 100""",
    "q_bvec_hnsw_exact" ->
      """SELECT e.vec_id AS vec_id,
         CAST(list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> CASE WHEN (p[1] > 0) <> (p[2] > 0) THEN 1 ELSE 0 END), 'sum') AS DOUBLE) AS dist
         FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         ORDER BY dist, vec_id LIMIT 100""",
    // declarative typed-hnsw dispatch in exact mode == the flat scan,
    // so it shares q_bvec_hnsw_exact's brute-force Hamming oracle
    "q_bvec_hnsw_pushdown" ->
      """SELECT e.vec_id AS vec_id,
         CAST(list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> CASE WHEN (p[1] > 0) <> (p[2] > 0) THEN 1 ELSE 0 END), 'sum') AS DOUBLE) AS dist
         FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         ORDER BY dist, vec_id LIMIT 100""",
    "q_bvec_jaccard_hnsw_exact" ->
      """SELECT e.vec_id AS vec_id,
         1.0 - CAST(list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> CASE WHEN (p[1] > 0) AND (p[2] > 0) THEN 1 ELSE 0 END), 'sum') AS DOUBLE)
             / CAST(list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> CASE WHEN (p[1] > 0) OR (p[2] > 0) THEN 1 ELSE 0 END), 'sum') AS DOUBLE) AS dist
         FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         ORDER BY dist, vec_id LIMIT 100""",
    "q_vecf16_hnsw_exact" ->
      """SELECT c_custkey,
         (CAST(c_nationkey AS DOUBLE) - 12) * (CAST(c_nationkey AS DOUBLE) - 12)
           + (CAST(c_custkey % 100 AS DOUBLE) - 50) * (CAST(c_custkey % 100 AS DOUBLE) - 50)
           + (CAST(c_custkey % 7 AS DOUBLE) - 3) * (CAST(c_custkey % 7 AS DOUBLE) - 3)
           + (CAST(c_custkey % 13 AS DOUBLE) - 7) * (CAST(c_custkey % 13 AS DOUBLE) - 7) AS dist
         FROM customer ORDER BY dist, c_custkey LIMIT 100""",
    "q_vecf16_ann_exact" ->
      """SELECT c_custkey,
         (CAST(c_nationkey AS DOUBLE) - 12) * (CAST(c_nationkey AS DOUBLE) - 12)
           + (CAST(c_custkey % 100 AS DOUBLE) - 50) * (CAST(c_custkey % 100 AS DOUBLE) - 50)
           + (CAST(c_custkey % 7 AS DOUBLE) - 3) * (CAST(c_custkey % 7 AS DOUBLE) - 3)
           + (CAST(c_custkey % 13 AS DOUBLE) - 7) * (CAST(c_custkey % 13 AS DOUBLE) - 7) AS dist
         FROM customer ORDER BY dist, c_custkey LIMIT 100""",
    "q_pq_exact_l2" -> exactL2Oracle,
    "q_pq4_exact_l2" -> exactL2Oracle,
    "q_ivfpq_exact_l2" -> exactL2Oracle,
    "q_ivfsq8_exact_l2" -> exactL2Oracle,
    "q_rabitq_exact_l2" -> exactL2Oracle,
    "q_rq4_exact_l2" -> exactL2Oracle,
    "q_hybrid_topk" -> hybridVisibleOracle,
    // exact flat scan of base + side graphs, version-filtered — the same
    // visible set as the hybrid sealed ∪ growing search
    "q_incrhnsw_exact" -> hybridVisibleOracle,
    // hybridVisibleOracle's construction + the UPDATE: row 2 now carries
    // row 0's embedding (old value excluded, mirrors untouched)
    "q_update_scan" -> updateVisibleOracle,
    // the statement-driven store converges to the IDENTICAL visible set
    // (DELETE statement = tombstones, UPDATE statement = shadow-append)
    "q_sql_update_stmt" -> updateVisibleOracle,
    // exact incremental-IVF search of the same store: same visible set
    "q_ivfincr_exact" -> hybridVisibleOracle,
    // exact (window<=0) incremental-quantized searches score the stored
    // raw vectors over the same visible set — codes never enter the path
    "q_sq8incr_exact" -> hybridVisibleOracle,
    "q_pqincr_exact" -> hybridVisibleOracle,
    "q_rqincr_exact" -> hybridVisibleOracle,
    // incremental sparse postings: the q_sparse_topk scoring contract
    // (sequential double fold, zero products are IEEE identities) over
    // the same sealed ∪ growing ∖ deleted visible set
    "q_sparseincr_topk" ->
      s"""WITH delta AS (
            SELECT vec_id + 20000 AS vec_id, embedding FROM embeddings WHERE vec_id < 5),
          allr AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL SELECT vec_id, embedding FROM delta)
          SELECT d.vec_id AS vec_id,
            list_aggregate(list_transform(list_zip($spD, $spQ), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum') AS score
          FROM allr d CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
          WHERE d.vec_id NOT IN (1, 20003)
            AND len(list_filter(list_zip($spD, $spQ), p -> p[1] <> 0 AND p[2] <> 0)) > 0
          ORDER BY score DESC, vec_id LIMIT 50""",

    "q_hnsw_batch_exact" ->
      """SELECT qid, vec_id, dist, rn FROM (
           SELECT q.vec_id AS qid, e.vec_id AS vec_id,
             list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum'),
               e.vec_id) AS rn
           FROM embeddings e CROSS JOIN
             (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3) q)
         WHERE rn <= 20 ORDER BY qid, rn""",
    "q_ivf_batch_exact" ->
      """SELECT qid, vec_id, dist, rn FROM (
           SELECT q.vec_id AS qid, e.vec_id AS vec_id,
             list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum'),
               e.vec_id) AS rn
           FROM embeddings e CROSS JOIN
             (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3) q)
         WHERE rn <= 20 ORDER BY qid, rn""",
    // the KNN-join exact twin is the same cross-product-with-window shape
    // as the batch oracles, with the query side a table subset instead of
    // three collected rows
    // full cross-join Σ-of-maxes replay: the dot kernel, per-position
    // maxes, and the FIXED m0+m1+m2+m3 CASE chain mirror q_maxsim_topk;
    // the window replays (score desc, gid) like the knn-join oracles
    "q_maxsim_join_exact" ->
      """WITH q AS (SELECT vec_id // 4 AS qdoc, vec_id % 4 AS qpos,
                      embedding AS qv FROM embeddings WHERE vec_id < 40),
         c AS (SELECT vec_id // 4 AS gid, embedding AS dv
               FROM embeddings WHERE vec_id >= 40),
         p AS (SELECT q.qdoc, q.qpos, c.gid,
                 list_aggregate(list_transform(list_zip(c.dv, q.qv),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum') AS dotv
               FROM c, q),
         m AS (SELECT qdoc, gid, qpos, max(dotv) AS mx
               FROM p GROUP BY qdoc, gid, qpos),
         sc AS (SELECT qdoc, gid,
                  max(CASE WHEN qpos = 0 THEN mx END)
                + max(CASE WHEN qpos = 1 THEN mx END)
                + max(CASE WHEN qpos = 2 THEN mx END)
                + max(CASE WHEN qpos = 3 THEN mx END) AS score
                FROM m GROUP BY qdoc, gid)
         SELECT qdoc, gid, score, rn FROM (
           SELECT qdoc, gid, score,
             row_number() OVER (PARTITION BY qdoc ORDER BY score DESC, gid) AS rn
           FROM sc)
         WHERE rn <= 5 ORDER BY qdoc, rn""",
    "q_knn_join_exact" ->
      """SELECT qid, vec_id, dist, rn FROM (
           SELECT q.vec_id AS qid, e.vec_id AS vec_id,
             list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum'),
               e.vec_id) AS rn
           FROM embeddings e CROSS JOIN
             (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0) q)
         WHERE rn <= 10 ORDER BY qid, rn""",
    // declarative window-join spelling at nprobe = nlist: same
    // brute-force window replay
    "q_knn_join_pushdown" ->
      """SELECT qid, vec_id, dist, rn FROM (
           SELECT q.vec_id AS qid, e.vec_id AS vec_id,
             list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum'),
               e.vec_id) AS rn
           FROM embeddings e CROSS JOIN
             (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0) q)
         WHERE rn <= 10 ORDER BY qid, rn""",
    // probe escalation to nlist = the exact filtered window join
    "q_ivf_filtered_join_adaptive" ->
      """SELECT qid, vec_id, dist, rn FROM (
           SELECT q.vec_id AS qid, e.vec_id AS vec_id,
             list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum'),
               e.vec_id) AS rn
           FROM (SELECT * FROM embeddings WHERE vec_id % 83 = 0) e CROSS JOIN
             (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 = 0) q)
         WHERE rn <= 3 ORDER BY qid, rn""",
    "q_hard_negatives_pushdown" ->
      """SELECT qid, vec_id, dist, rn FROM (
           SELECT q.vec_id AS qid, e.vec_id AS vec_id,
             list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum'),
               e.vec_id) AS rn
           FROM embeddings e CROSS JOIN
             (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 25 = 0) q
           WHERE e.vec_id <> q.vec_id)
         WHERE rn <= 5 ORDER BY qid, rn""",
    "q_decontaminate_pushdown" ->
      """SELECT q.vec_id AS qid, count(*) AS n_contaminated
         FROM embeddings e CROSS JOIN
           (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 25 = 0) q
         WHERE list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') < 1.2
         GROUP BY q.vec_id ORDER BY qid""",
    // typed table joins, exact mode: the typed batch-exact oracle
    // shapes with table-derived query sides
    "q_bvec_knn_join_exact" ->
      """SELECT qid, vec_id, dist, rn FROM (
           SELECT q.vec_id AS qid, e.vec_id AS vec_id,
             CAST(list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> CASE WHEN (p[1] > 0) <> (p[2] > 0) THEN 1 ELSE 0 END), 'sum') AS DOUBLE) AS dist,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               CAST(list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> CASE WHEN (p[1] > 0) <> (p[2] > 0) THEN 1 ELSE 0 END), 'sum') AS DOUBLE),
               e.vec_id) AS rn
           FROM embeddings e CROSS JOIN
             (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 = 0) q)
         WHERE rn <= 10 ORDER BY qid, rn""",
    // typed-graph window-join arm in exact mode == the flat-scan
    // brute force over the same rows
    "q_bvec_hnsw_knn_join_pushdown" ->
      """SELECT qid, vec_id, dist, rn FROM (
           SELECT q.vec_id AS qid, e.vec_id AS vec_id,
             CAST(list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> CASE WHEN (p[1] > 0) <> (p[2] > 0) THEN 1 ELSE 0 END), 'sum') AS DOUBLE) AS dist,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               CAST(list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> CASE WHEN (p[1] > 0) <> (p[2] > 0) THEN 1 ELSE 0 END), 'sum') AS DOUBLE),
               e.vec_id) AS rn
           FROM embeddings e CROSS JOIN
             (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 = 0) q)
         WHERE rn <= 10 ORDER BY qid, rn""",
    // declarative typed window-join at nprobe = nlist: same replay
    "q_bvec_knn_join_pushdown" ->
      """SELECT qid, vec_id, dist, rn FROM (
           SELECT q.vec_id AS qid, e.vec_id AS vec_id,
             CAST(list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> CASE WHEN (p[1] > 0) <> (p[2] > 0) THEN 1 ELSE 0 END), 'sum') AS DOUBLE) AS dist,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               CAST(list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> CASE WHEN (p[1] > 0) <> (p[2] > 0) THEN 1 ELSE 0 END), 'sum') AS DOUBLE),
               e.vec_id) AS rn
           FROM embeddings e CROSS JOIN
             (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 = 0) q)
         WHERE rn <= 10 ORDER BY qid, rn""",
    "q_svec_knn_join_exact" ->
      s"""SELECT qid, vec_id, dist, rn FROM (
           SELECT q.vec_id AS qid, d.vec_id AS vec_id,
             list_aggregate(list_transform(list_zip($spD, $spQ), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_aggregate(list_transform(list_zip($spD, $spQ), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum'),
               d.vec_id) AS rn
           FROM embeddings d CROSS JOIN
             (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 = 0) q)
         WHERE rn <= 10 ORDER BY qid, rn""",
    // typed-graph dot-override join, exact mode: negdot over the
    // sparsified views — the kernel negates the index-order double sum
    // once (distWith code 2), exactly -list_aggregate(sum)
    "q_svec_hnsw_knn_join_exact" ->
      s"""SELECT qid, vec_id, dist, rn FROM (
           SELECT q.vec_id AS qid, d.vec_id AS vec_id,
             -list_aggregate(list_transform(list_zip($spD, $spQ), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum') AS dist,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               -list_aggregate(list_transform(list_zip($spD, $spQ), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum'),
               d.vec_id) AS rn
           FROM embeddings d CROSS JOIN
             (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 = 0) q)
         WHERE rn <= 10 ORDER BY qid, rn""",
    "q_vecf16_knn_join_exact" ->
      """SELECT qid, c_custkey, dist, rn FROM (
           SELECT q.qid AS qid, c.c_custkey AS c_custkey,
             (CAST(c.c_nationkey AS DOUBLE) - q.qa) * (CAST(c.c_nationkey AS DOUBLE) - q.qa)
               + (CAST(c.c_custkey % 100 AS DOUBLE) - q.qb) * (CAST(c.c_custkey % 100 AS DOUBLE) - q.qb)
               + (CAST(c.c_custkey % 7 AS DOUBLE) - q.qc) * (CAST(c.c_custkey % 7 AS DOUBLE) - q.qc)
               + (CAST(c.c_custkey % 13 AS DOUBLE) - q.qd) * (CAST(c.c_custkey % 13 AS DOUBLE) - q.qd) AS dist,
             row_number() OVER (PARTITION BY q.qid ORDER BY
               (CAST(c.c_nationkey AS DOUBLE) - q.qa) * (CAST(c.c_nationkey AS DOUBLE) - q.qa)
                 + (CAST(c.c_custkey % 100 AS DOUBLE) - q.qb) * (CAST(c.c_custkey % 100 AS DOUBLE) - q.qb)
                 + (CAST(c.c_custkey % 7 AS DOUBLE) - q.qc) * (CAST(c.c_custkey % 7 AS DOUBLE) - q.qc)
                 + (CAST(c.c_custkey % 13 AS DOUBLE) - q.qd) * (CAST(c.c_custkey % 13 AS DOUBLE) - q.qd),
               c.c_custkey) AS rn
           FROM customer c CROSS JOIN
             (SELECT c_custkey AS qid, CAST(c_nationkey AS DOUBLE) AS qa,
                CAST(c_custkey % 100 AS DOUBLE) AS qb,
                CAST(c_custkey % 7 AS DOUBLE) AS qc,
                CAST(c_custkey % 13 AS DOUBLE) AS qd
              FROM customer WHERE c_custkey % 50 = 0) q)
         WHERE rn <= 10 ORDER BY qid, rn""",
    // mirrors hardNegatives exactly: rank WITH self over the k=6 join,
    // drop identity rows, renumber — not drop-then-rank (equivalent
    // only when the anchor id sits in its own top-6, which duplicates
    // under other ids could break; replay the operator, not the intent)
    "q_hard_negatives" ->
      """SELECT qid, vec_id, dist, neg_rank FROM (
           SELECT qid, vec_id, dist,
             row_number() OVER (PARTITION BY qid ORDER BY rn) AS neg_rank
           FROM (
             SELECT q.vec_id AS qid, e.vec_id AS vec_id,
               list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum'),
                 e.vec_id) AS rn
             FROM embeddings e CROSS JOIN
               (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0) q)
           WHERE rn <= 6 AND qid <> vec_id)
         WHERE neg_rank <= 5 ORDER BY qid, neg_rank""",
    // range join is exact by construction (sound lower-bound pruning),
    // so the oracle is the plain cross filter — no twin needed
    "q_vec_range_join" ->
      """SELECT q.vec_id AS qid, e.vec_id AS vec_id,
           list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist
         FROM embeddings e CROSS JOIN
           (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0) q
         WHERE list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') <= 1.5
         ORDER BY qid, vec_id""",
    // filtered declarative join: the corpus predicate replayed in the
    // cross filter (exact at any radius, filter-independent pruning)
    "q_range_join_pushdown_filtered" ->
      """SELECT q.vec_id AS qid, e.vec_id AS vec_id,
           list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist
         FROM embeddings e CROSS JOIN
           (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0) q
         WHERE e.label > 2
           AND list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') < 1.5
         ORDER BY qid, vec_id""",
    // declarative join spelling: same cross-filter replay with the strict
    // predicate of the join condition (the rewrite is exact at any radius)
    "q_range_join_pushdown" ->
      """SELECT q.vec_id AS qid, e.vec_id AS vec_id,
           list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist
         FROM embeddings e CROSS JOIN
           (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0) q
         WHERE list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') < 1.5
         ORDER BY qid, vec_id""",
    // hnsw range join: exact flat scans at any parts — full cross-filter
    // replay with the strict predicate
    "q_hnsw_range_join" ->
      """SELECT q.vec_id AS qid, e.vec_id AS vec_id,
           list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist
         FROM embeddings e CROSS JOIN
           (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0) q
         WHERE list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') < 1.5
         ORDER BY qid, vec_id""",
    // hnsw window-join pushdown runs in exact (flat-scan) mode: the
    // same brute-force window replay
    "q_hnsw_knn_join_pushdown" ->
      """SELECT qid, vec_id, dist, rn FROM (
           SELECT q.vec_id AS qid, e.vec_id AS vec_id,
             list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum'),
               e.vec_id) AS rn
           FROM embeddings e CROSS JOIN
             (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0) q)
         WHERE rn <= 10 ORDER BY qid, rn""",
    // same shape as q_knn_join_exact: the HNSW exact mode flat-scans the
    // single-graph artifact, so the oracle is the brute-force window
    "q_hnsw_knn_join_exact" ->
      """SELECT qid, vec_id, dist, rn FROM (
           SELECT q.vec_id AS qid, e.vec_id AS vec_id,
             list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum'),
               e.vec_id) AS rn
           FROM embeddings e CROSS JOIN
             (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0) q)
         WHERE rn <= 10 ORDER BY qid, rn""",
    "q_knn_decontaminate" ->
      """SELECT e.vec_id AS vec_id, count(*) AS n_evals, min(q.eval_id) AS first_eval
         FROM embeddings e JOIN
           (SELECT vec_id + 500000 AS eval_id, embedding FROM embeddings WHERE vec_id % 37 = 0) q
           ON list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') <= 0.05
         GROUP BY e.vec_id ORDER BY vec_id""",
    "q_bvec_batch_exact" ->
      """SELECT qid, vec_id, dist, rn FROM (
           SELECT q.vec_id AS qid, e.vec_id AS vec_id,
             CAST(list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> CASE WHEN (p[1] > 0) <> (p[2] > 0) THEN 1 ELSE 0 END), 'sum') AS DOUBLE) AS dist,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               CAST(list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> CASE WHEN (p[1] > 0) <> (p[2] > 0) THEN 1 ELSE 0 END), 'sum') AS DOUBLE),
               e.vec_id) AS rn
           FROM embeddings e CROSS JOIN
             (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3) q)
         WHERE rn <= 20 ORDER BY qid, rn""",
    "q_svec_batch_exact" ->
      s"""SELECT qid, vec_id, dist, rn FROM (
           SELECT q.vec_id AS qid, d.vec_id AS vec_id,
             list_aggregate(list_transform(list_zip($spD, $spQ), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_aggregate(list_transform(list_zip($spD, $spQ), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum'),
               d.vec_id) AS rn
           FROM embeddings d CROSS JOIN
             (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3) q)
         WHERE rn <= 20 ORDER BY qid, rn""",
    "q_vecf16_batch_exact" ->
      """SELECT qid, c_custkey, dist, rn FROM (
           SELECT CAST(q.qid AS BIGINT) AS qid, c.c_custkey AS c_custkey,
             (CAST(c.c_nationkey AS DOUBLE) - q.qa) * (CAST(c.c_nationkey AS DOUBLE) - q.qa)
               + (CAST(c.c_custkey % 100 AS DOUBLE) - q.qb) * (CAST(c.c_custkey % 100 AS DOUBLE) - q.qb)
               + (CAST(c.c_custkey % 7 AS DOUBLE) - q.qc) * (CAST(c.c_custkey % 7 AS DOUBLE) - q.qc)
               + (CAST(c.c_custkey % 13 AS DOUBLE) - q.qd) * (CAST(c.c_custkey % 13 AS DOUBLE) - q.qd) AS dist,
             row_number() OVER (PARTITION BY q.qid ORDER BY
               (CAST(c.c_nationkey AS DOUBLE) - q.qa) * (CAST(c.c_nationkey AS DOUBLE) - q.qa)
                 + (CAST(c.c_custkey % 100 AS DOUBLE) - q.qb) * (CAST(c.c_custkey % 100 AS DOUBLE) - q.qb)
                 + (CAST(c.c_custkey % 7 AS DOUBLE) - q.qc) * (CAST(c.c_custkey % 7 AS DOUBLE) - q.qc)
                 + (CAST(c.c_custkey % 13 AS DOUBLE) - q.qd) * (CAST(c.c_custkey % 13 AS DOUBLE) - q.qd),
               c.c_custkey) AS rn
           FROM customer c CROSS JOIN (VALUES
             (0, 12.0, 50.0, 3.0, 7.0),
             (1, 0.0, 10.0, 1.0, 2.0),
             (2, 24.0, 99.0, 6.0, 12.0)) q(qid, qa, qb, qc, qd))
         WHERE rn <= 20 ORDER BY qid, rn""",
    "q_svec_ann_exact" ->
      s"""SELECT d.vec_id AS vec_id,
          list_aggregate(list_transform(list_zip($spD, $spQ), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist
          FROM embeddings d CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
          ORDER BY dist, vec_id LIMIT 100""",
    // flat scan of the densified-CSR HNSW artifact == the svector l2
    // brute force (same terms, same index order)
    "q_svec_hnsw_exact" ->
      s"""SELECT d.vec_id AS vec_id,
          list_aggregate(list_transform(list_zip($spD, $spQ), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist
          FROM embeddings d CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
          ORDER BY dist, vec_id LIMIT 100""",
    "q_svec_ann_cos_exact" ->
      s"""SELECT d.vec_id AS vec_id,
          1.0 - list_aggregate(list_transform(list_zip($spD, $spQ), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
            / sqrt(list_aggregate(list_transform($spD, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')
                 * list_aggregate(list_transform($spQ, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS dist
          FROM embeddings d CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
          ORDER BY dist, vec_id LIMIT 100""",
    "q_svec_ann_dot_exact" ->
      s"""SELECT d.vec_id AS vec_id,
          -list_aggregate(list_transform(list_zip($spD, $spQ), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum') AS dist
          FROM embeddings d CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
          ORDER BY dist, vec_id LIMIT 100""",
    "q_sparse_topk" ->
      s"""SELECT d.vec_id AS vec_id,
          list_aggregate(list_transform(list_zip($spD, $spQ), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum') AS score
          FROM embeddings d CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
          WHERE len(list_filter(list_zip($spD, $spQ), p -> p[1] <> 0 AND p[2] <> 0)) > 0
          ORDER BY score DESC, vec_id LIMIT 50""",
    // both legs replayed exactly, fused by reciprocal rank: ranks are
    // window row_numbers over each leg's (metric, id) total order
    "q_hybrid_rrf" ->
      s"""WITH dense AS (
            SELECT vec_id, row_number() OVER (ORDER BY dist, vec_id) AS r FROM (
              SELECT e.vec_id AS vec_id,
                list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist
              FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
              ORDER BY dist, vec_id LIMIT 50)),
          sparse AS (
            SELECT vec_id, row_number() OVER (ORDER BY score DESC, vec_id) AS r FROM (
              SELECT d.vec_id AS vec_id,
                list_aggregate(list_transform(list_zip($spD, $spQ), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum') AS score
              FROM embeddings d CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
              WHERE len(list_filter(list_zip($spD, $spQ), p -> p[1] <> 0 AND p[2] <> 0)) > 0
              ORDER BY score DESC, vec_id LIMIT 50))
          SELECT COALESCE(de.vec_id, sp.vec_id) AS vec_id,
            COALESCE(CAST(1.0 AS DOUBLE) / (60 + de.r), CAST(0 AS DOUBLE))
            + COALESCE(CAST(1.0 AS DOUBLE) / (60 + sp.r), CAST(0 AS DOUBLE)) AS score
          FROM dense de FULL OUTER JOIN sparse sp ON de.vec_id = sp.vec_id
          ORDER BY score DESC, vec_id LIMIT 30"""
  )
}
