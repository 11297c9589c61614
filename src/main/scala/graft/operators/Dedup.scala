package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Document deduplication for LLM training-data pipelines: exact
 * (content-hash), near-dup via MinHash+banded LSH, SimHash, exact n-gram
 * Jaccard, and embedding-cosine near-dup (sign-LSH bucketing).
 *
 * Scale shape (the 100 TB contract):
 *  - Exact dedup is one hash-partitioned groupBy — embarrassingly
 *    parallel, no skew (md5 keys are uniform).
 *  - MinHash/LSH NEVER does all-pairs: candidates come from equality
 *    joins on (band_idx, band_hash) buckets; each doc emits `bands`
 *    rows, so the shuffle is bands×N rows, and genuinely-similar pairs
 *    collide with probability 1-(1-j^r)^b.
 *  - The exact-Jaccard path (token/shingle inverted join) is the small-SF
 *    oracle twin; at scale you run LSH and verify only candidates.
 *  - Embedding near-dup buckets by random-hyperplane sign signature —
 *    the cosine analog of band buckets.
 *
 * Everything is built from codegen'd built-ins (split/transform/hash/
 * array_min) — no UDFs on the hot path.
 */
object Dedup {

  /** Distinct word-n-gram shingle set per document. Documents shorter
    * than n tokens yield an EMPTY set — without the guard,
    * sequence(0, size-n) would produce a descending range and slice()
    * would throw, where the DuckDB oracle's range() is simply empty. */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    when(size(toks) >= n,
      array_distinct(
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** MinHash signature: k hash functions via the Kirsch-Mitzenmacher
    * construction h_i = h1 + i*h2 over one base hash per shingle — a
    * single codegen'd pass (a nested higher-order-function formulation
    * runs interpreted and is ~100x slower at scale). */
  def minhashSignature(shingleSet: Column, k: Int): Column =
    org.apache.spark.sql.graftshim.Shims.column(
      MinHashSig(org.apache.spark.sql.graftshim.Shims.expression(shingleSet), k))

  /** Banded LSH keys: `bands` hashes over signature slices of `rows`. */
  def bandKeys(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => hash(slice(sig, b * rows + 1, lit(rows))))

  /** Candidate pairs from banded LSH: docs sharing >=1 band bucket.
    * Input: (idCol, sigCol); output: (doc_a, doc_b) distinct, a < b. */
  def lshCandidates(docs: DataFrame, idCol: String, sigCol: String,
      bands: Int, rows: Int): DataFrame = {
    // one signature+banding pass (round 17): keyed feeds both self-join
    // sides (plus optimizer-inferred pre-explode filter clones) —
    // materialize it once per run
    val keyed = docs
      .select(col(idCol), posexplode(bandKeys(col(sigCol), bands, rows))
        .as(Seq("band_idx", "band_hash")))
      .localCheckpoint()
    keyed.as("a").join(keyed.as("b").hint("shuffle_hash"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .distinct()
  }

  /** Exact set-Jaccard for candidate pairs: join the shingle sets back
    * and merge-count the intersection ([[intersectCountKernel]] — the
    * sets are sorted by construction). `withSets`: (idCol, setCol). */
  def verifyJaccard(pairs: DataFrame, withSets: DataFrame, idCol: String,
      setCol: String): DataFrame = {
    val sa = withSets.select(col(idCol).as("doc_a"), col(setCol).as("set_a"))
    val sb = withSets.select(col(idCol).as("doc_b"), col(setCol).as("set_b"))
    // hashed sets ([[shingleHashes]]) are sorted long arrays — one
    // zero-allocation merge walk; string-shingle sets (unsorted,
    // array_distinct order) keep the built-in set intersection
    val isHashed = withSets.schema(setCol).dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false)
    val inter =
      if (isHashed) intersectCount(col("set_a"), col("set_b"))
      else size(array_intersect(col("set_a"), col("set_b"))).cast("long")
    pairs.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"), inter.as("inter"),
        size(col("set_a")).as("na"), size(col("set_b")).as("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jacc"))
  }

  /** EXACT all-pairs Jaccard >= tau via the shingle inverted-list join
    * (complete: any pair with jacc > 0 shares a shingle); intersections
    * counted ON the join, so no per-candidate set materialization.
    * (A prefix-filter variant — index only the |X|-ceil(tau|X|)+1
    * hash-smallest shingles — was measured slower here: this corpus's
    * high shingle overlap yields ~0.4M candidates whose set-verify costs
    * more than counting on the full join.) The oracle twin of the LSH
    * path; at 100 TB hot shingles make this the wrong shape — run
    * [[lshCandidates]] + [[verifyJaccard]] instead. */
  def exactJaccardPairs(docs: DataFrame, idCol: String, setCol: String,
      tau: Double): DataFrame = {
    // join on a 64-bit shingle hash: same intersection counts (collision
    // odds ~|A||B|/2^64 per pair), 8-byte shuffle keys instead of strings
    val hashed = docs.select(col(idCol),
      transform(col(setCol), s => xxhash64(s)).as("__shh"))
    exactJaccardPairsHashed(hashed, idCol, "__shh", tau)
  }

  /** Same inverted-join Jaccard, but over a PRE-HASHED distinct shingle
    * set ([[shingleHashes]]) — skips per-shingle string materialization
    * entirely on both join sides. */
  def exactJaccardPairsHashed(docs: DataFrame, idCol: String,
      hashCol: String, tau: Double): DataFrame = {
    // ONE hashing pass (round 17, guide §8 "fingerprints once"): the
    // hash-set column feeds BOTH self-join sides plus the two size
    // frames, and the optimizer additionally clones the expression into
    // inferred pre-explode filters — the executed plan evaluated
    // shingle_hashes ~8x per doc. localCheckpoint materializes the
    // (id, hashes) frame once per run; every branch reads the
    // materialized rows. Recomputed on every invocation — nothing
    // persists across runs.
    val mat = docs.select(col(idCol), col(hashCol)).localCheckpoint()
    val flat = mat.select(col(idCol), explode(col(hashCol)).as("tok"))
    // shuffle-HASH join on the token postings: the sides are the same
    // exploded frame, and a sort-merge join pays two full sorts of the
    // postings per partition that a hash build skips — measured 2.17 s
    // -> 0.86 s warm at sf0.1 (round 13). The shuffle itself is
    // unchanged, so the 100 TB shape is identical minus the sorts.
    val inter = flat.as("a").join(flat.as("b").hint("shuffle_hash"),
        col("a.tok") === col("b.tok") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val sizes = mat.select(col(idCol), size(col(hashCol)).as("n"))
    inter
      .join(sizes.select(col(idCol).as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col(idCol).as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jacc"))
      .filter(col("jacc") >= tau)
  }

  /** Connected components over an undirected edge list by iterative
    * min-label propagation — the clustering step that turns verified
    * near-dup PAIRS into dedup groups with a canonical representative
    * (min id), the keep-one-per-cluster contract of large corpus dedup.
    *
    * Each round every node takes the min label among itself and its
    * neighbours (one equi-join + one partial-agg groupBy — both
    * hash-partitioned on node id, no all-pairs anywhere); rounds needed =
    * component diameter. Near-dup components are mirror chains/cliques of
    * diameter ≤ 2, so this converges in 2–3 rounds; a corpus with
    * adversarially long chains can swap in alternating
    * large-star/small-star contraction ([[connectedComponentsStar]],
    * O(log n) rounds) via `spark.graft.dedup.cc = star`. The driver loop
    * only counts a 1-row agg convergence probe per round — never
    * collects the frame.
    *
    * Returns (node, rep) for every node incident to ≥1 edge; singleton
    * docs are not cluster members and never enter the frame. */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = {
    if (edges.sparkSession.conf
        .get("spark.graft.dedup.cc", "minprop") == "star")
      return connectedComponentsStar(edges, aCol, bCol, maxIter)
    // both orientations from ONE pass over edges (explode, not a
    // self-union — the upstream edge pipeline is typically an expensive
    // LSH-join + verify and a union would evaluate it twice)
    val und = edges
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct().cache()
    // seed labels with min(node, direct neighbors) — algebraically the
    // first propagation round from identity labels, fused into the init
    // groupBy (one fewer join+shuffle round; diameter-2 components now
    // converge in 2 iterations incl. the no-change probe round)
    var labels = und.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("mind"))
      .select(col("node"), least(col("node"), col("mind")).as("rep")).cache()
    // convergence check: reps only ever DECREASE under min-propagation,
    // so Σrep is strictly monotone while anything changes — one agg
    // action per round instead of a join-based diff (ids are nonnegative
    // and bounded, so the long sum cannot overflow before convergence)
    def repSum(df: DataFrame): Long = {
      val r = df.agg(sum(col("rep"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    var prevSum = repSum(labels)
    var it = 0
    var done = false
    while (!done && it < maxIter) {
      val viaNbr = und.join(labels, und("dst") === labels("node"))
        .select(und("src").as("node"), col("rep"))
      // localCheckpoint, not cache: the round references `labels` twice,
      // so keeping lineage doubles the logical plan per round — fine for
      // diameter-2 near-dup graphs, a driver OOM on adversarial chains
      // (plan size 2^rounds). Checkpointing truncates the plan; the
      // materialization IS the one action the Σrep probe needs anyway.
      val next = labels.unionAll(viaNbr)
        .groupBy("node").agg(min("rep").as("rep")).localCheckpoint()
      val s = repSum(next)
      labels.unpersist()
      labels = next
      done = s == prevSum
      prevSum = s
      it += 1
    }
    und.unpersist()
    labels
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    * contraction — the O(log n)-round fallback for adversarially long
    * duplicate chains, where min-propagation's diameter-many rounds
    * degrade (published MapReduce CC literature; also the shape
    * production graph libraries use). Same output contract as
    * [[connectedComponents]]: (node, rep = component min) for every node
    * incident to ≥1 edge — the two are property-tested equal on random
    * graphs (DedupSpec).
    *
    * large-star: every node u hangs its LARGER neighbors off
    * m = min(Γ(u) ∪ {u}); small-star: every node u re-hangs its
    * smaller-or-equal neighbors (canonical hi→lo orientation) plus
    * itself off m. Both are one groupBy + one equi-join on node id —
    * bucketed, never all-pairs — and both preserve connectivity; the
    * fixpoint is a disjoint union of stars centered at component minima.
    * Convergence probe per round = one 3-value agg (count, Σhi, Σlo);
    * a stats match is CONFIRMED with one exact set-diff before
    * returning, so a checksum collision can never return a non-fixpoint
    * labeling (it just keeps iterating). */
  def connectedComponentsStar(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = {
    // canonical undirected edge set (hi > lo), self-loops dropped from
    // the contraction but their nodes kept for the label contract
    val raw = edges.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b"))
    val incident = raw.select(col("a").as("node"))
      .unionAll(raw.select(col("b").as("node"))).distinct()
    var e = raw.filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("hi"),
        least(col("a"), col("b")).as("lo"))
      .distinct().cache()

    def largeStar(ed: DataFrame): DataFrame = {
      val und = ed.select(explode(array(
          struct(col("hi").as("u"), col("lo").as("v")),
          struct(col("lo").as("u"), col("hi").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
      val mins = und.groupBy(col("u").as("mu"))
        .agg(min(col("v")).as("mn"))
        .select(col("mu"), least(col("mu"), col("mn")).as("m"))
      und.join(mins, col("u") === col("mu"))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
    }
    def smallStar(ed: DataFrame): DataFrame = {
      val mins = ed.groupBy("hi").agg(min("lo").as("m"))
      ed.join(mins, "hi")
        .select(explode(array(
          struct(col("lo").as("x"), col("m").as("y")),
          struct(col("hi").as("x"), col("m").as("y")))).as("e"))
        .select(col("e.x").as("x"), col("e.y").as("y"))
        .filter(col("x") =!= col("y"))
        .select(greatest(col("x"), col("y")).as("hi"),
          least(col("x"), col("y")).as("lo"))
        .distinct()
    }
    def stats(ed: DataFrame): (Long, Long, Long) = {
      val r = ed.agg(count(lit(1)), sum(col("hi")), sum(col("lo"))).head()
      (r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }

    var prev = stats(e)
    var it = 0
    var done = e.limit(1).isEmpty
    while (!done && it < maxIter) {
      // localCheckpoint, not cache: each round references the previous
      // frame FOUR times (two orientations × two stars), so keeping the
      // lineage would grow the logical plan 4^rounds — checkpointing
      // materializes the round and truncates the plan (the standard
      // lineage control for iterative DataFrame algorithms)
      val next = smallStar(largeStar(e)).localCheckpoint()
      val s = stats(next)
      if (s == prev)
        // exact confirmation: counts already match, so a one-sided
        // anti-diff proves set equality
        done = next.exceptAll(e).limit(1).isEmpty
      e.unpersist()
      e = next
      prev = s
      it += 1
    }
    // star fixpoint: (hi, lo) IS (node, component min); centers label
    // themselves; nodes with only self-loop edges are their own rep
    val starLabels = e.select(col("hi").as("node"), col("lo").as("rep"))
      .unionAll(e.select(col("lo")).distinct()
        .select(col("lo").as("node"), col("lo").as("rep")))
    starLabels.unionAll(
      incident.join(starLabels.select(col("node")), Seq("node"), "left_anti")
        .select(col("node"), col("node").as("rep")))
  }

  /** Materialized cluster assignment — the near-dup chain (shingle →
    * minhash → banded LSH → exact-Jaccard verify → connected components)
    * run ONCE and cataloged, so every consumer (cluster listing, deduped
    * corpus, keep/drop joins) reads one small (node, rep) parquet instead
    * of re-deriving the whole chain per query. At 100 TB the chain is the
    * expensive part of any dedup pipeline; a pipeline that wants both the
    * cluster report AND the deduped output must not run it twice.
    *
    * Staleness follows [[graft.index.IndexCatalog.ensure]]: source path +
    * content fingerprint + the chain parameters in `requires`. Returns
    * the parquet dir of (node, rep). */
  def ensureClusters(spark: org.apache.spark.sql.SparkSession, name: String,
      source: String, docs: => DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      minJacc: Double = 0.8): String = {
    import graft.index.IndexCatalog
    val params = Map(
      "shingle" -> shingleK.toString, "bands" -> bands.toString,
      "rows" -> rowsPerBand.toString,
      "minhash" -> (bands * rowsPerBand).toString, "jacc" -> minJacc.toString)
    IndexCatalog.ensure(spark, name, source, "dedup_cc", requires = params) { dataDir =>
      val sh = docs.select(col(idCol).as("doc_id"),
        shingleHashes(col(textCol), shingleK).as("shh"))
      val sig = sh.select(col("doc_id"),
        minhashSignatureHashed(col("shh"), bands * rowsPerBand).as("sig"))
      val cands = lshCandidates(sig, "doc_id", "sig", bands, rowsPerBand)
      val edges = verifyJaccard(cands, sh, "doc_id", "shh")
        .filter(col("jacc") >= minJacc)
        .select(col("doc_a"), col("doc_b"))
      connectedComponents(edges, "doc_a", "doc_b")
        .write.mode("overwrite").parquet(dataDir)
      IndexCatalog.Manifest("dedup_cc", source, "jaccard", params)
    }
    graft.index.IndexCatalog.dataDir(spark, name)
  }

  // --- SimHash -----------------------------------------------------------

  /** FNV-1a 64-bit over UTF-8 bytes — a public, trivially-reproducible
    * token hash for SimHash bit votes. */
  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes("UTF-8")
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  def simhash64(tokens: Seq[String]): Long = {
    val votes = new Array[Int](64)
    tokens.foreach { t =>
      val h = fnv1a64(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
  import org.apache.spark.sql.catalyst.expressions.BinaryExpression

  /** Intersection size of two SORTED-ascending distinct long arrays by
    * one merge walk — the verify-stage kernel (round 13).
    * [[shingleHashKernel]] emits TreeSet-ordered arrays, so both verify
    * inputs qualify by construction. Replaces `array_intersect` (which
    * builds a hash set AND materializes the intersection array, twice
    * per row the way the jacc expression used it): one pass, no
    * allocation, same count on distinct inputs. */
  def intersectCountKernel(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements(); val m = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Codegen wrapper over [[intersectCountKernel]]; inputs must be
    * sorted-ascending distinct (the shingleHashes contract). */
  case class IntersectCountExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects two array<bigint>, got $other")
      }
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = LongType
    override def nullSafeEval(a: Any, b: Any): Any =
      intersectCountKernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.operators.Dedup.intersectCountKernel($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
    override def prettyName = "intersect_count"
  }

  def intersectCount(a: Column, b: Column): Column =
    org.apache.spark.sql.graftshim.Shims.column(IntersectCountExpr(
      org.apache.spark.sql.graftshim.Shims.expression(a),
      org.apache.spark.sql.graftshim.Shims.expression(b)))


  /** Second independent 64-bit hash via a murmur-style finalizer. */
  @inline def mix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  def minhashKernel(shingles: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = shingles.numElements()
    var j = 0
    while (j < n) {
      val h1 = fnv1a64(shingles.getUTF8String(j).toString)
      val h2 = mix64(h1) | 1L
      var i = 0
      var h = h1
      while (i < k) {
        if (h < mins(i)) mins(i) = h
        h += h2
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  /** MinHash signature from PRE-HASHED shingles ([[shingleHashes]]):
    * h1 is the stored 64-bit shingle hash, so signatures are
    * bit-identical to [[minhashKernel]] over the string shingles while
    * skipping string materialization entirely. */
  def minhashFromHashesKernel(hashes: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = hashes.numElements()
    var j = 0
    while (j < n) {
      val h1 = hashes.getLong(j)
      val h2 = mix64(h1) | 1L
      var i = 0
      var h = h1
      while (i < k) {
        if (h < mins(i)) mins(i) = h
        h += h2
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  case class MinHashSigFromHashes(child: Expression, k: Int)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a hash set of type array<bigint>, got ${other.simpleString}")
    }
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      minhashFromHashesKernel(v.asInstanceOf[ArrayData], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.operators.Dedup.minhashFromHashesKernel($c, $k)")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
    override def prettyName = "minhash_signature_hashed"
  }

  def minhashSignatureHashed(hashSet: Column, k: Int): Column =
    org.apache.spark.sql.graftshim.Shims.column(
      MinHashSigFromHashes(org.apache.spark.sql.graftshim.Shims.expression(hashSet), k))

  /** Codegen MinHash signature over a shingle array column. */
  case class MinHashSig(child: Expression, k: Int)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects type array<string>, got ${other.simpleString}")
    }
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      minhashKernel(v.asInstanceOf[ArrayData], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.operators.Dedup.minhashKernel($c, $k)")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
    override def prettyName = "minhash_signature"
  }

  /** Distinct n-gram shingle HASHES in ONE codegen pass over the token
    * array: no per-shingle string building, no array_distinct over
    * strings — the hash IS what the inverted join keys on. FNV-1a over
    * the tokens joined by ' ' (byte-identical to hashing the concatenated
    * shingle string). Sorted ascending for determinism. */
  def shingleHashKernel(toks: ArrayData, n: Int): ArrayData = {
    val nt = toks.numElements()
    if (nt < n) return new GenericArrayData(Array.emptyLongArray)
    val set = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i + n <= nt) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < n) {
        if (j > 0) { h ^= ' '.toLong & 0xffL; h *= 0x100000001b3L }
        val bytes = toks.getUTF8String(i + j).getBytes
        var b = 0
        while (b < bytes.length) { h ^= bytes(b) & 0xffL; h *= 0x100000001b3L; b += 1 }
        j += 1
      }
      set.add(h)
      i += 1
    }
    val out = new Array[Long](set.size)
    var k = 0
    val it = set.iterator()
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  case class ShingleHashesExpr(child: Expression, n: Int)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects type array<string>, got ${other.simpleString}")
    }
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      shingleHashKernel(v.asInstanceOf[ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.operators.Dedup.shingleHashKernel($c, $n)")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
    override def prettyName = "shingle_hashes"
  }

  /** Distinct word-n-gram shingle hash set per document (one pass). */
  def shingleHashes(text: Column, n: Int): Column =
    org.apache.spark.sql.graftshim.Shims.column(
      ShingleHashesExpr(org.apache.spark.sql.graftshim.Shims.expression(
        split(text, " ")), n))

  /** Distinct n-gram shingle STRINGS in one codegen pass (for corpus
    * statistics where the gram text itself is the output — the hash
    * variant above serves joins). Empty tokens are skipped inline, so
    * callers can feed a raw `split(lower(text), "\\s+")` with no
    * interpreted filter/transform/array_distinct HOF chain. Sorted
    * ascending (UTF-8 binary) for determinism. */
  def shingleStringsKernel(toks: ArrayData, n: Int): ArrayData = {
    val nt = toks.numElements()
    val kept = new scala.collection.mutable.ArrayBuffer[
      org.apache.spark.unsafe.types.UTF8String](nt)
    var i = 0
    while (i < nt) {
      val t = toks.getUTF8String(i)
      if (t.numBytes() > 0) kept += t
      i += 1
    }
    if (kept.length < n)
      return new GenericArrayData(Array.empty[AnyRef])
    val set = new java.util.TreeSet[org.apache.spark.unsafe.types.UTF8String]()
    val sep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    i = 0
    while (i + n <= kept.length) {
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = kept(i + j); j += 1 }
      set.add(org.apache.spark.unsafe.types.UTF8String.concatWs(sep, parts: _*))
      i += 1
    }
    new GenericArrayData(set.toArray[AnyRef](Array.empty[AnyRef]))
  }

  case class ShingleStringsExpr(child: Expression, n: Int)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects type array<string>, got ${other.simpleString}")
    }
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      shingleStringsKernel(v.asInstanceOf[ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.operators.Dedup.shingleStringsKernel($c, $n)")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
    override def prettyName = "shingle_strings"
  }

  /** Distinct word-n-gram strings per document from a token-array column. */
  def shingleStrings(tokens: Column, n: Int): Column =
    org.apache.spark.sql.graftshim.Shims.column(
      ShingleStringsExpr(org.apache.spark.sql.graftshim.Shims.expression(tokens), n))

  /** Deterministic hash-bucket term-frequency featurizer: counts tokens
    * into `dims` buckets by FNV-1a mod dims (floored). The HashingTF
    * analog whose every step — tokenize, hash, bucket, count — is
    * replayable in plain SQL, which is what lets an embedding-knn query
    * carry a full value oracle (MLlib murmur3+IDF float chains cannot).
    * Counts are small integers, exact in float; cosine between count
    * vectors is then order-insensitive exact integer sums in double. */
  def tokenBucketKernel(tokens: ArrayData, dims: Int): ArrayData = {
    val counts = new Array[Float](dims)
    val n = tokens.numElements()
    var j = 0
    while (j < n) {
      val h = fnv1a64(tokens.getUTF8String(j).toString)
      val b = (((h % dims) + dims) % dims).toInt
      counts(b) += 1.0f
      j += 1
    }
    new GenericArrayData(counts)
  }

  case class TokenBuckets(child: Expression, dims: Int)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects type array<string>, got ${other.simpleString}")
    }
    override def nullIntolerant: Boolean = true
    override def dataType: DataType =
      ArrayType(org.apache.spark.sql.types.FloatType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      tokenBucketKernel(v.asInstanceOf[ArrayData], dims)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.operators.Dedup.tokenBucketKernel($c, $dims)")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
    override def prettyName = "token_buckets"
  }

  def tokenBuckets(tokens: Column, dims: Int): Column =
    org.apache.spark.sql.graftshim.Shims.column(
      TokenBuckets(org.apache.spark.sql.graftshim.Shims.expression(tokens), dims))

  def simhashKernel(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val buf = new Array[String](n)
    var i = 0
    while (i < n) { buf(i) = tokens.getUTF8String(i).toString; i += 1 }
    simhash64(buf.toSeq)
  }

  /** Codegen SimHash over a token array column. */
  case class SimHash(child: Expression)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects type array<string>, got ${other.simpleString}")
    }
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      simhashKernel(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.operators.Dedup.simhashKernel($c)")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
    override def prettyName = "simhash64"
  }

  def simhash(tokens: Column): Column =
    org.apache.spark.sql.graftshim.Shims.column(
      SimHash(org.apache.spark.sql.graftshim.Shims.expression(tokens)))

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: band the 64-bit hash into 4×16-bit chunks;
    * by pigeonhole any pair with hamming <= 3 shares an identical chunk,
    * so the bucket join is COMPLETE for tau <= 3. */
  def simhashPairs(docs: DataFrame, idCol: String, simCol: String,
      tau: Int): DataFrame = {
    require(tau <= 3, "4x16 banding is only complete for hamming <= 3")
    val chunks = array((0 until 4).map(i =>
      struct(lit(i).as("chunk_idx"),
        shiftright(col(simCol), i * 16).bitwiseAND(lit(0xffffL)).as("chunk"))): _*)
    // one simhash pass (round 17): same both-sides shape as lshCandidates
    val keyed = docs.select(col(idCol), col(simCol), explode(chunks).as("c"))
      .select(col(idCol), col(simCol),
        col("c.chunk_idx").as("chunk_idx"), col("c.chunk").as("chunk"))
      .localCheckpoint()
    keyed.as("a").join(keyed.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
        col("a.chunk") === col("b.chunk") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
        hamming64(col(s"a.$simCol"), col(s"b.$simCol")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= tau)
  }

  // --- Embedding near-dup ------------------------------------------------

  /** Deterministic random hyperplanes (seeded Gaussian) for sign-LSH. */
  def hyperplanes(nPlanes: Int, dims: Int, seed: Long = 42L): Array[Array[Float]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dims)(rnd.nextGaussian().toFloat))
  }

  /** Sign-signature bucket: bit i = sign(dot(plane_i, v)). Cosine-similar
    * vectors collide; scale-invariant (sign(dot) ignores magnitude). */
  def signBucket(vec: Column, planes: Array[Array[Float]]): Column = {
    import graft.functions.negdot
    val bits = planes.map(p =>
      when(negdot(typedLit(p), vec) < 0d, 1L).otherwise(0L))
    bits.zipWithIndex.map { case (b, i) => b * (1L << i) }
      .reduce(_ + _)
  }

  /** One-pass kernel for banded sign keys: all bands*rows plane dots in a
    * single traversal (a per-plane Column expression would walk the
    * vector 64 times and build a 64-deep expression tree). */
  def signBandKernel(vec: ArrayData, flatPlanes: ArrayData,
      bands: Int, rows: Int): ArrayData = {
    val dims = vec.numElements()
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var bits = 0L
      var r = 0
      while (r < rows) {
        val off = (b * rows + r) * dims
        var acc = 0.0
        var i = 0
        while (i < dims) { acc += vec.getFloat(i).toDouble * flatPlanes.getFloat(off + i); i += 1 }
        if (acc > 0.0) bits |= (1L << r)
        r += 1
      }
      keys(b) = (b.toLong << 32) | bits
      b += 1
    }
    new GenericArrayData(keys)
  }

  case class SignBandKeysExpr(vec: Expression, planesE: Expression,
      bands: Int, rows: Int)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def left: Expression = vec
    override def right: Expression = planesE
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any, p: Any): Any =
      signBandKernel(v.asInstanceOf[ArrayData], p.asInstanceOf[ArrayData], bands, rows)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (v, p) =>
        s"${ev.value} = graft.operators.Dedup.signBandKernel($v, $p, $bands, $rows);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(vec = l, planesE = r)
    override def prettyName = "sign_band_keys"
  }

  /** BANDED sign-LSH keys (the cosine analog of the MinHash 16x4 band
    * scheme): `bands` buckets of `rows` hyperplane signs each; a pair is
    * a candidate if ANY band matches. One 16-plane bucket catches a
    * borderline pair at cdist=0.05 with probability only
    * (1-theta/pi)^16 ~= 0.18; with 16 bands x 4 rows the miss
    * probability is (1-p^4)^16 ~= 5e-8 (p = 1-theta/pi ~= 0.899) — the
    * near-certainty the exact oracle twin requires. Key layout:
    * band_idx<<32 | sign_bits, so keys never collide across bands.
    * (sign(dot) convention matches [[signBucket]]: bit set iff dot > 0.) */
  /** Corpus-size-ADAPTIVE banding parameters for sign-LSH near-dup
    * detection. A RANDOM pair collides in one b-bit band with
    * probability ≈ 2^-b, so expected candidate pairs are
    * n²/2 · B · 2^-b — linear in n only when b ≈ log₂(n) + slack
    * (fixed-width bands like the sf-fixture 16×4 convention go
    * quadratic: at 10× corpus the soak measured ~20× wall time before
    * this). Band count B then restores the boundary miss probability:
    * with p = (1 - θ/π)^b the band-agreement probability at the target
    * cosine radius, miss = (1 - p)^B ≤ missTarget. Exact duplicates
    * (cdist 0) collide in EVERY band regardless of width, so widening
    * can never lose them. Bits cap at 28 (band_idx<<32 | sign_bits key
    * layout); past n ≈ 2^24 the candidate constant starts growing
    * again — shard the corpus (e.g. by language) before that point. */
  def signBandParams(n: Long, cosRadius: Double = 0.05,
      missTarget: Double = 1e-8): (Int, Int) = {
    val theta = math.acos(1.0 - cosRadius)
    val pAgree = 1.0 - theta / math.Pi
    // cost model per plane-dim unit: keying = n·B·b plane dots, verify =
    // n²/2 · B · 2^-b random-pair candidates; B(b) is the smallest band
    // count holding the boundary miss. Minimizing their sum lands on
    // b ≈ log₂(n) + O(1) automatically — narrow bands for small corpora,
    // wide for large — instead of hard-coding either regime.
    val nn = math.max(n, 2).toDouble
    val best = (4 to 28).map { b =>
      val pBand = math.pow(pAgree, b)
      val bands = math.max(8,
        math.ceil(math.log(missTarget) / math.log1p(-pBand)).toInt)
      val cost = bands * (nn * b + nn * nn / 2.0 * math.pow(2.0, -b))
      (cost, bands, b)
    }.minBy(_._1)
    (best._2, best._3)
  }

  def signBandKeys(vec: Column, planes: Array[Array[Float]],
      bands: Int, rows: Int): Column = {
    require(planes.length >= bands * rows,
      s"need ${bands * rows} planes, got ${planes.length}")
    org.apache.spark.sql.graftshim.Shims.column(
      SignBandKeysExpr(
        org.apache.spark.sql.graftshim.Shims.expression(vec),
        org.apache.spark.sql.graftshim.Shims.expression(
          typedLit(planes.take(bands * rows).flatten)),
        bands, rows))
  }

  // --- Semantic dedup (cluster-scoped embedding dedup) --------------------

  /** Codegen cosine-argmin assignment over a flattened centroid array —
    * the semantic-dedup clustering step. DIRECT one-pass cosdist on raw
    * values (IvfKernels.nearestCos): scale-invariant bit-exactly, and
    * replayable by the DuckDB oracle because the per-centroid distance
    * accumulates exactly like DenseKernels.cosDist. */
  case class NearestCosExpr(vec: Expression, flatCentroids: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def left: Expression = vec
    override def right: Expression = flatCentroids
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = IntegerType
    override def nullSafeEval(v: Any, f: Any): Any =
      IvfKernels.nearestCos(v.asInstanceOf[ArrayData], f.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (v, f) =>
        s"${ev.value} = graft.operators.IvfKernels.nearestCos($v, $f);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(vec = l, flatCentroids = r)
    override def prettyName = "nearest_cos_centroid"
  }

  /** Cosine-argmin cluster id (lowest index wins ties). */
  def semanticCluster(vec: Column, centroids: Array[Array[Float]]): Column =
    org.apache.spark.sql.graftshim.Shims.column(
      NearestCosExpr(
        org.apache.spark.sql.graftshim.Shims.expression(vec),
        org.apache.spark.sql.graftshim.Shims.expression(
          typedLit(centroids.flatten))))

  /** Two-level cosine argmin (coarse-then-refine) — the assignment
    * kernel of the SCALE path: see [[IvfKernels.nearestCosTwoLevel]]. */
  case class NearestCosTwoLevelExpr(vec: Expression,
      flatCentroids: Expression, flatCoarse: Expression,
      groupOf: Expression, pc: Int)
      extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {
    override def first: Expression = vec
    override def second: Expression = flatCentroids
    override def third: Expression = flatCoarse
    override def fourth: Expression = groupOf
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = IntegerType
    override def nullSafeEval(v: Any, f: Any, c: Any, g: Any): Any =
      IvfKernels.nearestCosTwoLevel(v.asInstanceOf[ArrayData],
        f.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData],
        g.asInstanceOf[ArrayData], pc)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (v, f, c, g) =>
        s"${ev.value} = graft.operators.IvfKernels.nearestCosTwoLevel($v, $f, $c, $g, $pc);")
    override protected def withNewChildrenInternal(a: Expression, b: Expression,
        c: Expression, d: Expression) =
      copy(vec = a, flatCentroids = b, flatCoarse = c, groupOf = d)
    override def prettyName = "nearest_cos_two_level"
  }

  /** The two-level assignment policy: nc = ⌈2√k⌉ coarse groups, probe
    * the top pc = 4 — per-row cost (nc + pc·k/nc)·d ≈ 4√k·d vs the flat
    * argmin's k·d, turning the √n-centroid SemDeDup assignment from
    * Θ(d·n^1.5) into ~Θ(d·n·n^0.25) (SOAK records the measured ratio).
    * pc stays a small constant: the probed-mass/agreement trade was
    * measured on the clustered twin fixture (DedupSpec ≥98% agreement).
    * Below [[TwoLevelMinK]] the coarse level cannot win (4√k ≥ k up to
    * k=16, marginal to 32) and pruning near-random small-k fixtures
    * only costs agreement — [[semanticClusterTwoLevel]] degenerates to
    * the exact flat argmin there, which is also what pins gate-fixture
    * (k=8) assignments bit-identical to the oracle's flat replay. */
  val TwoLevelMinK = 33

  def twoLevelParams(k: Int): (Int, Int) = {
    val nc = math.min(k, math.max(1,
      math.ceil(2 * math.sqrt(k.toDouble)).toInt))
    (nc, math.min(4, nc))
  }

  /** Two-level cosine-argmin cluster id. Coarse representatives are the
    * centroids at the nc evenly-spaced indices (deterministic — the
    * fixed-seed-rows convention of the gate, never float-iterative
    * training); each centroid joins its guarded-cosdist-nearest rep's
    * group (strict <, lowest rep index on ties). Degenerates to the
    * exact [[semanticCluster]] when the coarse level cannot prune
    * (nc >= k). */
  def semanticClusterTwoLevel(vec: Column,
      centroids: Array[Array[Float]]): Column = {
    val k = centroids.length
    val (nc, pc) = twoLevelParams(k)
    if (k < TwoLevelMinK || nc >= k) return semanticCluster(vec, centroids)
    val reps = Array.tabulate(nc)(i => centroids((i.toLong * k / nc).toInt))
    val groupOf = centroids.map { c =>
      var best = 0; var bd = Double.MaxValue
      var r = 0
      while (r < nc) {
        val d = IvfKernels.cosDistGuarded(c, reps(r))
        if (d < bd) { bd = d; best = r }
        r += 1
      }
      best
    }
    org.apache.spark.sql.graftshim.Shims.column(
      NearestCosTwoLevelExpr(
        org.apache.spark.sql.graftshim.Shims.expression(vec),
        org.apache.spark.sql.graftshim.Shims.expression(
          typedLit(centroids.flatten)),
        org.apache.spark.sql.graftshim.Shims.expression(
          typedLit(reps.flatten)),
        org.apache.spark.sql.graftshim.Shims.expression(typedLit(groupOf)),
        pc))
  }

  /** Corpus-size-ADAPTIVE centroid count for [[semanticDedup]] — the
    * signBandParams precedent applied to clustering: assignment costs
    * n·k·d (argmin over k centroids per row) and the within-cluster
    * pairwise pass costs ~(n²/k)·d on balanced clusters, so the sum is
    * minimized at k ≈ √n, where BOTH terms are Θ(d·n^1.5) —
    * subquadratic, but not linear. A FIXED k (like the gate fixture's
    * 8) leaves the pairwise term Θ(n²/k): fine at gate scale, quadratic
    * at corpus scale. Beyond ~10⁹ rows the brute-force argmin itself is
    * the bottleneck and assignment should ride the ANN machinery
    * (assign via an IVF coarse quantizer — the same centroids ARE an
    * IVF index); the knob here covers the regimes below that. */
  def semanticK(n: Long): Int =
    math.max(8, math.ceil(math.sqrt(math.max(n, 1).toDouble)).toInt)

  /** Cluster-scoped embedding dedup — the SemDeDup shape (Abbas et al.
    * 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication"): assign every row to its nearest centroid
    * by cosine, compare pairs ONLY within a cluster, and drop every row
    * that has a lower-id cluster-mate within `tau` cosine distance (the
    * keep-first convention of the exact/MinHash dedup family).
    *
    * Scale shape: the assignment is one codegen pass (no shuffle); the
    * within-cluster self-join is an EQUI-join on the cluster id, so the
    * pairwise cost is Σ|cluster|² instead of n² — the cluster count is
    * the knob that bounds the quadratic, exactly why SemDeDup clusters
    * before comparing. At 100 TB you raise the centroid count so cluster
    * sizes stay bounded and let AQE handle skewed clusters; the
    * assignment pass stays linear.
    *
    * Determinism contract (the dedup-family oracle conventions): the
    * argmin tie-breaks to the lowest centroid index; removal is an
    * EXISTS over exact-double cosdist comparisons — both replayed
    * bit-exactly in DuckDB. `centroids` must be deterministic for the
    * gate (the q_dedup_semantic fixture uses seed rows as centroids;
    * production callers can pass k-means centers — approximate clusters
    * change WHICH pairs are compared, not how).
    *
    * Returns (idCol, cluster: long, kept: boolean) for every input row.
    *
    * `twoLevel = true` switches assignment to the coarse-then-refine
    * argmin ([[semanticClusterTwoLevel]]) — the SCALE path under the √n
    * centroid policy, cutting the assignment pass from Θ(d·n·√n) to
    * ~Θ(d·n·n^0.25). The GATE keeps the flat argmin (its fixed-k=8
    * oracle replays that kernel bit-exactly; the two-level path is
    * approximate in WHICH cluster a boundary row joins, the part
    * SemDeDup already treats as approximate). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]], tau: Double,
      twoLevel: Boolean = false): DataFrame = {
    // the assigned frame feeds BOTH self-join sides and the final
    // kept-flag join — unmanaged, Spark re-runs the n·k·d argmin pass
    // three times (the dominant Θ(d·n^1.5) term under the √n centroid
    // policy). Scope the cache to THIS call: persist while the pairwise
    // pass materializes `removed` (an eager localCheckpoint of the
    // id-only removal set — small, ContextCleaner-managed, and it
    // truncates the lineage so the returned frame never re-runs the
    // join), then unpersist — the final frame re-evaluates the argmin
    // exactly once per downstream action, and a long-lived session
    // calling the operator repeatedly accumulates no cache entries
    // (the leak the unpersist-less version had).
    val clusterCol =
      if (twoLevel) semanticClusterTwoLevel(col(vecCol), centroids)
      else semanticCluster(col(vecCol), centroids)
    val assigned = df.select(col(idCol), col(vecCol),
      clusterCol.as("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val removed =
      try {
        val a = assigned.select(col(idCol).as("id_a"), col(vecCol).as("va"),
          col("cluster"))
        val b = assigned.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
          col("cluster"))
        a.join(b, "cluster")
          .filter(col("id_a") < col("id_b") &&
            graft.functions.cosdist(col("va"), col("vb")) < tau)
          .select(col("id_b").as(idCol)).distinct()
          .localCheckpoint()
      } finally assigned.unpersist(false)
    assigned
      .join(removed.withColumn("__rm", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("cluster").cast("long").as("cluster"),
        col("__rm").isNull.as("kept"))
  }
}
