package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.index.IndexCatalog
import graft.operators.{IncrHnsw, Segments}

/** IncrHnsw's visibility snapshot is folded on the driver and, while the
  * store's generation and the index's dead/ set stay put, only from the
  * `tombs-<s>` dirs committed since the cached seq. After every step of a
  * seeded mix of writes and maintenance it must equal the Spark reference
  * (live tombstones ∪ promoted dead/, max version per id), must have read
  * exactly the dirs the step added (or every dir after a generation,
  * dead/ or artifact-dir change), the bare store's snapshot frame must
  * equal [[Segments.tombstoneMax]], and `search(exact = true)` must equal
  * brute force over the rows that reference leaves visible. A read pinned
  * to an older state keeps that state after the cache moved past it. */
class IncrHnswTombstoneSpec extends SparkSpec {
  private val Dims = 8
  private val K = 10

  private def reference(name: String, segDir: String): Seq[(Long, Long)] = {
    import spark.implicits._
    val dead = new File(IndexCatalog.dataDir(spark, name), "dead")
    val deadDf =
      if (Option(dead.list()).exists(_.exists(_.endsWith(".parquet"))))
        Some(spark.read.parquet(dead.getAbsolutePath)) else None
    (Segments.tombstoneMax(spark, segDir, "id").toSeq ++ deadDf)
      .reduceOption(_ unionByName _)
      .map(_.groupBy(col("id")).agg(max(col("_tomb_ver")).as("v"))
        .select(col("id").cast("long"), col("v").cast("long"))
        .as[(Long, Long)].collect().toSeq.sortBy(_._1))
      .getOrElse(Nil)
  }

  /** Exact top-K over the store's visible rows, with visibility computed
    * here from the Spark reference [[Segments.tombstoneMax]]. */
  private def bruteForce(segDir: String, q: Array[Float]): Seq[(Long, Double)] = {
    import spark.implicits._
    val st = Segments.state(segDir)
    val rows = (s"$segDir/base-${st.gen}" +: Segments.deltaDirs(segDir, st))
      .map(spark.read.parquet(_)).reduce(_ unionByName _)
    val visible = Segments.tombstoneMaxAt(spark, segDir, "id", st).fold(rows) { t =>
      rows.join(t, Seq("id"), "left_outer")
        .filter(col("_tomb_ver").isNull || col("_tomb_ver") < col("_ver"))
    }
    visible
      .select(col("id").cast("long").as("id"),
        graft.functions.l2sq(col("embedding"), typedLit(q)).as("dist"))
      .orderBy(col("dist"), col("id")).limit(K)
      .as[(Long, Double)].collect().toSeq
  }

  /** The bare store's driver snapshot frame against the Spark reference:
    * same schema, same rows. */
  private def assertBareFrame(segDir: String, step: String): Unit = {
    def rows(df: DataFrame) = df.collect().map(r => (r.get(0), r.get(1))).toSeq
      .sortBy(_._1.asInstanceOf[Number].longValue)
    val local = Segments.tombstoneMaxLocal(spark, segDir, "id")
    val planned = Segments.tombstoneMax(spark, segDir, "id")
    assert(local.map(_.schema) == planned.map(_.schema), s"$step: bare frame schema")
    assert(local.map(rows) == planned.map(rows), s"$step: bare frame rows")
  }

  private def exactSearch(name: String, segDir: String,
      q: Array[Float]): Seq[(Long, Double)] = {
    import spark.implicits._
    IncrHnsw.search(spark, name, segDir, "id", q, K, exact = true)
      .select(col("id").cast("long"), col("dist"))
      .as[(Long, Double)].collect().toSeq
  }

  /** What the fold after a step must have read. */
  private sealed trait Expect
  /** Same gen, dead/ and artifact dir: only the dirs after the prior seq. */
  private case object NewDirs extends Expect
  /** Anything else: dead/ plus every committed dir. */
  private case object AllDirs extends Expect
  /** `ensure`: a no-op for the store unless its delete_threshold fold ran. */
  private case object AfterEnsure extends Expect

  private def runMix(seed: Long, intIds: Boolean): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    def vec(): Array[Float] = Array.fill(Dims)(rnd.nextGaussian().toFloat)
    def rows(ids: Seq[Long]): DataFrame = {
      val df = ids.map(i => (i, vec())).toDF("id", "embedding")
      if (intIds) df.withColumn("id", col("id").cast("int")) else df
    }
    def idFrame(ids: Seq[Long]): DataFrame = {
      val df = ids.toDF("id")
      if (intIds) df.withColumn("id", col("id").cast("int")) else df
    }
    val segDir = Files.createTempDirectory("graft_tombfold").toString
    val name = s"incr_tombfold_${seed}_${if (intIds) "int" else "long"}"
    IndexCatalog.drop(spark, name)
    var nextId = 150L
    def fresh(n: Int): Seq[Long] = { val ids = nextId until nextId + n; nextId += n; ids }
    def used(n: Int): Seq[Long] = Seq.fill(n)(rnd.nextLong(nextId)).distinct
    Segments.init(spark, segDir, rows(0L until nextId), "id")
    def ensure(): Unit =
      IncrHnsw.ensure(spark, name, segDir, "id", "embedding", efConstruction = 32)
    ensure()

    // each op commits to the store and/or the index and says what the
    // next fold must read
    val ops: Map[String, () => Expect] = Map(
      "append" -> { () =>
        Segments.append(spark, segDir, rows(fresh(20) ++ used(8)), "id"); NewDirs },
      "delete" -> { () =>
        Segments.delete(spark, segDir, idFrame(used(10)), "id"); NewDirs },
      "multi_append" -> { () =>
        // one commit adds several tombs-<s> dirs
        spark.conf.set("spark.graft.segments.maxGrowingRows", "12")
        try {
          val before = Segments.state(segDir).seq
          Segments.append(spark, segDir, rows(fresh(24) ++ used(10)), "id")
          assert(Segments.state(segDir).seq - before >= 3, "expected a multi-chunk append")
        } finally spark.conf.unset("spark.graft.segments.maxGrowingRows")
        NewDirs
      },
      "ensure" -> { () => ensure(); AfterEnsure },
      "promote" -> { () => IncrHnsw.promoteOnCompact(spark, name, segDir, "id"); AllDirs },
      "vacuum" -> { () =>
        IncrHnsw.vacuum(spark, name, segDir, "id", "embedding", efConstruction = 32)
        AllDirs
      },
      "reindex" -> { () =>
        IncrHnsw.reindex(spark, name, segDir, "id", "embedding", efConstruction = 32)
        AllDirs
      })
    // a fixed core that reaches every transition (incremental folds over
    // a promoted dead/ set and over a REINDEXed artifact dir included),
    // with seeded extra writes spliced in
    val core = Seq("append", "delete", "multi_append", "ensure", "delete",
      "promote", "delete", "append", "reindex", "delete", "multi_append",
      "promote", "delete", "vacuum", "delete", "append")
    val script = core.flatMap { op =>
      if (rnd.nextInt(3) == 0) Seq(Seq("append", "delete", "multi_append")(rnd.nextInt(3)), op)
      else Seq(op)
    }
    val q = vec()
    var prior = IncrHnsw.tombstoneSnapshot(spark, name, segDir, "id")
    def check(step: String, expect: Expect): Unit = {
      val st = Segments.state(segDir)
      val dirs = Segments.tombDirs(segDir, st)
      val snap = IncrHnsw.tombstoneSnapshot(spark, name, segDir, "id")
      assert(snap.seq == st.seq && snap.gen == st.gen, step)
      assert(snap.tombs.ids.toSeq.zip(snap.tombs.vers.toSeq) == reference(name, segDir),
        s"$step: snapshot differs from the Spark reference")
      val unchanged = st.gen == prior.gen && st.seq == prior.seq
      expect match {
        case NewDirs =>
          val added = dirs.count(new File(_).getName.stripPrefix("tombs-").toLong > prior.seq)
          assert(snap.dirsRead == added, s"$step: read ${snap.dirsRead} dirs, $added are new")
        case AfterEnsure if unchanged =>
          assert(snap eq prior, s"$step: refolded with no commit")
        case _ =>
          assert(snap.dirsRead == dirs.size, s"$step: a full fold reads every committed dir")
      }
      assertBareFrame(segDir, step)
      prior = snap
    }
    try {
      script.zipWithIndex.foreach { case (op, i) =>
        val step = s"step $i ($op)"
        check(step, ops(op)())
        // bring the graphs up to the store before comparing search results
        ensure()
        check(s"$step + ensure", AfterEnsure)
        assert(exactSearch(name, segDir, q) == bruteForce(segDir, q),
          s"$step: exact search differs from brute force over the visible rows")
      }
      assert(prior.tombs.ids.nonEmpty)
      if (intIds)
        assert(Segments.tombstoneMaxLocal(spark, segDir, "id").get.schema("id").dataType ==
          org.apache.spark.sql.types.IntegerType)
      // a pinned read keeps its state after the cache moved past it
      def ids(df: DataFrame): Set[Long] =
        df.select(col("id").cast("long")).as[Long].collect().toSet
      val pinned = Segments.state(segDir)
      val victim = ids(Segments.readAt(spark, segDir, "id", pinned)).min
      Segments.delete(spark, segDir, idFrame(Seq(victim)), "id")
      assert(!ids(Segments.read(spark, segDir, "id")).contains(victim))
      assert(ids(Segments.readAt(spark, segDir, "id", pinned)).contains(victim),
        "readAt(st) must not serve the newer cached snapshot")
    } finally IndexCatalog.drop(spark, name)
  }

  test("incremental fold equals the Spark reference over a seeded op mix (INT64 ids)") {
    runMix(seed = 17L, intIds = false)
  }

  test("incremental fold equals the Spark reference over a seeded op mix (INT32 ids)") {
    runMix(seed = 29L, intIds = true)
  }

  test("a store with no tombstones yields an empty snapshot and exact search") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val segDir = Files.createTempDirectory("graft_tombfold_none").toString
    val name = "incr_tombfold_none"
    IndexCatalog.drop(spark, name)
    def rows(ids: Range): DataFrame =
      ids.map(i => (i.toLong, Array.fill(Dims)(rnd.nextGaussian().toFloat)))
        .toDF("id", "embedding")
    try {
      Segments.init(spark, segDir, rows(0 until 80), "id")
      Segments.append(spark, segDir, rows(80 until 120), "id", shadow = false)
      IncrHnsw.ensure(spark, name, segDir, "id", "embedding", efConstruction = 32)
      assert(Segments.tombDirs(segDir, Segments.state(segDir)).isEmpty)
      val snap = IncrHnsw.tombstoneSnapshot(spark, name, segDir, "id")
      assert(snap.tombs.ids.isEmpty && snap.dirsRead == 0)
      val q = Array.fill(Dims)(rnd.nextGaussian().toFloat)
      assert(exactSearch(name, segDir, q) == bruteForce(segDir, q))
    } finally IndexCatalog.drop(spark, name)
  }

  test("a tombstone column that is not INT32/INT64 fails naming the file and column") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tombfold_type").toFile
    Seq(("a", 1L)).toDF("id", "_ver").write.parquet(dir.getAbsolutePath + "/t")
    val e = intercept[IllegalArgumentException] {
      Segments.readIdVersions(new File(dir, "t"), "id", "_ver")((_, _) => ())
    }
    assert(e.getMessage.contains("'id'") && e.getMessage.contains(".parquet"),
      e.getMessage)
  }
}
