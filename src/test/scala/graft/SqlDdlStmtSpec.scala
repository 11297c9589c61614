package graft

import java.io.File
import org.apache.spark.sql.functions.col
import graft.index.{GraftSqlParser, IndexCatalog}
import graft.plans.AnnPushdown.scansSource

/** Parser-injected vector DDL statements (round 11): recognition,
  * delegation, the execute-once RunnableCommand contract, and EXPLAIN
  * building nothing. The session comes from SparkSpec, which wires
  * spark.sql.extensions=graft.plans.GraftExtensions. */
class SqlDdlStmtSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  /** The tests CREATE their indexes (all named `stmtspec_*`) on the
    * shared `graft_stmtspec_src` under the shared index root and DROP
    * them at their end, so a test that fails mid-way leaves a manifest
    * behind, which the restart sweep of a later JVM re-registers. Drop
    * every such leftover, claim included, before the suite runs. */
  override def beforeAll(): Unit = {
    super.beforeAll()
    Option(new File(IndexCatalog.root(spark)).listFiles())
      .getOrElse(Array.empty[File]).map(_.getName)
      .filter(_.startsWith("stmtspec_")).sorted.foreach { n =>
        spark.sql(s"DROP VECTOR INDEX IF EXISTS $n")
        IndexCatalog.drop(spark, n)
      }
  }

  private def tmpSrc(n: Int = 50): String = {
    val dir = new File(sys.props("java.io.tmpdir"), "graft_stmtspec_src")
    if (!new File(dir, "_SUCCESS").isFile) {
      import org.apache.spark.sql.functions._
      spark.read.parquet(s"$sf0001/embeddings.parquet")
        .filter(col("vec_id") < n).select(col("vec_id"), col("embedding"))
        .write.mode("overwrite").parquet(dir.getAbsolutePath)
    }
    dir.getAbsolutePath
  }

  test("the extension injects the delegating parser") {
    assert(GraftSqlParser.installed(spark))
    // delegation: ordinary SQL still parses and runs
    assert(spark.sql("SELECT 1 + 1 AS v").head().getInt(0) === 2)
    // and ordinary parse errors still surface as ParseException
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql("SELEKT 1")
    }
  }

  test("CREATE VECTOR INDEX statement builds; EXPLAIN does not") {
    val src = tmpSrc()
    val name = "stmtspec_create"
    IndexCatalog.drop(spark, name)
    val stmt = s"""CREATE VECTOR INDEX $name ON '$src'
                   USING vectors (vec_id, embedding vector_l2_ops)
                   WITH (m = 8, ef_construction = 100)"""
    val plan = spark.sql(s"EXPLAIN $stmt").head().getString(0)
    assert(plan.contains("CreateVectorIndexCommand"))
    assert(IndexCatalog.load(spark, name).isEmpty,
      "EXPLAIN must not build")
    assert(spark.sql(stmt).head().getString(0) === "ok")
    val m = IndexCatalog.load(spark, name).get
    assert(m.kind === "hnsw" && m.metric === "l2")
    assert(m.params.get("m").contains("8"))
    assert(m.params.get("sql_cols").contains("vec_id,embedding"))
    // IF NOT EXISTS short-circuits
    assert(spark.sql(s"""CREATE VECTOR INDEX IF NOT EXISTS $name ON '$src'
        USING vectors (vec_id, embedding)""").head().getString(0) === "exists")
    IndexCatalog.drop(spark, name)
  }

  test("opclass defaults to vector_l2_ops; quoted WITH values parse") {
    val src = tmpSrc()
    val name = "stmtspec_defaults"
    IndexCatalog.drop(spark, name)
    assert(spark.sql(s"""CREATE VECTOR INDEX $name ON '$src'
        USING ivfflat (vec_id, embedding) WITH (lists = '4')""")
      .head().getString(0) === "ok")
    val m = IndexCatalog.load(spark, name).get
    assert(m.kind === "ivf" && m.metric === "l2")
    assert(m.params.get("nlist").contains("4"))
    IndexCatalog.drop(spark, name)
  }

  test("VACUUM VECTOR INDEX reindexes; DROP removes; IF EXISTS no-ops") {
    val src = tmpSrc()
    val name = "stmtspec_vacuum"
    IndexCatalog.drop(spark, name)
    spark.sql(s"""CREATE VECTOR INDEX $name ON '$src'
        USING vectors (vec_id, embedding vector_l2_ops)""")
    assert(spark.sql(s"VACUUM VECTOR INDEX $name").head().getString(0) === "ok")
    val m = IndexCatalog.load(spark, name).get
    assert(m.params.contains("data_dir"), "vacuum must swap generations")
    assert(m.params.get("sql_cols").contains("vec_id,embedding"),
      "vacuum must restore the recipe")
    assert(spark.sql(s"DROP VECTOR INDEX $name").head().getString(0) === "ok")
    assert(IndexCatalog.load(spark, name).isEmpty)
    assert(spark.sql(s"DROP VECTOR INDEX IF EXISTS $name")
      .head().getString(0) === "skipped")
    intercept[Exception] { spark.sql(s"DROP VECTOR INDEX $name").collect() }
  }

  test("statement executes once per sql() call, not per analysis") {
    val src = tmpSrc()
    val name = "stmtspec_once"
    IndexCatalog.drop(spark, name)
    val df = spark.sql(s"""CREATE VECTOR INDEX $name ON '$src'
        USING vectors (vec_id, embedding vector_l2_ops)""")
    val gen0 = IndexCatalog.load(spark, name).get.params.get("reindex_gen")
    // re-reading the ALREADY-EXECUTED command frame re-runs nothing:
    // commands execute eagerly at sql() time and the frame serves the
    // captured result
    df.collect(); df.collect()
    assert(IndexCatalog.load(spark, name).get.params.get("reindex_gen") === gen0)
    IndexCatalog.drop(spark, name)
  }

  test("typed vacuum preserves the artifact KIND and reindexes in place") {
    val src = tmpSrc()
    val name = "stmtspec_typed_vac"
    IndexCatalog.drop(spark, name)
    // bvector opclass under the native AM with indexing=ivf -> ivf_bvec;
    // before round 11 vacuum rebuilt this through create() defaults and
    // silently flipped it to a densified hnsw graph
    spark.sql(s"""CREATE VECTOR INDEX $name ON '$src'
        USING vectors (vec_id, embedding bvector_hamming_ops)
        WITH (indexing = ivf, nlist = 4)""")
    val m0 = IndexCatalog.load(spark, name).get
    assert(m0.kind === "ivf_bvec")
    assert(m0.params.get("sql_options").contains("indexing=ivf,nlist=4"))
    // concurrent reader: the typed vacuum is a REINDEX (no drop), so a
    // search loop must find a servable committed artifact THROUGHOUT
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    @volatile var stop = false
    val reader = Future {
      var reads = 0
      while (!stop) {
        val m = IndexCatalog.load(spark, name).getOrElse(
          fail("index vanished mid-vacuum — the no-index window is back"))
        assert(m.kind == "ivf_bvec", s"kind flipped mid-vacuum: ${m.kind}")
        assert(spark.read.parquet(IndexCatalog.dataDir(spark, name))
          .limit(1).count() >= 0)
        reads += 1
      }
      reads
    }
    // ONE vacuum while reading: the displaced generation survives its
    // own commit (the REINDEX grace window), so every concurrent read
    // finds live files. A SECOND vacuum would sweep that displaced
    // generation — readers still scanning it then hit the documented
    // transient FileNotFound (ReindexSpec's grace-window contract), so
    // it runs after the reader stops.
    try assert(spark.sql(s"VACUUM VECTOR INDEX $name").head().getString(0) === "ok")
    finally stop = true
    val reads = Await.result(reader, 120.seconds)
    info(s"concurrent reader completed $reads reads across the vacuum")
    assert(spark.sql(s"VACUUM VECTOR INDEX $name").head().getString(0) === "ok")
    val m1 = IndexCatalog.load(spark, name).get
    assert(m1.kind === "ivf_bvec", "vacuum must never flip the artifact kind")
    assert(m1.params.get("data_dir").exists(_.startsWith("data-r")),
      "typed vacuum must rebuild through the REINDEX generation swap")
    assert(m1.params.get("sql_options").contains("indexing=ivf,nlist=4"),
      "the recipe must survive vacuum")
    assert(m1.params.get("nlist").contains("4"))
    IndexCatalog.drop(spark, name)
  }

  test("vacuum refuses a partial SQL recipe instead of default rebuild") {
    val src = tmpSrc()
    val name = "stmtspec_partial_recipe"
    IndexCatalog.drop(spark, name)
    // a Scala-API index has no recipe at all
    graft.operators.IvfIndex.ensure(spark, name,
      spark.read.parquet(src), src, "embedding", "l2", 4)
    val e = intercept[Exception] {
      spark.sql(s"VACUUM VECTOR INDEX $name").collect()
    }
    assert(e.getMessage.contains("sql_cols"),
      s"must name the missing recipe key, got: ${e.getMessage}")
    // a TORN recipe (sql_cols present, sql_am missing) must refuse too —
    // a default rebuild could silently change AM/opclass semantics
    IndexCatalog.alter(spark, name, "sql_cols", "vec_id,embedding")
    val e2 = intercept[Exception] {
      spark.sql(s"VACUUM VECTOR INDEX $name").collect()
    }
    assert(e2.getMessage.contains("sql_am"),
      s"must name the missing recipe key, got: ${e2.getMessage}")
    IndexCatalog.drop(spark, name)
  }

  test("SQL-only surface: stat TVF lists indexes; CREATE registers the " +
      "pushdown, DROP unregisters it") {
    val src = tmpSrc()
    val name = "stmtspec_sqlonly"
    IndexCatalog.drop(spark, name)
    spark.sql(s"DROP VECTOR INDEX IF EXISTS $name")
    assert(spark.sql(s"""SELECT count(*) FROM pg_vector_index_stat()
        WHERE idx_name = '$name'""").head().getLong(0) === 0L)
    spark.sql(s"""CREATE VECTOR INDEX $name ON '$src'
        USING vectors (vec_id, embedding vector_l2_ops)
        WITH (indexing = ivf, nlist = 4)""")
    assert(spark.sql(s"""SELECT idx_type FROM pg_vector_index_stat()
        WHERE idx_name = '$name'""").head().getString(0) === "ivf")
    // the CREATE registered the planner entry: a pure-SQL top-k over the
    // source rewrites onto the artifact without any Scala registration
    val prevE = spark.conf.get("spark.graft.ann.enabled", "false")
    spark.conf.set("spark.graft.ann.enabled", "true")
    try {
      val q = spark.read.parquet(src).where("vec_id = 0")
        .head().getSeq[Float](1)
      val qLit = "array(" + q.map(f => s"CAST($f AS FLOAT)").mkString(",") + ")"
      val opt = spark.sql(s"""SELECT vec_id, l2sq_distance(embedding, $qLit)
          AS d FROM parquet.`$src` ORDER BY d LIMIT 5""")
        .queryExecution.optimizedPlan
      assert(!scansSource(opt, src),
        "CREATE must have registered the pushdown entry")
      spark.sql(s"DROP VECTOR INDEX $name")
      val opt2 = spark.sql(s"""SELECT vec_id, l2sq_distance(embedding, $qLit)
          AS d FROM parquet.`$src` ORDER BY d LIMIT 5""")
        .queryExecution.optimizedPlan
      assert(scansSource(opt2, src),
        "DROP must unregister the pushdown entry")
    } finally spark.conf.set("spark.graft.ann.enabled", prevE)
  }

  test("WHERE clause builds a PARTIAL index: scoped rows, scoped claim") {
    val src = tmpSrc()
    val name = "stmtspec_partial"
    IndexCatalog.drop(spark, name)
    spark.sql(s"DROP VECTOR INDEX IF EXISTS $name")
    spark.sql(s"""CREATE VECTOR INDEX $name ON '$src'
        USING vectors (vec_id, embedding vector_l2_ops)
        WITH (indexing = ivf, nlist = 2) WHERE vec_id % 3 = 0""")
    val m = IndexCatalog.load(spark, name).get
    assert(m.params.get("sql_where").contains("vec_id % 3 = 0"))
    // the artifact holds only the predicate's rows
    assert(spark.read.parquet(IndexCatalog.dataDir(spark, name))
      .filter(col("vec_id") % 3 =!= 0).count() === 0L)
    // vacuum replays the scope
    assert(spark.sql(s"VACUUM VECTOR INDEX $name").head().getString(0) === "ok")
    assert(spark.read.parquet(IndexCatalog.dataDir(spark, name))
      .filter(col("vec_id") % 3 =!= 0).count() === 0L)
    // a fold-away predicate fails BEFORE building anything
    intercept[Exception] {
      spark.sql(s"""CREATE VECTOR INDEX stmtspec_partial_bad ON '$src'
          USING vectors (vec_id, embedding) WHERE 1 = 1""").collect()
    }
    assert(IndexCatalog.load(spark, "stmtspec_partial_bad").isEmpty)
    spark.sql(s"DROP VECTOR INDEX $name")
  }

  test("review fixes: legacy-recipe vacuum, survivor registration, " +
      "IF NOT EXISTS re-registration") {
    import graft.plans.AnnPushdown
    val src = tmpSrc()
    // (1) empty RECORDED sql_options must fall back to structural
    // params — the legacy/first-vacuum-restored state must not rebuild
    // with defaults on the second vacuum
    val lg = "stmtspec_legacy"
    IndexCatalog.drop(spark, lg)
    spark.sql(s"""CREATE VECTOR INDEX $lg ON '$src'
        USING vectors (vec_id, embedding vector_l2_ops)
        WITH (indexing = ivf, nlist = 8)""")
    IndexCatalog.alter(spark, lg, "sql_options", "")
    assert(spark.sql(s"VACUUM VECTOR INDEX $lg").head().getString(0) === "ok")
    assert(IndexCatalog.load(spark, lg).get.params.get("nlist").contains("8"),
      "vacuum with an empty recorded recipe must keep structural params")
    spark.sql(s"DROP VECTOR INDEX $lg")
    // (2) dropping one of two same-metric indexes must not deregister
    // the survivor (unregister is by NAME identity)
    val a = "stmtspec_surv_a"; val b = "stmtspec_surv_b"
    IndexCatalog.drop(spark, a); IndexCatalog.drop(spark, b)
    spark.sql(s"""CREATE VECTOR INDEX $a ON '$src'
        USING vectors (vec_id, embedding vector_l2_ops)
        WITH (indexing = ivf, nlist = 2)""")
    spark.sql(s"""CREATE VECTOR INDEX $b ON '$src'
        USING vectors (vec_id, embedding vector_l2_ops)
        WITH (indexing = ivf, nlist = 4)""")
    val q = spark.read.parquet(src).where("vec_id = 0").head().getSeq[Float](1)
    val qLit = "array(" + q.map(f => s"CAST($f AS FLOAT)").mkString(",") + ")"
    def topkPlan() = spark.sql(s"""SELECT vec_id,
        l2sq_distance(embedding, $qLit) AS d
        FROM parquet.`$src` ORDER BY d LIMIT 5""").queryExecution.optimizedPlan
    val prevE = spark.conf.get("spark.graft.ann.enabled", "false")
    spark.conf.set("spark.graft.ann.enabled", "true")
    try {
      spark.sql(s"DROP VECTOR INDEX $a")
      assert(!scansSource(topkPlan(), src),
        "dropping index A must leave index B's registration serving")
      // (3) a fresh JVM's IF NOT EXISTS must re-register: simulate the
      // empty driver-local registry, then IF NOT EXISTS restores it
      AnnPushdown.unregisterNamed(src, b)
      assert(scansSource(topkPlan(), src))
      assert(spark.sql(s"""CREATE VECTOR INDEX IF NOT EXISTS $b ON '$src'
          USING vectors (vec_id, embedding vector_l2_ops)
          WITH (indexing = ivf, nlist = 4)""").head().getString(0) === "exists")
      assert(!scansSource(topkPlan(), src),
        "IF NOT EXISTS over a persisted index must register the planner entry")
      spark.sql(s"DROP VECTOR INDEX $b")
      assert(scansSource(topkPlan(), src))
    } finally spark.conf.set("spark.graft.ann.enabled", prevE)
  }

  test("re-CREATE with a changed WHERE rebuilds the artifact's row scope") {
    val src = tmpSrc()
    val name = "stmtspec_scope"
    IndexCatalog.drop(spark, name)
    spark.sql(s"""CREATE VECTOR INDEX $name ON '$src'
        USING vectors (vec_id, embedding vector_l2_ops)
        WITH (indexing = ivf, nlist = 2) WHERE vec_id % 3 = 0""")
    assert(spark.read.parquet(IndexCatalog.dataDir(spark, name))
      .filter(col("vec_id") % 3 =!= 0).count() === 0L)
    // same source, DIFFERENT predicate: ensure's structural staleness
    // would no-op — the scope change must force the rebuild
    spark.sql(s"""CREATE VECTOR INDEX $name ON '$src'
        USING vectors (vec_id, embedding vector_l2_ops)
        WITH (indexing = ivf, nlist = 2) WHERE vec_id % 5 = 0""")
    val rows5 = spark.read.parquet(IndexCatalog.dataDir(spark, name))
    assert(rows5.filter(col("vec_id") % 5 =!= 0).count() === 0L,
      "the re-created artifact must hold the NEW predicate's rows")
    assert(rows5.count() > 0)
    // and removing the WHERE goes back to the full scope
    spark.sql(s"""CREATE VECTOR INDEX $name ON '$src'
        USING vectors (vec_id, embedding vector_l2_ops)
        WITH (indexing = ivf, nlist = 2)""")
    assert(spark.read.parquet(IndexCatalog.dataDir(spark, name)).count()
      === spark.read.parquet(src).count())
    // a MULTI-LINE WHERE survives the single-line recipe (control chars
    // normalize to spaces at parse time)
    spark.sql(s"""CREATE VECTOR INDEX $name ON '$src'
        USING vectors (vec_id, embedding vector_l2_ops)
        WITH (indexing = ivf, nlist = 2)
        WHERE vec_id % 3 = 0
          AND vec_id >= 0""")
    val recorded = IndexCatalog.load(spark, name).get.params("sql_where")
    assert(!recorded.exists(_ < ' '), "recipe must be single-line")
    assert(recorded.replaceAll("\\s+", " ") === "vec_id % 3 = 0 AND vec_id >= 0")
    // and it replays: vacuum rebuilds over the multi-line predicate
    assert(spark.sql(s"VACUUM VECTOR INDEX $name").head().getString(0) === "ok")
    assert(spark.read.parquet(IndexCatalog.dataDir(spark, name))
      .filter(col("vec_id") % 3 =!= 0).count() === 0L)
    spark.sql(s"DROP VECTOR INDEX $name")
  }

  test("dropping the shadowing index re-registers the survivor's claim") {
    import graft.plans.AnnPushdown
    val src = tmpSrc()
    val a = "stmtspec_shadow_a"; val b = "stmtspec_shadow_b"
    IndexCatalog.drop(spark, a); IndexCatalog.drop(spark, b)
    spark.sql(s"""CREATE VECTOR INDEX $a ON '$src'
        USING vectors (vec_id, embedding vector_l2_ops)
        WITH (indexing = ivf, nlist = 2)""")
    spark.sql(s"""CREATE VECTOR INDEX $b ON '$src'
        USING vectors (vec_id, embedding vector_l2_ops)
        WITH (indexing = ivf, nlist = 4)""") // B's entry shadows A's
    val q = spark.read.parquet(src).where("vec_id = 0").head().getSeq[Float](1)
    val qLit = "array(" + q.map(f => s"CAST($f AS FLOAT)").mkString(",") + ")"
    def plan() = spark.sql(s"""SELECT vec_id,
        l2sq_distance(embedding, $qLit) AS d
        FROM parquet.`$src` ORDER BY d LIMIT 5""").queryExecution.optimizedPlan
    val prevE = spark.conf.get("spark.graft.ann.enabled", "false")
    spark.conf.set("spark.graft.ann.enabled", "true")
    try {
      spark.sql(s"DROP VECTOR INDEX $b")
      assert(!scansSource(plan(), src),
        "dropping the shadowing index must lift the shadow off the survivor")
      assert(AnnPushdown.snapshot(src).exists(_.indexName == a))
      spark.sql(s"DROP VECTOR INDEX $a")
      assert(scansSource(plan(), src))
    } finally spark.conf.set("spark.graft.ann.enabled", prevE)
  }

  test("ALTER VECTOR INDEX SET: valid options commit, structural reject") {
    val src = tmpSrc()
    val name = "stmtspec_alter"
    IndexCatalog.drop(spark, name)
    spark.sql(s"""CREATE VECTOR INDEX $name ON '$src'
        USING vectors (vec_id, embedding vector_l2_ops)
        WITH (indexing = ivf, nlist = 2)""")
    assert(spark.sql(s"ALTER VECTOR INDEX $name SET (probe_hint = 3, " +
      "ef_search = 64)").head().getString(0) === "ok")
    val m = IndexCatalog.load(spark, name).get
    assert(m.params.get("probe_hint").contains("3"))
    assert(m.params.get("ef_search").contains("64"))
    intercept[Exception] {
      spark.sql(s"ALTER VECTOR INDEX $name SET (nlist = 9)").collect()
    }
    intercept[Exception] {
      spark.sql(s"ALTER VECTOR INDEX $name SET (probe_hint = 0)").collect()
    }
    spark.sql(s"DROP VECTOR INDEX $name")
  }

  test("quoted WITH values with commas are rejected clearly; quoted ')' parses") {
    val src = tmpSrc()
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"""CREATE VECTOR INDEX stmtspec_qc ON '$src'
          USING vectors (vec_id, embedding) WITH (nlist = 'a,b')""").collect()
    }
    assert(e.getMessage.contains("','"), e.getMessage)
    assert(IndexCatalog.load(spark, "stmtspec_qc").isEmpty)
  }

  test("malformed WITH options fail at parse-plan time, build nothing") {
    val src = tmpSrc()
    intercept[IllegalArgumentException] {
      spark.sql(s"""CREATE VECTOR INDEX stmtspec_bad ON '$src'
          USING vectors (vec_id, embedding) WITH (m 8)""")
    }
    assert(IndexCatalog.load(spark, "stmtspec_bad").isEmpty)
  }

  test("CREATE ON a catalog table resolves through the session catalog") {
    val src = tmpSrc()
    val name = "stmtspec_tbl_idx"
    IndexCatalog.drop(spark, name)
    spark.sql("DROP TABLE IF EXISTS stmtspec_tbl")
    spark.sql(s"CREATE TABLE stmtspec_tbl USING parquet LOCATION '$src'")
    try {
      // EXPLAIN resolves nothing (no catalog lookup, no build)
      val plan = spark.sql(s"""EXPLAIN CREATE VECTOR INDEX $name
          ON stmtspec_tbl USING vectors (vec_id, embedding vector_l2_ops)
          WITH (indexing = ivf, nlist = 2)""").head().getString(0)
      assert(plan.contains("CreateVectorIndexCommand"))
      assert(IndexCatalog.load(spark, name).isEmpty)
      assert(spark.sql(s"""CREATE VECTOR INDEX $name ON stmtspec_tbl
          USING vectors (vec_id, embedding vector_l2_ops)
          WITH (indexing = ivf, nlist = 2)""").head().getString(0) === "ok")
      val m = IndexCatalog.load(spark, name).get
      // the manifest records the RESOLVED location as a plain path —
      // vacuum/search need no catalog
      assert(m.source === src)
      assert(m.kind === "ivf")
      // ...and the planner claim is on the LOCATION, so declarative
      // queries over the files rewrite
      val q = spark.read.parquet(src).where("vec_id = 0")
        .head().getSeq[Float](1)
      val qLit = "array(" + q.map(f => s"CAST($f AS FLOAT)").mkString(",") + ")"
      val prevE = spark.conf.get("spark.graft.ann.enabled", "false")
      spark.conf.set("spark.graft.ann.enabled", "true")
      try assert(!scansSource(spark.sql(s"""SELECT vec_id,
            l2sq_distance(embedding, $qLit) AS d
            FROM parquet.`$src` ORDER BY d LIMIT 5""")
          .queryExecution.optimizedPlan, src),
        "a table-created index must accelerate queries over its files")
      finally spark.conf.set("spark.graft.ann.enabled", prevE)
      // vacuum replays from the recorded path alone
      assert(spark.sql(s"VACUUM VECTOR INDEX $name").head().getString(0) === "ok")
      spark.sql(s"DROP VECTOR INDEX $name")
    } finally spark.sql("DROP TABLE IF EXISTS stmtspec_tbl")
  }

  test("CREATE ON view / non-parquet table errors clearly, builds nothing") {
    val src = tmpSrc()
    spark.sql("DROP VIEW IF EXISTS stmtspec_view")
    spark.sql(s"CREATE VIEW stmtspec_view AS SELECT * FROM parquet.`$src`")
    try {
      val e = intercept[Exception] {
        spark.sql("""CREATE VECTOR INDEX stmtspec_v_idx ON stmtspec_view
            USING vectors (vec_id, embedding)""").collect()
      }
      assert(e.getMessage.contains("view"), e.getMessage)
      assert(IndexCatalog.load(spark, "stmtspec_v_idx").isEmpty)
    } finally spark.sql("DROP VIEW IF EXISTS stmtspec_view")
    spark.sql("DROP TABLE IF EXISTS stmtspec_json_tbl")
    spark.sql("CREATE TABLE stmtspec_json_tbl (vec_id BIGINT) USING json")
    try {
      val e2 = intercept[Exception] {
        spark.sql("""CREATE VECTOR INDEX stmtspec_j_idx ON stmtspec_json_tbl
            USING vectors (vec_id, embedding)""").collect()
      }
      assert(e2.getMessage.contains("json"), e2.getMessage)
      assert(IndexCatalog.load(spark, "stmtspec_j_idx").isEmpty)
    } finally spark.sql("DROP TABLE IF EXISTS stmtspec_json_tbl")
    // a missing table errors at run (not parse) and builds nothing
    intercept[Exception] {
      spark.sql("""CREATE VECTOR INDEX stmtspec_m_idx ON no_such_table
          USING vectors (vec_id, embedding)""").collect()
    }
    assert(IndexCatalog.load(spark, "stmtspec_m_idx").isEmpty)
    // a session-catalog qualifier resolves (spark_catalog.db.t == db.t);
    // deeper chains error CLEARLY, never as a raw parse exception
    spark.sql("DROP TABLE IF EXISTS stmtspec_q_tbl")
    spark.sql(s"CREATE TABLE stmtspec_q_tbl USING parquet LOCATION '$src'")
    try {
      IndexCatalog.drop(spark, "stmtspec_q_idx")
      assert(spark.sql(
        s"""CREATE VECTOR INDEX stmtspec_q_idx
            ON spark_catalog.default.stmtspec_q_tbl
            USING vectors (vec_id, embedding vector_l2_ops)
            WITH (indexing = ivf, nlist = 2, kmeans_iters = 2)""")
        .head().getString(0) === "ok")
      assert(IndexCatalog.load(spark, "stmtspec_q_idx").exists(_.source == src))
      spark.sql("DROP VECTOR INDEX stmtspec_q_idx")
      val e3 = intercept[Exception] {
        spark.sql("""CREATE VECTOR INDEX stmtspec_d_idx ON a.b.c.d
            USING vectors (vec_id, embedding)""").collect()
      }
      assert(e3.getMessage.contains("CREATE VECTOR INDEX ON accepts"),
        e3.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS stmtspec_q_tbl")
  }

  test("ALTER RESET removes options; unknown and recipe keys reject") {
    val src = tmpSrc()
    val name = "stmtspec_reset"
    IndexCatalog.drop(spark, name)
    spark.sql(s"""CREATE VECTOR INDEX $name ON '$src'
        USING vectors (vec_id, embedding vector_l2_ops)
        WITH (indexing = ivf, nlist = 2)""")
    spark.sql(s"ALTER VECTOR INDEX $name SET (nprobe = 4, ef_search = 64)")
    assert(spark.sql(s"ALTER VECTOR INDEX $name RESET (ef_search)")
      .head().getString(0) === "ok")
    val m = IndexCatalog.load(spark, name).get
    assert(m.params.get("ef_search").isEmpty, "reset key must be removed")
    assert(m.params.get("nprobe").contains("4"), "others must survive")
    // RESET of the calibrated probe_hint drops probe_cal too, so the
    // next ensure re-measures instead of serving a hint-less claim
    assert(m.params.contains("probe_cal"))
    spark.sql(s"ALTER VECTOR INDEX $name RESET (probe_hint, nprobe)")
    val m2 = IndexCatalog.load(spark, name).get
    assert(m2.params.get("probe_hint").isEmpty)
    assert(m2.params.get("probe_cal").isEmpty)
    assert(m2.params.get("nprobe").isEmpty)
    // unknown key: the index_edit.slt "not found" contract
    val e = intercept[Exception] {
      spark.sql(s"ALTER VECTOR INDEX $name RESET (nlist)").collect()
    }
    assert(e.getMessage.contains("not found"), e.getMessage)
    // recipe keys are CREATE-owned — same guard as SET
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER VECTOR INDEX $name RESET (sql_where)").collect()
    }
    assert(e2.getMessage.contains("not alterable"), e2.getMessage)
    spark.sql(s"DROP VECTOR INDEX $name")
  }

  test("user ALTER surfaces reject the sql_* recipe keys") {
    val src = tmpSrc()
    val name = "stmtspec_recipeguard"
    IndexCatalog.drop(spark, name)
    spark.sql(s"""CREATE VECTOR INDEX $name ON '$src'
        USING vectors (vec_id, embedding vector_l2_ops)
        WITH (indexing = ivf, nlist = 2) WHERE vec_id % 3 = 0""")
    // statement SET: altering sql_where would desync recipe from
    // artifact — the next VACUUM would rebuild under the altered scope
    // while the planner still claims the old predicate
    val e = intercept[Exception] {
      spark.sql(s"ALTER VECTOR INDEX $name SET (sql_where = 'vec_id > 5')")
        .collect()
    }
    assert(e.getMessage.contains("not alterable"), e.getMessage)
    // ...and the compatibility UDF spelling guards identically
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT alter_vector_index('$name', 'sql_where', 'vec_id > 5')")
        .collect()
    }
    assert(e2.getMessage.contains("not alterable"), e2.getMessage)
    assert(IndexCatalog.load(spark, name).get.params("sql_where")
      === "vec_id % 3 = 0", "the recipe must be untouched")
    spark.sql(s"DROP VECTOR INDEX $name")
  }

  test("re-CREATE with a changed WHERE retires the old predicate claim") {
    import graft.plans.AnnPushdown
    val src = tmpSrc()
    val name = "stmtspec_rescope"
    IndexCatalog.drop(spark, name)
    spark.sql(s"""CREATE VECTOR INDEX $name ON '$src'
        USING vectors (vec_id, embedding vector_l2_ops)
        WITH (indexing = ivf, nlist = 2) WHERE vec_id % 3 = 0""")
    val before = AnnPushdown.snapshot(src).filter(_.indexName == name)
    assert(before.nonEmpty && before.forall(_.partialConjuncts.isDefined))
    spark.sql(s"""CREATE VECTOR INDEX $name ON '$src'
        USING vectors (vec_id, embedding vector_l2_ops)
        WITH (indexing = ivf, nlist = 2) WHERE vec_id % 5 = 0""")
    val after = AnnPushdown.snapshot(src).filter(_.indexName == name)
    assert(after.size === 1,
      s"exactly the new claim must remain, got $after")
    assert(after.head.partialConjuncts !== before.head.partialConjuncts,
      "the old-predicate claim must be gone — it would rewrite " +
        "old-predicate queries onto the re-scoped artifact")
    spark.sql(s"DROP VECTOR INDEX $name")
  }

  test("re-CREATE on a different path retires the old source's claim") {
    import graft.plans.AnnPushdown
    import org.apache.spark.sql.functions._
    val srcA = tmpSrc()
    val dirB = new File(sys.props("java.io.tmpdir"), "graft_stmtspec_srcB")
    if (!new File(dirB, "_SUCCESS").isFile)
      spark.read.parquet(s"$sf0001/embeddings.parquet")
        .filter(col("vec_id") >= 100 && col("vec_id") < 150)
        .select(col("vec_id"), col("embedding"))
        .write.mode("overwrite").parquet(dirB.getAbsolutePath)
    val srcB = dirB.getAbsolutePath
    val name = "stmtspec_movesrc"
    IndexCatalog.drop(spark, name)
    spark.sql(s"""CREATE VECTOR INDEX $name ON '$srcA'
        USING vectors (vec_id, embedding vector_l2_ops)
        WITH (indexing = ivf, nlist = 2)""")
    assert(AnnPushdown.snapshot(srcA).exists(_.indexName == name))
    // the name moves to a different path: the artifact now indexes B's
    // rows, so A's registry entry must retire — a live one would
    // rewrite A-path queries onto B's data for the rest of the session
    spark.sql(s"""CREATE VECTOR INDEX $name ON '$srcB'
        USING vectors (vec_id, embedding vector_l2_ops)
        WITH (indexing = ivf, nlist = 2)""")
    assert(!AnnPushdown.snapshot(srcA).exists(_.indexName == name),
      "old-source claim must retire on re-CREATE over a new path")
    assert(AnnPushdown.snapshot(srcB).exists(_.indexName == name))
    assert(IndexCatalog.load(spark, name).exists(_.source == srcB))
    spark.sql(s"DROP VECTOR INDEX $name")
  }

  test("kmeans_iters reloption: recorded, staleness-forcing, dense-only") {
    val src = tmpSrc()
    val name = "stmtspec_kiters"
    IndexCatalog.drop(spark, name)
    spark.sql(s"""CREATE VECTOR INDEX $name ON '$src'
        USING vectors (vec_id, embedding vector_l2_ops)
        WITH (indexing = ivf, nlist = 2, kmeans_iters = 2)""")
    val m = IndexCatalog.load(spark, name).get
    assert(m.params.get("kmeans_iters").contains("2"),
      "non-default kmeans_iters must be recorded (the staleness mirror)")
    assert(m.params.get("nlist").contains("2"))
    // idempotent: the same statement re-runs as a no-op (params match)
    val dd = IndexCatalog.dataDir(spark, name)
    val mt0 = new File(dd).lastModified()
    spark.sql(s"""CREATE VECTOR INDEX $name ON '$src'
        USING vectors (vec_id, embedding vector_l2_ops)
        WITH (indexing = ivf, nlist = 2, kmeans_iters = 2)""")
    assert(new File(dd).lastModified() === mt0,
      "same kmeans_iters must not rebuild")
    // vacuum replays the recipe including the knob
    spark.sql(s"VACUUM VECTOR INDEX $name")
    assert(IndexCatalog.load(spark, name).get.params
      .get("kmeans_iters").contains("2"),
      "vacuum must rebuild with the recorded kmeans_iters")
    // typed arms reject it (dense-only build knob)
    intercept[Exception] {
      spark.sql(s"""CREATE VECTOR INDEX stmtspec_kity ON '$src'
          USING vectors (vec_id, embedding vecf16_l2_ops)
          WITH (indexing = ivf, kmeans_iters = 2)""").collect()
    }
    assert(IndexCatalog.load(spark, "stmtspec_kity").isEmpty)
    // out-of-range rejects
    intercept[Exception] {
      spark.sql(s"""CREATE VECTOR INDEX stmtspec_kit0 ON '$src'
          USING vectors (vec_id, embedding vector_l2_ops)
          WITH (indexing = ivf, kmeans_iters = 0)""").collect()
    }
    spark.sql(s"DROP VECTOR INDEX $name")
  }

  test("restart durability: persisted CREATE'd indexes re-register on " +
      "first rule pass, newest-create-shadows, drops never undone") {
    import graft.plans.AnnPushdown
    import graft.index.SqlDdl
    val src = tmpSrc()
    val a = "stmtspec_restart_a"; val b = "stmtspec_restart_b"
    // sweep-proof the fixture: crash debris from a prior JVM on this
    // source would re-register in the sweep and perturb the claim
    // assertions below (only this suite uses this source; tests within
    // a suite run sequentially)
    Option(new File(IndexCatalog.root(spark)).listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(n => IndexCatalog.load(spark, n).exists(_.source == src))
      .foreach(n => IndexCatalog.drop(spark, n))
    spark.sql(s"DROP VECTOR INDEX IF EXISTS $a")
    spark.sql(s"DROP VECTOR INDEX IF EXISTS $b")
    spark.sql(s"""CREATE VECTOR INDEX $a ON '$src'
        USING vectors (vec_id, embedding vector_l2_ops)
        WITH (indexing = ivf, nlist = 2)""")
    Thread.sleep(20) // distinct manifest mtimes pin the sweep order
    spark.sql(s"""CREATE VECTOR INDEX $b ON '$src'
        USING vectors (vec_id, embedding vector_l2_ops)
        WITH (indexing = ivf, nlist = 4)""")
    val q = spark.read.parquet(src).where("vec_id = 0").head().getSeq[Float](1)
    val qLit = "array(" + q.map(f => s"CAST($f AS FLOAT)").mkString(",") + ")"
    def plan() = spark.sql(s"""SELECT vec_id,
        l2sq_distance(embedding, $qLit) AS d
        FROM parquet.`$src` ORDER BY d LIMIT 5""").queryExecution.optimizedPlan
    def l2Claims() = AnnPushdown.snapshot(src).filter(_.metric == "l2")
    val prevE = spark.conf.get("spark.graft.ann.enabled", "false")
    spark.conf.set("spark.graft.ann.enabled", "true")
    try {
      assert(!scansSource(plan(), src))
      // "restart": both names' claims and touched marks gone, sweep
      // fingerprint cleared — the fresh-JVM state for these indexes
      AnnPushdown.resetNamesForTest(src, Set(a, b))
      assert(l2Claims().isEmpty, "reset must clear the claims")
      // first rule pass sweeps the durable catalog back in — ZERO
      // re-CREATE, the declarative query rewrites again
      assert(!scansSource(plan(), src),
        "a fresh driver must re-register persisted CREATE'd indexes")
      // newest-create-shadows preserved across the sweep: B's manifest
      // is younger, so B's claim holds the (l2, full) slot
      assert(l2Claims().map(_.indexName) === List(b),
        s"sweep must preserve newest-create-shadows, got ${l2Claims()}")
      // additive-only: an in-session retire is never undone by a later
      // sweep, even after the fingerprint is cleared
      AnnPushdown.unregisterNamed(src, b)
      SqlDdl.resetSweepForTest()
      assert(scansSource(plan(), src),
        "a retired claim must stay retired through re-sweeps")
      // a real DROP deletes the manifest: another restart re-sweeps only
      // the survivor
      spark.sql(s"DROP VECTOR INDEX $b")
      AnnPushdown.resetNamesForTest(src, Set(a, b))
      assert(!scansSource(plan(), src))
      assert(l2Claims().map(_.indexName) === List(a),
        s"only the surviving manifest may re-register, got ${l2Claims()}")
      spark.sql(s"DROP VECTOR INDEX $a")
    } finally spark.conf.set("spark.graft.ann.enabled", prevE)
  }

  test("pg_vector_index_stat() with arguments errors instead of ignoring them") {
    // the builder's AnalysisException may surface wrapped depending on
    // where resolution runs — the contract is "errors, never silently
    // returns the full listing"
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM pg_vector_index_stat('typo')").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("takes no arguments")),
      e.toString)
    // the no-arg form still resolves
    spark.sql("SELECT * FROM pg_vector_index_stat()").collect()
  }

  test("registration sweep: continues past a corrupt manifest, warns once " +
      "per fingerprint epoch, retries until the pass is all-green") {
    import graft.index.SqlDdl
    import graft.plans.AnnPushdown
    // a SCRATCH root on a cloned session: sweep state is keyed per root,
    // so this test cannot race parallel suites sweeping the shared root
    val s2 = spark.newSession()
    val root = new File(sys.props("java.io.tmpdir"), "graft_stmtspec_sweeproot")
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete()
    }
    rm(root); root.mkdirs()
    s2.conf.set("spark.graft.index.root", root.getAbsolutePath)
    val src = tmpSrc()
    val good = "stmtspec_sweep_good"; val bad = "stmtspec_sweep_bad"
    try {
      // a recipe-complete manifest, committed the normal way (register
      // needs only the manifest — full indexes never touch the source)
      IndexCatalog.commit(s2, good, IndexCatalog.Manifest("ivf", src, "l2",
        Map("sql_cols" -> "vec_id,embedding", "sql_am" -> "vectors",
          "sql_opclass" -> "vector_l2_ops")))
      // corrupt debris, mtime pinned NEWEST so the sweep attempts it
      // BEFORE the good manifest — continuation is the point
      val badDir = new File(root, bad); badDir.mkdirs()
      java.nio.file.Files.write(new File(badDir, "MANIFEST.bin").toPath,
        "not a manifest".getBytes)
      new File(badDir, "MANIFEST.bin")
        .setLastModified(System.currentTimeMillis() + 3600000L)
      AnnPushdown.resetNamesForTest(src, Set(good, bad))
      val c0 = SqlDdl.sweepWarnCount.get()
      SqlDdl.sweepRegistrations(s2)
      assert(AnnPushdown.snapshot(src).exists(_.indexName == good),
        "the sweep must continue past the corrupt manifest")
      assert(SqlDdl.sweepWarnCount.get() === c0 + 1,
        "the corrupt manifest must warn exactly once")
      // failure -> fingerprint uncommitted -> the next (throttle-expired)
      // pass RETRIES the failed name, but the same epoch never re-warns
      SqlDdl.resetSweepThrottleForTest()
      SqlDdl.sweepRegistrations(s2)
      assert(SqlDdl.sweepWarnCount.get() === c0 + 1,
        "an unchanged fingerprint epoch must not re-warn")
      // epoch change (catalog mutated) -> the still-corrupt manifest
      // warns once more
      new File(badDir, "MANIFEST.bin")
        .setLastModified(System.currentTimeMillis() + 7200000L)
      SqlDdl.resetSweepThrottleForTest()
      SqlDdl.sweepRegistrations(s2)
      assert(SqlDdl.sweepWarnCount.get() === c0 + 2,
        "a new fingerprint epoch re-warns the persistent failure")
    } finally {
      AnnPushdown.resetNamesForTest(src, Set(good, bad))
      rm(root)
    }
  }

  test("registration sweep never replaces a live other-name claim " +
      "(add-if-vacant)") {
    import graft.index.SqlDdl
    import graft.plans.AnnPushdown
    val s2 = spark.newSession()
    val root = new File(sys.props("java.io.tmpdir"), "graft_stmtspec_vacroot")
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete()
    }
    rm(root); root.mkdirs()
    s2.conf.set("spark.graft.index.root", root.getAbsolutePath)
    // a dedicated source dir so claim assertions can't see other suites
    val src = {
      val dir = new File(sys.props("java.io.tmpdir"), "graft_stmtspec_vacsrc")
      if (!new File(dir, "_SUCCESS").isFile)
        spark.read.parquet(s"$sf0001/embeddings.parquet")
          .filter(col("vec_id") < 10).write.mode("overwrite")
          .parquet(dir.getAbsolutePath)
      dir.getAbsolutePath
    }
    val swept = "stmtspec_vacant_idx"; val live = "stmtspec_live_claim"
    try {
      IndexCatalog.commit(s2, swept, IndexCatalog.Manifest("ivf", src, "l2",
        Map("sql_cols" -> "vec_id,embedding", "sql_am" -> "vectors",
          "sql_opclass" -> "vector_l2_ops")))
      AnnPushdown.resetNamesForTest(src, Set(swept, live))
      // the live in-session claim a gate would hold over the same slot
      AnnPushdown.register(src,
        AnnPushdown.IndexedTable(live, "vec_id", "embedding", "l2"))
      SqlDdl.sweepRegistrations(s2)
      val claims = AnnPushdown.snapshot(src).filter(_.metric == "l2")
      assert(claims.map(_.indexName) === List(live),
        s"the sweep must not evict the live claim, got $claims")
      // the skip is a final sweep decision: the name is touched, so a
      // re-sweep doesn't resurface it either
      SqlDdl.resetSweepThrottleForTest()
      SqlDdl.sweepRegistrations(s2)
      assert(AnnPushdown.snapshot(src).filter(_.metric == "l2")
        .map(_.indexName) === List(live))
    } finally {
      AnnPushdown.resetNamesForTest(src, Set(swept, live))
      rm(root)
    }
  }

  test("an idempotent re-CREATE leaves MANIFEST.bin untouched") {
    val src = tmpSrc()
    val name = "stmtspec_recreate"
    IndexCatalog.drop(spark, name)
    val stmt = s"""CREATE VECTOR INDEX $name ON '$src'
                   USING vectors (vec_id, embedding vector_l2_ops)
                   WITH (m = 8, ef_construction = 100)"""
    def fileKey(): AnyRef = java.nio.file.Files.readAttributes(
        new File(IndexCatalog.dir(spark, name), "MANIFEST.bin").toPath,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      .fileKey()
    try {
      assert(spark.sql(stmt).head().getString(0) === "ok")
      val before = fileKey()
      assert(spark.sql(stmt).head().getString(0) === "ok")
      assert(fileKey() == before, "a re-CREATE with unchanged options " +
        "rewrote MANIFEST.bin")
    } finally {
      spark.sql(s"DROP VECTOR INDEX IF EXISTS $name")
      IndexCatalog.drop(spark, name)
    }
  }
}
