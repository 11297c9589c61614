package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.IvfIndex

/**
 * Reference-dialect SQL gates (round 13): the pgvecto.rs operator
 * spellings — `<->` `<#>` `<=>` `<~>`, the `<<..>>` sphere predicates,
 * and `'...'::vector` literal casts — run VERBATIM as SQL text through
 * the injected parser ([[graft.index.OpSqlRewrite]] token rewrite ->
 * [[graft.functions.OpDist]]/[[graft.functions.SphereIn]] type
 * dispatch), and the search-shaped ones REWRITE through the existing
 * ANN pushdown arms (asserted in-query; the ofRows convention — the
 * driver's write re-plans returned frames, so gates must return the
 * materialized optimized plan).
 *
 * Reference queries these mirror: tests/sqllogictest/vector.slt:1-40
 * (ORDER BY val <-> '...' LIMIT k), pushdown_plan.slt (the sphere
 * spellings), src/sql/finalize.sql:408-574 (the operator overload
 * sets). Every gate carries a FULL DuckDB oracle: the top-k forms run
 * in exact mode (nprobe = nlist — the established pushdown-gate
 * contract), the sphere form is exact at any radius by construction.
 */
object OperatorSqlQueries {
  import Tables.t

  private def san(dir: String) = dir.replaceAll("[^a-zA-Z0-9]", "_")

  /** Row 0's embedding as a reference-dialect literal. Float.toString
    * round-trips bit-exactly through parse_vector, so the SQL-text
    * literal IS the stored query vector and the oracles keep using
    * `WHERE vec_id = 0` for the query side. */
  private def qlit(s: SparkSession, d: String): String =
    Tables.fixture("opsql_qlit:" + d) {
      t(s, d, "embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
        .mkString("[", ", ", "]")
    }

  private def restoreNprobe(s: SparkSession, prev: Option[String]): Unit =
    prev match {
      case Some(v) => s.conf.set("spark.graft.ann.nprobe", v)
      case None => s.conf.unset("spark.graft.ann.nprobe")
    }

  /** Run reference-dialect `sql` on a parser-installed session with the
    * embeddings table registered for pushdown against the dense IVF
    * artifact of `metric`, in EXACT mode (nprobe = nlist); assert the
    * optimizer rewrote onto the index and freeze the plan. The rewrite
    * shows as `needle` in the plan (the filtered, range and join arms
    * scan the artifact); with None — the unfiltered top-k, answered on
    * the driver as a local relation — as no leaf scanning the table. */
  private def withOpSqlRewrite(s: SparkSession, d: String, metric: String,
      needle: Option[String] = Some("list_id"), sortCols: Seq[String] = Nil)
      (sql: String): DataFrame = {
    import graft.plans.AnnPushdown
    val ds = LifecycleQueries.ddlSession(s)
    val (m, _) = AnnQueries.ivf(ds, d, metric)
    AnnPushdown.install(ds)
    val srcPath = s"$d/embeddings.parquet"
    val prevReg = AnnPushdown.snapshot(srcPath)
    AnnPushdown.register(srcPath, AnnPushdown.IndexedTable(
      s"ivf_${metric}_${san(d)}", "vec_id", "embedding", metric))
    val prevEnabled = ds.conf.get("spark.graft.ann.enabled", "false")
    val prevNprobe = ds.conf.getOption("spark.graft.ann.nprobe")
    ds.conf.set("spark.graft.ann.enabled", "true")
    ds.conf.set("spark.graft.ann.nprobe", m.nlist.toString)
    try {
      graft.ParquetCache.read(ds, srcPath).createOrReplaceTempView("graft_opsql_src")
      val df = ds.sql(sql)
      val optimized = df.queryExecution.optimizedPlan
      require(needle.fold(!AnnPushdown.scansSource(optimized, srcPath))(
          optimized.toString.contains(_)),
        "reference-dialect operator SQL did not rewrite onto the index")
      val frozen = org.apache.spark.sql.graftshim.Shims.ofRows(ds, optimized)
      // the inline-sort spelling projects NO dist column — sort by what
      // the query returns (the driver compare sorts by every column)
      if (sortCols.nonEmpty) frozen.orderBy(sortCols.map(col): _*)
      else if (frozen.columns.contains("dist"))
        frozen.orderBy(col("dist"), col("vec_id"))
      else frozen.orderBy(col("vec_id"))
    } finally {
      ds.conf.set("spark.graft.ann.enabled", prevEnabled)
      restoreNprobe(ds, prevNprobe)
      AnnPushdown.restore(srcPath, prevReg)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- the operator overload surface as plain expressions: dense
    //     l2/dot/cos, bvector hamming + jaccard, and a ::vector-cast
    //     string literal, all in one reference-dialect statement ---
    "q_operator_sql_dist" -> ((s, d) => {
      val ds = LifecycleQueries.ddlSession(s)
      t(ds, d, "embeddings").createOrReplaceTempView("graft_opsql_emb")
      ds.sql(
        s"""SELECT e.vec_id AS vec_id,
                   e.embedding <-> q.embedding AS l2,
                   e.embedding <#> q.embedding AS nd,
                   e.embedding <=> q.embedding AS cd,
                   binarize(e.embedding) <-> binarize(q.embedding) AS ham,
                   binarize(e.embedding) <~> binarize(q.embedding) AS jac,
                   e.embedding <-> '${qlit(ds, d)}'::vector AS lit_l2
            FROM graft_opsql_emb e CROSS JOIN
                 (SELECT embedding FROM graft_opsql_emb WHERE vec_id = 0) q
            WHERE e.vec_id < 200 ORDER BY e.vec_id""")
    }),

    // --- the arithmetic operator overloads (finalize.sql:90-170):
    //     `+ - *` on dense vectors (VectorArithRule analyzer dispatch)
    //     and `& | ^` on bvectors, plus a one-sided string coercion —
    //     all verbatim SQL text, exact float/integer arithmetic ---
    "q_operator_sql_arith" -> ((s, d) => {
      val ds = LifecycleQueries.ddlSession(s)
      t(ds, d, "embeddings").createOrReplaceTempView("graft_opsql_emb")
      ds.sql(
        """SELECT e.vec_id AS vec_id,
                  e.embedding + q.embedding AS v_add,
                  e.embedding - q.embedding AS v_sub,
                  e.embedding * q.embedding AS v_mul,
                  bvec_to_dense(binarize(e.embedding) & binarize(q.embedding)) AS v_and,
                  bvec_to_dense(binarize(e.embedding) | binarize(q.embedding)) AS v_or,
                  bvec_to_dense(binarize(e.embedding) ^ binarize(q.embedding)) AS v_xor
           FROM graft_opsql_emb e CROSS JOIN
                (SELECT embedding FROM graft_opsql_emb WHERE vec_id = 0) q
           WHERE e.vec_id < 100""")
        .select(col("vec_id"),
          posexplode(arrays_zip(col("v_add"), col("v_sub"), col("v_mul"),
            col("v_and"), col("v_or"), col("v_xor"))).as(Seq("i", "z")))
        .select(col("vec_id"), col("i").cast("long").as("i"),
          col("z.v_add").as("x_add"), col("z.v_sub").as("x_sub"),
          col("z.v_mul").as("x_mul"), col("z.v_and").as("x_and"),
          col("z.v_or").as("x_or"), col("z.v_xor").as("x_xor"))
        .orderBy(col("vec_id"), col("i"))
    }),

    // --- `ORDER BY val <-> '[...]' LIMIT k` (vector.slt:1-40) through
    //     the top-k pushdown arm, exact mode -> full value oracle ---
    "q_operator_sql_topk" -> ((s, d) => withOpSqlRewrite(s, d, "l2", needle = None) {
      s"""SELECT vec_id, embedding <-> '${qlit(s, d)}' AS dist
          FROM graft_opsql_src ORDER BY dist LIMIT 100"""
    }),

    // --- the VERBATIM reference spelling — no dist alias, the distance
    //     inline in ORDER BY (vector.slt:1-40) — through the round-13
    //     INLINE arm: the projection is just the id column, the dist is
    //     dropped after the pruned search. Exact mode -> the id SET is
    //     the flat top-k, so the driver's sorted compare holds without
    //     a dist column. ---
    "q_operator_sql_topk_inline" -> ((s, d) => withOpSqlRewrite(s, d, "l2", needle = None) {
      s"""SELECT vec_id FROM graft_opsql_src
          ORDER BY embedding <-> '${qlit(s, d)}' LIMIT 100"""
    }),

    // --- FILTERED verbatim spelling (pushdown_range.slt): WHERE +
    //     inline ORDER BY routes through the filtered dispatch; exact
    //     at nprobe=nlist -> the filtered flat top-k oracle ---
    "q_operator_sql_topk_filtered_inline" -> ((s, d) =>
      withOpSqlRewrite(s, d, "l2") {
        s"""SELECT vec_id FROM graft_opsql_src WHERE vec_id % 7 = 0
            ORDER BY embedding <-> '${qlit(s, d)}' LIMIT 100"""
      }),

    // --- the cos spelling `<=>` through the same arm (normalize-at-
    //     build artifact; the oracle replays the normalized dot) ---
    "q_operator_sql_topk_cos" -> ((s, d) => withOpSqlRewrite(s, d, "cos", needle = None) {
      s"""SELECT vec_id, embedding <=> '${qlit(s, d)}' AS dist
          FROM graft_opsql_src ORDER BY dist LIMIT 100"""
    }),

    // --- the table-valued KNN JOIN in reference dialect: the window
    //     top-k spelling with `<->` as the join distance rewrites
    //     through the window-join arm (probe-list explode + list_id
    //     equi-join); exact at nprobe=nlist -> the q_knn_join_pushdown
    //     oracle verbatim ---
    "q_operator_sql_knn_join" -> ((s, d) => withOpSqlRewrite(s, d, "l2",
        needle = Some("probe_lists"), sortCols = Seq("qid", "rn")) {
      """SELECT qid, vec_id, dist, rn FROM (
           SELECT qid, vec_id, dist,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY dist, vec_id) AS rn
           FROM (SELECT q.vec_id AS qid, e.vec_id AS vec_id,
                        e.embedding <-> q.embedding AS dist
                 FROM graft_opsql_src e CROSS JOIN
                      (SELECT vec_id, embedding FROM graft_opsql_src
                       WHERE vec_id % 10 = 0) q))
         WHERE rn <= 10"""
    }),

    // --- `val <<->> sphere('[...]', r)` (pushdown_plan.slt) through
    //     the sphere-range arm: triangle list pruning + the exact
    //     predicate re-applied -> exact at any radius, full oracle ---
    "q_operator_sql_range" -> ((s, d) => withOpSqlRewrite(s, d, "l2") {
      s"""SELECT vec_id, embedding <-> '${qlit(s, d)}' AS dist
          FROM graft_opsql_src
          WHERE embedding <<->> sphere('${qlit(s, d)}', 1.5)"""
    })
  )

  val oracles: Map[String, String] = Map(
    "q_operator_sql_dist" ->
      """SELECT e.vec_id AS vec_id,
         list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS l2,
         -list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum') AS nd,
         1.0 - list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
             / sqrt(list_aggregate(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')
                  * list_aggregate(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS cd,
         CAST(list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> CASE WHEN (p[1] > 0) <> (p[2] > 0) THEN 1 ELSE 0 END), 'sum') AS DOUBLE) AS ham,
         1.0 - CAST(list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> CASE WHEN (p[1] > 0) AND (p[2] > 0) THEN 1 ELSE 0 END), 'sum') AS DOUBLE)
             / CAST(list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> CASE WHEN (p[1] > 0) OR (p[2] > 0) THEN 1 ELSE 0 END), 'sum') AS DOUBLE) AS jac,
         list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS lit_l2
         FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         WHERE e.vec_id < 200 ORDER BY e.vec_id""",

    "q_operator_sql_topk" ->
      """SELECT e.vec_id AS vec_id,
         list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist
         FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         ORDER BY dist, vec_id LIMIT 100""",

    "q_operator_sql_arith" ->
      """WITH p AS (SELECT e.vec_id AS vec_id, e.embedding AS a, q.embedding AS b
           FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
           WHERE e.vec_id < 100)
         SELECT vec_id, unnest(range(len(a))) AS i,
           unnest(list_transform(list_zip(a, b), p -> p[1] + p[2])) AS x_add,
           unnest(list_transform(list_zip(a, b), p -> p[1] - p[2])) AS x_sub,
           unnest(list_transform(list_zip(a, b), p -> p[1] * p[2])) AS x_mul,
           unnest(list_transform(list_zip(a, b), p -> CAST(CASE WHEN (p[1] > 0) AND (p[2] > 0) THEN 1 ELSE 0 END AS FLOAT))) AS x_and,
           unnest(list_transform(list_zip(a, b), p -> CAST(CASE WHEN (p[1] > 0) OR (p[2] > 0) THEN 1 ELSE 0 END AS FLOAT))) AS x_or,
           unnest(list_transform(list_zip(a, b), p -> CAST(CASE WHEN (p[1] > 0) <> (p[2] > 0) THEN 1 ELSE 0 END AS FLOAT))) AS x_xor
         FROM p ORDER BY vec_id, i""",

    "q_operator_sql_topk_filtered_inline" ->
      """SELECT e.vec_id AS vec_id
         FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         WHERE e.vec_id % 7 = 0
         ORDER BY list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum'), vec_id
         LIMIT 100""",

    "q_operator_sql_topk_inline" ->
      """SELECT e.vec_id AS vec_id
         FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         ORDER BY list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum'), vec_id
         LIMIT 100""",

    "q_operator_sql_topk_cos" ->
      """WITH n AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(CAST(x AS DOUBLE)
             / sqrt(list_aggregate(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum')) AS FLOAT)) AS ne
           FROM embeddings)
         SELECT e.vec_id AS vec_id,
           1.0 - list_aggregate(list_transform(list_zip(e.ne, q.ne), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum') AS dist
         FROM n e CROSS JOIN (SELECT ne FROM n WHERE vec_id = 0) q
         ORDER BY dist, vec_id LIMIT 100""",

    "q_operator_sql_knn_join" ->
      """SELECT qid, vec_id, dist, rn FROM (
           SELECT q.vec_id AS qid, e.vec_id AS vec_id,
             list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_aggregate(list_transform(list_zip(e.embedding, q.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum'),
               e.vec_id) AS rn
           FROM embeddings e CROSS JOIN
             (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0) q)
         WHERE rn <= 10 ORDER BY qid, rn""",

    "q_operator_sql_range" ->
      """SELECT vec_id, dist FROM (
           SELECT e.vec_id AS vec_id,
             list_aggregate(list_transform(list_zip(e.embedding, q.qv), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum') AS dist
           FROM embeddings e CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q)
         WHERE dist < 1.5 ORDER BY dist, vec_id"""
  )
}
