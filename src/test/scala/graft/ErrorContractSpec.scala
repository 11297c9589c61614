package graft

import org.apache.spark.sql.functions._
import graft.operators.{Hnsw, IvfIndex, TypedAnn}
import graft.queries.AnnQueries

/** The reference's dimension-error contract
  * (tests/sqllogictest/error.slt): a query vector whose dimension does
  * not match the indexed column's is an ERROR — "The dimension of a
  * vector does not matched that in a vector index column" — never a
  * garbage ranking or a silent empty result. The insert leg (wrong-dims
  * row against an indexed column) surfaces through the distance/assign
  * kernels' own dims check at execution. */
class ErrorContractSpec extends SparkSpec {

  private val wrongDims = Array(0.1f, 0.2f, 0.3f, 0.4f)

  test("IVF search with wrong query dims errors (error.slt)") {
    val (m, path) = AnnQueries.ivf(spark, sf0001, "l2")
    assert(wrongDims.length != m.centroids(0).length)
    val e = intercept[IllegalArgumentException] {
      IvfIndex.search(spark, path, m, "vec_id", "embedding",
        wrongDims, k = 5, nprobe = 4).collect()
    }
    assert(e.getMessage.contains("dimension of a vector"))
    // range scans carry the same contract
    val radii = new Array[Float](m.nlist)
    val e2 = intercept[IllegalArgumentException] {
      IvfIndex.rangeScan(spark, path, m, radii, wrongDims, 1.0).collect()
    }
    assert(e2.getMessage.contains("dimension of a vector"))
    val e3 = intercept[IllegalArgumentException] {
      TypedAnn.rankLists(m, wrongDims, "l2")
    }
    assert(e3.getMessage.contains("dimension of a vector"))
    // typed range scans prune in the densified view: a shorter or a
    // longer query against the bvector artifact errors the same way
    val (bm, bPath) = AnnQueries.bvecAnn(spark, sf0001)
    for (q <- Seq(wrongDims, Array.fill(bm.centroids(0).length + 3)(1f))) {
      val e4 = intercept[IllegalArgumentException] {
        IvfIndex.rangeScan(spark, bPath, bm, bm.radii, q, 4.0).collect()
      }
      assert(e4.getMessage.contains("dimension of a vector"))
      val e5 = intercept[IllegalArgumentException] {
        IvfIndex.rangeScanDot(spark, bPath, bm, bm.radii, q, -4.0).collect()
      }
      assert(e5.getMessage.contains("dimension of a vector"))
    }
  }

  test("HNSW search with wrong query dims errors (error.slt)") {
    // parts=4 = the CANONICAL inventory artifact (ensureAll builds it):
    // a parts=2 build here minted an extra catalog entry over the
    // sf0.001 data dir, and any later q_index_stat verify sharing this
    // /tmp saw a 30th row against the 29-row VALUES oracle (round-17
    // optimization-round finding; multi-graph dims contract unchanged)
    val path = AnnQueries.hnsw(spark, sf0001, 4)
    val e = intercept[Exception] {
      Hnsw.searchIndex(spark, path, "vec_id", wrongDims, k = 5).collect()
    }
    assert(e.getMessage != null &&
      (e.getMessage.contains("dimension of a vector") ||
        Option(e.getCause).exists(_.getMessage.contains("dimension of a vector"))),
      s"unexpected error: $e")
    // exact (flat) mode checks too
    val e2 = intercept[Exception] {
      Hnsw.searchIndex(spark, path, "vec_id", wrongDims, k = 5,
        exact = true).collect()
    }
    assert(e2.toString.contains("dimension of a vector") ||
      Option(e2.getCause).exists(_.toString.contains("dimension of a vector")))
  }

  test("insert leg: wrong-dims rows against an indexed store error at build") {
    // the expression kernels carry the dims contract on the scoring
    // side: distance between mismatched columns errors (operator.slt /
    // error.slt's insert shape surfaces here when an append is scored)
    val df = spark.range(1).select(
      typedLit(Array(1f, 2f, 3f)).as("a"), typedLit(wrongDims).as("b"))
    val e = intercept[Exception] {
      df.select(graft.functions.l2sq(col("a"), col("b"))).collect()
    }
    assert(e.toString.contains("dimensions") ||
      Option(e.getCause).exists(_.toString.contains("dimensions")))
  }

  test("unknown access method / opclass spellings error (compact_stmt.slt)") {
    import graft.index.IndexOptions
    // CREATE INDEX ... USING wrong_type -> the reference's AM error
    val e1 = intercept[IllegalArgumentException] {
      IndexOptions.accessMethod("wrong_type")
    }
    assert(e1.getMessage.contains("""access method "wrong_type" does not exist"""))
    // USING ivfflat (val wrong_operator) -> the opclass error
    val e2 = intercept[IllegalArgumentException] {
      IndexOptions.opclass("wrong_operator")
    }
    assert(e2.getMessage.contains(
      """operator class "wrong_operator" does not exist"""))
    // every finalize.sql opclass resolves to the planner's family/metric
    // key, incl. the pgvector spellings mapping onto native metrics;
    // metricKey renders the exact IndexedTable registration spelling
    // (bare metric for dense, family-qualified for typed)
    assert(IndexOptions.opclass("vector_l2_ops") == ("dense", "l2"))
    assert(IndexOptions.opclass("vector_ip_ops") == ("dense", "dot"))
    assert(IndexOptions.opclass("vector_cosine_ops", "hnsw") == ("dense", "cos"))
    assert(IndexOptions.opclass("bvector_jaccard_ops") == ("bvec", "jaccard"))
    assert(IndexOptions.opclass("vecf16_cos_ops") == ("f16", "cos"))
    assert(IndexOptions.opclass("svector_dot_ops") == ("svec", "dot"))
    assert(IndexOptions.metricKey("vector_l2_ops") == "l2")
    assert(IndexOptions.metricKey("vector_cosine_ops") == "cos")
    assert(IndexOptions.metricKey("bvector_hamming_ops") == "bvec:hamming")
    assert(IndexOptions.metricKey("svector_l2_ops") == "svec:l2")
    assert(IndexOptions.metricKey("vecf16_dot_ops") == "f16:dot")
    // index.slt: unknown option fields are rejected by the reloption
    // parsers (both AM families)
    intercept[IllegalArgumentException] {
      IndexOptions.hnsw(Map("unknown_field" -> "1"))
    }
    intercept[IllegalArgumentException] {
      IndexOptions.ivf(Map("unknown_field" -> "1"))
    }
  }
}
