package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.index.IndexCatalog
import graft.operators.{Hnsw, IvfIndex}
import graft.plans.AnnPushdown

/** A filtered top-k whose filter is an IN list of more than 10 values:
  * the optimizer turns it into an `InSet`, which the rewrite's
  * canonical predicate strings must print without losing the
  * attribute's type. The strings of the older shapes stay exactly as
  * they were, so registered partial-index predicates keep matching. */
class InListFilterSpec extends SparkSpec {
  private val Dims = 8
  private val K = 10

  private lazy val dir = Files.createTempDirectory("graft_inlist").toString
  private lazy val table: DataFrame = {
    import spark.implicits._
    val rnd = new java.util.Random(11)
    (0 until 600).map { i =>
      (i.toLong, Array.fill(Dims)(rnd.nextGaussian().toFloat), i % 20)
    }.toDF("id", "embedding", "label")
  }
  private def source(name: String): String = {
    val p = s"$dir/$name.parquet"
    if (!new java.io.File(p).exists()) table.write.parquet(p)
    p
  }
  private lazy val q: Array[Float] = {
    val rnd = new java.util.Random(3)
    Array.fill(Dims)(rnd.nextGaussian().toFloat)
  }
  private val Labels = (0 until 11).mkString(", ")

  private def topk(src: String): DataFrame =
    spark.read.parquet(src)
      .filter(s"label IN ($Labels)")
      .select(col("id"), graft.functions.l2sq(col("embedding"), typedLit(q)).as("dist"))
      .orderBy(col("dist")).limit(K)

  private def rowsOf(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def withIndex[T](src: String, name: String, confs: (String, String)*)(
      body: => T): T = {
    AnnPushdown.install(spark)
    AnnPushdown.register(src, AnnPushdown.IndexedTable(name, "id", "embedding"))
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.conf.set("spark.graft.ann.enabled", "true")
    try body
    finally {
      spark.conf.set("spark.graft.ann.enabled", "false")
      confs.foreach { case (k, _) => spark.conf.unset(k) }
      AnnPushdown.unregister(src)
    }
  }

  test("an 11-value IN filtered top-k rewrites and returns the brute-force answer") {
    val ivfSrc = source("ivf")
    val hnswSrc = source("hnsw")
    val exact = rowsOf(topk(ivfSrc))
    assert(exact.length == K)
    assert(topk(ivfSrc).queryExecution.optimizedPlan.toString.contains("INSET"),
      "the IN list did not become an InSet")

    IndexCatalog.drop(spark, "inlist_ivf")
    val (model, _) = IvfIndex.ensure(spark, "inlist_ivf", spark.read.parquet(ivfSrc),
      ivfSrc, "embedding", "l2", nlist = 4)
    withIndex(ivfSrc, "inlist_ivf", "spark.graft.ann.nprobe" -> model.nlist.toString) {
      val plan = topk(ivfSrc).queryExecution.optimizedPlan.toString
      assert(plan.contains("list_id"), s"filtered IVF top-k did not rewrite:\n$plan")
      assert(rowsOf(topk(ivfSrc)) == exact)
    }

    IndexCatalog.drop(spark, "inlist_hnsw")
    val hnswDir = Hnsw.ensure(spark, "inlist_hnsw", spark.read.parquet(hnswSrc), hnswSrc,
      "id", "embedding", "l2", parts = 1, efConstruction = 64)
    withIndex(hnswSrc, "inlist_hnsw", "spark.graft.hnsw.exact" -> "true") {
      val plan = topk(hnswSrc).queryExecution.optimizedPlan
      assert(plan.collectLeaves().exists(_.nodeName == "LocalRelation"),
        s"filtered HNSW top-k did not rewrite:\n$plan")
      assert(rowsOf(topk(hnswSrc)) == exact)
    }
    assert(hnswDir.nonEmpty)
  }

  test("canonical predicate strings of the older shapes are unchanged") {
    val src = source("canon")
    def canon(pred: String) = AnnPushdown.canonicalConjuncts(spark, src, pred)
    assert(canon("label = 3") == Seq("(label = 3)"))
    assert(canon("label IN (0, 1, 2)") == Seq("(label IN (0, 1, 2))"))
    assert(canon("label IN (0,1,2,3,4,5,6,7,8,9)") ==
      Seq("(label IN (0, 1, 2, 3, 4, 5, 6, 7, 8, 9))"))
    assert(canon("label IS NOT NULL") == Seq("(label IS NOT NULL)"))
    assert(canon("label = 3 AND id > 5") == Seq("(id > 5L)", "(label = 3)"))
    assert(canon("label IN (4, 2) AND id IS NOT NULL") ==
      Seq("(id IS NOT NULL)", "(label IN (4, 2))"))
    // more than 10 values: an InSet, printed with its literal values
    val wide = canon(s"label IN ($Labels)")
    assert(wide.length == 1 && wide.head.startsWith("(label IN (") &&
      (0 until 11).forall(v => wide.head.contains(v.toString)), wide)
  }
}
