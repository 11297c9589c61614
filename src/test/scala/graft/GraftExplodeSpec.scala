package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftExplode

/** Round-18 optimization invariants for the non-ExplodeBase explode:
  * row/type parity with Spark's explode/posexplode (null and empty
  * arrays dropped identically), and the plan guarantee the class exists
  * for — no InferFiltersFromGenerate clone of an expensive aliased
  * generator input. */
class GraftExplodeSpec extends SparkSpec {

  private def fixture = {
    import spark.implicits._
    Seq(
      (1L, Seq("a", "b")),
      (2L, Seq.empty[String]),
      (3L, null.asInstanceOf[Seq[String]]),
      (4L, Seq("c"))
    ).toDF("id", "arr")
  }

  test("explodeOnce matches explode on null/empty/filled arrays") {
    val exp = fixture.select(col("id"), explode(col("arr")).as("x"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val got = fixture.select(col("id"), GraftExplode.explodeOnce(col("arr")).as("x"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == exp)
    assert(got == Set((1L, "a"), (1L, "b"), (4L, "c")))
  }

  test("posexplodeOnce matches posexplode incl. output names and types") {
    val exp = fixture.select(col("id"), posexplode(col("arr")))
    val got = fixture.select(col("id"), GraftExplode.posexplodeOnce(col("arr")))
    assert(got.schema == exp.schema, "pos/col names and types must match")
    assert(got.collect().map(_.toSeq).toSet == exp.collect().map(_.toSeq).toSet)
  }

  test("no inferred-filter clone of an expensive aliased generator input") {
    // the q_dedup_chunks shape: expensive expr aliased in a Project,
    // exploded above it. With posexplode the optimizer infers
    // size(..)>0 AND isnotnull(..) and pushes it through the alias —
    // cloning the transform into a Filter. GraftExplode must not.
    // (parquet-backed source: a LocalRelation fixture constant-folds
    // the whole Project away and the clone never appears)
    val dir = java.nio.file.Files.createTempDirectory("graft_gx").toFile
    dir.deleteOnExit()
    val pq = dir.getAbsolutePath + "/t"
    fixture.write.mode("overwrite").parquet(pq)
    val base = spark.read.parquet(pq).select(col("id"),
      transform(col("arr"), x => concat(x, lit("!"))).as("big"))
    val withSpark = base.select(col("id"), posexplode(col("big")))
      .queryExecution.optimizedPlan.toString
    val withGraft = base.select(col("id"), GraftExplode.posexplodeOnce(col("big")))
      .queryExecution.optimizedPlan.toString
    assert(withSpark.contains("Filter") && withSpark.contains("size("),
      "precondition: Spark's explode still infers the pre-filter clone " +
        "(if this stops holding, GraftExplode may be retired)")
    assert(!withGraft.contains("size("),
      s"graft explode must not carry the inferred size() filter:\n$withGraft")
    // and the rows still agree
    val exp = base.select(col("id"), posexplode(col("big")))
      .collect().map(_.toSeq).toSet
    val got = base.select(col("id"), GraftExplode.posexplodeOnce(col("big")))
      .collect().map(_.toSeq).toSet
    assert(got == exp)
  }

  test("the Generate over explodeOnce runs inside whole-stage codegen") {
    // guards a Spark upgrade: GraftExplode delegates codegen to its child
    // the way ExplodeBase does, so its Generate stays in the fused stage
    import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val dir = java.nio.file.Files.createTempDirectory("graft_gx_cg").toFile
    dir.deleteOnExit()
    val pq = dir.getAbsolutePath + "/t"
    fixture.write.mode("overwrite").parquet(pq)
    val df = spark.read.parquet(pq)
      .select(col("id"), GraftExplode.explodeOnce(col("arr")).as("x"))
    assert(df.collect().length == 3)
    // the operators fused into one stage stop at its InputAdapters
    def fused(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case _: InputAdapter => Nil
      case _ => p.children.flatMap(fused)
    })
    val stages = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case w: WholeStageCodegenExec => w
    }
    val graftGenerate: SparkPlan => Boolean = {
      case g: GenerateExec => g.generator.isInstanceOf[GraftExplode]
      case _ => false
    }
    assert(stages.exists(w => fused(w.child).exists(graftGenerate)),
      s"GraftExplode's Generate is not under WholeStageCodegenExec:\n" +
        df.queryExecution.executedPlan)
  }

  test("non-array input fails analysis cleanly") {
    val e = intercept[Exception] {
      fixture.select(GraftExplode.explodeOnce(col("id"))).collect()
    }
    assert(e.getMessage.contains("array"))
  }
}
