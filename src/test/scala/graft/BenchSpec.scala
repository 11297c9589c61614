package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `graft.Bench` must not time a query that throws: it lands in the
  * failed list with its error class and stays out of the timings. */
class BenchSpec extends SparkSpec {

  test("timedPass: a throwing query is reported failed with its error class, not timed") {
    // a filter, so that count() cannot prune the failing expression away
    val throwing = (s: SparkSession, _: String) =>
      s.range(1).where("raise_error('injected bench failure') IS NULL").toDF()
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q_ok" -> ((s: SparkSession, _: String) => s.range(10).toDF()),
      "q_throws" -> throwing)
    val expectedError = intercept[Throwable](throwing(spark, sf0001).count())
      .getClass.getName
    val (failed, timed) = Bench.timedPass(spark, sf0001, queries)
    assert(failed == Seq("q_throws" -> expectedError))
    assert(timed.map(_._1) == Seq("q_ok"))
    assert(timed.forall(_._2 >= 0.0))
  }
}
