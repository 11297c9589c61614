package perfbench

/** Shows that the ledger counts what it must: one catalog-shaped query that
  * throws and one wrong answer (a tombstoned id in an otherwise correct
  * top-k) both land in failed_share, each with its error class, and
  * neither gives a latency sample. Run: `python3 perfbench/run.py --self-test`. */
object SelfTest {
  def run(runDir: String): Int = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Session.create(cores, runDir)
    val ledger = new Ledger(new Trace)
    val c = new Corpus(1L, 200, 8)
    import spark.implicits._
    val dir = s"$runDir/data/selftest"
    c.ids.indices.map(i => (c.ids(i), c.vecs(i), c.labels(i)))
      .toDF("id", "embedding", "label").write.parquet(dir)
    spark.sql(s"CREATE TABLE st USING parquet LOCATION '$dir'")
    val q = c.query()
    val truth = Truth.topk(q, c.ids, c.vecs, Workloads.K)
    val stmt = s"SELECT id, embedding <-> ${Truth.vectorLiteral(q)} AS dist " +
      s"FROM st ORDER BY dist LIMIT ${Workloads.K}"
    val gone = truth.last._2
    def lookup(deleted: Long)(id: Long): Either[String, Array[Float]] =
      if (id == deleted) Left(s"tombstoned id $id") else Right(c.vecs(id.toInt))
    def rows(): Seq[(Long, Double)] =
      spark.sql(stmt).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // 1. a correct exact answer passes
    val ok = ledger.attempt("selftest.exact")(rows())(
      Checks.topk(_, q, truth, Workloads.K, lookup(-1L), exact = true))
    // 2. a catalog entry (SparkEntry.queries shape) that throws: failed,
    //    not timed
    val throwing: (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame = (s, _) =>
      s.sql("SELECT id, embedding <-> '[1,2,3]' AS dist FROM st ORDER BY dist LIMIT 10")
    val thrown = ledger.attempt("selftest.catalog_throws")(
      throwing(spark, dir).count())(_ => None)
    // 3. the same answer, checked against a model in which its last id was
    //    deleted: a wrong answer
    val wrong = ledger.attempt("selftest.wrong_answer")(rows())(
      Checks.topk(_, q, truth, Workloads.K, lookup(gone)))
    spark.stop()

    val pass = ok.isDefined && thrown.isEmpty && wrong.isEmpty &&
      ledger.attempted == 3 && ledger.failed == 2 &&
      ledger.failures.keys.exists(_._1 == "selftest.catalog_throws") &&
      ledger.failures.keys.exists { case (k, cls) =>
        k == "selftest.wrong_answer" && cls.startsWith("WrongAnswer") }
    println(Json.obj(
      "self_test" -> Json.str(if (pass) "pass" else "fail"),
      "attempted" -> ledger.attempted.toString,
      "failed" -> ledger.failed.toString,
      "failed_share" -> Json.num(ledger.failedShare),
      "failures" -> ledger.failuresJson))
    if (pass) 0 else 1
  }
}
