package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Counts every operation the benchmark attempts. An operation that throws
  * is failed with its error class and gives no latency sample; so is one
  * whose answer fails its check. Only operations that pass give a sample. */
final class Ledger(trace: Trace) {
  var attempted = 0L
  var failed = 0L
  /** (operation kind, error class) -> count */
  val failures = mutable.LinkedHashMap.empty[(String, String), Long]

  /** Run `body` as one operation of `kind`; time it, then `check` its
    * answer (untimed). Returns the answer and its wall seconds when it
    * passed. With `traced`, the operation is a root span and its Spark
    * jobs are tagged for the listener. */
  def attempt[A](kind: String, traced: Boolean = false)(body: => A)(
      check: A => Option[String]): Option[(A, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    val result =
      try Right(if (traced) trace.op(kind)(body) else body)
      catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    result match {
      case Left(e) =>
        fail(kind, e.getClass.getName)
        None
      case Right(a) =>
        val verdict =
          try check(a)
          catch { case NonFatal(e) => Some("check threw " + e.getClass.getName) }
        verdict match {
          case Some(reason) => fail(kind, "WrongAnswer: " + reason); None
          case None => Some((a, secs))
        }
    }
  }

  private def fail(kind: String, cls: String): Unit = {
    failed += 1
    failures((kind, cls)) = failures.getOrElse((kind, cls), 0L) + 1
  }

  def failedShare: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted

  def failuresJson: String = Json.arr(failures.toSeq.map { case ((k, c), n) =>
    Json.obj("op" -> Json.str(k), "error_class" -> Json.str(c), "count" -> n.toString)
  })
}

object Stats {
  /** Nearest-rank percentile of an unsorted sample (p in 0..1). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.length
}

/** Minimal JSON rendering: values arrive already rendered. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")

  /** A metric entry of the result line. */
  def metric(value: Double, unit: String): String =
    obj("value" -> num(value), "unit" -> str(unit))
}
