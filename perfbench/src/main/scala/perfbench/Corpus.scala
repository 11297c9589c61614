package perfbench

import java.util.SplittableRandom

/** The seeded corpus shared by the read and write workloads: a mixture of
  * Gaussians in the BigSmoke shape (clustered 64-dim float vectors with a
  * 10-valued `label`), plus query vectors drawn from the same mixture and
  * perturbed, so no query is a stored row.
  *
  * Everything here is plain Scala: the ground truth never goes through the
  * engine it checks. */
final class Corpus(seed: Long, val n: Int, val dims: Int) {
  val Clusters = 64
  val Labels = 10
  private val Sigma = 0.3
  private val QueryJitter = 0.05

  /** The mixture itself is fixed, as in BigSmoke; the seed draws the rows
    * and queries from it. A seed-dependent mixture would move the
    * indexes' build-time calibrations from run to run. */
  private val centers: Array[Array[Double]] = {
    val r = new SplittableRandom(42L)
    Array.fill(Clusters, dims)(gaussian(r))
  }
  private val rnd = new SplittableRandom(seed)

  private def draw(r: SplittableRandom): Array[Float] = {
    val c = centers(r.nextInt(Clusters))
    Array.tabulate(dims)(j => (c(j) + Sigma * gaussian(r)).toFloat)
  }

  val ids: Array[Long] = Array.tabulate(n)(_.toLong)
  val vecs: Array[Array[Float]] = Array.fill(n)(draw(rnd))
  val labels: Array[Int] = Array.fill(n)(rnd.nextInt(Labels))

  /** A separate stream for everything drawn after the corpus, so adding a
    * query never shifts the stored rows. */
  private val extra = new SplittableRandom(seed * 31 + 7)

  /** A held-out mixture draw plus a small perturbation. */
  def query(): Array[Float] = {
    val v = draw(extra)
    v.map(x => (x + QueryJitter * gaussian(extra)).toFloat)
  }

  /** A fresh stored-row-shaped vector (for appends and updates). */
  def fresh(): Array[Float] = draw(extra)

  def nextInt(bound: Int): Int = extra.nextInt(bound)

  /** Raw payload bytes of the stored vectors. */
  def payloadBytes: Long = n.toLong * dims * 4

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
}

object Truth {
  /** Squared L2 with sequential double accumulation in index order — the
    * repository's float-parity rule, so engine distances compare exactly. */
  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      acc += d * d; i += 1
    }
    acc
  }

  /** Brute-force top-k over the rows `ids(i)`/`vecs(i)` with `keep(i)`,
    * ordered by (dist, id). */
  def topk(q: Array[Float], ids: Array[Long], vecs: Array[Array[Float]],
      k: Int, keep: Int => Boolean = _ => true): Array[(Double, Long)] = {
    val heap = new java.util.PriorityQueue[(Double, Long)](k + 1,
      (x: (Double, Long), y: (Double, Long)) => {
        val c = java.lang.Double.compare(y._1, x._1)
        if (c != 0) c else java.lang.Long.compare(y._2, x._2)
      })
    var i = 0
    while (i < ids.length) {
      if (keep(i)) {
        heap.add((l2sq(q, vecs(i)), ids(i)))
        if (heap.size > k) heap.poll()
      }
      i += 1
    }
    val out = new Array[(Double, Long)](heap.size)
    var j = out.length - 1
    while (!heap.isEmpty) { out(j) = heap.poll(); j -= 1 }
    out
  }

  /** Recall@k with tie tolerance: a returned row counts when its true
    * distance is within the true k-th distance. */
  def recall(returnedDists: Seq[Double], truth: Array[(Double, Long)]): Double =
    if (truth.isEmpty) 1.0
    else {
      val kth = truth.last._1
      returnedDists.count(_ <= kth).min(truth.length).toDouble / truth.length
    }

  def vectorLiteral(v: Array[Float]): String = v.mkString("'[", ",", "]'")
}
