package perfbench

/** Answer checks shared by the workloads and the self-test. A check returns
  * the reason an answer is wrong, or None. */
object Checks {
  /** Check one top-k answer `rows` = (id, dist) for query `q`.
    *
    *  - it has min(k, eligible rows) rows, no id twice, in (dist, id) order;
    *    with `mayUnderfill` an approximate answer may have fewer rows (the
    *    engine's one-shot filtered HNSW rewrite, documented to underfill);
    *    the missing rows then count against recall, not as a failure;
    *  - every id is eligible (`lookup` gives the row's current vector, or
    *    the reason it may not be returned: filtered out, tombstoned);
    *  - every distance equals the plain-Scala distance to that vector
    *    exactly (an old version of an updated id fails here: `updated`);
    *  - with `exact`, the answer equals the brute-force top-k.
    */
  def topk(rows: Seq[(Long, Double)], q: Array[Float], truth: Array[(Double, Long)],
      k: Int, lookup: Long => Either[String, Array[Float]],
      updated: Long => Boolean = _ => false, exact: Boolean = false,
      mayUnderfill: Boolean = false): Option[String] = {
    val want = truth.length
    val underfill = mayUnderfill && !exact && rows.length < want
    if (rows.length != want && !underfill) return Some(s"${rows.length} rows, expected $want")
    if (rows.map(_._1).distinct.length != rows.length) return Some("duplicate id")
    val ordered = rows.zip(rows.drop(1)).forall { case ((i1, d1), (i2, d2)) =>
      d1 < d2 || (d1 == d2 && i1 < i2) }
    if (!ordered) return Some("rows not in (dist, id) order")
    rows.foreach { case (id, d) =>
      lookup(id) match {
        case Left(reason) => return Some(reason)
        case Right(v) =>
          val e = Truth.l2sq(q, v)
          if (e != d) return Some(
            if (updated(id)) s"shadowed id $id (stale version)"
            else s"distance of id $id is $d, expected $e")
      }
    }
    if (exact && rows.map(_._2) != truth.map(_._1).toSeq)
      return Some("exact answer differs from brute force")
    None
  }
}
