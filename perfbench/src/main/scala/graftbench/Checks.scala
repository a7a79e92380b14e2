package graftbench

/** Output checks. Each returns the list of problems found; empty = pass. */
object Checks {

  type ViewRow = (String, String, String)

  private def show(rows: Iterable[ViewRow], n: Int = 3): String =
    rows.take(n).mkString(", ") + (if (rows.size > n) s" … (${rows.size})" else "")

  /** build_dict: the triples view equals the planted set exactly. */
  def exactView(view: Set[ViewRow], v: Vocab): Seq[String] = {
    val want = v.expectedView
    val missing = want -- view
    val extra = view -- want
    Seq(
      Option.when(missing.nonEmpty)(s"missing planted triples: ${show(missing)}"),
      Option.when(extra.nonEmpty)(s"unplanted triples: ${show(extra)}")).flatten
  }

  /** build_ambiguous: every planted triple is present, and every extra
    * triple is a planted one with one or both ambiguous endpoints swapped
    * for the acronym sibling (a contextual mislink, not a wrong triple). */
  def ambiguousView(view: Set[ViewRow], v: Vocab): Seq[String] = {
    val want = v.expectedView
    val missing = want -- view
    def variants(name: String): Seq[String] = name +: v.sibling(name).toSeq
    val notSwaps = (view -- want).filterNot { case (s, p, o) =>
      variants(s).exists(s0 => variants(o).exists(o0 => want.contains((s0, p, o0))))
    }
    Seq(
      Option.when(missing.nonEmpty)(s"recall < 1, missing: ${show(missing)}"),
      Option.when(notSwaps.nonEmpty)(s"extras that are not sibling swaps: ${show(notSwaps)}")
    ).flatten
  }

  /** kg_ops: the merged edges view holds each added key exactly once, and
    * its n_obs counts every add of that key.
    * @param merged the merged view's rows for the added preds:
    *   (src_id, dst_id, pred) → n_obs, one entry per row
    * @param adds (src_id, dst_id, pred) → number of addEdge calls */
  def addedKeys(merged: Seq[((Long, Long, String), Long)],
      adds: Map[(Long, Long, String), Int]): Seq[String] = {
    val rows = merged.groupBy(_._1)
    adds.toSeq.sortBy(_._1.toString).flatMap { case (k, n) =>
      rows.get(k) match {
        case None => Some(s"added key $k missing from the merged edges view")
        case Some(rs) if rs.size != 1 => Some(s"added key $k appears ${rs.size} times")
        case Some(Seq((_, nObs))) if nObs != n => Some(s"added key $k has n_obs $nObs, added $n times")
        case _ => None
      }
    } ++ rows.keys.filterNot(adds.contains).map(k => s"key $k was never added")
  }

  /** kg_ops: each ingest wrote exactly the rows the batch kernel
    * (`Extract.docTriples`) yields on the same docs — no micro-batch lost
    * or written twice. */
  def ingests(expected: Seq[Long], written: Seq[Long]): Seq[String] =
    if (expected.size != written.size)
      Seq(s"${written.size} ingests measured for ${expected.size} batches")
    else expected.zip(written).zipWithIndex.collect { case ((e, w), i) if e != w =>
      s"ingest $i wrote $w rows, batch kernel yields $e"
    }
}
