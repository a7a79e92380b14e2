package graft.corpus

import scala.io.Source

/** What a deterministic corpus is built from: the (subj, pred, obj) triples
  * it plants, the concept names its alias table covers, and the predicate
  * grammar the open extraction path matches (the distinct raw predicates).
  *
  * [[Vocabulary.builtIn]] ships in the jar (`graft/vocabulary.tsv`), so the
  * engine builds its default corpus without reading anything outside the
  * classpath. It is sized like the reference's export (78 names, 167
  * triples, 88 raw predicates) and keeps the export's bait classes:
  *  - multi-word names with unique acronyms (two names that share one,
  *    "Gradient Descent" and "Graph Databases", get none);
  *  - one nested name pair, "Neural Networks" inside "Convolutional Neural
  *    Networks";
  *  - predicates with spaces and with case variants ("Subset Of",
  *    "subset of", "SubsetOf"), every triple still distinct under
  *    [[Golden.normPred]];
  *  - single-word names, "Statistics" and "Internet" among them.
  */
final case class Vocabulary(triples: Vector[GoldenTriple], names: Vector[String]) {
  def preds: Vector[String] = triples.map(_.pred).distinct

  /** The triples view a correct build produces: (subj, pred_norm, obj). */
  def normalizedTriples: Set[(String, String, String)] =
    triples.map(t => (t.subj, Golden.normPred(t.pred), t.obj)).toSet
}

object Vocabulary {
  /** The `Pipeline.Conf.goldenDir` value that selects [[builtIn]]. */
  val BuiltIn = ""

  /** The vocabulary shipped in the jar: its triples sorted and distinct,
    * its names their distinct endpoints. */
  lazy val builtIn: Vocabulary = {
    val src = Source.fromResource("graft/vocabulary.tsv", getClass.getClassLoader)("UTF-8")
    val ts = try src.getLines().filter(l => l.trim.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(s, p, o) = l.split('\t')
      GoldenTriple(s, p, o)
    }.toVector.distinct.sortBy(t => (t.subj, t.pred, t.obj))
    finally src.close()
    Vocabulary(ts, ts.flatMap(t => Seq(t.subj, t.obj)).distinct.sorted)
  }

  /** [[builtIn]] for [[BuiltIn]]; else the directory `dir`, read in the
    * reference export's shape ([[Golden]]). */
  def at(dir: String): Vocabulary =
    if (dir == BuiltIn) builtIn else Vocabulary(Golden.triples(dir), Golden.nodeNames(dir))

  /** The predicate grammar of [[at]]`(dir)`; a directory needs only its
    * `Edge_Details.json`. */
  def grammar(dir: String): Vector[String] =
    if (dir == BuiltIn) builtIn.preds else Golden.triples(dir).map(_.pred).distinct
}
