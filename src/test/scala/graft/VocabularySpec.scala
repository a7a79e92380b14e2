package graft

import graft.corpus.{DeterministicCorpus, Golden, Vocabulary}
import graft.run.Pipeline
import org.scalatest.funsuite.AnyFunSuite

/** The built-in vocabulary keeps the export's bait classes, and nothing in
  * the corpus text can be mistaken for a mention or a predicate. */
class VocabularySpec extends AnyFunSuite {
  private val v = Vocabulary.builtIn
  private val Seed = "Artificial Intelligence"

  private def isWord(c: Char) = c.isLetterOrDigit && c < 128
  /** `needle` occurs in `hay` at ASCII word boundaries (the matchers' rule). */
  private def bounded(needle: String, hay: String): Boolean =
    Iterator.iterate(hay.indexOf(needle))(i => hay.indexOf(needle, i + 1))
      .takeWhile(_ >= 0).exists { i =>
        (i == 0 || !isWord(hay(i - 1))) &&
          (i + needle.length == hay.length || !isWord(hay(i + needle.length)))
      }

  test("sized like the export; one node per name, one edge per normalized triple") {
    assert(v.names.size == 78 && v.triples.size == 167 && v.preds.size == 88)
    assert(v.normalizedTriples.size == v.triples.size)
    assert(v.names == v.triples.flatMap(t => Seq(t.subj, t.obj)).distinct.sorted)
    assert(v.triples.forall(t => t.subj != t.obj))
    assert(Pipeline.Conf(workDir = "w").goldenDir == Vocabulary.BuiltIn)
  }

  test("bait classes: acronyms, one nested pair, predicate variants, single words") {
    val acronyms = DeterministicCorpus.aliasRows(v.names, DeterministicCorpus.pickCcBaitName(v.names))
      .filter(_.prior == 0.6).map(r => r.alias -> r.canonical).toMap
    assert(acronyms("AI") == Seed && acronyms("CNN") == "Convolutional Neural Networks")
    assert(!acronyms.contains("GD")) // shared by two names, so withheld
    val nested = for (a <- v.names; b <- v.names if a != b && bounded(a.toLowerCase, b.toLowerCase))
      yield (a, b)
    assert(nested == Seq(("Neural Networks", "Convolutional Neural Networks")))
    val variants = v.preds.groupBy(Golden.normPred).filter(_._2.size > 1)
    assert(variants.contains("subset_of") && variants.contains("application"))
    assert(v.preds.exists(_.contains(' ')))
    assert(Seq("Statistics", "Internet").forall(v.names.contains))
  }

  test("no alias surface occurs in a predicate, filler, template or bait name") {
    val aliases = DeterministicCorpus.aliasRows(v.names, DeterministicCorpus.pickCcBaitName(v.names))
      .map(_.alias)
    val text = v.preds ++ DeterministicCorpus.Fillers ++ DeterministicCorpus.GenericPreds ++
      DeterministicCorpus.InvalidNames ++ Seq("It is documented that", "according to the survey")
    val hits = for (a <- aliases; t <- text if bounded(a, t)) yield (a, t)
    assert(hits.isEmpty)
    // nor a predicate inside a name, which would move the open path's split
    val inNames = for (p <- v.preds; n <- v.names ++ v.names.map(_.toLowerCase)
      if bounded(p, n)) yield (p, n)
    assert(inNames.isEmpty)
  }

  test("a BFS from the seed reaches every name") {
    val out = v.triples.groupMap(_.subj)(_.obj)
    val reached = Iterator.iterate((Set(Seed), Set(Seed))) { case (seen, frontier) =>
      val next = frontier.flatMap(out.getOrElse(_, Nil)) -- seen
      (seen ++ next, next)
    }.dropWhile(_._2.nonEmpty).next()._1
    assert(reached == v.names.toSet)
  }

  test("a missing export fails with one plain message") {
    val e = intercept[java.io.FileNotFoundException](Golden.triples("/nonexistent/export"))
    assert(e.getMessage.startsWith("reference export not found at /nonexistent/export"))
  }
}
