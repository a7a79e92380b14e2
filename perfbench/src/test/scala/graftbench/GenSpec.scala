package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def corpus(seed: Long, ambiguous: Int) = {
    val v = Gen.vocab(seed, 2000, 8000, ambiguous)
    (v, (0L until 200L).map(i => Gen.doc(v, seed, i)))
  }

  test("the same seed gives the same vocabulary and docs") {
    assert(corpus(7, 40) == corpus(7, 40))
  }

  test("a different seed gives different output") {
    val (v1, d1) = corpus(7, 0)
    val (v2, d2) = corpus(8, 0)
    assert(v1.concepts != v2.concepts)
    assert(v1.triples != v2.triples)
    assert(d1 != d2)
  }

  test("vocabulary sizes and ambiguity are as asked") {
    val (d, _) = corpus(3, 0)
    val (a, _) = corpus(3, 40)
    for (v <- Seq(d, a)) {
      assert(v.concepts.size == 2000 && v.triples.size == 8000)
      assert(v.triples.forall(t => t.subj != t.obj))
    }
    assert(d.ambiguous.isEmpty)
    assert(d.aliases.groupBy(_.alias).forall(_._2.size == 1), "build_dict has an ambiguous alias")
    assert(a.ambiguous.size == 40 && a.ambiguous.values.forall(_.size == 2))
    assert(a.aliases.groupBy(_.alias).count(_._2.size > 1) == 40)
    assert(!a.aliases.exists(_.alias == a.ccBait.toLowerCase), "cc-bait lowercase alias not withheld")
  }

  test("no filler, template or bait text contains a predicate") {
    val texts = Gen.Fillers ++ Gen.GenericPreds ++ Gen.InvalidNames ++
      Seq("It is documented that", "according to the survey")
    for (t <- texts; p <- Gen.Preds)
      assert(!s" $t ".contains(s" $p "), s"'$t' contains predicate '$p'")
  }

  test("docs carry every bait class and the planted triple of their index") {
    val (v, docs) = corpus(11, 40)
    val texts = docs.flatMap(_.spans.filter(_.kind == "text").map(_.text))
    assert(docs.forall(d => d.spans.head.kind == "media" || d.spans.head.kind == "text"))
    assert(docs.exists(_.spans.exists(_.kind == "media")))
    assert(Gen.GenericPreds.exists(g => texts.exists(_.contains(s" $g "))))
    assert(Gen.InvalidNames.exists(n => texts.exists(_.startsWith(n + " "))))
    assert(texts.exists(_.startsWith(v.ccBait.toLowerCase + " ")))
    assert(v.acronyms.values.exists(a => texts.exists(_.contains(a + " "))))
    docs.zipWithIndex.foreach { case (d, i) =>
      val t = v.triples(i % v.triples.size)
      assert(d.spans.exists(_.text.contains(s"${t.subj} ${t.pred} ${t.obj}")))
    }
    val amb = (0L until 2000L).flatMap(i => Gen.ambiguousMentions(v, 11, i))
    assert(amb.nonEmpty && amb.forall(m => v.ambiguous(m.surface).contains(m.planted)))
  }
}
