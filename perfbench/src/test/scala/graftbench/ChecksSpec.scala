package graftbench

import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {
  private val dict = Gen.vocab(5, 2000, 8000, 0)
  private val amb = Gen.vocab(5, 2000, 8000, 40)

  test("exact view: passes on the planted set, fails on one dropped triple") {
    assert(Checks.exactView(dict.expectedView, dict).isEmpty)
    val dropped = dict.expectedView - dict.expectedView.head
    assert(Checks.exactView(dropped, dict).exists(_.contains("missing")))
  }

  test("exact view: fails on one extra triple") {
    val (s, p, o) = dict.expectedView.head
    assert(Checks.exactView(dict.expectedView + ((o, p, s)) - ((s, p, o)), dict).nonEmpty)
  }

  private def ambiguousTriple = {
    val t = amb.triples.find(t => amb.sibling(t.subj).isDefined).get
    (t.subj, Gen.normPred(t.pred), t.obj)
  }

  test("ambiguous view: a sibling swap passes, a non-sibling swap fails") {
    val (s, p, o) = ambiguousTriple
    val swapped = amb.expectedView + ((amb.sibling(s).get, p, o))
    assert(Checks.ambiguousView(swapped, amb).isEmpty)
    val stranger = amb.concepts.find(n => n != s && !amb.sibling(s).contains(n)).get
    val bad = amb.expectedView + ((stranger, p, o))
    assert(Checks.ambiguousView(bad, amb).exists(_.contains("not sibling swaps")))
  }

  test("ambiguous view: one dropped triple fails recall") {
    val dropped = amb.expectedView - ambiguousTriple
    assert(Checks.ambiguousView(dropped, amb).exists(_.contains("recall")))
  }

  test("added keys: exactly once with every add counted") {
    val k1 = (1L, 2L, "bench_rel_0")
    val k2 = (3L, 4L, "bench_rel_1")
    val adds = Map(k1 -> 2, k2 -> 1)
    assert(Checks.addedKeys(Seq(k1 -> 2L, k2 -> 1L), adds).isEmpty)
    assert(Checks.addedKeys(Seq(k1 -> 2L, k1 -> 2L, k2 -> 1L), adds).nonEmpty) // duplicated
    assert(Checks.addedKeys(Seq(k1 -> 2L), adds).nonEmpty)                     // lost
    assert(Checks.addedKeys(Seq(k1 -> 1L, k2 -> 1L), adds).nonEmpty)           // one add unmerged
  }

  test("ingests: a duplicated or lost micro-batch fails") {
    val expected = Seq(400L, 410L, 395L)
    assert(Checks.ingests(expected, expected).isEmpty)
    assert(Checks.ingests(expected, Seq(400L, 820L, 395L)).nonEmpty)
    assert(Checks.ingests(expected, Seq(400L, 0L, 395L)).nonEmpty)
    assert(Checks.ingests(expected, expected.take(2)).nonEmpty)
  }
}
