package graft

import graft.sim.Blocking
import org.scalacheck.Gen

class BlockingSpec extends SparkSuite {
  import spark.implicits._

  /** Driver reference: every pair of distinct ids within a block of 2 to
    * MaxBucket distinct ids, each pair once. */
  private def oracle(rows: Seq[(Long, Int)]): Set[(Long, Long)] =
    rows.groupBy(_._2).values.map(_.map(_._1).distinct.sorted)
      .filter(ids => ids.length >= 2 && ids.length <= Blocking.MaxBucket)
      .flatMap(_.combinations(2).map(c => (c(0), c(1)))).toSet

  test("pairs equals a driver oracle: repeated (id, key) rows, blocks of 1, 64 and 65 ids") {
    // small id and key ranges make blocks overlap, so one pair is often
    // found in several blocks; three extra blocks sit at the cap's edges
    val gen = for {
      nKeys <- Gen.choose(1, 12)
      rows <- Gen.listOfN(120, Gen.zip(Gen.choose(0L, 40L), Gen.choose(0, nKeys - 1)))
      one <- Gen.choose(0L, 200L)
      full <- Gen.pick(Blocking.MaxBucket, 0L to 200L)
      over <- Gen.pick(Blocking.MaxBucket + 1, 0L to 200L)
    } yield rows ++ rows.take(10) ++ Seq((one, 100)) ++
      full.map(i => (i, 101)) ++ over.map(i => (i, 102))
    Check.samples(gen, 10).foreach { rows =>
      val got = Blocking.pairs(rows.toDF("id", "key")).as[(Long, Long)].collect()
      assert(got.length == got.distinct.length, "pairs must be distinct")
      val want = oracle(rows)
      assert(want.size >= Blocking.MaxBucket * (Blocking.MaxBucket - 1) / 2)
      assert(got.toSet == want)
    }
  }

  test("withPayload joins each side's payload as p_a and p_b") {
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("a", "b")
    val payload = Seq((1L, "x"), (2L, "y")).toDF("id", "p")
    val got = Blocking.withPayload(pairs, payload, "id", "p")
      .select("a", "b", "p_a", "p_b").as[(Long, Long, String, String)].collect()
    assert(got.toSeq == Seq((1L, 2L, "x", "y"))) // 3 has no payload row
  }
}
