package graft

import graft.text.{NearDup, TextOps}
import graft.sim.Ann
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and the cat"),
    (2L, "the quick brown fox jumps over the lazy dog and the cat"), // exact dup of 1
    (3L, "quick brown fox jumps over the lazy dog and the cat"),     // near dup of 1
    (4L, "der hund und die katze und das haus mit garten"),
    (5L, "el gato y los perros con las casas una madre"),
    (6L, "数据 处理 系统"),
    (7L, ""),
    (8L, "completely different text about database systems")
  ).toDF("doc_id", "text")

  test("token count handles empty and multi-space text") {
    val r = Seq((1L, "a  b   c"), (2L, ""), (3L, "  "), (4L, "one"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n"))
      .as[(Long, Int)].collect().toMap
    assert(r == Map(1L -> 3, 2L -> 0, 3L -> 0, 4L -> 1))
  }

  test("exact dedup groups and keeps min id") {
    val groups = TextOps.exactDupGroups(docs, "doc_id", "text")
      .select("n_docs", "min_doc_id").as[(Long, Long)].collect()
    assert(groups.toSeq == Seq((2L, 1L)))
    val kept = TextOps.dedupExact(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L, 5L, 6L, 7L, 8L))
  }

  test("language guess: markers and CJK script") {
    val r = docs.select(col("doc_id"), TextOps.langGuess(col("text")).as("g"))
      .as[(Long, String)].collect().toMap
    assert(r(1L) == "en" && r(4L) == "de" && r(5L) == "es" && r(6L) == "zh")
    assert(r(7L) == "en") // zero scores everywhere → priority order → en
  }

  test("quality buckets") {
    val q = TextOps.quality(Seq(
        (1L, "ok"), (2L, "a b c d e f g h with the and of it"),
        (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
        (4L, "a!?.. b,;: c!!!! d.... e??")).toDF("doc_id", "text"),
      "doc_id", "text")
      .select("doc_id", "quality_bucket").as[(Long, Int)].collect().toMap
    assert(q == Map(1L -> 0, 2L -> 3, 3L -> 2, 4L -> 1))
  }

  test("ngram overlap counts exact and near dup pairs") {
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 8L)).toDF("a", "b")
    val r = TextOps.ngramOverlap(docs, pairs, "doc_id", "text")
      .select("a", "b", "n_common", "n_a", "n_b")
      .as[(Long, Long, Long, Long, Long)].collect().map(t => (t._1, t._2) -> t).toMap
    assert(r((1L, 2L))._3 == r((1L, 2L))._4) // identical text → full overlap
    assert(r((1L, 3L))._3 > 5)               // near dup → large overlap
    assert(!r.contains((1L, 8L)))            // disjoint → no common shingles row
  }

  test("minhash LSH finds exact and near dups, not unrelated docs") {
    val pairs = NearDup.minhashDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 8L || p._2 == 8L))
  }

  test("simhash: identical docs at hamming 0; near dups close; jaccard verify works") {
    val r = NearDup.simhashDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("a", "b", "hamming").as[(Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(r((1L, 2L)) == 0L)
    assert(NearDup.simhash64("x") == NearDup.simhash64("x"))
  }

  test("winnowing fingerprints: shared fingerprints for near dups") {
    val fp = NearDup.fingerprints(docs, "doc_id", "text").collect()
      .groupBy(_.doc_id).view.mapValues(_.map(_.fp).toSet).toMap
    assert((fp(1L) & fp(2L)) == fp(1L)) // identical docs → identical fps
    assert((fp(1L) & fp(3L)).size > fp(1L).size / 3)
    assert((fp(1L) & fp(8L)).size < 3)
  }

  test("brute cosine top-k is exact and deterministic; LSH recall is decent") {
    val rng = new java.util.Random(7)
    val emb = (0L until 100L).map(i =>
      (i, Array.fill(16)(rng.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val brute = Ann.bruteTopK(emb, Seq(0L, 1L), 5)
      .select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect().toSet
    assert(brute.size == 10)
    val brute2 = Ann.bruteTopK(emb, Seq(0L, 1L), 5)
      .select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect().toSet
    assert(brute == brute2)
    // bits sized to the corpus: ~log2(N) - log2(bucket) → 4 bits at N=100
    val lsh = Ann.lshTopK(emb, Seq(0L, 1L), 5, dim = 16, nTables = 8, bitsPerTable = 4)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val bruteIds = brute.map(t => (t._1, t._3))
    assert((lsh & bruteIds).size >= 5, s"LSH recall too low: ${(lsh & bruteIds).size}/10")
  }

  test("simhash band-bucket cap drops hot buckets (quadratic-blowup guard)") {
    def hot(n: Long) = (0L until n)
      .map(i => (i, "identical boilerplate text shared by every single doc"))
      .toDF("doc_id", "text")
    // n identical docs share every band bucket: at the 64-id cap all
    // 64·63/2 pairs survive, one doc more and every bucket is dropped
    assert(NearDup.simhashDupPairs(hot(100), "doc_id", "text").isEmpty)
    assert(NearDup.simhashDupPairs(hot(65), "doc_id", "text").isEmpty)
    assert(NearDup.simhashDupPairs(hot(64), "doc_id", "text").count() == 2016L)
    // the cap counts distinct ids, not rows: 40 ids, each in two rows (80
    // rows, past a row cap of 64), keep all 40·39/2 pairs
    val twice = hot(40).union(hot(40))
    assert(NearDup.simhashDupPairs(twice, "doc_id", "text").select("a", "b").distinct()
      .count() == 780L)
  }

  test("embedding-cosine near-dup: planted dup found, unrelated vectors not") {
    val rng = new java.util.Random(11)
    val base = (0L until 60L).map(i => (i, Array.fill(16)(rng.nextGaussian().toFloat)))
    val dup = (100L, base(3)._2.map(x => x * 1.0f))              // exact dup of 3
    val near = (101L, base(7)._2.map(x => x + 0.01f))            // near dup of 7
    val emb = (base :+ dup :+ near).toDF("vec_id", "embedding")
    val pairs = Ann.cosineDupPairs(emb, dim = 16, threshold = 0.95,
        nTables = 16, bitsPerTable = 4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((3L, 100L)), pairs.toString)
    assert(pairs.contains((7L, 101L)), pairs.toString)
    assert(pairs.size == 2, pairs.toString) // exact verify kills LSH noise
  }

  test("IVF: k-means centroids converge on separated clusters; search recalls within-cluster") {
    val rng = new java.util.Random(5)
    def cluster(center: Float, n: Int, from: Long) = (0 until n).map(j =>
      (from + j, Array.fill(8)(center + 0.05f * rng.nextGaussian().toFloat)))
    val emb = (cluster(-2f, 30, 0) ++ cluster(0.5f, 30, 100) ++ cluster(3f, 30, 200))
      .toDF("vec_id", "embedding")
    val cents = Ann.ivfTrain(emb, k = 3, iters = 5).localCheckpoint()
    assert(cents.count() == 3)
    // every cluster's members assign to one cell
    val asg = Ann.assignCells(
        emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v")), cents)
      .select("vec_id", "cid").as[(Long, Int)].collect().toMap
    assert((0L until 30L).map(asg).toSet.size == 1)
    assert((200L until 230L).map(asg).toSet.size == 1)
    // nprobe=3 (all cells) must equal brute force exactly
    val ivfAll = Ann.ivfTopK(emb, cents, Seq(0L, 100L), k = 5, nprobe = 3)
      .select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect().toSet
    val brute = Ann.bruteTopK(emb, Seq(0L, 100L), 5)
      .select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect().toSet
    assert(ivfAll == brute)
    // nprobe=1 stays within the query's own (dense) cluster and still
    // finds the same neighbors here (clusters are far apart)
    val ivf1 = Ann.ivfTopK(emb, cents, Seq(0L), k = 5, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(ivf1.forall(_ < 30L), ivf1.toString)
  }

  test("assignCells matches a naive driver-side argmin (literal-plan path, tie-break included)") {
    val rng = new java.util.Random(23)
    val vecs = (0L until 60L).map(i => (i, Array.fill(6)(rng.nextGaussian().toFloat)))
    val emb = vecs.toDF("vec_id", "embedding")
    val seeds = Ann.ivfSeeds(emb, k = 5)
    val cents = seeds.select(col("cid"), col("c"))
      .as[(Int, Seq[Double])].collect().sortBy(_._1)
    val got = Ann.assignCells(
        emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v")), seeds)
      .select("vec_id", "cid").as[(Long, Int)].collect().toMap
    // naive reference: full L2² argmin, lowest-cid tie-break (the shifted
    // score used in the plan must pick the same cell)
    vecs.foreach { case (id, vf) =>
      val v = vf.map(_.toDouble)
      val best = cents.minBy { case (cid, c) =>
        val d2 = v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
        (d2, cid)
      }._1
      assert(got(id) == best, s"vec $id: got ${got(id)}, naive $best")
    }
  }

  test("ivfSeeds equals a naive quadratic farthest-first reference (property, ties included)") {
    import org.scalacheck.Gen
    // integer-grid coordinates force duplicate vectors and exact distance
    // ties, exercising both tie-breaks (lowest-vec_id argmax pick, lowest
    // vec_id first seed); sample sizes straddle the corpus size
    val gen = for {
      n <- Gen.choose(1, 36)
      dim <- Gen.choose(1, 4)
      k <- Gen.choose(1, 8)
      ss <- Gen.oneOf(4, 8, 64)
      vecs <- Gen.listOfN(n, Gen.listOfN(dim, Gen.choose(-2, 2).map(_.toFloat)))
    } yield (k, ss, vecs.zipWithIndex.map { case (v, i) => (i.toLong * 3 + 1, v) })
    Check.samples(gen, 15).foreach { case (k, ss, rows) =>
      val emb = rows.toDF("vec_id", "embedding")
      val got = Ann.ivfSeeds(emb, k, sampleSize = ss)
        .as[(Int, Seq[Double])].collect().sortBy(_._1).toSeq
      val want = naiveFarthestFirst(
        rows.map { case (id, v) => (id, v.map(_.toDouble).toArray) }, k, ss)
      assert(got.map(_._1) == want.map(_._1), s"cids: $got vs $want (k=$k ss=$ss)")
      assert(got.map(_._2.toList) == want.map(_._2.toList),
        s"seed vectors differ (k=$k ss=$ss n=${rows.size})")
    }
  }

  /** Independent quadratic reference for Ann.ivfSeeds: md5-hex-ordered
    * sample, then plain farthest-first (Gonzalez 1985) with lowest-vec_id
    * tie-breaks, cids by seed vec_id rank. */
  private def naiveFarthestFirst(rows: Seq[(Long, Array[Double])], k: Int,
      sampleSize: Int): Seq[(Int, Seq[Double])] = {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val sample = rows.sortBy { case (id, _) => (md5hex(id.toString), id) }
      .take(math.max(k, sampleSize))
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + (a(i) - b(i)) * (a(i) - b(i)))
    val kk = math.min(k, sample.length)
    var chosen = List(sample.minBy(_._1))
    while (chosen.length < kk) {
      val next = sample
        .map(s => (s, chosen.map(c => d2(s._2, c._2)).min))
        .reduceLeft { (a, b) =>
          if (b._2 > a._2 || (b._2 == a._2 && b._1._1 < a._1._1)) b else a
        }._1
      chosen = chosen :+ next
    }
    chosen.sortBy(_._1).zipWithIndex.map { case ((_, v), cid) => (cid, v.toSeq) }
  }

  test("null embeddings are excluded from seeding and Lloyd rounds (no mean deflation)") {
    val rng = new java.util.Random(7)
    val base = (0L until 40L).map(i =>
      (i, Option(Array.fill(4)(rng.nextGaussian().toFloat).toSeq)))
    val embClean = base.toDF("vec_id", "embedding")
    val embNulls = (base ++ Seq((100L, Option.empty[Seq[Float]]),
      (101L, Option.empty[Seq[Float]]))).toDF("vec_id", "embedding")
    val seeds = Ann.ivfSeeds(embClean, k = 4)
    def rounded(emb: org.apache.spark.sql.DataFrame) =
      Ann.lloydRound(emb, seeds)
        .select(col("cid"), col("n"),
          transform(col("c"), x => round(x, 9)).as("c9"))
        .as[(Int, Long, Seq[Double])].collect().sortBy(_._1).toSeq
    // null rows must change NOTHING: not the per-cell counts (they are not
    // assigned) and not the means (they are not averaged in)
    assert(rounded(embNulls) == rounded(embClean))
    // seeding over the null-bearing corpus ignores them too (no NPE, same seeds)
    assert(Ann.ivfSeeds(embNulls, k = 4).as[(Int, Seq[Double])].collect().toSet ==
      seeds.as[(Int, Seq[Double])].collect().toSet)
  }

  test("lsh ANN per-bucket cap bounds candidates; hot-bucket query still probes") {
    val hot = (0L until 80L)
      .map(i => (i, Array.fill(8)(1.0f + 0.001f * i))).toDF("vec_id", "embedding")
    // near-identical directions → one hot bucket per table; cap keeps the
    // 10 lowest vec_ids as candidates, the query (rank 80) still probes
    val ids = Ann.lshTopK(hot, Seq(79L), 5, dim = 8,
        nTables = 2, bitsPerTable = 4, maxBucket = 10)
      .select("vec_id").as[Long].collect().toSet
    assert(ids.nonEmpty && ids.forall(_ < 10L), ids.toString)
  }
}
