package graft.text

import graft.sim.Blocking
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import scala.util.hashing.MurmurHash3

/** Near-duplicate detection kernels for web-scale corpora — the same
  * typed-mapPartitions pattern as the extraction stage: per-doc CPU kernels
  * compute compact signatures, then [[graft.sim.Blocking]] turns shared
  * band keys into candidate pairs, so the shuffle moves signatures
  * (bytes/doc), never documents. Each detector supplies only its key and
  * its verifier.
  *
  * - MinHash + LSH banding: shingle → 64 permutations → `Bands` band hashes;
  *   docs sharing a band bucket are candidates; exact Jaccard over the
  *   distinct shingle hashes verifies. Standard Broder/LSH construction.
  * - SimHash: 64-bit near-dup signature; 4×16-bit band trick finds
  *   candidates within small Hamming distance.
  * - Winnowing fingerprints (Schleimer et al., SIGMOD'03): k-gram rolling
  *   hashes, per-window minimum sampling.
  *
  * All hashing is deterministic AND engine-reproducible: seeded MurmurHash3
  * for the MinHash shingle/permutation/band hashes, md5-first-8-bytes for
  * the SimHash token hash, and a base-128 positional code for the winnowing
  * gram key (the latter two chosen so the DuckDB oracle recomputes them).
  */
object NearDup extends Serializable {

  val NumPerms = 64
  val Bands = 8
  val RowsPerBand: Int = NumPerms / Bands

  final case class Fingerprint(doc_id: Long, fp: Long)

  private def hash64(s: String, seed: Int): Long = {
    val h1 = MurmurHash3.stringHash(s, seed)
    val h2 = MurmurHash3.stringHash(s, seed ^ 0x5bd1e995)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  def tokensOf(text: String): Array[String] =
    text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)

  def shingleHashes(text: String, n: Int = 3): Array[Long] = {
    val ts = tokensOf(text)
    if (ts.length < n) Array.empty
    else Array.tabulate(ts.length - n + 1)(i =>
      hash64(ts.slice(i, i + n).mkString(" "), 0x9747b28c))
  }

  /** (a, b) multipliers of the 64 permutation functions, seeded. */
  private lazy val perms: Array[(Long, Long)] = {
    val rng = new java.util.Random(42)
    Array.fill(NumPerms)((rng.nextLong() | 1L, rng.nextLong()))
  }

  def minhashSignature(text: String): Array[Long] = {
    val hs = shingleHashes(text)
    val sig = Array.fill(NumPerms)(Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var p = 0
      while (p < NumPerms) {
        val v = perms(p)._1 * h + perms(p)._2
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    sig
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 8 bytes of md5(s), big-endian. The simhash token hash uses md5
    * rather than a seeded murmur so the signature is exactly recomputable by
    * any engine — the DuckDB oracle derives the same 64 bits with
    * `('0x' || substr(md5(t), 1, 16))::UBIGINT` and re-runs the whole
    * banding/capping/Hamming pipeline independently. */
  def md5First64(s: String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  def simhash64(text: String): Long = {
    val counts = new Array[Int](64)
    for (t <- tokensOf(text)) {
      val h = md5First64(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** Base-128 positional code of the k chars at `i` — the Karp-Rabin-style
    * rolling gram key (Schleimer et al. §4 use a rolling hash; a base-128
    * positional code IS one, updatable in O(1), and — unlike a seeded
    * murmur — exactly reproducible by any engine from `ascii(char) % 128`,
    * so the DuckDB oracle can recompute fingerprints independently).
    * k ≤ 9 keeps the value exact in a signed 64-bit integer. */
  def gramKey(s: String, i: Int, k: Int): Long = {
    var h = 0L
    var j = 0
    while (j < k) { h = (h << 7) + (s.charAt(i + j) & 0x7f); j += 1 }
    h
  }

  /** Winnowing: char k-gram rolling hashes, minimum per sliding window
    * (ties → rightmost), distinct. */
  def winnow(text: String, k: Int = 8, window: Int = 4): Array[Long] = {
    val s = text.toLowerCase
    if (s.length < k) return Array.empty
    val grams = Array.tabulate(s.length - k + 1)(i => gramKey(s, i, k))
    if (grams.length <= window) return grams.distinct
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    var w = 0
    while (w + window <= grams.length) {
      var minI = w
      var i = w + 1
      while (i < w + window) { if (grams(i) <= grams(minI)) minI = i; i += 1 }
      out += grams(minI)
      w += 1
    }
    out.toArray
  }

  // ------------------------------------------------------------- DF stages

  /** End-to-end MinHash-LSH near-dup pairs: docs sharing a band bucket are
    * [[graft.sim.Blocking]] candidates, verified by exact Jaccard over
    * their distinct shingle hashes. */
  def minhashDupPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val idText = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .as[(Long, String)]
    // key = (band, band hash); a doc with no shingle has no bands
    val keyed = idText.mapPartitions(_.flatMap { case (id, t) =>
      val sig = minhashSignature(t)
      if (sig.forall(_ == Long.MaxValue)) Iterator.empty
      else (0 until Bands).iterator.map { b =>
        val bandVals = sig.slice(b * RowsPerBand, (b + 1) * RowsPerBand)
        (id, (b, hash64(bandVals.mkString(","), 0xe6546b64 + b)))
      }
    }).toDF("id", "key")
    val shingles = idText.map { case (id, t) => (id, shingleHashes(t).distinct) }
      .toDF("id", "sh")
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    val union = size(array_union(col("sh_a"), col("sh_b")))
    // ANSI division throws on zero: an empty union scores 0
    Blocking.withPayload(Blocking.pairs(keyed), shingles, "id", "sh")
      .select(col("a"), col("b"),
        when(union === 0, lit(0.0)).otherwise(inter / union).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash near-dup pairs: an equal 16-bit band makes a
    * [[graft.sim.Blocking]] candidate, Hamming ≤ maxHamming verifies (the
    * 4-band pigeonhole makes this complete for Hamming ≤ 3, provided the
    * band block survives the size cap). The signature is the codegen'd
    * [[graft.functions.SimHash64Expr]]. */
  def simhashDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // token-free docs (no [a-z0-9] after lowering) all collapse to sig 0 —
    // not meaningful near-dups; drop them (and keep parity with the oracle,
    // whose token unnest naturally excludes them)
    val sigs = docs.filter(col(textCol).rlike("[a-zA-Z0-9]"))
      .select(col(idCol).cast("long").as("id"),
        graft.functions.SimHash64Expr.simhash64(col(textCol)).as("sig"))
      .localCheckpoint()
    val keyed = sigs.select(col("id"), explode(array((0 until 4).map(b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xffffL)).as("band_val"))
    ): _*)).as("key"))
    Blocking.withPayload(Blocking.pairs(keyed), sigs, "id", "sig")
      .select(col("a"), col("b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Winnowing fingerprints table. */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): Dataset[Fingerprint] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, t) => winnow(t).iterator.map(Fingerprint(id, _)) })
  }
}
