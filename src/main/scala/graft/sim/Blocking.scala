package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Candidate-pair generation for the near-duplicate joins, after SparkER
  * (PAPERS.md, EDBT 2019): blocking → block purging → pair comparison. A
  * caller keys its ids by a block column (a MinHash band, a SimHash band, a
  * sign-LSH table bucket), [[pairs]] purges and enumerates the blocks, and
  * [[withPayload]] brings each side's signature to the caller's verifier.
  */
object Blocking {

  /** Largest block that yields pairs: a hot key (boilerplate text, a dense
    * region of embedding space) would make its pairs quadratic, so a larger
    * block is dropped whole, and exact dedup catches its identical core. */
  val MaxBucket = 64

  /** Distinct `(a, b)`, `a < b`, of ids sharing a block of 2 to
    * [[MaxBucket]] distinct ids; `keyed` has columns `(id, key)`. One
    * aggregate collects each block's id set (a hot block costs its id set,
    * never its pairs), a surviving block's pairs are enumerated in place,
    * and one `distinct` merges the pairs that several blocks share. */
  def pairs(keyed: DataFrame): DataFrame =
    keyed.groupBy(col("key")).agg(collect_set(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, MaxBucket))
      .select(explode(flatten(transform(col("ids"), a =>
        transform(filter(col("ids"), b => b > a), b => struct(a.as("a"), b.as("b"))))))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()

  /** `pairs` with the payload column `p` of each side joined on as `p_a`
    * and `p_b`; `payload` holds one row per `id`. */
  def withPayload(pairs: DataFrame, payload: DataFrame, id: String, p: String): DataFrame = {
    def side(s: String) = payload.select(col(id).as(s), col(p).as(s"${p}_$s"))
    pairs.join(side("a"), "a").join(side("b"), "b")
  }
}
