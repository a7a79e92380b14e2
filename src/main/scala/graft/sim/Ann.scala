package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * - Brute-force cosine top-k: the correctness baseline. The dot product is
  *   `aggregate(zip_with(...))` — Catalyst higher-order functions, fully
  *   codegen'd, no UDF. Queries are a broadcast side.
  * - LSH-bucketed (random hyperplane signs) variant: the scale path — only
  *   same-bucket (± Hamming-1 probes) candidates get exact scoring, so the
  *   full N×Q cross product never materializes.
  */
object Ann {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Cosine rounded to 5 dp — ties and rounding the SQL oracles reproduce. */
  private def cos5(a: Column, b: Column): Column =
    round(dot(a, b) / (norm(a) * norm(b)), 5)

  /** The k best `(query_id, vec_id, cos5)` rows per query, id tie-break. */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos5").desc, col("vec_id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "cos5")

  /** One `(table, bucket)` struct per sign-LSH table of `bitsPerTable`
    * consecutive hyperplanes. */
  private def tableBuckets(v: Column, planes: Array[Array[Double]], nTables: Int,
      bitsPerTable: Int): Column =
    array((0 until nTables).map { t =>
      val tp = planes.slice(t * bitsPerTable, (t + 1) * bitsPerTable)
      struct(lit(t).as("table"), bucketOf(v, tp).as("bucket"))
    }: _*)

  /** Exact cosine top-k neighbors for the given query ids.
    * Output: (query_id, rank, vec_id, cos5) with cosine rounded to 5 dp and
    * id tie-breaks — deterministic and engine-reproducible. */
  def bruteTopK(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    topK(e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos5", cos5(col("v"), col("qv"))), k)
  }

  /** Deterministic random hyperplanes (seeded), as a literal array column. */
  def hyperplanes(dim: Int, nPlanes: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new java.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** Sign-LSH bucket id for an embedding column. */
  def bucketOf(v: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val lit_p = array(p.map(x => lit(x)): _*)
      when(dot(v, lit_p) >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Approximate top-k via MULTI-TABLE sign-LSH (the standard construction:
    * L independent tables of `bitsPerTable` hyperplane bits; a vector is a
    * candidate if it collides with the query in ANY table). Exact cosine
    * runs on candidates only — the N×Q cross product never materializes.
    * Recall ≈ 1-(1-p^bits)^L with p = 1-θ/π. Output shape matches
    * [[bruteTopK]].
    *
    * Scale guards: `bitsPerTable` defaults to 16 (65536 buckets/table —
    * expected occupancy N/2^16, so candidates stay a vanishing fraction of
    * N; size bits to ~log2(N) - log2(wanted bucket size) for other corpora)
    * and each (table, bucket) contributes at most `maxBucket` corpus vectors
    * (deterministic keep-lowest-vec_id rank), so a hot bucket — a dense
    * region of embedding space — cannot re-grow the cross product. Queries
    * look up their own bucket UNCAPPED, so a query inside a hot bucket still
    * probes it. */
  def lshTopK(emb: DataFrame, queryIds: Seq[Long], k: Int, dim: Int,
      nTables: Int = 8, bitsPerTable: Int = 16, maxBucket: Int = 256): DataFrame = {
    val planes = hyperplanes(dim, nTables * bitsPerTable)
    val e0 = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    // SLIM signature rows (vec_id, table, bucket) — the per-bucket cap
    // window and the bucket join shuffle ~24-byte rows, never the vector
    // payload; vectors are joined back ONLY for surviving candidates (one
    // corpus-payload shuffle total, vs nTables× when v rides the window)
    val banded = e0.select(col("vec_id"),
        explode(tableBuckets(col("v"), planes, nTables, bitsPerTable)).as("tb"))
      .select(col("vec_id"), col("tb.table").as("table"), col("tb.bucket").as("bucket"))
    val q = banded.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("table"), col("bucket"))
    val eCapped = banded.withColumn("bucket_rank", row_number().over(
        Window.partitionBy(col("table"), col("bucket")).orderBy(col("vec_id").asc)))
      .filter(col("bucket_rank") <= maxBucket).drop("bucket_rank")
    val cand = eCapped.join(broadcast(q), Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct() // union over tables
    val qv = e0.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    topK(cand.join(e0, Seq("vec_id")).join(broadcast(qv), Seq("query_id"))
      .withColumn("cos5", cos5(col("v"), col("qv"))), k)
  }

  /** Embedding-cosine near-duplicate pairs — the embedding counterpart of
    * `NearDup.minhashDupPairs`: vectors sharing a multi-table sign-LSH
    * bucket are [[Blocking]] candidates, verified by exact cosine. The
    * all-pairs N² product never materializes. */
  def cosineDupPairs(emb: DataFrame, dim: Int, threshold: Double,
      nTables: Int = 16, bitsPerTable: Int = 8): DataFrame = {
    val planes = hyperplanes(dim, nTables * bitsPerTable)
    val e0 = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val keyed = e0.select(col("vec_id").as("id"),
      explode(tableBuckets(col("v"), planes, nTables, bitsPerTable)).as("key"))
    Blocking.withPayload(Blocking.pairs(keyed), e0, "vec_id", "v")
      .select(col("a"), col("b"), cos5(col("v_a"), col("v_b")).as("cos5"))
      .filter(col("cos5") >= threshold)
  }

  // ------------------------------------------------------------------- IVF

  /** Centroids are a MODEL (k×dim doubles), not data: collect them to the
    * driver so assignment can be a map-only projection. */
  private def collectCentroids(cents: DataFrame): Array[(Int, Array[Double])] =
    cents.select(col("cid").cast("int"), col("c").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  /** Map-only nearest-centroid id for a vector column. The argmin of
    * L2² = |v|²+|c|²−2v·c over centroids is invariant to the per-row
    * constant |v|², so the score is the SHIFTED form |c|²−2v·c — the k−1
    * redundant |v|² folds per row disappear entirely (an earlier hoist of
    * |v|² into a column was undone by CollapseProject inlining it back
    * into the lambda, where higher-order functions re-evaluate it per
    * centroid). |c|² is a driver-computed literal (left-to-right
    * summation, bit-identical to the Catalyst fold). The SQL oracles rank
    * by the SAME shifted expression, so tie behavior stays aligned by
    * construction. Argmin via `array_min` over (score, cid) structs —
    * lexicographic struct ordering IS the lowest-cid tie-break. The
    * centroids ride in the plan as literals, so the corpus is never
    * shuffled and never crossed with a k-row side. */
  private def nearestCid(v: Column, cents: Array[(Int, Array[Double])]): Column = {
    require(cents.nonEmpty, "no centroids")
    val centsCol = array(cents.map { case (cid, c) =>
      struct(lit(cid).as("cid"), lit(normSq(c)).as("cc"),
        array(c.map(x => lit(x)): _*).as("c"))
    }: _*)
    val scored = transform(centsCol, ct =>
      struct(
        (ct.getField("cc") - lit(2.0) * dot(v, ct.getField("c"))).as("d2"),
        ct.getField("cid").as("cid")))
    array_min(scored).getField("cid")
  }

  private def normSq(c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    s
  }

  private def withCid(e: DataFrame, cents: Array[(Int, Array[Double])]): DataFrame =
    e.withColumn("cid", nearestCid(col("v"), cents))

  /** Deterministic sample-based seed selection — ONE corpus job, job count
    * independent of k. The corpus is ranked by md5(vec_id) (uniform,
    * engine-reproducible hash order) and the top `sampleSize` vectors are
    * collected to the driver (model-scale), where farthest-first traversal
    * (Gonzalez 1985) picks k spread seeds: c₁ = lowest vec_id in the
    * sample, each next seed maximizes the distance to its nearest chosen
    * seed (lowest-vec_id tie-break). cid = rank of the seed's vec_id.
    *
    * Replaces farthest-first over the FULL corpus (k−1 sequential
    * corpus-wide jobs, each shuffling every (vec_id, v) through a groupBy —
    * at 10⁹ vectors that never finishes); on the sample the same traversal
    * is a driver loop over sampleSize×k distance evaluations. */
  def ivfSeeds(emb: DataFrame, k: Int, sampleSize: Int = 4096): DataFrame = {
    require(k >= 1, "k must be positive")
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .filter(col("v").isNotNull) // null vectors have no distance — not seedable
    val sample = e
      .orderBy(md5(col("vec_id").cast("string")).asc, col("vec_id").asc)
      .limit(math.max(k, sampleSize))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(sample.nonEmpty, "ivfSeeds: empty corpus")
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val kk = math.min(k, sample.length)
    val chosen = Array.fill(kk)(-1)
    chosen(0) = sample.indices.minBy(i => sample(i)._1)
    val dmin = sample.map(s => d2(s._2, sample(chosen(0))._2))
    var c = 1
    while (c < kk) {
      // argmax of dmin, lowest-vec_id tie-break
      var best = -1
      var i = 0
      while (i < sample.length) {
        if (best < 0 || dmin(i) > dmin(best) ||
          (dmin(i) == dmin(best) && sample(i)._1 < sample(best)._1)) best = i
        i += 1
      }
      chosen(c) = best
      i = 0
      while (i < sample.length) {
        val d = d2(sample(i)._2, sample(best)._2)
        if (d < dmin(i)) dmin(i) = d
        i += 1
      }
      c += 1
    }
    val spark = emb.sparkSession
    val rows = chosen.map(sample(_)).sortBy(_._1).zipWithIndex
      .map { case ((_, v), cid) => (cid, v.toSeq) }.toSeq
    spark.createDataFrame(rows).toDF("cid", "c")
  }

  /** One Lloyd round over the full corpus: map-only nearest-centroid
    * assignment + ONE aggregate whose shuffle carries k×dim partial sums
    * per partition ([[graft.functions.VectorSum]], map-side combined) — no
    * posexplode, no (cid, pos) corpus×dim shuffle. Empty cells drop (as in
    * classic Lloyd). Returns (cid, n, c). */
  def lloydRound(emb: DataFrame, cents: DataFrame): DataFrame = {
    import graft.functions.VectorSum.vector_sum
    // null embeddings are excluded BEFORE assignment: a null vector has no
    // nearest cell (its shifted-L2 score is null, so array_min's pick would
    // be arbitrary), and counting it in `n` while vector_sum skips it would
    // deflate the cell mean — n must count exactly the summed rows
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .filter(col("v").isNotNull)
    withCid(e, collectCentroids(cents))
      .groupBy("cid")
      .agg(vector_sum(col("v")).as("s"), count(lit(1)).as("n"))
      .select(col("cid"), col("n"),
        transform(col("s"), x => x / col("n")).as("c"))
  }

  /** IVF coarse quantizer training: deterministic Lloyd k-means —
    * [[ivfSeeds]] sample-based seeding (one corpus pass) + `iters` rounds of
    * [[lloydRound]] (one corpus pass each; each round's k×dim output is
    * collected as the next round's model). Total corpus passes = iters + 1,
    * independent of k. Returns (cid INT, c ARRAY<DOUBLE>) — persist it once
    * and reuse (centroids are a model, not a per-query computation). */
  def ivfTrain(emb: DataFrame, k: Int, iters: Int = 5,
      sampleSize: Int = 4096): DataFrame =
    ivfTrainFrom(emb, ivfSeeds(emb, k, sampleSize), iters)

  /** Lloyd training from an explicit seed model — used when the seeds are
    * persisted separately (fixtures, warm restarts), so seeding never runs
    * twice and the persisted seeds are BY CONSTRUCTION the ones the
    * centroids descend from. */
  def ivfTrainFrom(emb: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    var cents = seeds
    for (_ <- 1 to iters)
      cents = lloydRound(emb, cents).select("cid", "c").localCheckpoint()
    cents
  }

  /** Nearest-centroid assignment: (vec_id, v, cid) — the map-only
    * [[nearestCid]] projection (the previous form shuffled every corpus row
    * through a row_number window on vec_id). */
  def assignCells(e: DataFrame, cents: DataFrame): DataFrame =
    withCid(e.filter(col("v").isNotNull), collectCentroids(cents))
      .select(col("vec_id"), col("v"), col("cid"))

  /** IVF search: probe the `nprobe` cells nearest each query, exact-score
    * only vectors in probed cells. Output shape matches [[bruteTopK]].
    * At scale the corpus assignment is computed once (with the centroids)
    * and the per-query work is nprobe/k of a full scan. */
  def ivfTopK(emb: DataFrame, centroids: DataFrame, queryIds: Seq[Long],
      k: Int, nprobe: Int): DataFrame = {
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cents = centroids.select(col("cid"), col("c").cast("array<double>").as("c"))
    val assigned = assignCells(e, cents).drop("v")
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    // shifted-L2 ranking (|c|²−2q·c): |q|² is constant per query, so the
    // probe order is identical — same form as nearestCid and the oracle
    val probed = q.crossJoin(broadcast(cents))
      .withColumn("d2",
        dot(col("c"), col("c")) - lit(2.0) * dot(col("qv"), col("c")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("d2").asc, col("cid").asc)))
      .filter(col("rk") <= nprobe)
      .select(col("query_id"), col("qv"), col("cid"))
    topK(probed.join(assigned, Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(e, Seq("vec_id"))
      .withColumn("cos5", cos5(col("v"), col("qv"))), k)
  }
}
