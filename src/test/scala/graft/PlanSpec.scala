package graft

import graft.link.EntityLink
import graft.model.RawTriple
import graft.sim.Ann
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the scale properties we rely on must be visible
  * in the plan, not assumed — broadcast joins on dictionary sides, parquet
  * filter/column pushdown, object-hash aggregation for the bounded collect,
  * whole-stage codegen on the hot relational path. */
class PlanSpec extends SparkSuite {
  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("entity linking uses broadcast hash joins (no shuffle join on the corpus side)") {
    val raw = Seq(RawTriple("d1", 0, "A", "P", "B", true, true, "", 1.0)).toDS().toDF()
    val aliases = Seq(("A", "A", 1.0), ("B", "B", 1.0)).toDF("alias", "canonical", "prior")
    val docsText = Seq(("d1", "x")).toDF("doc_id", "text")
    val p = plan(EntityLink.link(spark, raw, aliases, docsText))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "alias join must not shuffle the big side")
  }

  test("parquet scan gets filter and column pushdown") {
    val dir = tmpDir("pq")
    (0 until 1000).map(i => (i.toLong, s"n$i", i % 7)).toDF("id", "name", "grp")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).filter(col("id") > 500).select("id", "name")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,500)]"), scan)
    assert(scan.contains("ReadSchema: struct<id:bigint,name:string>"), scan)
  }

  test("bounded collect aggregates via ObjectHashAggregate (partial + final)") {
    import graft.functions.BoundedCollectList.bounded_collect_list
    val df = Seq((1, "a"), (1, "b"), (2, "c")).toDF("k", "v")
      .groupBy("k").agg(bounded_collect_list(struct(col("v")), 4).as("vs"))
    val p = plan(df)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(countOccurrences(p, "ObjectHashAggregate") >= 2, "partial + final expected:\n" + p)
    assert(df.collect().map(_.getAs[Seq[Any]]("vs").size).sorted.toSeq == Seq(1, 2))
  }

  test("brute ANN plan: broadcast queries, top-k pushed into WindowGroupLimit, no UDFs") {
    val emb = (0L until 50L).map(i => (i, Array.fill(8)(0.1f * i))).toDF("vec_id", "embedding")
    val p = plan(Ann.bruteTopK(emb, Seq(0L), 3))
    // the query side is the broadcast side of the (intended) cross join
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"), p.take(2000))
    // rank<=k is pushed below the shuffle as a partial WindowGroupLimit
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"), p.take(2000))
  }

  test("media decode stage is map-only: no Exchange, no UDF wrapper in the plan") {
    val rows = graft.media.MediaPayloads.table(6).toDF("media_id", "payload")
    val p = plan(graft.media.MediaFeatures.decodeFeatures(rows))
    assert(!p.contains("Exchange"), "payload bytes must not shuffle:\n" + p.take(2000))
    assert(p.contains("MapPartitions"), p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
  }

  test("fused extract→link→pre-aggregate is ONE shuffle: broadcast-only joins, partial+final bounded aggregate") {
    val raw = Seq(
      RawTriple("d1", 0, "A", "P", "B", true, true, "", 1.0),
      RawTriple("d2", 1, "A", "P", "B", true, true, "m", 1.0)).toDS().toDF()
    val aliases = Seq(("A", "A", 1.0), ("B", "B", 1.0)).toDF("alias", "canonical", "prior")
    val docsText = Seq(("d1", "x")).toDF("doc_id", "text")
    val linked = EntityLink.link(spark, raw, aliases, docsText)
    val p = plan(graft.graph.Materialize.preAggregate(linked))
    assert(countOccurrences(p, "ObjectHashAggregate") >= 2, p.take(3000)) // partial+final
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(3000))
    // exactly one CORPUS shuffle: the aggregate's (subj,pred,obj) exchange.
    // (Alias-side split aggregates shuffle too, but those subtrees are
    // dictionary-sized broadcast builds, not corpus data.)
    assert(countOccurrences(p, "Exchange hashpartitioning(subj") == 1, p.take(3000))
    assert(!p.contains("hashpartitioning(doc_id"), "corpus rows must never shuffle by doc")
  }

  test("surface-aggregated fused plan (r07): corpus rows meet only filter + ONE aggregate; alias joins sit above it") {
    val raw = Seq(
      RawTriple("d1", 0, "A", "P", "B", true, true, "", 1.0),
      RawTriple("d2", 1, "a", "P", "B", true, true, "m", 1.0)).toDS().toDF()
    val aliases = Seq(("A", "A", 1.0), ("a", "A", 0.7), ("B", "B", 1.0))
      .toDF("alias", "canonical", "prior")
    val pre = graft.graph.Materialize.preAggregateBySurface(
      raw.filter(graft.extract.Validity.validPred(col("pred"))), aliases)
    val p = plan(pre)
    assert(countOccurrences(p, "ObjectHashAggregate") >= 4, p.take(4000)) // two partial+final pairs
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(4000))
    // the plan string prints top-down (final operators first, scan last):
    // everything BELOW the alias joins — i.e. the corpus-fed subtree — must
    // already contain the surface aggregate, so per-corpus-row work is the
    // filter and ONE aggregate update, never a join probe or validName CASE
    val belowJoins = p.substring(p.lastIndexOf("BroadcastHashJoin"))
    assert(countOccurrences(belowJoins, "ObjectHashAggregate") >= 1, belowJoins.take(3000))
    assert(!belowJoins.contains("RLIKE"),
      "validName must not run on corpus rows:\n" + belowJoins.take(3000))
    // results: variant surfaces 'A'/'a' collapse into one canonical edge
    val rows = pre.collect()
    assert(rows.length == 1 && rows(0).getAs[Long]("n_obs") == 2L)
  }

  test("Pipeline.corpusPlan over a hermetic corpus has the r07 shape: one corpus shuffle, on subj") {
    val c = CorpusFixture.write(spark)
    val p = plan(graft.run.Pipeline.corpusPlan(spark, c,
      spark.read.parquet(graft.run.Pipeline.docsDir(c)),
      spark.read.parquet(graft.run.Pipeline.aliasesPath(c))))
    assert(!p.contains("SortMergeJoin") && !p.contains("hashpartitioning(doc_id"), p.take(6000))
    // top-down below the alias joins sits the corpus-fed subtree: scan →
    // extract → validPred filter → ONE aggregate (partial + final around the
    // only corpus exchange), with no validName RLIKE on corpus rows
    val belowJoins = p.substring(p.lastIndexOf("BroadcastHashJoin"))
    assert(countOccurrences(belowJoins, "ObjectHashAggregate(") == 2, belowJoins.take(6000))
    assert(countOccurrences(belowJoins, "Exchange hashpartitioning(") == 1, belowJoins.take(6000))
    assert(!belowJoins.contains("RLIKE"), belowJoins.take(6000))
    val shape = Seq("ObjectHashAggregate(", "Exchange hashpartitioning(subj", "ObjectHashAggregate(",
      "Filter", "Generate explode(extract_triples", "FileScan parquet [doc_id")
    val at = shape.scanLeft(0)((from, op) => belowJoins.indexOf(op, from)).tail
    assert(at.forall(_ >= 0), shape.zip(at).toString + "\n" + belowJoins.take(6000))
  }

  test("bounded_collect_list keeps exactly the K order-smallest across partitions (heap path)") {
    import graft.functions.BoundedCollectList.bounded_collect_list
    val rng = new scala.util.Random(7)
    val rows = (0 until 5000).map(_ => (rng.nextInt(4), rng.nextInt(1000000)))
    val df = rows.toDF("k", "v").repartition(8)
      .groupBy("k").agg(bounded_collect_list(col("v"), 24).as("vs"))
    val got = df.collect().map(r => r.getInt(0) -> r.getSeq[Int](1).toList).toMap
    val want = rows.groupBy(_._1).map { case (k, vs) =>
      k -> vs.map(_._2).sorted.take(24).toList }
    assert(got == want)
  }

  test("bounded_collect_list struct fast path: K order-smallest structs exact across partitions") {
    // exercises the r07 field-wise compare (full buffer + CreateNamedStruct
    // child) including ties on leading fields and the merge of partials
    import graft.functions.BoundedCollectList.bounded_collect_list
    val rng = new scala.util.Random(11)
    val rows = (0 until 6000).map(_ =>
      (rng.nextInt(3), s"doc-${rng.nextInt(40)}%03d", rng.nextInt(5), s"m${rng.nextInt(3)}"))
    val df = rows.toDF("k", "d", "s", "m").repartition(8)
      .groupBy("k")
      .agg(bounded_collect_list(struct(col("d"), col("s"), col("m")), 24).as("vs"))
    val got = df.collect().map(r => r.getInt(0) ->
      r.getSeq[org.apache.spark.sql.Row](1).map(x =>
        (x.getString(0), x.getInt(1), x.getString(2))).toList).toMap
    val want = rows.groupBy(_._1).map { case (k, vs) =>
      k -> vs.map(v => (v._2, v._3, v._4)).sorted.take(24).toList }
    assert(got == want)
  }

  test("link plan: ambiguity probe is a broadcast automaton filter, NOT a contains-BNLJ corpus scan") {
    val raw = Seq(RawTriple("d1", 0, "X", "P", "B", true, true, "", 1.0)).toDS().toDF()
    // 'X' maps to two canonicals → the ambiguity slow path is IN this plan
    val aliases = Seq(("X", "X1", 0.6), ("X", "X2", 0.4), ("B", "B", 1.0))
      .toDF("alias", "canonical", "prior")
    val docsText = Seq(("d1", "X P B"), ("d2", "nothing here")).toDF("doc_id", "text")
    val linked = EntityLink.link(spark, raw, aliases, docsText)
    val p = plan(linked)
    // one O(text) automaton pass per doc, not one corpus scan per ambiguous
    // alias: no nested-loop join, no Contains predicate anywhere in the plan
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("Contains(text"), p.take(3000))
    assert(linked.count() == 1) // the ambiguous surface still resolves
  }

  test("IVF: assignment is map-only (zero Exchange); Lloyd mean is one map-side-combined aggregate, no posexplode") {
    val emb = (0L until 100L).map(i => (i, Array.fill(8)(0.01f * (i % 10 + 1) * (1 + i / 50))))
      .toDF("vec_id", "embedding")
    val seeds = Ann.ivfSeeds(emb, k = 4)
    val asg = Ann.assignCells(
      emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v")), seeds)
    val pa = plan(asg)
    assert(!pa.contains("Exchange"), "assignment must not shuffle the corpus:\n" + pa.take(3000))
    assert(!pa.contains("Window"), pa.take(3000))
    val pl = plan(Ann.lloydRound(emb, seeds))
    assert(countOccurrences(pl, "ObjectHashAggregate") >= 2, pl.take(3000)) // partial+final
    assert(!pl.contains("Generate"), "no posexplode of the corpus:\n" + pl.take(3000))
    assert(countOccurrences(pl, "Exchange") == 1,
      "exactly one k-row exchange:\n" + pl.take(3000))
  }

  test("IVF training runs a constant number of jobs — independent of k (no per-seed corpus jobs)") {
    val emb = (0L until 120L).map(i => (i, Array.fill(8)(0.02f * (i % 12))))
      .toDF("vec_id", "embedding")
    def jobsFor(group: String)(f: => Unit): Int = {
      spark.sparkContext.setJobGroup(group, group)
      try f finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    }
    val j4 = jobsFor("ivf-k4")(Ann.ivfTrain(emb, k = 4, iters = 2).collect())
    val j8 = jobsFor("ivf-k8")(Ann.ivfTrain(emb, k = 8, iters = 2).collect())
    assert(j4 == j8, s"job count must not grow with k: k=4→$j4 jobs, k=8→$j8 jobs")
  }

  test("non-adjacent pairs: nested-loop sides are hash-sampled (TakeOrdered), never full node sets") {
    val nodes = (1L to 500L).map(i => (i, f"node-$i%04d")).toDF("node_id", "name")
    val edges = Seq((1L, 2L, "p")).toDF("src_id", "dst_id", "pred")
    val df = graft.graph.KgQueries.nonAdjacentPairs(nodes, edges, 10)
    val p = plan(df)
    // two sampled join inputs + the final top-n pick = 3 TakeOrdered nodes
    assert(countOccurrences(p, "TakeOrderedAndProject") >= 3, p.take(4000))
    assert(df.count() == 10)
  }

  test("near-dup queries keep their Exchange budget: Blocking.pairs + withPayload") {
    // the four queries as SparkEntry declares them, over small parquet
    // tables in the sf0.01 fixture shapes; each budget is the count of
    // `Exchange` lines in the query's initial plan in a `graft.run.Plans`
    // dump at sf0.01
    val dir = tmpDir("neardup")
    (0L until 40L).map(i => (i, s"doc $i shares some boilerplate words with doc ${i % 7}"))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    Seq((0L, 7L), (1L, 8L), (0L, 1L)).toDF("a", "b").write.parquet(s"$dir/pairs")
    val rng = new java.util.Random(3)
    (0L until 40L).map(i => (i, Array.fill(Fixtures.AnnDim)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/embs")
    val docs = spark.read.parquet(s"$dir/docs")
    val budget = Seq(
      5 -> graft.text.NearDup.minhashDupPairs(docs, "doc_id", "text")
        .select("a", "b").orderBy("a", "b"),
      5 -> graft.text.NearDup.simhashDupPairs(docs, "doc_id", "text")
        .select("a", "b", "hamming").orderBy("a", "b"),
      5 -> Ann.cosineDupPairs(spark.read.parquet(s"$dir/embs"),
        dim = Fixtures.AnnDim, threshold = 0.95).orderBy("a", "b"),
      3 -> graft.text.TextOps.ngramOverlap(docs, spark.read.parquet(s"$dir/pairs"),
        "doc_id", "text").orderBy("a", "b"))
    budget.foreach { case (want, df) =>
      val p = plan(df)
      assert(p.linesIterator.count(_.contains("Exchange")) == want, p.take(4000))
    }
  }

  private def countOccurrences(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)
}
