package graft

import graft.graph.KgSession
import graft.run.Pipeline

class KgSessionSpec extends SparkSuite {

  // the default corpus: the built-in vocabulary's 78 names and 167 triples,
  // all distinct under normPred, so one node per name and one edge per triple
  private lazy val kg = KgSession.build(spark,
    Pipeline.Conf(workDir = tmpDir("kgsession"), nDocs = 220, nBuckets = 4, concurrency = 2))

  test("build → statistics, search, degree, reachability") {
    val (n, e) = kg.statistics()
    assert(n == 78 && e == 167)
    assert(kg.search("Neural") == Seq("Convolutional Neural Networks", "Neural Networks"))
    assert(kg.degree().count() == 78)
    val reach = kg.reachableFrom("Artificial Intelligence", maxHops = 10)
    assert(reach.count() >= 20) // AI reaches a large component
  }

  test("addEdge commits a new snapshot; old snapshot stays addressable") {
    val before = kg.edgeSnapshots()
    val (Some(a), Some(b)) = (kg.idOf("Statistics"), kg.idOf("Internet"))
    kg.addEdge(a, b, "Manually Linked")
    val after = kg.edgeSnapshots()
    assert(after.size == before.size + 1)
    assert(kg.edges.count() == 168)
    // time travel: previous snapshot unchanged
    assert(kg.edgesAt(before.max).count() == 167)
    // idempotent MERGE: same edge again → same row count, n_obs bumped
    kg.addEdge(a, b, "Manually Linked")
    assert(kg.edges.count() == 168)
    import org.apache.spark.sql.functions._
    assert(kg.edges.filter(col("src_id") === a && col("dst_id") === b)
      .select("n_obs").collect()(0).getLong(0) == 2L)
    // every snapshot reads through the MERGE view: the newest equals edges,
    // an older one keeps its own state
    assert(kg.edgesAt(kg.edgeSnapshots().max).collect().toSet == kg.edges.collect().toSet)
    assert(kg.edgesAt(after.max).count() == 168)
  }

  test("simhash64 expression: codegen result equals kernel; null-safe") {
    import spark.implicits._
    import graft.functions.SimHash64Expr.simhash64
    val df = Seq(Some("hello world test"), Some(""), None).toDF("t")
      .select(simhash64(org.apache.spark.sql.functions.col("t")).as("h"))
    val got = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got(0).contains(graft.text.NearDup.simhash64("hello world test")))
    assert(got(1).contains(graft.text.NearDup.simhash64("")))
    assert(got(2).isEmpty)
  }
}
