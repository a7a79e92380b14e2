package graft

import graft.graph.{KgQueries, KgSession}
import graft.run.{Enricher, Pipeline}
import graft.tables.TableIO
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen

/** `KgQueries.reachableFrom` against a plain driver-side BFS with its
  * documented semantics, on seeded random graphs, and the Spark jobs one
  * call schedules over a pinned session. */
class ReachableFromSpec extends SparkSuite {
  import spark.implicits._
  import ReachableFromSpec._

  test("reachableFrom equals a driver-only BFS oracle on random graphs") {
    val bound = scala.collection.mutable.Set.empty[String]
    for (c <- Check.samples(graph, 60)) {
      val nodes = c.nodes.toDF("node_id", "name").localCheckpoint()
      val edges = c.edges.toDF("src_id", "dst_id", "pred").localCheckpoint()
      val out = KgQueries.reachableFrom(nodes, edges, c.seed, c.maxHops, c.maxNodes)
      assert(out.schema.map(f => f.name -> f.dataType) ==
        Seq("node_id" -> LongType, "name" -> StringType, "hops" -> IntegerType))
      val got = out.collect().toSeq
        .map(r => (r.getLong(0), Option(r.getString(1)), r.getInt(2)))
      val (want, bindsAt) = oracle(c)
      bindsAt.foreach(bound += _)
      assert(got.toSet == want.toSet, c)
      // ordered by (hops, name); only null names may tie
      assert(got.map(r => (r._3, r._2)) == want.map(r => (r._3, r._2)), c)
    }
    assert(bound == Set("hop 0", "middle hop", "last hop"), "cap coverage")
  }

  test("reachableFrom over a pinned session runs one job per hop") {
    val c = GraphFixture.commit(spark, tmpDir("bfsjobs"))
    val edgesDir = Pipeline.edgesDir(c)
    val kg = KgSession.open(spark, c.workDir)
    def perHop(when: String): Unit = {
      val (nodes, edges) = (kg.nodes, KgQueries.mergedEdges(TableIO.readCurrent(spark, edgesDir)))
      for (h <- Seq(2, 3); seed <- GraphFixture.Names) {
        val (got, jobs) = withJobCount(kg.reachableFrom(seed, h).collect().toSeq)
        assert(jobs <= h, s"$when: $seed, maxHops $h: $jobs jobs")
        assert(got == KgQueries.reachableFrom(nodes, edges, seed, h).collect().toSeq, s"$when: $seed")
      }
    }
    kg.search("") // pins the nodes and collects their directory
    kg.edges
    perHop("merged edges")
    assert(kg.reachableFrom("Deep Learning", 3).select("name", "hops").as[(String, Int)]
      .collect().toSeq == Seq("Deep Learning" -> 0, "Machine Learning" -> 1,
        "Neural Network" -> 1, "Gradient Descent" -> 2))

    // a tick and a carried re-add, with no read of rows after them: the
    // hops read the pinned keys and the tick's, and merge nothing
    val mentions = GraphFixture.Names.combinations(2).zipWithIndex.flatMap { case (Seq(a, b), d) =>
      Seq((s"doc$d", a), (s"doc$d", b))
    }.toSeq.toDF("doc_id", "canonical")
    assert(new Enricher(kg, mentions, Enricher.Conf(minDocs = 1, batch = 2)).runOnce() == 2L)
    kg.statistics() // folds the tick's known keys, so the re-add below is carried
    val (a, b, p) = TableIO.readCurrent(spark, edgesDir).filter(col("pred") === "CoOccursWith")
      .select("src_id", "dst_id", "pred").as[(Long, Long, String)].head()
    kg.addEdge(a, b, p)
    perHop("known writes pending")
    assert(jobsOf(kg.edges) == 1, "the pending deltas are merged on the first read of rows")
  }
}

object ReachableFromSpec {
  final case class Case(nodes: Seq[(Long, Option[String])], edges: Seq[(Long, Long, String)],
      seed: String, maxHops: Int, maxNodes: Int)

  /** A small graph: node ids 1..n with some left out of `nodes` (those are
    * dangling edge endpoints, as are ids above n), names unique and
    * sometimes null. Name prefixes order differently in UTF-8 and UTF-16
    * (U+FF21 vs U+1F600), so a cap decided by `String.compareTo` shows. */
  val graph: Gen[Case] = for {
    n <- Gen.choose(1, 40)
    kinds <- Gen.listOfN(n, Gen.frequency[Option[Option[String]]](
      8 -> Gen.oneOf("a", "B", "b", "Ä", "Ａ", "😀", "中", "").map(p => Some(Some(p))),
      1 -> Gen.const(Some(None)), // a null name
      1 -> Gen.const(None)))      // absent from nodes
    nodes = (1L to n).zip(kinds).collect { case (id, Some(p)) => id -> p.map(_ + id) }
    m <- Gen.choose(0, 3 * n)
    edges <- Gen.listOfN(m, for {
      src <- Gen.choose(1L, n + 3L)
      dst <- Gen.frequency(8 -> Gen.choose(1L, n + 3L), 1 -> Gen.const(src))
      preds <- Gen.someOf("Uses", "IsA", "PartOf") // parallel edges differ in pred
    } yield preds.toSeq.map(p => (src, dst, p)))
    named = nodes.collect { case (_, Some(name)) => name }
    seed <- if (named.isEmpty) Gen.const("absent")
      else Gen.frequency(9 -> Gen.oneOf(named), 1 -> Gen.const("absent"))
    maxHops <- Gen.choose(0, 4)
    maxNodes <- Gen.frequency(2 -> Gen.const(Int.MaxValue), 5 -> Gen.choose(0, 12))
  } yield Case(nodes, edges.flatten, seed, maxHops, maxNodes)

  /** Spark's string order: UTF-8 bytes, unsigned. */
  private val utf8: Ordering[String] =
    Ordering.by[String, UTF8String](UTF8String.fromString)(
      Ordering.fromLessThan(_.compareTo(_) < 0))
  private val nullsLast: Ordering[Option[String]] =
    Ordering.by[Option[String], (Boolean, Option[String])](o => (o.isEmpty, o))(
      Ordering.Tuple2(Ordering.Boolean, Ordering.Option(utf8)))

  /** Breadth-first over out-edges from the nodes named `seed`. Each hop
    * takes the new distinct successors; when they exceed the budget left
    * (maxNodes − visited, dangling ids counted), the budget-many smallest by
    * (name NULLS LAST, node_id) win. The rows are the visited ids present in
    * `nodes`, by (hops, name NULLS FIRST), at most maxNodes of them. Also
    * says where the cap cut the traversal, if it did. */
  def oracle(c: Case): (Seq[(Long, Option[String], Int)], Option[String]) = {
    val nameOf = c.nodes.toMap
    val visited = scala.collection.mutable.LinkedHashMap.empty[Long, Int]
    c.nodes.collect { case (id, Some(c.seed)) => id }.foreach(visited(_) = 0)
    var bindsAt =
      if (visited.nonEmpty && visited.size >= c.maxNodes && c.maxHops > 0) Some("hop 0")
      else None
    var frontier = visited.keys.toSeq
    var hop = 0
    while (hop < c.maxHops && visited.size < c.maxNodes && frontier.nonEmpty) {
      hop += 1
      val candidates = c.edges.collect { case (s, d, _) if frontier.contains(s) => d }
        .distinct.filterNot(visited.contains)
      val budget = c.maxNodes - visited.size
      if (candidates.size > budget)
        bindsAt = Some(if (hop == c.maxHops) "last hop" else "middle hop")
      frontier = candidates.sortBy(id => (nameOf.get(id).flatten, id))(
        Ordering.Tuple2(nullsLast, Ordering.Long)).take(budget)
      frontier.foreach(visited(_) = hop)
    }
    val rows = visited.toSeq.collect { case (id, h) if nameOf.contains(id) => (id, nameOf(id), h) }
      .sortBy(r => (r._3, r._2))(Ordering.Tuple2(Ordering.Int, Ordering.Option(utf8)))
      .take(c.maxNodes)
    (rows, bindsAt)
  }
}
