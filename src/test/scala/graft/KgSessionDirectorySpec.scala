package graft

import graft.graph.{KgQueries, KgSession, Materialize}
import graft.run.Pipeline
import graft.tables.TableIO
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** `KgSession` answers `search`, `idOf`, `mostConnected`, `lowConnectivity`
  * and `reachableFrom`'s node side from a driver-side node directory and
  * degree array. On committed copies of [[ReachableFromSpec.graph]]'s seeded
  * graphs (names that order differently in UTF-8 and UTF-16, null names,
  * dangling endpoints, a binding `maxNodes`), with some names given to a
  * second node, each read equals the Spark query over the same tables, and
  * `reachableFrom` equals [[ReachableFromSpec.oracle]]. */
class KgSessionDirectorySpec extends SparkSuite {
  import spark.implicits._
  import ReachableFromSpec.Case

  /** A [[ReachableFromSpec.graph]] case where some nodes take another node's name. */
  private val graph: Gen[Case] = for {
    c <- ReachableFromSpec.graph
    from <- Gen.listOfN(c.nodes.size, Gen.frequency(3 -> Gen.const(-1),
      1 -> Gen.choose(0, math.max(0, c.nodes.size - 1))))
  } yield c.copy(nodes = c.nodes.zip(from).map { case ((id, name), j) =>
    id -> (if (j < 0) name else c.nodes(j)._2)
  })

  test("the directory reads equal the Spark queries over the committed tables") {
    var duplicated, capped = 0
    for ((c, i) <- Check.samples(graph, 30).zipWithIndex) {
      val conf = Pipeline.Conf(workDir = tmpDir(s"kgdir$i"))
      val (nodesDir, edgesDir) = (Pipeline.nodesDir(conf), Pipeline.edgesDir(conf))
      TableIO.commitSnapshot(c.nodes.toDF("node_id", "name"), nodesDir, "nodes")
      TableIO.commitSnapshot(c.edges.toDF("src_id", "dst_id", "pred").select(col("src_id"),
        col("dst_id"), col("pred"), Materialize.normPred(col("pred")).as("pred_norm"),
        lit(1.0).as("strength"), lit(1L).as("n_obs"), concat(lit("e "), col("pred")).as("description"),
        array().cast("array<string>").as("provenance"), Materialize.CreatedAt.as("created_at")),
        edgesDir, "edges")
      val kg = KgSession.open(spark, conf.workDir)
      val nodes = TableIO.readCurrent(spark, nodesDir)
      val edges = KgQueries.mergedEdges(TableIO.readCurrent(spark, edgesDir))
      val step = s"sample $i: $c"

      for (q <- Seq("", "Ａ", "😀", "a", "1", "absent"); limit <- Seq(2, 100))
        assert(kg.search(q, limit) ==
          KgQueries.search(nodes, q, limit).as[String].collect().toSeq, s"search($q, $limit), $step")

      val names = c.nodes.flatMap(_._2)
      if (names.distinct.size < names.size) duplicated += 1
      for (name <- names.distinct :+ "absent")
        assert(kg.idOf(name) == kg.nodes.filter(col("name") === name).select("node_id")
          .as[Long].collect().headOption, s"idOf($name), $step")

      // top-k: the same (name, degree) order, each row a row of the degree
      // frame; rows that tie on both may be taken in either order
      val degree = KgQueries.degree(nodes, edges).collect().toSet
      assert(kg.degree().collect().toSet == degree, step)
      def ranked(got: DataFrame, want: DataFrame, what: String): Unit = {
        assert(got.schema == want.schema, s"$what, $step")
        val (g, w) = (got.collect().toSeq, want.collect().toSeq)
        assert(g.map(r => (r.get(1), r.get(2))) == w.map(r => (r.get(1), r.get(2))), s"$what, $step")
        assert(g.toSet.subsetOf(degree), s"$what, $step")
      }
      for (k <- Seq(3, 100)) {
        ranked(kg.mostConnected(k), KgQueries.mostConnected(nodes, edges, k), s"mostConnected($k)")
        ranked(kg.lowConnectivity(k), KgQueries.lowConnectivity(nodes, edges, k), s"lowConnectivity($k)")
      }

      val out = kg.reachableFrom(c.seed, c.maxHops, c.maxNodes)
      val got = out.collect().toSeq.map(r => (r.getLong(0), Option(r.getString(1)), r.getInt(2)))
      val (want, bindsAt) = ReachableFromSpec.oracle(c)
      if (bindsAt.nonEmpty) capped += 1
      assert(got.toSet == want.toSet, step)
      assert(got.map(r => (r._3, r._2)) == want.map(r => (r._3, r._2)), step)
    }
    assert(duplicated > 5 && capped > 5, s"$duplicated samples with a duplicate name, $capped capped")
  }
}
