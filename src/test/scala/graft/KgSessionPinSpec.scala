package graft

import graft.graph.{KgQueries, KgSession}
import graft.run.Pipeline
import graft.tables.TableIO
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `KgSession` keeps one checkpointed frame per table snapshot. These tests
  * check that every writer's commit is seen on the next read, that a frame
  * taken earlier keeps its snapshot, and that reads of an unchanged
  * snapshot and `addEdge` run no schema or re-read jobs. */
class KgSessionPinSpec extends SparkSuite {

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  test("pinned reads see every writer's commit; earlier frames keep their snapshot") {
    val c = GraphFixture.commit(spark, tmpDir("kgpin"))
    val (edgesDir, nodesDir) = (Pipeline.edgesDir(c), Pipeline.nodesDir(c))
    val kg = KgSession.open(spark, c.workDir)
    val taken = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame, Seq[Row])]
    def fresh(step: String): Unit = {
      assert(rows(kg.edges) == rows(KgQueries.mergedEdges(TableIO.readCurrent(spark, edgesDir))), step)
      assert(rows(kg.nodes) == rows(TableIO.readCurrent(spark, nodesDir)), step)
      assert(rows(kg.triples) == rows(TableIO.readCurrent(spark, Pipeline.triplesDir(c))), step)
      taken += ((step, kg.edges, rows(kg.edges)))
      taken += ((step, kg.nodes, rows(kg.nodes)))
    }
    fresh("open")
    val nEdges = kg.edges.count()
    val Seq(ml, dl, nn, _, rl) = GraphFixture.Names.map(n => kg.idOf(n).get)

    kg.addEdge(ml, nn, "Manually Linked")
    fresh("kg.addEdge")
    assert(kg.edges.count() == nEdges + 1)

    // TableIO called directly, on both tables
    TableIO.commitDelta(TableIO.readCurrent(spark, edgesDir).filter(col("src_id") === dl)
      .limit(1).withColumn("dst_id", lit(rl)), edgesDir, "edges")
    TableIO.commitSnapshot(TableIO.readCurrent(spark, nodesDir).filter(col("node_id") =!= rl),
      nodesDir, "nodes")
    fresh("TableIO direct")
    assert(kg.edges.count() == nEdges + 2 && kg.nodes.count() == 4)

    // a second session on the same work dir
    KgSession.open(spark, c.workDir).addEdge(ml, nn, "Manually Linked")
    fresh("second session")
    assert(kg.edges.filter(col("src_id") === ml && col("dst_id") === nn)
      .select("n_obs").head().getLong(0) == 2L)

    // a commit that compacts the chain into a full snapshot
    TableIO.commitDelta(TableIO.readCurrent(spark, edgesDir).filter(col("src_id") === rl)
      .limit(1).withColumn("pred", lit("Compacted")), edgesDir, "edges", maxChain = 2)
    assert(TableIO.snapshotChain(edgesDir, TableIO.requireCurrentId(edgesDir)).size == 1)
    fresh("compaction")

    taken.foreach { case (step, df, before) =>
      assert(rows(df) == before, s"a frame taken at '$step' changed")
    }
    assert(taken.map(_._3).distinct.size > 4, "the writes changed what was read")
  }

  test("an unchanged snapshot is read once: idOf, search and addEdge run one job each") {
    val c = GraphFixture.commit(spark, tmpDir("kgjobs"))
    val kg = KgSession.open(spark, c.workDir)
    kg.nodes
    assert(jobsOf(kg.idOf("Deep Learning")) == 1)
    assert(jobsOf(kg.search("Learning")) == 1)
    assert(kg.search("Learning") == Seq("Deep Learning", "Machine Learning", "Reinforcement Learning"))
    val Seq(a, b) = Seq("Deep Learning", "Gradient Descent").map(n => kg.idOf(n).get)
    assert(jobsOf(kg.addEdge(a, b, "Manually Linked")) == 1, "addEdge: the write only")
    val first = jobsOf(kg.statistics())
    val second = jobsOf(kg.statistics())
    assert(second < first, s"second statistics() ran $second jobs, the first $first")
    assert(kg.statistics() == (5L, 6L))
  }
}
