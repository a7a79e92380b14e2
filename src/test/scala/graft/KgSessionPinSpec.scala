package graft

import graft.graph.{KgQueries, KgSession}
import graft.run.{Enricher, Pipeline}
import graft.tables.TableIO
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** `KgSession` keeps one checkpointed frame per table snapshot. These tests
  * check that every writer's commit is seen on the next read, that a frame
  * taken earlier keeps its snapshot, that reads of an unchanged snapshot
  * run no schema or re-read jobs and `addEdge` runs none, that a delta is folded into
  * the pin rather than re-read, that the counts the session keeps on its
  * own writes are read without a merge, and that a fold or a merge over
  * missing or broken files fails. */
class KgSessionPinSpec extends SparkSuite {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private def deleteTree(p: Path): Unit =
    Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

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

  test("an unchanged snapshot is read once: idOf and search run no job, addEdge none") {
    val c = GraphFixture.commit(spark, tmpDir("kgjobs"))
    val kg = KgSession.open(spark, c.workDir)
    kg.nodes
    assert(jobsOf(kg.idOf("Deep Learning")) == 1, "the first node lookup collects the directory")
    assert(jobsOf(kg.idOf("Deep Learning")) == 0)
    assert(jobsOf(kg.search("Learning")) == 0)
    assert(kg.search("Learning") == Seq("Deep Learning", "Machine Learning", "Reinforcement Learning"))
    val Seq(a, b) = Seq("Deep Learning", "Gradient Descent").map(n => kg.idOf(n).get)
    assert(jobsOf(kg.addEdge(a, b, "Manually Linked")) == 0, "addEdge: a driver-side write")
    val first = jobsOf(kg.statistics())
    val second = jobsOf(kg.statistics())
    assert(second < first, s"second statistics() ran $second jobs, the first $first")
    assert(first <= 2, s"statistics() after addEdge: the fold only, ran $first jobs")
    assert(second == 0, s"statistics() of pinned snapshots ran $second jobs")
    assert(kg.statistics() == (5L, 6L))

    // the degree is carried across a fold: the fold only
    kg.mostConnected(5).collect()
    val Seq(ml, rl) = Seq("Machine Learning", "Reinforcement Learning").map(n => kg.idOf(n).get)
    kg.addEdge(ml, rl, "Manually Linked")
    val (top, topJobs) = withJobCount(kg.mostConnected(5).collect().toSeq)
    assert(topJobs == 1, s"mostConnected(5) after addEdge ran $topJobs jobs")
    val edgesDir = Pipeline.edgesDir(c)
    assert(top == KgQueries.mostConnected(kg.nodes,
      KgQueries.mergedEdges(TableIO.readCurrent(spark, edgesDir)), 5).collect().toSeq)

    // a tick followed by statistics() folds: it reads only the tick's
    // delta, so it runs with the chain's base snapshot data gone
    val mentions = Seq(("d1", "Gradient Descent"), ("d1", "Reinforcement Learning"))
      .toDF("doc_id", "canonical")
    val enricher = new Enricher(kg, mentions, Enricher.Conf(minDocs = 1, batch = 1))
    assert(enricher.runOnce() == 1L)
    val head = TableIO.requireCurrentId(edgesDir)
    deleteTree(Paths.get(edgesDir, f"snap-${TableIO.snapshotChain(edgesDir, head).last}%05d"))
    val (stats, statJobs) = withJobCount(kg.statistics())
    assert(stats == (5L, 8L))
    assert(statJobs <= 2, s"statistics() after a tick ran $statJobs jobs")
  }

  test("KgSession.addEdge runs no Spark job: fresh session, new and repeated keys, a long chain") {
    val c = GraphFixture.commit(spark, tmpDir("kgadd0"))
    val edgesDir = Pipeline.edgesDir(c)
    val ids = KgSession.open(spark, c.workDir).nodes.select("node_id").as[Long].collect().sorted
    val kg = KgSession.open(spark, c.workDir) // nothing pinned
    val adds = (0 until 40).map(i => (ids(i % ids.length), ids((i + 1) % ids.length), s"Rel ${i % 3}"))
    adds.zipWithIndex.foreach { case ((a, b, p), i) =>
      assert(jobsOf(kg.addEdge(a, b, p)) == 0, s"addEdge $i ran a Spark job")
    }
    assert(TableIO.snapshotChain(edgesDir, TableIO.requireCurrentId(edgesDir)).size == 41)
    val want = adds.groupBy(k => k).map { case (k, v) => k -> v.size.toLong }
    val got = kg.edges.filter(col("pred").startsWith("Rel "))
      .select("src_id", "dst_id", "pred", "n_obs").as[(Long, Long, String, Long)].collect()
      .map(t => (t._1, t._2, t._3) -> t._4).toMap
    assert(got == want)
  }

  test("kept on write: counts after a tick and a carried re-add run no merge; the next rows read merges once") {
    val c = GraphFixture.commit(spark, tmpDir("kgknown"))
    val edgesDir = Pipeline.edgesDir(c)
    val kg = KgSession.open(spark, c.workDir)
    val names = GraphFixture.Names
    val mentions = names.combinations(2).zipWithIndex.flatMap { case (Seq(a, b), d) =>
      Seq((s"doc$d", a), (s"doc$d", b))
    }.toSeq.toDF("doc_id", "canonical")
    val enricher = new Enricher(kg, mentions, Enricher.Conf(minDocs = 1, batch = 1))
    def merged = KgQueries.mergedEdges(TableIO.readCurrent(spark, edgesDir))
    val parts = kg.edges.rdd.getNumPartitions
    kg.mostConnected(5).collect() // pins the degree frame; the edges pin carries keys
    assert(enricher.runOnce() == 1L)
    val (stats, statJobs) = withJobCount(kg.statistics())
    assert(statJobs == 0, s"statistics() right after a tick ran $statJobs jobs")
    assert(stats == ((5L, merged.count())))

    // re-add the key the tick added: known to add no key
    val Row(a: Long, b: Long, p: String) = TableIO.readCurrent(spark, edgesDir)
      .filter(col("pred") === "CoOccursWith").select("src_id", "dst_id", "pred").head()
    assert(jobsOf(kg.addEdge(a, b, p)) == 0)
    val (top, topJobs) = withJobCount(kg.mostConnected(5).collect().toSeq)
    assert(topJobs == 0, s"mostConnected(5) after a carried re-add ran $topJobs jobs")
    assert(top == KgQueries.mostConnected(kg.nodes, merged, 5).collect().toSeq)
    assert(kg.statistics() == ((5L, merged.count())))
    // reachableFrom reads the pinned keys and the tick's, not merged rows:
    // its hops only; b is one hop from a over the tick's key alone
    val seed = kg.nodes.filter(col("node_id") === a).select("name").as[String].head()
    val (reach, reachJobs) = withJobCount(kg.reachableFrom(seed, 2).collect().toSeq)
    assert(reachJobs <= 2, s"reachableFrom(_, 2) after known writes ran $reachJobs jobs")
    assert(reach == KgQueries.reachableFrom(kg.nodes, merged, seed, 2).collect().toSeq)
    assert(reach.exists(r => r.getLong(0) == b && r.getInt(2) == 1))
    // each hop scans the pin's partitions: the tick's keys add no task
    val reachTasks = withTaskCount(kg.reachableFrom(seed, 2).collect())._2
    assert(reachTasks == reachJobs * parts,
      s"reachableFrom's $reachJobs hops ran $reachTasks tasks over a $parts-partition pin")
    // the next read of rows merges the tick and the re-add in one job
    val (edges, edgesJobs) = withJobCount(kg.edges)
    assert(edgesJobs == 1, s"kg.edges after known writes ran $edgesJobs jobs")
    assert(rows(edges) == rows(merged))
    assert(edges.filter(col("src_id") === a && col("dst_id") === b && col("pred") === p)
      .select("n_obs").head().getLong(0) == 2L)
    assert(jobsOf(kg.edges) == 0)

    // the first add of a key is not known: the next count read folds it
    // (1 job), and top-k runs none; a re-add of it is known again
    assert(jobsOf(kg.addEdge(a, b, "Rel new")) == 0)
    val (firstTop, firstJobs) = withJobCount(kg.mostConnected(5).collect().toSeq)
    assert(firstJobs == 1, s"mostConnected(5) after a first add ran $firstJobs jobs")
    assert(firstTop == KgQueries.mostConnected(kg.nodes, merged, 5).collect().toSeq)
    kg.addEdge(a, b, "Rel new")
    assert(jobsOf(kg.mostConnected(5).collect()) == 0)
    assert(kg.statistics() == ((5L, merged.count())))

    // a known pending delta whose part file is gone fails the merge
    assert(enricher.runOnce() == 1L)
    assert(jobsOf(kg.statistics()) == 0)
    val snap = Paths.get(edgesDir, f"snap-${TableIO.requireCurrentId(edgesDir)}%05d")
    Files.list(snap).iterator().asScala.filter(_.toString.endsWith(".parquet")).foreach(Files.delete)
    val read = Future(scala.util.Try(kg.edges))(ExecutionContext.global)
    assert(Await.result(read, Duration(60, "s")).isFailure, "kg.edges with a pending delta's file gone")
  }

  test("a fold whose delta file is gone or broken throws; it does not wait") {
    def readAfter(what: String)(break: Path => Unit): Unit = {
      val c = GraphFixture.commit(spark, tmpDir("kgbroken"))
      val edgesDir = Pipeline.edgesDir(c)
      val kg = KgSession.open(spark, c.workDir)
      kg.edges
      kg.addEdge(kg.idOf("Deep Learning").get, kg.idOf("Gradient Descent").get, "Manually Linked")
      val snap = Paths.get(edgesDir, f"snap-${TableIO.requireCurrentId(edgesDir)}%05d")
      break(Files.list(snap).iterator().asScala.find(_.toString.endsWith(".parquet")).get)
      val read = Future(scala.util.Try(kg.edges))(ExecutionContext.global)
      assert(Await.result(read, Duration(60, "s")).isFailure, s"kg.edges with $what returned a frame")
    }
    readAfter("the delta's parquet file deleted")(Files.delete)
    readAfter("the delta's parquet file overwritten")(Files.write(_, "not parquet".getBytes))
  }
}
