package graft

import graft.extract.Extract
import graft.graph.KgSession
import graft.model.Doc
import graft.run.{Enricher, Pipeline}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** G7 lifecycle: Start/Stop/IsRunning ticker with the max_relationships stop
  * condition, mirroring the reference enricher's RunOnce/processBatch tests
  * (kg-enricher/internal/enricher/enricher_test.go:160-517). */
class EnricherSpec extends SparkSuite {
  import spark.implicits._

  private lazy val (kg, mentions) = {
    val conf = Pipeline.Conf(workDir = tmpDir("enricher"), nDocs = 220,
      nBuckets = 4, concurrency = 2)
    val out = Pipeline.run(spark, conf)
    val aliases = spark.read.parquet(Pipeline.aliasesPath(conf))
    val dict = Extract.broadcastDict(spark, aliases.select("alias").as[String].collect())
    val m = Extract.mentionsAll(out.docs.drop("bucket").as[Doc], dict).toDF()
      .join(broadcast(aliases), col("surface") === col("alias"))
      .select("doc_id", "canonical")
      .localCheckpoint()
    (KgSession.open(spark, conf.workDir), m)
  }

  test("ticker runs batches until the maxRelationships cap, then stops itself") {
    val baseEdges = kg.edges.count()
    val baseSnaps = kg.edgeSnapshots().size
    val enr = new Enricher(kg, mentions,
      Enricher.Conf(minDocs = 1, batch = 3, maxRelationships = 7, intervalMs = 25))
    assert(!enr.isRunning)
    enr.start()
    assert(enr.awaitStopped(120000), "enricher did not stop on its own")
    assert(!enr.isRunning)
    assert(enr.added == 7) // cap reached exactly (batches 3+3+1)
    assert(kg.edges.count() == baseEdges + 7)
    assert(kg.edgeSnapshots().size == baseSnaps + 3) // one commit per tick
    // delta-append: each tick's snapshot dir holds ONLY that tick's rows —
    // per-tick write volume is O(batch), independent of the edges-table size
    val tickRows = kg.edgeSnapshots().takeRight(3).map(s =>
      graft.tables.TableIO.parquetRowCount(f"${kg.edgesDir}/snap-$s%05d"))
    assert(tickRows.sorted == Seq(1L, 3L, 3L), tickRows.toString)
    // every appended edge is a CoOccursWith between previously non-adjacent
    val newOnes = kg.edges.filter(col("pred_norm") === "cooccurswith")
    assert(newOnes.count() == 7)
    // cap holds: further ticks are no-ops
    assert(enr.runOnce() == 0L)
    assert(kg.edges.count() == baseEdges + 7)
  }

  test("G5 reseeding: focusBottomK restricts mining to low-connectivity nodes") {
    val bottom = graft.graph.KgQueries.lowConnectivity(kg.nodes, kg.edges, 5)
      .select("node_id").as[Long].collect().toSet
    val beforeKeys = kg.edges.select("src_id", "dst_id")
      .as[(Long, Long)].collect().toSet
    val enr = new Enricher(kg, mentions,
      Enricher.Conf(minDocs = 1, batch = 4, maxRelationships = 4, focusBottomK = 5))
    val n = enr.runOnce()
    assert(n > 0, "focused mining found no pairs — fixture too sparse")
    val newKeys = kg.edges.select("src_id", "dst_id")
      .as[(Long, Long)].collect().toSet -- beforeKeys
    assert(newKeys.size == n.toInt)
    assert(newKeys.forall { case (s, d) => bottom.contains(s) || bottom.contains(d) },
      s"every focused edge must touch a bottom-5 node (bottom=$bottom, new=$newKeys)")
  }

  test("start is idempotent; stop interrupts a sleeping ticker promptly") {
    val enr = new Enricher(kg, mentions,
      Enricher.Conf(minDocs = 1, batch = 1, maxRelationships = 1000000,
        intervalMs = 3600000)) // one tick, then sleep ~forever
    enr.start()
    enr.start() // no second worker
    val t0 = System.currentTimeMillis()
    while (enr.added < 1 && System.currentTimeMillis() - t0 < 60000) Thread.sleep(20)
    assert(enr.added >= 1)
    assert(enr.isRunning)
    enr.stop()
    assert(!enr.isRunning)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** One document per pair of `names`, three per pair touching `heavy`. */
  private def pairMentions(names: Seq[String], heavy: Set[String] = Set.empty) =
    names.combinations(2).zipWithIndex.flatMap { case (Seq(a, b), d) =>
      val docs = if (heavy(a) || heavy(b)) 3 else 1
      (0 until docs).flatMap(k => Seq((s"doc$d.$k", a), (s"doc$d.$k", b)))
    }.toSeq.toDF("doc_id", "canonical")

  test("seeded: each tick commits exactly enrichOnceFromCo over the tables read just before it") {
    import graft.graph.KgQueries
    import graft.tables.TableIO
    import java.nio.file.{Files, Paths}
    val c = GraphFixture.commit(spark, tmpDir("enrtick"))
    val (edgesDir, nodesDir) = (Pipeline.edgesDir(c), Pipeline.nodesDir(c))
    val kg = KgSession.open(spark, c.workDir)
    val rng = new scala.util.Random(8)
    val steps = rng.shuffle(Seq.fill(5)("tick") ++ Seq.fill(2)("focused tick") ++
      Seq.fill(3)("addEdge") ++ Seq.fill(3)("nodes commit") ++
      Seq.fill(2)("compaction") ++ Seq.fill(2)("full commit"))
    val extras = steps.indices.map(i => s"Extra $i")
    // a pair touching an extra name has three documents to the others'
    // one, so a tick after a nodes commit ranks the new node's pairs first
    val mentions = pairMentions(GraphFixture.Names ++ extras, extras.toSet)
    val conf = Enricher.Conf(minDocs = 1, batch = 2, maxRelationships = Long.MaxValue)
    val co = KgQueries.cooccurrence(mentions).filter(col("n_docs") >= conf.minDocs)
    val plain = new Enricher(kg, mentions, conf)
    val focused = new Enricher(kg, mentions, conf.copy(focusBottomK = 2))

    /** enrichOnceFromCo recomputed on the tables as committed now. */
    def expected(focusK: Int) = {
      val nodes = TableIO.readCurrent(spark, nodesDir)
      val edges = KgQueries.mergedEdges(TableIO.readCurrent(spark, edgesDir))
      val focus = Option.when(focusK > 0)(
        KgQueries.lowConnectivity(nodes, edges, focusK).select("node_id"))
      KgQueries.enrichOnceFromCo(nodes, edges, co, conf.batch, focus)
    }
    var extraPicked = false
    def tick(e: Enricher, focusK: Int, step: String): Unit = {
      val want = rows(expected(focusK))
      val adjacent = TableIO.readCurrent(spark, edgesDir).select("src_id", "dst_id")
        .as[(Long, Long)].collect().flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
      val before = TableIO.requireCurrentId(edgesDir)
      val n = e.runOnce()
      val head = TableIO.requireCurrentId(edgesDir)
      assert(n == want.size, step)
      if (n == 0) assert(head == before, step)
      else {
        assert(TableIO.snapshotChain(edgesDir, head).take(2) == Seq(head, before), step)
        val snap = Paths.get(edgesDir, f"snap-$head%05d")
        assert(Files.list(snap).iterator().asScala.count(_.toString.endsWith(".parquet")) == 1,
          s"$step: one parquet file per tick")
        val delta = TableIO.readSnapshots(spark, edgesDir, Seq(head))
        assert(rows(delta.select(col("src_id"), col("dst_id"), col("pred"), col("pred_norm"),
          col("strength"), col("n_obs").as("n_docs"), col("description"))) == want, step)
        assert(!delta.select("src_id", "dst_id").as[(Long, Long)].collect().exists(adjacent),
          s"$step: a tick linked an adjacent pair")
        assert(delta.filter(size(col("provenance")) =!= 0 ||
          col("created_at") =!= graft.graph.Materialize.CreatedAt).isEmpty, step)
        extraPicked ||= want.exists(r => r.getString(6).contains("Extra"))
      }
    }

    tick(plain, 0, "first tick")
    steps.zipWithIndex.foreach { case (kind, i) =>
      val step = s"step $i: $kind"
      kind match {
        case "tick" => tick(plain, 0, step)
        case "focused tick" => tick(focused, 2, step)
        case "addEdge" =>
          // link the top candidate, reversed: the next tick must skip it
          val top = expected(0).select("src_id", "dst_id").as[(Long, Long)].collect()
          top.headOption.foreach { case (a, b) => kg.addEdge(b, a, s"Manual $i") }
        case "compaction" =>
          // a new key on an existing edge's endpoints, committed as a full rewrite
          TableIO.commitDelta(TableIO.readCurrent(spark, edgesDir).orderBy("src_id", "dst_id", "pred")
            .limit(1).withColumn("pred", lit(s"Compacted $i")), edgesDir, "edges", maxChain = 1)
          assert(TableIO.snapshotChain(edgesDir, TableIO.requireCurrentId(edgesDir)).size == 1, step)
        case "full commit" =>
          // the merged edges less the highest-ranked pair a tick linked: the
          // pair is unlinked again, so the next tick may pick it
          val edges = KgQueries.mergedEdges(TableIO.readCurrent(spark, edgesDir))
          val dropped = edges.filter(col("pred") === "CoOccursWith")
            .orderBy(col("n_obs").desc, col("description")).limit(1)
          TableIO.commitSnapshot(edges.join(dropped, Seq("src_id", "dst_id", "pred"), "left_anti")
            .select(edges.columns.map(col).toIndexedSeq: _*), edgesDir, "edges")
        case "nodes commit" =>
          TableIO.commitSnapshot(TableIO.readCurrent(spark, nodesDir).unionByName(
            TableIO.readCurrent(spark, nodesDir).orderBy("node_id").limit(1)
              .withColumn("node_id", lit(1000L + i)).withColumn("name", lit(extras(i)))
              .withColumn("canonical_name", lit(extras(i)))), nodesDir, "nodes")
      }
    }
    assert(extraPicked, "no tick picked a pair of a node committed after the pairs were pinned")
  }

  test("one unfocused tick on a pinned session runs at most 1 Spark job") {
    val c = GraphFixture.commit(spark, tmpDir("enrjobs"))
    val kg = KgSession.open(spark, c.workDir)
    val enr = new Enricher(kg, pairMentions(GraphFixture.Names),
      Enricher.Conf(minDocs = 1, batch = 1, maxRelationships = Long.MaxValue))
    assert(enr.runOnce() == 1L) // builds the co-occurrence table and pins the pairs
    kg.statistics() // folds that tick's delta into the pinned edges
    val (n, jobs) = withJobCount(enr.runOnce())
    assert(n == 1L)
    assert(jobs <= 1, s"a tick ran $jobs Spark jobs")
  }

  // LAST in the suite on purpose: per-tick vacuum deletes the snapshots the
  // earlier tests accreted (their time travel would break after this)
  test("vacuumRetain: per-tick GC bounds the snapshot dirs, merged view stays exact") {
    val before = kg.edges.count()
    val accreted = kg.edgeSnapshots().size
    assert(accreted >= 4) // earlier tests left history worth collecting
    // maxChain=2 forces compactions every other tick, giving vacuum fresh
    // full-snapshot bases to cut the chain at
    val enr = new Enricher(kg, mentions,
      Enricher.Conf(minDocs = 1, batch = 2, maxRelationships = 6,
        intervalMs = 5, vacuumRetain = 2, maxChain = 2))
    enr.start()
    assert(enr.awaitStopped(120000), "enricher did not stop on its own")
    assert(enr.added == 6)
    // GC collected the pre-test history AND the run's own superseded ticks:
    // what's left is the 2 retained roots' chains (≤1 extra base)
    val left = kg.edgeSnapshots()
    assert(left.size <= 3, s"vacuum left ${left.size} snapshots: $left")
    // merged view exact, and time travel to every RETAINED root resolves
    assert(kg.edges.count() == before + 6)
    left.foreach(s => kg.edgesAt(s).count())
  }

  // uses its own workDir — independent of the shared kg table above
  test("run.Main: repeated full runs on one workDir keep bounded snapshot dirs (GC wired end-to-end)") {
    val wd = tmpDir("mainVac")
    val args = Array(s"--workDir=$wd", "--nDocs=220", "--nBuckets=4",
      "--vacuumRetain=1", "--vacuumGraceMs=0", "--stopSession=false")
    graft.run.Main.main(args)
    graft.run.Main.main(args) // re-run accretes one more snapshot per table
    import graft.run.{Config, Main, Pipeline}
    val c = Main.confFrom(Config.resolve(args, env = Map.empty))
    // retain-1 GC through the documented entry point: each table dir holds
    // exactly the second run's snapshot — without the Main wiring this
    // would be Seq(0, 1) growing per run
    Seq(Pipeline.nodesDir(c), Pipeline.edgesDir(c), Pipeline.triplesDir(c))
      .foreach { d =>
        assert(graft.tables.TableIO.listSnapshots(d) == Seq(1), d)
      }
  }
}
