package graft

import graft.graph.{KgQueries, KgSession, Materialize}
import graft.run.{Enricher, Pipeline}
import graft.tables.TableIO
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `KgSession` folds each new delta into its pinned edges and carries the
  * counts and the degree forward, and keeps them current on its own known
  * writes without a merge. Seeded random sequences of writes — manual adds
  * (new, repeated, self-loop keys, re-adds of keys the session added),
  * enricher ticks, a mixed delta committed through `TableIO`, writes from
  * outside between and during the session's own, compaction, vacuum and a
  * full commit of the nodes table — check after every step that every
  * pinned read equals `KgQueries` recomputed on `TableIO.readCurrent`, the
  * counts and the degree before any read of rows. */
class KgSessionFoldSpec extends SparkSuite {

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private val Kinds = Seq("add new", "add repeated", "add self-loop", "tick", "focused tick",
    "mixed delta", "burst", "compaction", "vacuum", "nodes commit", "re-add", "tick, then add",
    "outside between known", "stale tick")

  // Tiny tables fit one partition, where a fold merges without a shuffle;
  // with the adaptive coalescing off the pins span the shuffle's partitions
  // and every fold shuffles.
  for ((seed, coalesced) <- Seq(1 -> true, 2 -> false))
    test(s"seed $seed, ${if (coalesced) "one partition" else "shuffled"}: " +
        "folded pins, counts and degree equal a recompute after every step") {
      val spark = this.spark.newSession()
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coalesced)
      import spark.implicits._
      val c = GraphFixture.commit(spark, tmpDir(s"kgfold$seed"))
      val (edgesDir, nodesDir) = (Pipeline.edgesDir(c), Pipeline.nodesDir(c))
      val kg = KgSession.open(spark, c.workDir)
      val rng = new scala.util.Random(seed)
      val steps = rng.shuffle(Kinds ++ Seq.fill(8)(Kinds(rng.nextInt(Kinds.size))))
      val extras = steps.indices.map(i => s"Extra $i")
      // six nodes with no edge yet, so ticks have pairs to pick from the start
      val pre = (0 until 6).map(j => s"Pre $j")
      TableIO.commitSnapshot(pre.zipWithIndex.map { case (n, j) =>
        TableIO.readCurrent(spark, nodesDir).orderBy("node_id").limit(1).withColumn("node_id",
          lit(900L + j)).withColumn("name", lit(n)).withColumn("canonical_name", lit(n))
      }.foldLeft(TableIO.readCurrent(spark, nodesDir))(_ unionByName _), nodesDir, "nodes")
      // one document per pair of names: every pair co-occurs once, so ticks
      // can link any two nodes that are not adjacent yet, extras included
      val names = GraphFixture.Names ++ pre ++ extras
      val mentions = names.combinations(2).zipWithIndex.flatMap { case (Seq(a, b), d) =>
        Seq((s"doc$d", a), (s"doc$d", b))
      }.toSeq.toDF("doc_id", "canonical")
      val tickConf = Enricher.Conf(minDocs = 1, batch = 2, maxRelationships = Long.MaxValue)
      val plain = new Enricher(kg, mentions, tickConf)
      val focused = new Enricher(kg, mentions, tickConf.copy(focusBottomK = 2))

      val taken = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame, Seq[Row])]
      /** Steps that committed edges and whose first read, `statistics`,
        * ran no Spark job. */
      val unmerged = scala.collection.mutable.ArrayBuffer.empty[String]
      /** Steps whose `reachableFrom` ran over known snapshots still pending. */
      val overKeys = scala.collection.mutable.ArrayBuffer.empty[String]
      var checkedHead = -1
      def check(step: String): Unit = {
        val nodes = TableIO.readCurrent(spark, nodesDir)
        val edges = KgQueries.mergedEdges(TableIO.readCurrent(spark, edgesDir))
        // the counts and the degree kept on write, before any read of rows
        val (stats, statJobs) = withJobCount(kg.statistics())
        if (statJobs == 0 && TableIO.requireCurrentId(edgesDir) != checkedHead) unmerged += step
        checkedHead = TableIO.requireCurrentId(edgesDir)
        assert(stats == ((nodes.count(), edges.count())), step)
        assert(rows(kg.degree()) == rows(KgQueries.degree(nodes, edges)), step)
        assert(kg.mostConnected(3).collect().toSeq ==
          KgQueries.mostConnected(nodes, edges, 3).collect().toSeq, step)
        assert(kg.lowConnectivity(3).collect().toSeq ==
          KgQueries.lowConnectivity(nodes, edges, 3).collect().toSeq, step)
        // the node directory follows the nodes snapshot
        for ((q, limit) <- Seq("" -> 100, "Learning" -> 2, "Extra" -> 100))
          assert(kg.search(q, limit) == KgQueries.search(nodes, q, limit).as[String].collect().toSeq, step)
        for (name <- Seq("Deep Learning", "Pre 3", "absent") ++
            nodes.filter(col("name").startsWith("Extra")).select("name").as[String].collect())
          assert(kg.idOf(name) == nodes.filter(col("name") === name).select("node_id").as[Long]
            .collect().headOption, step)
        // with known snapshots pending (statistics ran no job), the hops
        // read the pinned keys ∪ theirs: no merge job
        val (reach, reachJobs) = withJobCount(rows(kg.reachableFrom("Machine Learning", 2, 4)))
        if (unmerged.lastOption.contains(step)) {
          assert(reachJobs <= 2, s"$step: reachableFrom over pending keys ran $reachJobs jobs")
          overKeys += step
        }
        assert(reach == rows(KgQueries.reachableFrom(nodes, edges, "Machine Learning", 2, 4)), step)
        assert(rows(kg.edges) == rows(edges), step)
        val (ns, ls) = kg.graphSnapshot()
        val (ns0, ls0) = KgQueries.graphSnapshot(nodes, edges)
        assert(rows(ns) == rows(ns0) && rows(ls) == rows(ls0), step)
        taken += ((step, kg.edges, rows(kg.edges)))
        taken += ((step, kg.degree(), rows(kg.degree())))
      }

      def nodeIds: IndexedSeq[Long] = kg.nodes.select("node_id").as[Long].collect().toIndexedSeq
      def pick[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.size))
      /** Keys this session added since the last write that may drop its carry. */
      val added = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
      def addNew(i: Int): Unit = {
        val k = (pick(nodeIds), pick(nodeIds), s"Manual $i")
        kg.addEdge(k._1, k._2, k._3)
        added += k
      }
      def tick(e: Enricher): Unit =
        if (e.runOnce() > 0) added ++= TableIO.readSnapshots(spark, edgesDir,
          Seq(TableIO.requireCurrentId(edgesDir))).select("src_id", "dst_id", "pred")
          .as[(Long, Long, String)].collect()
      def reAdd(i: Int): Unit = if (added.isEmpty) addNew(i) else {
        val (s, d, p) = pick(added.toIndexedSeq)
        kg.addEdge(s, d, p)
      }
      def addRepeated(): Unit = {
        val (s, d, p) = pick(kg.edges.select("src_id", "dst_id", "pred")
          .as[(Long, Long, String)].collect().toIndexedSeq)
        kg.addEdge(s, d, p)
      }
      /** `n` rows of the current table with their key's pred renamed to
        * `pred` (a new key on existing endpoints). */
      def renamed(n: Int, pred: String): DataFrame =
        TableIO.readCurrent(spark, edgesDir).orderBy("src_id", "dst_id", "pred").limit(n)
          .withColumn("pred", lit(pred)).withColumn("pred_norm", Materialize.normPred(lit(pred)))

      check("open")
      assert(coalesced || kg.edges.rdd.getNumPartitions > 1, "the pin fits one partition")
      steps.zipWithIndex.foreach { case (kind, i) =>
        kind match {
          case "add new" => addNew(i)
          case "add repeated" => addRepeated()
          case "add self-loop" => val a = pick(nodeIds); kg.addEdge(a, a, "Self")
          case "tick" => tick(plain)
          case "focused tick" => tick(focused)
          case "mixed delta" =>
            // two repeated keys, one new key twice, one new key once: the
            // edge count grows by 2 over 4 distinct delta keys
            val current = TableIO.readCurrent(spark, edgesDir)
              .orderBy(col("src_id").desc, col("dst_id"), col("pred")).limit(2)
            val twice = renamed(1, s"Mixed $i")
            TableIO.commitDelta(current.unionByName(twice).unionByName(twice)
              .unionByName(renamed(2, s"Mixed $i b").orderBy(col("src_id").desc).limit(1)),
              edgesDir, "edges")
            added.clear()
          case "burst" => addNew(i); addRepeated(); tick(plain)
          case "re-add" => reAdd(i)
          case "tick, then add" => tick(plain); addNew(i)
          case "outside between known" =>
            tick(plain)
            TableIO.commitDelta(renamed(1, s"Outside $i"), edgesDir, "edges")
            reAdd(i)
          case "stale tick" =>
            // another writer commits the tick's first pick after the pairs
            // were picked and the session reads it: the tick's delta is
            // not on the snapshot its pairs came from
            val picks = plain.picks(2)
            val first = picks._2.limit(1).localCheckpoint()
            if (!first.isEmpty) TableIO.commitDelta(first, edgesDir, "edges")
            kg.statistics()
            plain.commit(picks)
          case "compaction" =>
            TableIO.commitDelta(renamed(1, s"Compacted $i"), edgesDir, "edges", maxChain = 1)
            assert(TableIO.snapshotChain(edgesDir, TableIO.requireCurrentId(edgesDir)).size == 1)
            added.clear()
          case "vacuum" =>
            TableIO.vacuum(edgesDir, retainLast = 1)
            TableIO.vacuum(nodesDir, retainLast = 1)
          case "nodes commit" =>
            TableIO.commitSnapshot(TableIO.readCurrent(spark, nodesDir).unionByName(
              TableIO.readCurrent(spark, nodesDir).orderBy("node_id").limit(1)
                .withColumn("node_id", lit(1000L + i)).withColumn("name", lit(extras(i)))
                .withColumn("canonical_name", lit(extras(i)))), nodesDir, "nodes")
        }
        check(s"step $i: $kind")
      }

      taken.foreach { case (step, df, before) =>
        assert(rows(df) == before, s"a frame taken after '$step' changed")
      }
      // the writes the session knows were read without a merge
      Seq("re-add", "tick").foreach(k =>
        assert(unmerged.exists(_.endsWith(s": $k")), s"no '$k' step was read without a job"))
      info(s"reachableFrom over pending keys after: ${overKeys.mkString(", ")}")
      assert(overKeys.size >= 4, s"reachableFrom ran over pending keys after ${overKeys.size} steps")
    }

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  private def threadCpuNs(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  /** `f`'s result and the Java-thread CPU seconds of the whole JVM it took. */
  private def cpuOf[T](f: => T): (T, Double) = {
    val c0 = threadCpuNs()
    val r = f
    (r, threadCpuNs().iterator.map { case (id, ns) => ns - c0.getOrElse(id, 0L) }.sum / 1e9)
  }

  test("past CarryCap: ticks and a large delta drop the carry; counts, degree and ticks stay " +
      "exact, and the tick re-pins") {
    import spark.implicits._
    val c = GraphFixture.commit(spark, tmpDir("kgcap"))
    val (edgesDir, nodesDir) = (Pipeline.edgesDir(c), Pipeline.nodesDir(c))
    // 120 nodes more: 125 names, 7,750 pairs, each co-occurring in one document
    val extra = (0 until 120).map(j => s"Node $j")
    TableIO.commitSnapshot(TableIO.readCurrent(spark, nodesDir).orderBy("node_id").limit(1)
      .crossJoin(extra.zipWithIndex.toDF("extra", "j"))
      .withColumn("node_id", lit(2000L) + col("j")).withColumn("name", col("extra"))
      .withColumn("canonical_name", col("extra")).drop("extra", "j")
      .unionByName(TableIO.readCurrent(spark, nodesDir)), nodesDir, "nodes")
    val mentions = (GraphFixture.Names ++ extra).combinations(2).zipWithIndex.flatMap {
      case (Seq(a, b), d) => Seq((s"doc$d", a), (s"doc$d", b))
    }.toSeq.toDF("doc_id", "canonical").localCheckpoint()
    val conf = Enricher.Conf(minDocs = 1, batch = 10, maxRelationships = Long.MaxValue)
    val co = KgQueries.cooccurrence(mentions).filter(col("n_docs") >= conf.minDocs).localCheckpoint()
    val kg = KgSession.open(spark, c.workDir)
    val small = new Enricher(kg, mentions, conf)
    val big = new Enricher(kg, mentions, conf.copy(batch = 2000))

    def check(step: String): Unit = {
      val nodes = TableIO.readCurrent(spark, nodesDir)
      val edges = KgQueries.mergedEdges(TableIO.readCurrent(spark, edgesDir))
      assert(kg.statistics() == ((nodes.count(), edges.count())), step)
      assert(rows(kg.degree()) == rows(KgQueries.degree(nodes, edges)), step)
      assert(kg.mostConnected(5).collect().toSeq ==
        KgQueries.mostConnected(nodes, edges, 5).collect().toSeq, step)
    }
    /** One tick, equal to enrichOnceFromCo over the tables as committed
      * just before it; returns its Java-thread CPU seconds and its jobs. */
    def tick(e: Enricher, batch: Int, step: String, checked: Boolean = true): (Double, Int) = {
      val want = rows(KgQueries.enrichOnceFromCo(TableIO.readCurrent(spark, nodesDir),
        KgQueries.mergedEdges(TableIO.readCurrent(spark, edgesDir)), co, batch))
      val ((n, jobs), cpu) = cpuOf(withJobCount(e.runOnce()))
      assert(n == batch, step)
      val delta = TableIO.readSnapshots(spark, edgesDir, Seq(TableIO.requireCurrentId(edgesDir)))
      assert(rows(delta.select(col("src_id"), col("dst_id"), col("pred"), col("pred_norm"),
        col("strength"), col("n_obs").as("n_docs"), col("description"))) == want, step)
      if (checked) check(step)
      (cpu, jobs)
    }

    check("open")
    tick(small, 10, "first small tick") // pins its pairs: 10 keys carried since
    val (cpuFew, jobsFew) = tick(small, 10, "small tick, 10 keys carried")
    assert(jobsFew == 1)
    tick(big, 2000, "first big tick")
    assert(tick(big, 2000, "big tick, 2,000 keys since its pairs' pin")._2 == 1)
    val (cpuMany, jobsMany) = tick(small, 10, "small tick, 4,010 keys since its pairs' pin")
    assert(jobsMany == 1, "the carry holds 4,020 keys, under CarryCap")
    info(f"Java-thread CPU of one tick: ${cpuFew * 1000}%.0f ms with 10 keys added " +
      f"since its pairs' pin, ${cpuMany * 1000}%.0f ms with 4,010")
    // 6,030 keys: the carry is dropped. The next tick pins its pairs again
    // and the degree is recomputed, both over the pinned keys ∪ the pending
    // ticks': no merge job
    tick(big, 2000, "big tick, past CarryCap", checked = false)
    val repinJobs = tick(small, 10, "small tick after the carry was dropped", checked = false)._2
    kg.degree()
    assert(jobsOf(kg.edges) == 1, "the re-pin or the degree recompute merged the pending ticks")
    check("small tick after the carry was dropped")
    assert(tick(small, 10, "small tick, carried again")._2 == 1)

    // one delta of 4,200 new keys from outside: too many rows to observe
    TableIO.commitDelta(TableIO.readCurrent(spark, edgesDir).orderBy("src_id", "dst_id", "pred")
      .limit(1).crossJoin(spark.range(4200).toDF("j"))
      .withColumn("pred", concat(lit("Bulk "), col("j")))
      .withColumn("pred_norm", Materialize.normPred(concat(lit("Bulk "), col("j")))).drop("j"),
      edgesDir, "edges")
    check("a delta of 4,200 new keys")
    val repinAfterMerge = tick(small, 10, "small tick after the large delta")._2
    assert(repinAfterMerge > 1, "no re-pin")
    assert(repinJobs == repinAfterMerge, "a re-pin over pending ticks ran more jobs than one over none")
    assert(tick(small, 10, "small tick, carried again after the large delta")._2 == 1)
  }
}
