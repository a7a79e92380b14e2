package graft

import graft.graph.{KgQueries, KgSession, Materialize}
import graft.run.{Enricher, Pipeline}
import graft.tables.TableIO
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `KgSession` folds each new delta into its pinned edges and carries the
  * counts and the degree forward. Seeded random sequences of writes — manual
  * adds (new, repeated, self-loop keys), enricher ticks, a mixed delta
  * committed through `TableIO`, compaction, vacuum and a full commit of the
  * nodes table — check after every step that every pinned read equals
  * `KgQueries` recomputed on `TableIO.readCurrent`. */
class KgSessionFoldSpec extends SparkSuite {

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private val Kinds = Seq("add new", "add repeated", "add self-loop", "tick", "focused tick",
    "mixed delta", "burst", "compaction", "vacuum", "nodes commit")

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
      // one document per pair of names: every pair co-occurs once, so ticks
      // can link any two nodes that are not adjacent yet, extras included
      val names = GraphFixture.Names ++ extras
      val mentions = names.combinations(2).zipWithIndex.flatMap { case (Seq(a, b), d) =>
        Seq((s"doc$d", a), (s"doc$d", b))
      }.toSeq.toDF("doc_id", "canonical")
      val tickConf = Enricher.Conf(minDocs = 1, batch = 2, maxRelationships = Long.MaxValue)
      val plain = new Enricher(kg, mentions, tickConf)
      val focused = new Enricher(kg, mentions, tickConf.copy(focusBottomK = 2))

      val taken = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame, Seq[Row])]
      def check(step: String): Unit = {
        val nodes = TableIO.readCurrent(spark, nodesDir)
        val edges = KgQueries.mergedEdges(TableIO.readCurrent(spark, edgesDir))
        assert(rows(kg.edges) == rows(edges), step)
        assert(kg.statistics() == ((nodes.count(), edges.count())), step)
        assert(rows(kg.degree()) == rows(KgQueries.degree(nodes, edges)), step)
        assert(kg.mostConnected(3).collect().toSeq ==
          KgQueries.mostConnected(nodes, edges, 3).collect().toSeq, step)
        assert(kg.lowConnectivity(3).collect().toSeq ==
          KgQueries.lowConnectivity(nodes, edges, 3).collect().toSeq, step)
        val (ns, ls) = kg.graphSnapshot()
        val (ns0, ls0) = KgQueries.graphSnapshot(nodes, edges)
        assert(rows(ns) == rows(ns0) && rows(ls) == rows(ls0), step)
        taken += ((step, kg.edges, rows(kg.edges)))
        taken += ((step, kg.degree(), rows(kg.degree())))
      }

      def nodeIds: IndexedSeq[Long] = kg.nodes.select("node_id").as[Long].collect().toIndexedSeq
      def pick[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.size))
      def addNew(i: Int): Unit = kg.addEdge(pick(nodeIds), pick(nodeIds), s"Manual $i")
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
          case "tick" => plain.runOnce()
          case "focused tick" => focused.runOnce()
          case "mixed delta" =>
            // two repeated keys, one new key twice, one new key once: the
            // edge count grows by 2 over 4 distinct delta keys
            val current = TableIO.readCurrent(spark, edgesDir)
              .orderBy(col("src_id").desc, col("dst_id"), col("pred")).limit(2)
            val twice = renamed(1, s"Mixed $i")
            TableIO.commitDelta(current.unionByName(twice).unionByName(twice)
              .unionByName(renamed(2, s"Mixed $i b").orderBy(col("src_id").desc).limit(1)),
              edgesDir, "edges")
          case "burst" => addNew(i); addRepeated(); plain.runOnce()
          case "compaction" =>
            TableIO.commitDelta(renamed(1, s"Compacted $i"), edgesDir, "edges", maxChain = 1)
            assert(TableIO.snapshotChain(edgesDir, TableIO.requireCurrentId(edgesDir)).size == 1)
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
    }
}
