package graft

import java.nio.charset.StandardCharsets.UTF_8
import graft.graph.Materialize
import graft.model.ProvenanceRef
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform
import scala.collection.mutable

/** Canonicalization and the three output tables against a driver-side
  * oracle, on a hand-built pre-aggregate: union-find over names that share
  * a normalized form, the lowest id winning, grounded names in the lower id
  * band. Needs no golden export. */
class MaterializeSpec extends SparkSuite {
  import MaterializeSpec._
  import spark.implicits._

  private val aliasRows = Seq(
    ("Machine Learning", "Machine Learning", 1.0), ("ML", "Machine Learning", 0.6),
    ("Deep Learning", "Deep Learning", 1.0), ("DL", "Deep Learning", 0.6),
    ("Neural Network", "Neural Network", 1.0),
    ("Reinforcement Learning", "Reinforcement Learning", 1.0))
  private val canonicals = aliasRows.map(_._2).toSet

  private def prov(doc: String, n: Int) = (0 until n).map(i => ProvenanceRef(doc, i, s"m$i"))

  private val pre = Seq(
    // an all-open-path group (neither surface is a canonical) merging two
    // edges whose subjects are a grounded/open case-variant pair
    PreRow("Machine Learning", "Uses", "Gradient Descent", 3, 2.25, prov("d1", 3)),
    PreRow("machine learning", "Uses", "gradient descent", 2, 0.5, prov("d0", 2)),
    // whitespace variants; 15 + 15 exemplars merge and cap at ProvenanceCap
    PreRow("Deep Learning", "SubsetOf", "Machine Learning", 4, 4.0, prov("d3", 15)),
    PreRow("Deep  Learning", "SubsetOf", "machine learning", 1, 0.25, prov("d2", 15)),
    PreRow(" Deep Learning", "is a", "Neural Network", 1, 0.5, prov("d4", 1)),
    // a three-member group: one grounded member, two open-path ones
    PreRow("NEURAL NETWORK", "Part Of", "Deep Learning", 1, 0.75, prov("d5", 1)),
    PreRow("neural network", "Trained By", "Gradient Descent", 1, 0.75, prov("d6", 1)),
    // subj and obj merge into a self-loop
    PreRow("Machine Learning", "generalizes", "machine learning", 2, 1.5, prov("d7", 2)),
    // a singleton
    PreRow("Reinforcement Learning", "SubsetOf", "Machine Learning", 1, 1.0, prov("d8", 1)))

  private lazy val preDf = pre.toDS().toDF()
  private lazy val aliases = aliasRows.toDF("alias", "canonical", "prior")
  private lazy val rep = oracleCanon(pre.flatMap(r => Seq(r.subj, r.obj)).distinct, canonicals)

  test("canonicalize: one group-min per normalized name == union-find oracle") {
    val got = Materialize.canonicalize(spark, preDf, aliases)
      .as[(String, Long, String)].collect()
    assert(got.length == rep.size, "one row per distinct raw name")
    assert(got.map(r => r._1 -> (r._2, r._3)).toMap == rep)
    val repName = rep.map { case (n, (_, r)) => n -> r }
    // the grounded member wins over open-path members, whatever the hashes
    Seq("machine learning", "Machine Learning").foreach(n => assert(repName(n) == "Machine Learning"))
    Seq("Deep  Learning", " Deep Learning").foreach(n => assert(repName(n) == "Deep Learning"))
    Seq("NEURAL NETWORK", "neural network").foreach(n => assert(repName(n) == "Neural Network"))
    assert(repName("gradient descent") == repName("Gradient Descent"))
    assert(repName("Reinforcement Learning") == "Reinforcement Learning")
    assert(rep.values.toSet.size == 5, "ML, DL, NN, GD, RL")
  }

  test("named edge aggregate: edges, nodes and triples view == driver oracle, both entry points") {
    val resolve = Materialize.canonicalize(spark, preDf, aliases)
    val expEdges = oracleEdges(pre, rep)
    val expNodes = oracleNodes(expEdges, rep)
    val names = rep.values.toMap
    val expView = expEdges.map(e => (names(e._1), e._4, names(e._2)))
    assert(expEdges.size == 7 && expEdges.exists(e => e._1 == e._2), "merges and the self-loop")
    assert(expEdges.exists(_._8.length == Materialize.ProvenanceCap))

    // the path Pipeline.run takes: one checkpointed named frame
    val named = Materialize.namedEdges(preDf, resolve).localCheckpoint()
    val edgesT = Materialize.edgesTable(named)
    assert(edgesT.columns.toSeq == Materialize.EdgeColumns)
    assert(edges(edgesT) == expEdges)
    assert(nodes(Materialize.nodesOf(named)) == expNodes)
    assert(view(Materialize.triplesOf(named)) == expView)

    // the per-table entry points over materialized tables
    val edgesW = Materialize.buildEdgesAgg(preDf, resolve).localCheckpoint()
    assert(edges(edgesW) == expEdges)
    val nodesW = Materialize.buildNodes(resolve, edgesW)
    assert(nodesW.columns.toSeq == Seq("node_id", "name", "canonical_name", "description", "created_at"))
    assert(nodes(nodesW) == expNodes)
    assert(view(Materialize.triplesView(Materialize.Graph(nodesW, edgesW))) == expView)
  }
}

object MaterializeSpec {
  final case class PreRow(subj: String, pred: String, obj: String, n_obs: Long,
      score_sum: Double, provenance: Seq[ProvenanceRef])

  type Prov = (String, Int, String)
  type EdgeRow = (Long, Long, String, String, Double, Long, String, Seq[Prov])
  type NodeRow = (Long, String, String, String)

  def normName(s: String): String =
    s.replaceAll("^ +| +$", "").replaceAll(" +", " ").toLowerCase

  /** Spark's `xxhash64` (seed 42) over the UTF-8 bytes, in its id band. */
  def nodeId(name: String, grounded: Boolean): Long = {
    val b = name.getBytes(UTF_8)
    (XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L) & 0x1FFFFFFFFFFFFFFFL) +
      (if (grounded) 0L else 1L << 62)
  }

  /** name → (rep id, rep name) by union-find; the lower (id, name) is root. */
  def oracleCanon(names: Seq[String], canonicals: Set[String]): Map[String, (Long, String)] = {
    val id = names.map(n => n -> nodeId(n, canonicals(n))).toMap
    val parent = mutable.Map.empty[String, String]
    def find(x: String): String = parent.get(x) match {
      case None => x
      case Some(p) => val r = find(p); parent(x) = r; r
    }
    def union(a: String, b: String): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (Ordering[(Long, String)].lt((id(ra), ra), (id(rb), rb))) parent(rb) = ra
        else parent(ra) = rb
      }
    }
    for (a <- names; b <- names if normName(a) == normName(b)) union(a, b)
    names.map { n => val r = find(n); n -> (id(r), r) }.toMap
  }

  def oracleEdges(pre: Seq[PreRow], rep: Map[String, (Long, String)]): Set[EdgeRow] =
    pre.groupBy(r => (rep(r.subj)._1, rep(r.obj)._1, r.pred)).map { case ((s, d, p), rows) =>
      val n = rows.map(_.n_obs).sum
      val strength = BigDecimal(rows.map(_.score_sum).sum / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val prov = rows.flatMap(_.provenance).map(x => (x.doc_id, x.span_idx, x.media_ref))
        .sorted.take(graft.graph.Materialize.ProvenanceCap)
      (s, d, p, p.replace(" ", "_").toLowerCase, strength, n,
        s"${rep(rows.head.subj)._2} $p ${rep(rows.head.obj)._2}", prov)
    }.toSet

  def oracleNodes(edges: Set[EdgeRow], rep: Map[String, (Long, String)]): Set[NodeRow] = {
    val names = rep.values.toMap
    edges.toSeq.flatMap(e => Seq(e._1 -> e._7, e._2 -> e._7)).groupBy(_._1).map {
      case (id, ds) => (id, names(id), names(id), ds.map(_._2).min)
    }.toSet
  }

  def edges(df: DataFrame): Set[EdgeRow] = df.collect().map { r =>
    (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getDouble(4), r.getLong(5),
      r.getString(6), r.getSeq[Row](7).map(x => (x.getString(0), x.getInt(1), x.getString(2))))
  }.toSet

  def nodes(df: DataFrame): Set[NodeRow] = {
    val rows = df.collect()
    val set = rows.map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(set.size == rows.length, "one row per node")
    set
  }

  def view(df: DataFrame): Set[(String, String, String)] = {
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.distinct.length == rows.length, "the view is distinct")
    rows.toSet
  }
}
