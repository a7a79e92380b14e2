package graft

import graft.graph.Materialize
import graft.model.ProvenanceRef
import graft.run.Pipeline
import graft.tables.TableIO
import org.apache.spark.sql.SparkSession

/** A small graph committed the way `Pipeline.run` commits one: the named
  * edge aggregate over a hand-built pre-aggregate, written as the edges,
  * nodes and triples-view snapshot tables of a work dir. Needs no corpus
  * and no golden export. */
object GraphFixture {
  import MaterializeSpec.PreRow

  val Names: Seq[String] = Seq("Machine Learning", "Deep Learning", "Neural Network",
    "Gradient Descent", "Reinforcement Learning")

  private def prov(doc: String, n: Int) = (0 until n).map(i => ProvenanceRef(doc, i, s"m$i"))

  private val pre = Seq(
    PreRow("Machine Learning", "Uses", "Gradient Descent", 3, 2.25, prov("d1", 3)),
    PreRow("machine learning", "Uses", "gradient descent", 2, 0.5, prov("d0", 2)),
    PreRow("Deep Learning", "SubsetOf", "Machine Learning", 4, 4.0, prov("d3", 30)),
    PreRow("Deep Learning", "is a", "Neural Network", 1, 0.5, prov("d4", 1)),
    PreRow("Neural Network", "Trained By", "Gradient Descent", 1, 0.75, prov("d6", 1)),
    PreRow("Reinforcement Learning", "SubsetOf", "Machine Learning", 1, 1.0, prov("d8", 1)))

  /** Commits the three tables under `workDir`; returns its conf. */
  def commit(spark: SparkSession, workDir: String): Pipeline.Conf = {
    import spark.implicits._
    val aliases = Names.map(n => (n, n, 1.0)).toDF("alias", "canonical", "prior")
    val preDf = pre.toDS().toDF()
    val named = Materialize.namedEdges(preDf,
      Materialize.canonicalize(spark, preDf, aliases)).localCheckpoint()
    val c = Pipeline.Conf(workDir = workDir)
    TableIO.commitSnapshot(Materialize.edgesTable(named), Pipeline.edgesDir(c), "edges")
    TableIO.commitSnapshot(Materialize.nodesOf(named), Pipeline.nodesDir(c), "nodes")
    TableIO.commitSnapshot(Materialize.triplesOf(named), Pipeline.triplesDir(c), "triples_view")
    c
  }
}
