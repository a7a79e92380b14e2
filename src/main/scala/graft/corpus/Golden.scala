package graft.corpus

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

final case class GoldenTriple(subj: String, pred: String, obj: String)

/** Loader for a graph in the reference's export shape: `Edge_Details.json`
  * (rows of n/r/m) and `Node_Details.json` (rows of n).
  *
  * [[defaultDir]] holds the reference's own export (a real run with seed
  * "Artificial Intelligence"; see data/Data_Samples.md:1-6): 76 nodes, 195
  * distinct (subj, pred, obj) triples, 138 raw predicates. It is the
  * golden-parity oracle only; the engine's default corpus comes from
  * [[Vocabulary.builtIn]]. A missing file fails with "reference export not
  * found at <dir>".
  *
  * Files are UTF-8 with a BOM; Jackson's byte bootstrapper strips it.
  */
object Golden {
  val defaultDir = "/root/reference/data"

  private def readJson(dir: String, file: String): JsonNode = {
    val f = new java.io.File(dir, file)
    if (!f.isFile)
      throw new java.io.FileNotFoundException(s"reference export not found at $dir (no $file)")
    new ObjectMapper().readTree(f)
  }

  /** Distinct (subj, pred, obj) from rows of Edge_Details.json that carry an
    * `r` object — mirrors the reference's canonical triple read
    * (RETURN a.name, r.type, b.name — kg-builder/internal/neo4j/neo4j.go:253-283). */
  def triples(dir: String): Vector[GoldenTriple] = {
    val root = readJson(dir, "Edge_Details.json")
    root.elements().asScala.flatMap { row =>
      val r = row.get("r")
      if (r == null || r.isNull) None
      else {
        val s = row.get("n").get("properties").get("name").asText()
        val p = r.get("properties").get("type").asText()
        val o = row.get("m").get("properties").get("name").asText()
        Some(GoldenTriple(s, p, o))
      }
    }.toVector.distinct.sortBy(t => (t.subj, t.pred, t.obj))
  }

  def nodeNames(dir: String): Vector[String] = {
    val root = readJson(dir, "Node_Details.json")
    root.elements().asScala
      .map(_.get("n").get("properties").get("name").asText())
      .toVector.distinct.sorted
  }

  /** Predicate normalization applied to BOTH golden and emitted triples before
    * P/R: lowercase + spaces→underscores. Mirrors formatRelationType
    * (kg-enricher/internal/neo4j/neo4j.go:353-365) plus lowercasing, because
    * the golden predicates are case-inconsistent (`Application` vs
    * `application`). All 195 golden triples stay distinct under it. */
  def normPred(p: String): String = p.trim.toLowerCase.replace(' ', '_')
}
