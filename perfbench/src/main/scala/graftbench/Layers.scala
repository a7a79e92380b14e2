package graftbench

import java.nio.file.Path
import scala.jdk.CollectionConverters._
import graftbench.Main.Metric

/** The per-layer metrics, named with their units in `BENCHMARK.json`'s
  * `per_layer` list. A traced run reports all of them; a layer the workload
  * does not exercise reads 0. */
object Layers {

  def catalog(spec: Path): Seq[(String, String)] =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(spec.toFile)
      .get("per_layer").elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  def metrics(spec: Path, values: Map[String, Double]): Seq[Metric] = {
    val cat = catalog(spec)
    val unknown = values.keySet -- cat.map(_._1)
    require(unknown.isEmpty, s"metrics missing from per_layer: ${unknown.mkString(", ")}")
    cat.map { case (n, u) => Metric(n, values.getOrElse(n, 0.0), u) }
  }
}
