package graft

import java.nio.file.{Files, Paths}
import graft.model.{Doc, Span}
import graft.run.Pipeline
import org.apache.spark.sql.SparkSession

/** A small hermetic corpus laid out the way `Pipeline.ensureCorpus` lays one
  * out: its own alias table, docs (with the `_DONE` marker) and an
  * `Edge_Details.json` predicate grammar. Needs no golden export. */
object CorpusFixture {

  private val sentences = Seq(
    "Machine Learning Uses Gradient Descent.",
    "Deep Learning SubsetOf Machine Learning.",
    // open path: the un-aliased lowercase variant merges into its canonical
    "Data Mining Branch Of machine learning.",
    "Reinforcement Learning SubsetOf Machine Learning.",
    "the quarterly budget was finalized.")

  /** Writes the corpus under fresh temp dirs; returns a `fastExtract` conf
    * over it. */
  def write(spark: SparkSession): Pipeline.Conf = {
    import spark.implicits._
    val work = Files.createTempDirectory("graft-corpus").toString
    val golden = Files.createTempDirectory("graft-corpus-golden").toString
    val canon = Seq("Machine Learning", "Gradient Descent", "Deep Learning",
      "Data Mining", "Reinforcement Learning")
    (canon.map(n => (n, n, 1.0)) :+ (("ML", "Machine Learning", 0.6)))
      .toDF("alias", "canonical", "prior").coalesce(1).write.parquet(s"$work/aliases")
    val docs = (0 until 64).map { i =>
      Doc(f"doc-$i%03d", Seq(Span("media", "", s"media://$i", 0),
        Span("text", sentences(i % sentences.length), "", 1),
        Span("text", sentences((i + 2) % sentences.length), "", 60)))
    }
    spark.createDataset(docs).write.parquet(s"$work/docs")
    Files.writeString(Paths.get(work, "docs", "_DONE"), "ok")
    def edge(s: String, p: String, o: String) =
      s"""{"n":{"properties":{"name":"$s"}},"r":{"properties":{"type":"$p"}},"m":{"properties":{"name":"$o"}}}"""
    Files.writeString(Paths.get(golden, "Edge_Details.json"), Seq(
      edge("Machine Learning", "Uses", "Gradient Descent"),
      edge("Deep Learning", "SubsetOf", "Machine Learning"),
      edge("Data Mining", "Branch Of", "Machine Learning")).mkString("[", ",\n", "]"))
    Pipeline.Conf(workDir = work, goldenDir = golden, fastExtract = true)
  }
}
