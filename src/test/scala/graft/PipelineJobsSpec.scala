package graft

import java.nio.file.{Files, Paths}
import graft.model.{Doc, Span}
import graft.run.Pipeline

/** How many Spark jobs one `Pipeline.run(fastExtract = true)` schedules,
  * counted by a listener on a small hermetic corpus: its own alias table,
  * docs (with the `_DONE` marker) and predicate grammar. The dictionary-scale
  * tail's cost is per job, not per row, so the count is the regression
  * signal. */
class PipelineJobsSpec extends SparkSuite {
  import spark.implicits._

  private val sentences = Seq(
    "Machine Learning Uses Gradient Descent.",
    "Deep Learning SubsetOf Machine Learning.",
    // open path: the un-aliased lowercase variant merges into its canonical
    "Data Mining Branch Of machine learning.",
    "Reinforcement Learning SubsetOf Machine Learning.",
    "the quarterly budget was finalized.")

  /** Writes the corpus under `work` the way `Pipeline.ensureCorpus` lays it
    * out, plus an `Edge_Details.json` predicate grammar under `golden`. */
  private def writeCorpus(work: String, golden: String): Unit = {
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
    Files.createDirectories(Paths.get(golden))
    Files.writeString(Paths.get(golden, "Edge_Details.json"), Seq(
      edge("Machine Learning", "Uses", "Gradient Descent"),
      edge("Deep Learning", "SubsetOf", "Machine Learning"),
      edge("Data Mining", "Branch Of", "Machine Learning")).mkString("[", ",\n", "]"))
  }

  test("Pipeline.run(fastExtract) schedules at most 20 Spark jobs and builds the expected view") {
    val work = tmpDir("graft-jobs")
    val golden = tmpDir("graft-jobs-golden")
    writeCorpus(work, golden)
    val conf = Pipeline.Conf(workDir = work, goldenDir = golden, fastExtract = true)
    val (out, jobs) = withJobCount(Pipeline.run(spark, conf))
    assert(jobs <= 20, s"Pipeline.run scheduled $jobs Spark jobs")

    val view = out.triplesView.as[(String, String, String)].collect()
    assert(view.toSet == Set(
      ("Machine Learning", "uses", "Gradient Descent"),
      ("Deep Learning", "subsetof", "Machine Learning"),
      ("Data Mining", "branch_of", "Machine Learning"),
      ("Reinforcement Learning", "subsetof", "Machine Learning")))
    assert(out.nodes.count() == 5 && out.edges.count() == 4)
    // the committed snapshots hold the same rows the run returned
    val tv = graft.tables.TableIO.readCurrent(spark, Pipeline.triplesDir(conf))
    assert(tv.as[(String, String, String)].collect().toSet == view.toSet)
  }
}
