package graft

import graft.run.Pipeline

/** How many Spark jobs one `Pipeline.run(fastExtract = true)` schedules,
  * counted by a listener on the hermetic `CorpusFixture`. The
  * dictionary-scale tail's cost is per job, not per row, so the count is the
  * regression signal. */
class PipelineJobsSpec extends SparkSuite {
  import spark.implicits._

  test("Pipeline.run(fastExtract) schedules at most 20 Spark jobs and builds the expected view") {
    val conf = CorpusFixture.write(spark)
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
    // this run's own phase timings, in run order
    assert(out.phases.keys.toSeq == Seq("ensureCorpus", "aliases", "aliasCollect", "dicts",
      "linkPlan", "extractLinkAgg", "canonicalize", "edgesCommit", "nodesCommit",
      "triplesCommit"), out.phases)
    assert(out.phases.values.forall(_ >= 0), out.phases)
  }
}
