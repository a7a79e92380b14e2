package graft.run

import graft.{Fixtures, GraftSession, SparkEntry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Plan evidence dumper: writes `explain("formatted")` of the run's
  * corpus-scale frame ([[Pipeline.corpusPlan]], as `pipeline_fused`) and of
  * every declared driver query to `<outDir>/<name>_<tag>.txt`. Run with tag
  * "before" and "after" around a change to a query's path and diff the two.
  *
  * Usage: sbt "runMain graft.run.Plans <sfDir> <outDir> <tag> [name...]"
  * (e.g. outDir `plans/r07`, tag `after`); names restrict the dump.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Plans <sfDir> <outDir> <tag> [name...]")
    val Array(sf, outDir, tag) = args.take(3)
    val only = args.drop(3).toSet
    val spark = GraftSession("local[8]", 8)
    Fixtures.ensure(spark, sf)
    val out = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(out)

    def fused: DataFrame = {
      val work = java.nio.file.Files.createTempDirectory("graft-plans").toString
      val conf = Pipeline.Conf(workDir = work, nDocs = 220, nBuckets = 4, fastExtract = true)
      Pipeline.ensureCorpus(spark, conf)
      Pipeline.corpusPlan(spark, conf, spark.read.parquet(Pipeline.docsDir(conf)),
        spark.read.parquet(Pipeline.aliasesPath(conf)))
    }
    val all: Seq[(String, () => DataFrame)] =
      ("pipeline_fused" -> (() => fused)) +:
        SparkEntry.queries.toSeq.sortBy(_._1).map { case (n, f) => n -> (() => f(spark, sf)) }
    all.foreach { case (name, mk) =>
      if (only.isEmpty || only.contains(name)) {
        try {
          val txt = mk().queryExecution.explainString(ExplainMode.fromString("formatted"))
          java.nio.file.Files.writeString(out.resolve(s"${name}_$tag.txt"), txt)
          println(s"wrote $name ($tag)")
        } catch {
          case e: Throwable => println(s"FAILED $name: ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }
}
