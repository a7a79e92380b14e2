package graft.run

import graft.GraftSession
import graft.corpus.Vocabulary

/** Dev smoke: full pipeline on a small corpus, print P/R against the
  * triples its corpus planted (the vocabulary `Conf.goldenDir` names). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("local[8]", 8)
    import spark.implicits._
    val work = "target/smoke"
    if (!args.contains("keep"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
    val t0 = System.nanoTime()
    val conf = Pipeline.Conf(workDir = work, nDocs = 400)
    val out = Pipeline.run(spark, conf)
    val emitted = out.triplesView.as[(String, String, String)].collect().toSet
    val planted = Vocabulary.at(conf.goldenDir).normalizedTriples
    val tp = (emitted & planted).size
    val p = tp.toDouble / math.max(1, emitted.size)
    val r = tp.toDouble / planted.size
    println(f"emitted=${emitted.size} planted=${planted.size} tp=$tp P=$p%.4f R=$r%.4f wall=${(System.nanoTime()-t0)/1e9}%.1fs")
    println("false positives (up to 10):")
    (emitted -- planted).take(10).foreach(println)
    println("misses (up to 10):")
    (planted -- emitted).take(10).foreach(println)
    println(s"nodes=${out.nodes.count()} edges=${out.edges.count()}")
    spark.stop()
  }
}
