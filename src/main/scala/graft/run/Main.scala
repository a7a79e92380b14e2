package graft.run

import graft.GraftSession
import graft.graph.KgQueries
import graft.tables.TableIO
import org.apache.spark.sql.SparkSession

/** spark-submit entry point — the reference's builder main
  * (/root/reference/cmd/kg-builder/main.go:21) reshaped: config via the full
  * S7 precedence chain (defaults < `--conf=<file>` < GRAFT_* env < flags,
  * [[Config]]), stage orchestration with resume, run-metrics manifest, and
  * the closing statistics printout (mirrors showStatistics,
  * main.go:178-193).
  *
  * Usage (local example):
  *   spark-submit --class graft.run.Main <jar> \
  *     --conf=/etc/graft.conf --workDir=/tmp/kg --nDocs=100000 \
  *     --nBuckets=32 --concurrency=8 --fastExtract=false --enrich=true
  */
object Main {

  def parseArgs(args: Array[String]): Map[String, String] = Config.parseFlags(args)

  /** Snapshot-GC knobs (vacuumRetain, maxChain, vacuumGraceMs) from the
    * resolved config map — the same S7 precedence chain as everything else
    * (flags --vacuumRetain=N etc., env GRAFT_VACUUM_RETAIN / GRAFT_MAX_CHAIN
    * / GRAFT_VACUUM_GRACE_MS, conf file keys). Defaults: retain 2 roots
    * (bounded disk out of the box), 64-delta compaction, 5-min grace. */
  def gcKnobs(m: Map[String, String]): (Int, Int, Long) = (
    m.getOrElse("vacuumRetain", "2").toInt,
    m.getOrElse("maxChain", "64").toInt,
    m.getOrElse("vacuumGraceMs", "300000").toLong)

  def confFrom(m: Map[String, String]): Pipeline.Conf = Pipeline.Conf(
    workDir = m.getOrElse("workDir", "target/kg-run"),
    nDocs = m.getOrElse("nDocs", "400").toLong,
    seed = m.getOrElse("seed", "42").toLong,
    nBuckets = m.getOrElse("nBuckets", "8").toInt,
    concurrency = m.getOrElse("concurrency", "4").toInt,
    fastExtract = m.getOrElse("fastExtract", "false").toBoolean)

  def main(args: Array[String]): Unit = {
    val opts = Config.resolve(args)
    val spark = SparkSession.getActiveSession.getOrElse(GraftSession(
      opts.getOrElse("master", "local[8]"), opts.getOrElse("shufflePartitions", "8").toInt))
    val c = confFrom(opts)
    val (vacuumRetain, maxChain, vacuumGraceMs) = gcKnobs(opts)

    val t0 = System.nanoTime()
    val out = Pipeline.run(spark, c)
    // repeated --stage all runs on one workDir accrete snapshots exactly
    // like enricher ticks do — GC the pipeline's three table dirs too
    if (vacuumRetain > 0)
      Seq(Pipeline.nodesDir(c), Pipeline.edgesDir(c), Pipeline.triplesDir(c))
        .foreach(TableIO.vacuum(_, vacuumRetain, vacuumGraceMs))

    // optional enrichment pass (the reference's MineRandomRelationships /
    // enricher RunOnce, G6/G7) — one tick of the Enricher lifecycle
    if (opts.getOrElse("enrich", "false").toBoolean) {
      import org.apache.spark.sql.functions._
      val aliases = spark.read.parquet(Pipeline.aliasesPath(c))
      val dict = graft.extract.Extract.broadcastDict(spark,
        aliases.select("alias").as[String](org.apache.spark.sql.Encoders.STRING).collect())
      import spark.implicits._
      val mentions = graft.extract.Extract.mentionsAll(
          out.docs.drop("bucket").as[graft.model.Doc], dict).toDF()
        .join(broadcast(aliases), col("surface") === col("alias"))
        .select("doc_id", "canonical")
      val max = opts.getOrElse("enrichMax", "50").toInt
      new Enricher(graft.graph.KgSession.open(spark, c.workDir), mentions,
        Enricher.Conf(
          minDocs = opts.getOrElse("enrichMinDocs", "3").toLong,
          batch = max, maxRelationships = max.toLong,
          vacuumRetain = vacuumRetain, maxChain = maxChain,
          vacuumGraceMs = vacuumGraceMs)).runOnce()
    }

    val wallSec = (System.nanoTime() - t0) / 1e9
    val nodes = TableIO.readCurrent(spark, Pipeline.nodesDir(c))
    val edges = TableIO.readCurrent(spark, Pipeline.edgesDir(c))
    val stats = KgQueries.statistics(nodes, edges).collect()(0)

    // run-metrics manifest (A5 — the reference's BuilderStats counters)
    val metrics = f"""{
      |  "wall_sec": $wallSec%.2f,
      |  "node_count": ${stats.getLong(0)},
      |  "relationship_count": ${stats.getLong(1)},
      |  "docs": ${c.nDocs},
      |  "buckets": ${c.nBuckets},
      |  "fast_extract": ${c.fastExtract}
      |}""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${c.workDir}/run-metrics.json"), metrics)

    println(s"Graph built: ${stats.getLong(0)} concepts, " +
      s"${stats.getLong(1)} relationships in ${wallSec.formatted("%.1f")}s")
    KgQueries.mostConnected(nodes, edges, 5).collect().foreach { r =>
      println(s"  top: ${r.getAs[String]("name")} (${r.getAs[Long]("degree")})")
    }
    if (opts.getOrElse("stopSession", "true").toBoolean) spark.stop()
  }
}
