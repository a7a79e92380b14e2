package graft.run

import graft.corpus.{DeterministicCorpus, Golden}
import graft.extract.{ByteAhoCorasick, Extract}
import graft.graph.Materialize
import graft.link.EntityLink
import graft.tables.TableIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage orchestration — the Spark-native equivalent of the reference's
  * builder main loop (/root/reference/cmd/kg-builder/main.go:21 →
  * BuildGraph → MineRandomRelationships → statistics), reshaped from a
  * seed-BFS with driver-side state into a corpus-driven staged Catalyst
  * pipeline (SURVEY.md §3.1):
  *
  *   docs (bucketized ingest, repartitionByRange)
  *     → extract   (bucket-granular resume; mention detect + OpenIE kernels)
  *     → link      (broadcast alias join + candidate gate + disambiguation)
  *     → graph     (group-min canonicalization, edge MERGE, cleanup)
  *     → snapshots (nodes / edges / triples_view Iceberg-style tables)
  *
  * Every stage leaves per-partition lineage + counters in checkpoint
  * manifests; a killed run resumes: the extraction stage at bucket
  * granularity, downstream snapshot stages at stage granularity.
  */
object Pipeline {

  /** @param fastExtract resume-granularity knob: false = bucket-granular
    *   resume (driver loop of per-bucket jobs; default, matches the north
    *   rule's partition-level restart); true = single-pass extraction with
    *   stage-granular snapshot commit + per-partition lineage counters — the
    *   throughput configuration for large corpora where the per-bucket job
    *   latency would dominate.
    * @param docsDirOverride share one pre-built corpus across runs. */
  final case class Conf(
      workDir: String,
      nDocs: Long = 400,
      seed: Long = 42L,
      nBuckets: Int = 8,
      concurrency: Int = 4,
      goldenDir: String = Golden.defaultDir,
      fastExtract: Boolean = false,
      docsDirOverride: Option[String] = None)

  final case class Out(docs: DataFrame, nodes: DataFrame, edges: DataFrame,
      triplesView: DataFrame)

  def docsDir(c: Conf): String = c.docsDirOverride.getOrElse(s"${c.workDir}/docs")
  def aliasesPath(c: Conf): String =
    c.docsDirOverride.map(d => s"$d/../aliases").getOrElse(s"${c.workDir}/aliases")
  def extractDir(c: Conf) = s"${c.workDir}/stage_extract"
  def nodesDir(c: Conf) = s"${c.workDir}/nodes"
  def edgesDir(c: Conf) = s"${c.workDir}/edges"
  def triplesDir(c: Conf) = s"${c.workDir}/triples_view"

  /** Synthesize + bucketize the corpus and alias table if not present. */
  def ensureCorpus(spark: SparkSession, c: Conf): Unit = {
    val marker = java.nio.file.Paths.get(docsDir(c), "_DONE")
    if (!java.nio.file.Files.exists(marker)) {
      val docs = DeterministicCorpus.docs(spark, c.nDocs, c.seed, c.goldenDir)
      TableIO.bucketize(docs.toDF(), "doc_id", c.nBuckets, docsDir(c))
      DeterministicCorpus.aliases(spark, c.goldenDir).toDF()
        .coalesce(1).write.mode("overwrite").parquet(aliasesPath(c))
      java.nio.file.Files.writeString(marker, "ok")
    }
  }

  /** Wall time of each named phase from the most recent `run` in this JVM —
    * the bench reads it to report a per-phase scaling table. */
  val phaseTimings = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  private def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    val sec = (System.nanoTime() - t0) / 1e9
    phaseTimings.put(name, sec)
    if (sys.env.contains("GRAFT_PHASE_TIMING"))
      System.err.println(f"[phase] $name $sec%.2fs")
    r
  }

  def run(spark: SparkSession, c: Conf): Out = {
    import spark.implicits._
    phaseTimings.clear()
    phase("ensureCorpus")(ensureCorpus(spark, c))

    val aliases = phase("aliases")(spark.read.parquet(aliasesPath(c)))
    // one read of the docs for every use below: each parquet read infers its
    // schema in a Spark job of its own
    val docs = spark.read.parquet(docsDir(c))
    // (alias, canonical) pairs: the automaton dictionary AND the ambiguity
    // gate come from one dictionary-scale collect — the gate used to be a
    // separate Spark aggregate job in the fixed tail (r07)
    val aliasPairs = phase("aliasCollect")(
      aliases.select("alias", "canonical").as[(String, String)].collect())
    val aliasList = aliasPairs.map(_._1)
    // byte-level automata, broadcast once per executor; see
    // ExtractTriplesExpr for why the columnar kernel is the throughput path
    val (dict, predGrammar) = phase("dicts")((
      spark.sparkContext.broadcast(ByteAhoCorasick(aliasList)),
      spark.sparkContext.broadcast(
        ByteAhoCorasick(Golden.triples(c.goldenDir).map(_.pred).distinct))))

    // stage 1: extraction kernel plan (no materialization of its own —
    // fused into the pre-aggregate job below)
    // A/B safety valve: GRAFT_EXTRACT_TYPED=1 falls back to the typed
    // object-mode kernel (reference implementation) — used to measure the
    // columnar expression's gain in one weather window, and as an escape
    // hatch if a corpus ever trips an expression-path defect in production
    val typedPath = sys.env.get("GRAFT_EXTRACT_TYPED").exists(_ != "0")
    def typedRaw(in: DataFrame): DataFrame = {
      import spark.implicits._
      val bc = Extract.broadcastDict(spark, aliasList)
      val pc = Extract.broadcastDict(spark, Golden.triples(c.goldenDir).map(_.pred).distinct)
      Extract.rawTriples(in.as[graft.model.Doc], bc, pc).toDF()
    }
    val raw =
      if (c.fastExtract) {
        val in = docs.drop("bucket")
        if (typedPath) typedRaw(in) else Extract.rawTriplesCols(in, dict, predGrammar)
      } else {
        // resumable path: per-bucket extraction snapshots (one extra corpus
        // write+read buys partition-granular restart); the typed escape
        // hatch applies here too (it used to silently no-op on this path)
        phase("extractBucketed")(
          TableIO.runBucketed(spark, "extract", docsDir(c), extractDir(c),
            c.nBuckets, c.concurrency) { in =>
            if (typedPath) typedRaw(in.drop("bucket"))
            else Extract.rawTriplesCols(in.drop("bucket"), dict, predGrammar)
          })
      }

    // stage 2+3 fused: linking + pre-aggregation. When no alias is
    // ambiguous (the probe is ONE dictionary-scale job), the canonical
    // endpoint is a pure function of the surface, so the corpus-scale
    // stream is aggregated by raw surface FIRST and the broadcast alias
    // joins + validName gate run on the dictionary-scale aggregate — the
    // per-corpus-row work drops to filter + hash-aggregate update (r07,
    // guide §8). With ambiguity the original per-row contextual link runs
    // (TF-IDF context scoring needs the document, not just the surface).
    val unambiguous = phase("linkPlan")(!EntityLink.hasAmbiguity(aliasPairs))
    val pre = phase("extractLinkAgg") {
      val plan =
        if (unambiguous)
          Materialize.preAggregateBySurface(
            raw.filter(graft.extract.Validity.validPred(col("pred"))), aliases)
        else {
          val docsText = docs
            .select(col("doc_id"), explode(col("spans")).as("s"))
            .filter(col("s.kind") === "text")
            .select(col("doc_id"), col("s.text").as("text"))
          Materialize.preAggregate(EntityLink.link(spark, raw, aliases, docsText))
        }
      plan.localCheckpoint()
    }

    // stage 3: canonicalize + materialize on the pre-aggregate. The named
    // edge aggregate is localCheckpoint'ed once (dictionary-scale); each
    // snapshot is written straight from it — edges as a projection, nodes
    // and the triples view as one small aggregate each — and the returned
    // tables are the same plans over the checkpoint (no read-back).
    val resolve = phase("canonicalize")(Materialize.canonicalize(spark, pre, aliases))
    val named = phase("edgesCommit") {
      val t = Materialize.namedEdges(pre, resolve).localCheckpoint()
      TableIO.commitSnapshot(Materialize.edgesTable(t), edgesDir(c), "edges"); t
    }
    val nodesT = Materialize.nodesOf(named)
    phase("nodesCommit")(TableIO.commitSnapshot(nodesT, nodesDir(c), "nodes"))
    val tv = Materialize.triplesOf(named)
    phase("triplesCommit")(TableIO.commitSnapshot(tv, triplesDir(c), "triples_view"))

    Out(docs, nodesT, Materialize.edgesTable(named), tv)
  }
}
