package graft.run

import graft.corpus.{DeterministicCorpus, Vocabulary}
import graft.extract.{ByteAhoCorasick, Extract}
import graft.graph.Materialize
import graft.link.EntityLink
import graft.tables.TableIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

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
  * manifests. A killed run resumes only the extraction stage, per bucket:
  * every [[run]] recomputes the aggregate and commits three fresh snapshots.
  */
object Pipeline {

  /** @param fastExtract resume-granularity knob: false = bucket-granular
    *   resume (driver loop of per-bucket jobs; default, matches the north
    *   rule's partition-level restart); true = single-pass extraction with
    *   stage-granular snapshot commit + per-partition lineage counters — the
    *   throughput configuration for large corpora where the per-bucket job
    *   latency would dominate.
    * @param goldenDir where the corpus vocabulary and the predicate grammar
    *   come from: `Vocabulary.BuiltIn` (the default) for the vocabulary
    *   shipped in the jar, or a directory in the reference export's JSON
    *   shape (`Edge_Details.json`, `Node_Details.json`). With a prebuilt
    *   corpus only the grammar is read, from `Edge_Details.json`.
    * @param docsDirOverride share one pre-built corpus across runs. */
  final case class Conf(
      workDir: String,
      nDocs: Long = 400,
      seed: Long = 42L,
      nBuckets: Int = 8,
      concurrency: Int = 4,
      goldenDir: String = Vocabulary.BuiltIn,
      fastExtract: Boolean = false,
      docsDirOverride: Option[String] = None)

  /** @param phases wall seconds of each named phase of this run, in order */
  final case class Out(docs: DataFrame, nodes: DataFrame, edges: DataFrame,
      triplesView: DataFrame, phases: Map[String, Double])

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
      val vocab = Vocabulary.at(c.goldenDir)
      val docs = DeterministicCorpus.docs(spark, c.nDocs, c.seed, vocab)
      TableIO.bucketize(docs.toDF(), "doc_id", c.nBuckets, docsDir(c))
      DeterministicCorpus.aliases(spark, vocab).toDF()
        .coalesce(1).write.mode("overwrite").parquet(aliasesPath(c))
      java.nio.file.Files.writeString(marker, "ok")
    }
  }

  /** Wall seconds of each named phase of one run, in run order. */
  final class Phases {
    private var done = ListMap.empty[String, Double]
    def apply[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      done = done.updated(name, (System.nanoTime() - t0) / 1e9)
      r
    }
    def toMap: Map[String, Double] = done
  }

  /** The run's one corpus-scale frame over `docs` and `aliases`, not yet
    * executed: extraction, the `validPred` gate and the pre-aggregate that
    * `run` checkpoints. The dictionary-scale work it needs (alias collect,
    * automata, ambiguity gate and, on the resumable path, the per-bucket
    * extraction snapshots) runs here, timed into `phase`. */
  def corpusPlan(spark: SparkSession, c: Conf, docs: DataFrame, aliases: DataFrame,
      phase: Phases = new Phases): DataFrame = {
    import spark.implicits._
    // (alias, canonical) pairs: the automaton dictionary AND the ambiguity
    // gate come from one dictionary-scale collect — the gate used to be a
    // separate Spark aggregate job in the fixed tail (r07)
    val aliasPairs = phase("aliasCollect")(
      aliases.select("alias", "canonical").as[(String, String)].collect())
    // byte-level automata, broadcast once per executor; see
    // ExtractTriplesExpr for why the columnar kernel is the throughput path
    val (dict, predGrammar) = phase("dicts")((
      spark.sparkContext.broadcast(ByteAhoCorasick(aliasPairs.map(_._1))),
      spark.sparkContext.broadcast(
        ByteAhoCorasick(Vocabulary.grammar(c.goldenDir)))))

    // stage 1: extraction kernel plan (no materialization of its own —
    // fused into the pre-aggregate job below)
    val raw =
      if (c.fastExtract) Extract.rawTriplesCols(docs.drop("bucket"), dict, predGrammar)
      else {
        // resumable path: per-bucket extraction snapshots (one extra corpus
        // write+read buys partition-granular restart)
        phase("extractBucketed")(
          TableIO.runBucketed(spark, "extract", docsDir(c), extractDir(c),
            c.nBuckets, c.concurrency) { in =>
            Extract.rawTriplesCols(in.drop("bucket"), dict, predGrammar)
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
    if (phase("linkPlan")(!EntityLink.hasAmbiguity(aliasPairs)))
      Materialize.preAggregateBySurface(
        raw.filter(graft.extract.Validity.validPred(col("pred"))), aliases)
    else {
      val docsText = docs
        .select(col("doc_id"), explode(col("spans")).as("s"))
        .filter(col("s.kind") === "text")
        .select(col("doc_id"), col("s.text").as("text"))
      Materialize.preAggregate(EntityLink.link(spark, raw, aliases, docsText))
    }
  }

  def run(spark: SparkSession, c: Conf): Out = {
    val phase = new Phases
    phase("ensureCorpus")(ensureCorpus(spark, c))

    val aliases = phase("aliases")(spark.read.parquet(aliasesPath(c)))
    // one read of the docs for every use below: each parquet read infers its
    // schema in a Spark job of its own
    val docs = spark.read.parquet(docsDir(c))
    val plan = corpusPlan(spark, c, docs, aliases, phase)
    val pre = phase("extractLinkAgg")(plan.localCheckpoint())

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

    Out(docs, nodesT, Materialize.edgesTable(named), tv, phase.toMap)
  }
}
