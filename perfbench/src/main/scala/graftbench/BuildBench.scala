package graftbench

import java.nio.file.{Files, Path}
import graft.extract.{ByteAhoCorasick, Extract, Validity}
import graft.graph.Materialize
import graft.link.EntityLink
import graft.run.Pipeline
import graft.tables.TableIO
import graftbench.Main._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A generated corpus laid out the way `Pipeline.run` reads a prebuilt one:
  * `docs/` (with the `_DONE` marker that stops it generating its own),
  * `aliases/` beside it, and the predicate grammar under `golden/`. */
final case class Corpus(root: Path, vocab: Vocab, seed: Long, nDocs: Long) {
  def docsDir: String = root.resolve("docs").toString
  def goldenDir: String = root.resolve("golden").toString
  def conf(workDir: Path): Pipeline.Conf = Pipeline.Conf(workDir = workDir.toString,
    nDocs = nDocs, seed = seed, goldenDir = goldenDir, fastExtract = true,
    docsDirOverride = Some(docsDir))
  def aliases(spark: SparkSession): DataFrame = spark.read.parquet(Pipeline.aliasesPath(conf(root)))
}

object Corpus {
  /** Parquet files per corpus, one per generating task. */
  val Partitions = 8

  def write(spark: SparkSession, root: Path, v: Vocab, seed: Long, nDocs: Long): Corpus = {
    import spark.implicits._
    val c = Corpus(root, v, seed, nDocs)
    GoldenExport.write(Path.of(c.goldenDir), v)
    spark.createDataset(v.aliases).coalesce(1).write.parquet(Pipeline.aliasesPath(c.conf(root)))
    val vb = spark.sparkContext.broadcast(v)
    spark.range(0, nDocs, 1, Partitions).map(i => Gen.doc(vb.value, seed, i))
      .write.parquet(c.docsDir)
    Files.writeString(Path.of(c.docsDir, "_DONE"), "ok")
    c
  }
}

/** The fused corpus job's plans over one corpus, built from the engine's
  * public functions exactly as `Pipeline.run` composes them. */
final class CorpusPlans(spark: SparkSession, c: Corpus) {
  val docs: DataFrame = spark.read.parquet(c.docsDir)
  val aliases: DataFrame = c.aliases(spark)
  private val dict = spark.sparkContext.broadcast(ByteAhoCorasick(c.vocab.aliases.map(_.alias)))
  private val preds = spark.sparkContext.broadcast(ByteAhoCorasick(c.vocab.preds))
  val raw: DataFrame = Extract.rawTriplesCols(docs, dict, preds)
  val rawValid: DataFrame = raw.filter(Validity.validPred(col("pred")))
  val docsText: DataFrame = docs
    .select(col("doc_id"), explode(col("spans")).as("s"))
    .filter(col("s.kind") === "text")
    .select(col("doc_id"), col("s.text").as("text"))
  def linked: DataFrame = EntityLink.link(spark, raw, aliases, docsText)
  /** The pre-aggregate `Pipeline.run` picks for this dictionary. */
  def preAgg: DataFrame =
    if (c.vocab.ambiguous.nonEmpty) Materialize.preAggregate(linked)
    else Materialize.preAggregateBySurface(rawValid, aliases)
}

/** `build_dict`: repeated `Pipeline.run(fastExtract)` over one prebuilt
  * corpus. Its traced run also builds a small ambiguous corpus, to time and
  * check the contextual link path. */
object BuildBench {

  /** 2,000 concepts keep the automaton and the surface aggregate out of
    * the cores' caches, as a real dictionary does. */
  val Concepts = 2000
  val Planted = 3000
  val AmbiguousAcronyms = 40
  val Docs = 80000L
  /** Every doc of an ambiguous corpus goes through per-row contextual
    * linking, whose fixed cost alone is several seconds. */
  val AmbiguousDocs = 5000L
  /** Ladder prefixes of the `build_dict` corpus run this many times; the
    * lower time counts. The ambiguous corpus's run once. */
  val LadderReps = 2
  /** Timed builds per run, at the least: the JIT is still warming up after
    * the one warm-up build, so every run times the same builds. */
  val MinBuilds = 2

  def vocab(seed: Long, ambiguous: Boolean): Vocab =
    Gen.vocab(seed, Concepts, Planted, if (ambiguous) AmbiguousAcronyms else 0)

  def check(view: Set[Checks.ViewRow], v: Vocab): Seq[String] =
    if (v.ambiguous.isEmpty) Checks.exactView(view, v) else Checks.ambiguousView(view, v)

  private def collectView(tv: DataFrame): Set[Checks.ViewRow] =
    tv.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  /** One build: its wall and Java-thread CPU seconds, the linked triple
    * instances it made, and what its output check found. */
  final case class Build(wall: Double, cpu: Double, triples: Long, problems: Seq[String])

  private def checked(out: Pipeline.Out, wall: Double, cpu: Double, v: Vocab): Build =
    Build(wall, cpu, out.edges.agg(sum(col("n_obs"))).head().getLong(0),
      check(collectView(out.triplesView), v))

  /** One timed build into a fresh work dir, then its output check. */
  def build(spark: SparkSession, c: Corpus, wd: Path): Build = {
    val (out, wall, cpu) = measured(Pipeline.run(spark, c.conf(wd)))
    try checked(out, wall, cpu, c.vocab) finally deleteTree(wd)
  }

  /** Corpus generation and one warm-up build. */
  def setup(env: Env): (Corpus, Double) = timed {
    val c = Corpus.write(env.spark, env.dir("corpus"), vocab(env.seed, ambiguous = false),
      env.seed, Docs)
    val warm = build(env.spark, c, env.dir("warmup"))
    require(warm.problems.isEmpty, s"warm-up build failed its check: ${warm.problems.mkString("; ")}")
    c
  }

  def run(env: Env, traced: Boolean): Result = {
    val (c, setupS) = setup(env)
    note(f"setup ${setupS}%.2fs")
    if (traced) return layers(env, c)
    val builds = scala.collection.mutable.ArrayBuffer.empty[Build]
    var failed = 0L
    val problems = Seq.newBuilder[String]
    val heap = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = nowS
    while (builds.size < MinBuilds || nowS - t0 < env.seconds) {
      try {
        val b = build(env.spark, c, env.dir(s"build-${builds.size}"))
        builds += b
        if (b.problems.nonEmpty) { failed += 1; problems ++= b.problems }
        heap += retainedHeapMb()
        note(f"build ${builds.size}: ${b.wall}%.3fs wall ${b.cpu}%.2fs cpu ${b.triples} triples, heap ${heap.last}%.0f MB")
      } catch { case e: Exception =>
        failed += 1; problems += s"build threw: $e"; builds += Build(Double.NaN, Double.NaN, 0, Nil)
      }
    }
    val ok = builds.filter(b => !b.wall.isNaN && b.problems.isEmpty)
    require(ok.nonEmpty, "no successful build")
    // rates over the builds' own CPU time, checks and heap probes excluded
    val cpu = ok.map(_.cpu).sum
    Result(builds.size, failed, problems.result(), Seq(
      Metric("setup_s", setupS, "s"),
      Metric("triples_per_cpu_s", ok.map(_.triples).sum / cpu, "1/cpu_s"),
      Metric("ops_per_cpu_s", ok.size / cpu, "1/cpu_s"),
      Metric("peak_heap_mb", heap.max, "MB")))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Self time of each prefix of the corpus job: every prefix runs to a
    * noop sink `reps` times, and a layer's time is its prefix's
    * minus the previous prefix's. */
  private def ladder(trace: Trace, rungs: Seq[(String, () => DataFrame)],
      reps: Int = LadderReps): Map[String, Double] = {
    val prefix = rungs.map { case (name, df) =>
      name -> (1 to reps).map(k =>
        trace.span(s"ladder.$name", Map("rep" -> k))(noop(df()))._2.seconds).min
    }
    prefix.zip(0.0 +: prefix.map(_._2)).map { case ((n, t), prev) => n -> (t - prev) }.toMap
  }

  /** Traced run: one traced `Pipeline.run` against untraced ones, the
    * layer ladder, the dictionary-scale tail step by step, layer counts, and
    * the contextual link layer on an ambiguous corpus. */
  private def layers(env: Env, c: Corpus): Result = {
    val spark = env.spark
    // untraced builds on both sides of the traced one, so the JIT still
    // warming up does not count as tracing overhead
    val before = build(spark, c, env.dir("untraced-1"))
    val trace = new Trace(spark.sparkContext)
    val ((out, buildSpan), _, tracedCpu) =
      measured(trace.span("pipeline.run")(Pipeline.run(spark, c.conf(env.dir("traced")))))
    val traced = checked(out, buildSpan.seconds, tracedCpu, c.vocab)
    val after = build(spark, c, env.dir("untraced-2"))
    val untraced = (before.wall + after.wall) / 2

    val p = new CorpusPlans(spark, c)
    val self = ladder(trace, Seq("tables.scan_s" -> (() => p.docs),
      "extract.kernel_s" -> (() => p.rawValid), "graph.surfagg_s" -> (() => p.preAgg)))

    val pre = trace.span("tail.preagg")(p.preAgg.localCheckpoint())._1
    val (resolve, canonS) = trace.span("canon.canonicalize")(Materialize.canonicalize(spark, pre, p.aliases))
    val (edgesT, edgesS) = trace.span("graph.edges")(Materialize.buildEdgesAgg(pre, resolve).localCheckpoint())
    val (nodesT, nodesS) = trace.span("graph.nodes")(Materialize.buildNodes(resolve, edgesT).localCheckpoint())
    val commitDir = env.dir("commit")
    val (_, commitS) = trace.span("tables.commit") {
      TableIO.commitSnapshot(edgesT, commitDir.resolve("edges").toString, "edges")
      TableIO.commitSnapshot(nodesT, commitDir.resolve("nodes").toString, "nodes")
      TableIO.commitSnapshot(Materialize.triplesView(Materialize.Graph(nodesT, edgesT)),
        commitDir.resolve("triples_view").toString, "triples_view")
    }

    // layer counts: separate jobs, after the timings above
    val rawCounts = p.raw.agg(count(lit(1)),
      sum(when(Validity.validPred(col("pred")), 0).otherwise(1))).head()
    val sc = buildSpan.spark
    val (link, ambiguous) = contextualLink(env, trace)
    val values = self ++ link ++ Map(
      "extract.raw_triples" -> rawCounts.getLong(0).toDouble,
      "extract.drop_pred" -> rawCounts.getLong(1).toDouble,
      "graph.surfaces" -> p.rawValid.select("subj", "pred", "obj").distinct().count().toDouble,
      "canon.canonicalize_s" -> canonS.seconds,
      "canon.merged_nodes" -> (resolve.count() - resolve.select("rep_id").distinct().count()).toDouble,
      "graph.edges_s" -> edgesS.seconds,
      "graph.nodes_s" -> nodesS.seconds,
      "tables.commit_s" -> commitS.seconds,
      "tables.commit_mb" -> dirBytes(commitDir) / (1024.0 * 1024.0),
      "spark.cpu_s" -> sc.cpuNs / 1e9,
      "spark.gc_s" -> sc.gcMs / 1e3,
      "spark.shuffle_write_mb" -> sc.shuffleWriteBytes / (1024.0 * 1024.0),
      "spark.spill_mb" -> sc.spillBytes / (1024.0 * 1024.0),
      "spark.jobs" -> sc.jobs.toDouble,
      "spark.tasks" -> sc.tasks.toDouble,
      "trace.overhead_s" -> (buildSpan.seconds - untraced),
      "wall.triples_per_s" -> (before.triples + after.triples) / (before.wall + after.wall),
      "wall.ops_per_s" -> 2 / (before.wall + after.wall))
    trace.close()
    trace.write(env.dir("trace.json"), values ++ Map("untraced_build_s" -> untraced))
    val builds = Seq(before, traced, after, ambiguous)
    Result(builds.size, builds.count(_.problems.nonEmpty), builds.flatMap(_.problems),
      Layers.metrics(env.spec, values))
  }

  /** The contextual link layer: one checked `Pipeline.run` over a small
    * corpus whose dictionary has ambiguous acronyms (so the whole corpus is
    * linked per row), its ladder, and how many ambiguous mentions were
    * linked to the canonical they were planted for. */
  private def contextualLink(env: Env, trace: Trace): (Map[String, Double], Build) = {
    val spark = env.spark
    import spark.implicits._
    val c = Corpus.write(spark, env.dir("ambiguous"), vocab(env.seed, ambiguous = true),
      env.seed, AmbiguousDocs)
    val ((out, span), _, cpu) = measured(
      trace.span("ambiguous.pipeline.run")(Pipeline.run(spark, c.conf(env.dir("ambiguous-build")))))
    val b = checked(out, span.seconds, cpu, c.vocab)
    val p = new CorpusPlans(spark, c)
    val self = ladder(trace, Seq("ambiguous.extract" -> (() => p.rawValid),
      "link.contextual_s" -> (() => p.preAgg)), reps = 1)

    val linked = p.linked.localCheckpoint()
    val amb = c.vocab.ambiguous.keySet.toSeq
    val ambDocs = p.raw.filter(col("subj").isin(amb: _*) || col("obj").isin(amb: _*))
      .select("doc_id").distinct().count()
    val vb = spark.sparkContext.broadcast(c.vocab)
    val seed = c.seed
    val truth = spark.range(0, c.nDocs).flatMap(i => Gen.ambiguousMentions(vb.value, seed, i))
    val judged = truth.join(linked.select("doc_id", "span_idx", "subj", "obj"),
        Seq("doc_id", "span_idx"), "left")
      .agg(count(lit(1)), sum(when(
        when(col("role") === "subj", col("subj")).otherwise(col("obj")) === col("planted"), 1)
        .otherwise(0))).head()
    (Map("link.contextual_s" -> self("link.contextual_s"),
      "link.triples_per_s" -> b.triples / b.wall,
      "link.ambiguous_docs" -> ambDocs.toDouble,
      "link.linked_rows" -> linked.count().toDouble,
      "link.ambiguous_correct_ratio" -> judged.getLong(1).toDouble / judged.getLong(0)),
      b)
  }
}
