package graft

import graft.extract.Extract
import graft.model.Doc
import graft.run.Pipeline
import graft.tables.TableIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Deterministic fixture tables for the driver's Verify/DuckDB correctness
  * gate. For a given sf dir (scale knob only — the driver's TPC-H tables
  * don't have the input_hint span shape, so the corpus is synthesized per
  * FIXTURES.md), this materializes under `target/graftdata/<sfBase>` of
  * the working directory, so each checkout builds and reads its own:
  *
  *   docs/          bucketized pipeline input (partitioned by bucket)
  *   docs_flat/     same corpus, flat parquet for the DuckDB oracle
  *   aliases/       alias dictionary (incl. alias_regex for the oracle)
  *   nodes_flat/ edges_flat/ triples_flat/   pipeline outputs
  *   mentions_flat/ all boundary-valid mentions (doc_id, span_idx, surface)
  *   candidates/    validity-filter fixture names
  *   dirty_nodes/ dirty_edges/   cleanup fixture with planted orphans
  */
object Fixtures {

  val Root: String = Paths.get("target/graftdata").toAbsolutePath.toString

  /** q_ann_lsh configuration, shared between the Spark query and the
    * `lsh_planes` fixture the DuckDB oracle reads: 16 tables of 8 bits suits
    * the 500-vector sf0.01 corpus (≈2 vectors/bucket); production default is
    * 16 bits/table (size bits to ~log2(N) - log2(bucket size)). */
  val AnnTables = 16
  val AnnBits = 8
  val AnnMaxBucket = 64
  val AnnDim = 64

  def scaleDocs(sfDir: String): Long = {
    val base = Paths.get(sfDir).getFileName.toString
    base match {
      case "sf0.001" => 220L
      case "sf0.01"  => 2000L
      case "sf0.1"   => 20000L
      case _         => 500L
    }
  }

  def root(sfDir: String): String =
    s"$Root/${Paths.get(sfDir).getFileName.toString}"

  /** Validity-filter fixture: reference-derived valid + invalid names. */
  val CandidateNames: Seq[String] = Seq(
    "Machine Learning", "Theory of Mind", "abc", "big data trends",
    "Human-Computer Interaction", "Named Entity Recognition (NER)",
    "", "ab", "AI", "Xq#z", "a(b)", "semi;colon", "under_score",
    "Qzw Vbn Mlk Jhg", "Quantum Flux Hyper", "Data Science",
    "Very long but Fine name", "x".repeat(2), "Gradient Descent")

  def ensure(spark: SparkSession, sfDir: String): String = synchronized {
    val r = root(sfDir)
    // bump the suffix whenever fixture content changes so stale round-N
    // fixtures regenerate (deterministic, ~30s at sf0.01). The JVM version
    // is folded in because media expecteds depend on the JDK's bundled
    // decoders (notably the native libjpeg behind lossy JPEG decode) — a
    // JDK upgrade regenerates fixtures instead of failing q_media_decode
    // parity in a way that masquerades as executor-vs-driver divergence
    val jdkTag = sys.props.getOrElse("java.version", "unknown")
      .replaceAll("[^0-9A-Za-z._-]", "_")
    // v13 (r07): pipeline link+preagg restructured to the surface-aggregated
    // path and the extraction kernel to scratch-array selection — regenerate
    // so fixtures are built by the production path (results must be
    // identical; the oracle re-derivation is what proves it)
    // v15 (r07): zero-copy in-place span scan (copy-on-emit slices) — same
    // rationale: fixtures must be built by the kernel that ships
    // v16: the default corpus comes from the built-in vocabulary instead of
    // the reference export — different names, triples and docs
    // v17: snapshot reads need each part file's byte length in the manifest
    // v18: delta commits and folds need each manifest's chain_len
    val ready = Paths.get(r, s"_READY_v18_jdk$jdkTag")
    if (Files.exists(ready)) return r
    import spark.implicits._

    val conf = Pipeline.Conf(workDir = r, nDocs = scaleDocs(sfDir),
      nBuckets = 8, concurrency = 4)
    val out = Pipeline.run(spark, conf)

    // flat copies for the DuckDB oracle
    out.docs.drop("bucket").coalesce(4).write.mode("overwrite").parquet(s"$r/docs_flat")
    out.nodes.coalesce(1).write.mode("overwrite").parquet(s"$r/nodes_flat")
    out.edges.coalesce(1).write.mode("overwrite").parquet(s"$r/edges_flat")
    out.triplesView.coalesce(1).write.mode("overwrite").parquet(s"$r/triples_flat")

    // mention table (all boundary-valid hits — regex-join-reproducible)
    val aliases = spark.read.parquet(Pipeline.aliasesPath(conf))
    val dict = Extract.broadcastDict(spark, aliases.select("alias").as[String].collect())
    Extract.mentionsAll(out.docs.drop("bucket").as[Doc], dict).toDF()
      .select("doc_id", "span_idx", "surface")
      .distinct()
      .coalesce(1).write.mode("overwrite").parquet(s"$r/mentions_flat")

    CandidateNames.toDF("name").coalesce(1)
      .write.mode("overwrite").parquet(s"$r/candidates")

    // cleanup fixture: valid graph + planted empty-pred edges + orphan nodes
    val dirtyNodes = out.nodes.select("node_id", "name")
      .unionByName(Seq((900001L, "Orphan One"), (900002L, "Orphan Two"))
        .toDF("node_id", "name"))
    val dirtyEdges = out.edges.select("src_id", "dst_id", "pred")
      .unionByName(Seq((1L, 2L, ""), (3L, 4L, "  ")).toDF("src_id", "dst_id", "pred"))
    dirtyNodes.coalesce(1).write.mode("overwrite").parquet(s"$r/dirty_nodes")
    dirtyEdges.coalesce(1).write.mode("overwrite").parquet(s"$r/dirty_edges")

    // dedup fixture: driver documents + planted exact and near duplicates
    val docsTbl = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val dupBase = docsTbl.filter(col("doc_id") < 5)
    val exactDups = dupBase.select((col("doc_id") + 9001).as("doc_id"), col("text"))
    val nearDups = dupBase.select((col("doc_id") + 9101).as("doc_id"),
      concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 4, 1000000)).as("text"))
    docsTbl.filter(col("doc_id") < 100).union(exactDups).union(nearDups)
      .coalesce(1).write.mode("overwrite").parquet(s"$r/dedup_docs")
    Seq((0L, 9101L), (1L, 9102L), (2L, 9103L), (3L, 9104L), (4L, 9105L), (0L, 1L))
      .toDF("a", "b")
      .coalesce(1).write.mode("overwrite").parquet(s"$r/ngram_pairs")

    // sign-LSH hyperplanes (same seeded doubles Ann.lshTopK derives) — lets
    // the DuckDB oracle recompute bucket assignments bit-exactly
    graft.sim.Ann.hyperplanes(AnnDim, AnnTables * AnnBits).zipWithIndex
      .map { case (w, i) => (i / AnnBits, i % AnnBits, w.toSeq) }
      .toSeq.toDF("tbl", "bit", "w")
      .coalesce(1).write.mode("overwrite").parquet(s"$r/lsh_planes")

    // embedding near-dup fixture: driver embeddings + planted exact dups
    // (vec_id+9001) and near dups (vec_id+9101, small deterministic
    // perturbation → cosine ≈ 0.999)
    val embT = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val embBase = embT.filter(col("vec_id") < 5)
    val exactE = embBase.select((col("vec_id") + 9001).as("vec_id"), col("embedding"))
    val nearE = embBase.select((col("vec_id") + 9101).as("vec_id"),
      expr("transform(embedding, (x, i) -> cast(x + 0.002 * ((i % 5) - 2) as float))")
        .as("embedding"))
    embT.filter(col("vec_id") < 100).union(exactE).union(nearE)
      .coalesce(1).write.mode("overwrite").parquet(s"$r/dedup_embs")

    // IVF coarse quantizer: seeds (the sample-based farthest-first model —
    // persisted so q_ivf_train can replay one Lloyd round from a FIXED seed
    // set in DuckDB, independently verifying the training kernel) and the
    // fully trained centroids the q_ann_ivf query AND its oracle both read;
    // training continues FROM the just-persisted seeds (one seeding pass,
    // and the two fixtures provably share one seed model)
    graft.sim.Ann.ivfSeeds(embT, k = 16)
      .coalesce(1).write.mode("overwrite").parquet(s"$r/ivf_seeds")
    graft.sim.Ann.ivfTrainFrom(embT, spark.read.parquet(s"$r/ivf_seeds"), iters = 5)
      .coalesce(1).write.mode("overwrite").parquet(s"$r/ivf_centroids")

    // media decode fixture: payloads the JDK's OWN codecs can read (real
    // PNG/BMP/GIF/JPEG/WAV bytes) plus garbage rows, with expected features
    // precomputed driver-side — q_media_decode then re-decodes the SAME
    // bytes on executors and the DuckDB oracle replays these expecteds, so
    // the driver's hash compare proves distributed decode parity.
    // Encoded once; all three media fixtures derive from the same byte set
    // by construction (not just by encoder determinism).
    val mediaPayloads = graft.media.MediaPayloads.table(72) // 8 full kind cycles
    mediaPayloads.map { case (id, bytes) =>
      val (fmt, f) = graft.media.MediaCodec.decodeReal(bytes)
        .getOrElse(("fallback", graft.media.MediaCodec.fallbackFeatures(id)))
      (id, bytes, fmt, f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7))
    }.toDF("media_id", "payload", "fmt",
        "e0", "e1", "e2", "e3", "e4", "e5", "e6", "e7")
      .coalesce(1).write.mode("overwrite").parquet(s"$r/media_codec")

    // real-resize expecteds: driver runs the same decode→NN-resize→PNG→
    // re-decode loop the executors run in q_media_resize_real
    mediaPayloads.map { case (id, bytes) =>
      graft.media.MediaCodec.resizeImage(bytes, 640, 360) match {
        case Some((w, h, ow, oh, png)) =>
          val f = graft.media.MediaCodec.decodeImage(png).get
          (id, "img", w, h, ow, oh, f(2), f(3), f(4), f(5), f(6), f(7))
        case None =>
          val (w, h) = graft.media.MediaCodec.fallbackDims(id)
          val (ow, oh) = graft.media.MediaCodec.fitDims(w, h, 640, 360)
          val f = graft.media.MediaCodec.fallbackFeatures(id)
          (id, "plan", w, h, ow, oh, f(2), f(3), f(4), f(5), f(6), f(7))
      }
    }.toDF("media_id", "fmt", "in_w", "in_h", "out_w", "out_h",
        "e2", "e3", "e4", "e5", "e6", "e7")
      .coalesce(1).write.mode("overwrite").parquet(s"$r/media_resized")

    // real-frame-sample expecteds, same loop as q_frame_sample_real
    mediaPayloads.flatMap { case (id, bytes) =>
      graft.media.MediaCodec.sampleFrames(bytes, 4) match {
        case Some((n, samples)) => samples.map { case (i, src, f) =>
          (id, "frames", n, i, src, f(2), f(3), f(4), f(5), f(6), f(7))
        }
        case None =>
          val dur = graft.media.MediaCodec.fallbackDurationDs(id)
          val f = graft.media.MediaCodec.fallbackFeatures(id)
          (0 until 4).map(i =>
            (id, "plan", 0, i, (i.toLong * dur / 4).toInt,
              f(2), f(3), f(4), f(5), f(6), f(7)))
      }
    }.toDF("media_id", "fmt", "n_frames", "frame_idx", "src_pos",
        "e2", "e3", "e4", "e5", "e6", "e7")
      .coalesce(1).write.mode("overwrite").parquet(s"$r/media_frames")

    // golden decode payloads: bytes ONLY — the expected features live as
    // hand-computed literals in the q_media_decode_golden oracle SQL
    // (ground truth independent of MediaCodec; see MediaPayloads.goldenTable)
    graft.media.MediaPayloads.goldenTable
      .toDF("media_id", "payload")
      .coalesce(1).write.mode("overwrite").parquet(s"$r/media_golden")

    // delete every stale _READY_* marker before writing ours: markers are
    // version+JDK-tagged, so leaving old ones would let a host that
    // ALTERNATES JDKs on one fixture root (CI matrix with a shared cache)
    // see its own old marker after the other JDK regenerated the data —
    // silently serving fixtures generated under the other JDK, the exact
    // masked-parity failure the jdkTag exists to prevent
    {
      val st = Files.list(Paths.get(r))
      try st.filter(p => p.getFileName.toString.startsWith("_READY_"))
        .forEach(p => Files.deleteIfExists(p))
      finally st.close()
    }
    Files.writeString(ready, "ok")
    r
  }

  def docsFlat(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"${ensure(spark, sfDir)}/docs_flat")
  def aliasesDf(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"${ensure(spark, sfDir)}/aliases")
  def nodesFlat(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"${ensure(spark, sfDir)}/nodes_flat")
  def edgesFlat(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"${ensure(spark, sfDir)}/edges_flat")
  def triplesFlat(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"${ensure(spark, sfDir)}/triples_flat")
  def mentionsFlat(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"${ensure(spark, sfDir)}/mentions_flat")
}
