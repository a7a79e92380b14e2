package graft

import graft.graph.{Cleanup, KgQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with an equivalent DuckDB SQL oracle over the same fixture
  * parquet (synthesized deterministically per BASELINE.json:input_hint; the
  * driver's TPC-H tables don't carry the span shape).
  *
  * The flagship oracle `q_pipeline_triples` is end-to-end and non-circular:
  * DuckDB independently re-derives the triple set from the raw docs + alias
  * fixtures with pure SQL, and must match the full Spark pipeline
  * (extraction → linking → group-min canonicalization → materialize →
  * triple view).
  */
object SparkEntry {

  /** Oracle fixture root — Verify runs at sf0.01 (TESTDATA.md). */
  private val R = s"${Fixtures.Root}/sf0.01"
  private def p(t: String) = s"read_parquet('$R/$t/*.parquet')"

  /** Flagship query on sf0.001: the canonical triple view. */
  def entry(spark: SparkSession): DataFrame =
    Fixtures.triplesFlat(spark, "/root/testdata/sf0.001")

  /** Register (once) a shutdown hook deleting this process's q_add_edge
    * scratch dir — the query's result frame reads it lazily, so the only
    * safe delete points are the next invocation's rebuild and JVM exit. */
  private val addEdgeScratchHooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def addEdgeScratchCleanup(dir: String): Unit =
    if (addEdgeScratchHooked.add(dir))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        val p = java.nio.file.Paths.get(dir)
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
        }
      }))

  /** A dead-looking owner's scratch dir is kept until it has been
    * untouched this long: a pid from another pid namespace (a second
    * container on the same fixture dir) reads as dead while it is alive. */
  private val ScratchGraceMs = 60L * 60 * 1000

  /** Delete sibling `addedge_table_pid<N>` scratch dirs whose owning pid is
    * dead (ProcessHandle.of is empty) and whose mtime is older than
    * [[ScratchGraceMs]] — never this process's own dir, never a live
    * process's. Malformed suffixes are left alone. */
  private[graft] def sweepDeadScratch(root: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (!Files.isDirectory(root)) return
    val self = ProcessHandle.current().pid()
    val staleBefore = System.currentTimeMillis() - ScratchGraceMs
    val st = Files.list(root)
    try st.filter(p =>
        p.getFileName.toString.startsWith("addedge_table_pid"))
      .forEach { p =>
        val pidStr = p.getFileName.toString.stripPrefix("addedge_table_pid")
        val dead = pidStr.forall(_.isDigit) && pidStr.nonEmpty && {
          val pid = pidStr.toLong
          pid != self && !ProcessHandle.of(pid).isPresent &&
            Files.getLastModifiedTime(p).toMillis < staleBefore
        }
        if (dead)
          Files.walk(p).sorted(java.util.Comparator.reverseOrder())
            .forEach(q => Files.deleteIfExists(q))
      }
    finally st.close()
  }

  private def mentionsCanon(s: SparkSession, d: String): DataFrame =
    Fixtures.mentionsFlat(s, d)
      .join(broadcast(Fixtures.aliasesDf(s, d)),
        col("surface") === col("alias"))
      .select("doc_id", "canonical")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    kgQueries ++ textQueries

  def kgQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- end-to-end pipeline (X1-X4, J5, G2, S9-S11, F6) ---
    "q_pipeline_triples" -> ((s, d) =>
      Fixtures.triplesFlat(s, d).orderBy("subj", "pred_norm", "obj")),
    // --- X4 mention detection ---
    "q_mention_spans" -> ((s, d) =>
      Fixtures.mentionsFlat(s, d).orderBy("doc_id", "span_idx", "surface")),
    // --- F1 validity filter ---
    "q_valid_names" -> ((s, d) => {
      val cands = s.read.parquet(s"${Fixtures.ensure(s, d)}/candidates")
      cands.filter(graft.extract.Validity.validName(col("name"))).orderBy("name")
    }),
    // --- A2 degree ---
    "q_degree" -> ((s, d) =>
      KgQueries.degree(Fixtures.nodesFlat(s, d), Fixtures.edgesFlat(s, d))
        .select("node_id", "name", "degree").orderBy("node_id")),
    // --- A4 most-connected top-k ---
    "q_top_connected" -> ((s, d) =>
      KgQueries.mostConnected(Fixtures.nodesFlat(s, d), Fixtures.edgesFlat(s, d), 5)
        .select("name", "degree")),
    // --- A3 low-connectivity top-k ---
    "q_low_connectivity" -> ((s, d) =>
      KgQueries.lowConnectivity(Fixtures.nodesFlat(s, d), Fixtures.edgesFlat(s, d), 10)
        .select("name", "degree")),
    // --- A6 predicate histogram ---
    "q_pred_histogram" -> ((s, d) =>
      KgQueries.predHistogram(Fixtures.edgesFlat(s, d))),
    // --- F7 substring search ---
    "q_search" -> ((s, d) =>
      KgQueries.search(Fixtures.nodesFlat(s, d), "Data")),
    // --- F7 substring search where the LIMIT 10 binds (>10 hits, so the
    //     deterministic name-order tie behavior is what's being checked) ---
    "q_search_limit" -> ((s, d) =>
      KgQueries.search(Fixtures.nodesFlat(s, d), "a")),
    // --- F5 concept-name projection ---
    "q_concept_names" -> ((s, d) =>
      KgQueries.conceptNames(Fixtures.nodesFlat(s, d))),
    // --- A1 statistics ---
    "q_stats" -> ((s, d) =>
      KgQueries.statistics(Fixtures.nodesFlat(s, d), Fixtures.edgesFlat(s, d))),
    // --- X2/J4 evidence: doc-level co-occurrence (per-doc entity cap of 8
    //     binds on 15 sf0.01 fixture docs, which carry up to 9 entities) ---
    "q_cooccurrence" -> ((s, d) =>
      KgQueries.cooccurrence(mentionsCanon(s, d), maxPerDoc = 8)
        .filter(col("n_docs") >= 3).orderBy("a", "b")),
    // --- edge/node description metadata (MERGE-on-create semantics) ---
    "q_edge_descriptions" -> ((s, d) => {
      val n = Fixtures.nodesFlat(s, d)
      Fixtures.edgesFlat(s, d)
        .join(n.select(col("node_id").as("src_id"), col("name").as("subj")), Seq("src_id"))
        .join(n.select(col("node_id").as("dst_id"), col("name").as("obj")), Seq("dst_id"))
        .select("subj", "pred_norm", "obj", "description")
        .distinct().orderBy("subj", "pred_norm", "obj")
    }),
    "q_node_descriptions" -> ((s, d) =>
      Fixtures.nodesFlat(s, d).select("name", "description").orderBy("name")),
    // --- J1 ConceptExists (left-semi) ---
    "q_concept_exists" -> ((s, d) => {
      val cands = s.read.parquet(s"${Fixtures.ensure(s, d)}/candidates")
      KgQueries.existingConcepts(cands, Fixtures.nodesFlat(s, d)).orderBy("name")
    }),
    // --- J4 non-adjacent candidate pairs (deterministic sampling) ---
    "q_nonadjacent_pairs" -> ((s, d) =>
      KgQueries.nonAdjacentPairs(Fixtures.nodesFlat(s, d), Fixtures.edgesFlat(s, d), 20)),
    // --- G6/G7 enrichment RunOnce ---
    "q_enrich_pairs" -> ((s, d) =>
      KgQueries.enrichOnce(Fixtures.nodesFlat(s, d), Fixtures.edgesFlat(s, d),
          mentionsCanon(s, d), minDocs = 3, maxNew = 25)
        .select("src_id", "dst_id", "pred_norm", "n_docs")),
    // --- G3/G4 cleanup ---
    "q_cleanup_nodes" -> ((s, d) => {
      val r = Fixtures.ensure(s, d)
      val (n, _) = Cleanup(s.read.parquet(s"$r/dirty_nodes"), s.read.parquet(s"$r/dirty_edges"))
      n.orderBy("node_id")
    }),
    "q_cleanup_edges" -> ((s, d) => {
      val r = Fixtures.ensure(s, d)
      val (_, e) = Cleanup(s.read.parquet(s"$r/dirty_nodes"), s.read.parquet(s"$r/dirty_edges"))
      e.orderBy("src_id", "dst_id", "pred")
    }),
    // --- north_star media provenance ---
    "q_media_provenance" -> ((s, d) =>
      Fixtures.edgesFlat(s, d)
        .select(explode(col("provenance")).as("pv"))
        .filter(col("pv.media_ref") =!= "")
        .select(col("pv.doc_id").as("doc_id"), col("pv.media_ref").as("media_ref"))
        .distinct().orderBy("doc_id", "media_ref")),
    // --- G8 snapshot export ---
    "q_graph_snapshot" -> ((s, d) => {
      val (ns, _) = KgQueries.graphSnapshot(Fixtures.nodesFlat(s, d), Fixtures.edgesFlat(s, d))
      ns.orderBy("id")
    }),
    // --- G1/O6 seed-BFS reachability (iterative DataFrame loop) ---
    "q_bfs_reachable" -> ((s, d) =>
      KgQueries.reachableFrom(Fixtures.nodesFlat(s, d), Fixtures.edgesFlat(s, d),
        "Artificial Intelligence", maxHops = 2, maxNodes = 1000)),
    // --- O6 with the maxNodes budget BINDING mid-traversal: at sf0.01 the
    //     seed reaches 1 + 7 + 32 nodes at hops 0/1/2, so maxNodes=15 takes
    //     all of hop 1 and forces the per-hop (hops, name, node_id) winner
    //     selection to pick 7 of hop 2's 32 candidates — the oracle replays
    //     the in-loop budget hop by hop ---
    "q_bfs_capped" -> ((s, d) =>
      KgQueries.reachableFrom(Fixtures.nodesFlat(s, d), Fixtures.edgesFlat(s, d),
        "Artificial Intelligence", maxHops = 2, maxNodes = 15)),
    // --- S13 manual edge creation through the TABLE path: base snapshot +
    //     O(1)-row delta commit + read-side MERGE view (the oracle replays
    //     the merge as a plain union+groupBy) ---
    "q_add_edge" -> ((s, d) => {
      // scratch table under the fixture root (a createTempDirectory here
      // would leak one full edges copy into /tmp every harness run),
      // PID-suffixed so two concurrent harness/Verify PROCESSES on the
      // same sfDir can't race on one dir (delete under a reader /
      // interleaved commits); rebuilt per invocation within a process and
      // removed by a shutdown hook — lazy evaluation means the returned
      // frame reads the dir AFTER this lambda, so it can't be deleted here
      val dir = s"${Fixtures.root(d)}/addedge_table_pid${ProcessHandle.current().pid()}"
      addEdgeScratchCleanup(dir)
      // sweep stale siblings left by SIGKILL/OOM-killed processes (their
      // shutdown hooks never ran): any addedge_table_pid* dir whose pid is
      // no longer alive is garbage — without this, each killed harness
      // leaks a full edges copy under the shared fixture root forever
      sweepDeadScratch(java.nio.file.Paths.get(Fixtures.root(d)))
      val tableDir = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(tableDir)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(tableDir)
          .sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(java.nio.file.Files.delete)
      }
      graft.tables.TableIO.commitSnapshot(Fixtures.edgesFlat(s, d), dir, "edges")
      KgQueries.addEdgeDelta(s, dir, 111L, 222L, "Manually Added")
      KgQueries.mergedEdges(graft.tables.TableIO.readCurrent(s, dir))
        .select("src_id", "dst_id", "pred_norm", "n_obs")
        .orderBy("src_id", "dst_id", "pred_norm")
    })
  )

  /** Golden payload rows that are images (decode through ImageIO) — the
    * rows q_media_resize_golden exercises; audio/garbage rows would take
    * the md5 plan path, which is not hand-derivable ground truth. */
  private val GoldenImageIds = Seq(
    "g00-png2x2", "g01-bmp2x2", "g02-gif4x1", "g03-gray3x1",
    "g07-agif2f", "g08-wbmp2x2")

  private def documentsDf(s: SparkSession, d: String) =
    s.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
  private def dedupDocs(s: SparkSession, d: String) =
    s.read.parquet(s"${Fixtures.ensure(s, d)}/dedup_docs")

  /** Training-data pipeline operators (dedup / text analysis / ANN /
    * multimodal plumbing). */
  def textQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- token counting ---
    "q_token_count" -> ((s, d) =>
      documentsDf(s, d).select(col("doc_id"),
        graft.text.TextOps.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id")),
    // --- BPE-ish subword-proxy token counting ---
    "q_bpeish_tokens" -> ((s, d) =>
      documentsDf(s, d).select(col("doc_id"),
        graft.text.TextOps.bpeishTokenCount(col("text")).as("n_bpeish"))
        .orderBy("doc_id")),
    // --- quality scoring ---
    "q_quality" -> ((s, d) =>
      graft.text.TextOps.quality(documentsDf(s, d), "doc_id", "text")
        .orderBy("doc_id")),
    // --- language-ID heuristic ---
    "q_lang_guess" -> ((s, d) =>
      documentsDf(s, d).select(col("doc_id"),
        graft.text.TextOps.langGuess(col("text")).as("lang_guess"))
        .orderBy("doc_id")),
    // --- exact dedup (hash-groupBy) ---
    "q_exact_dedup" -> ((s, d) =>
      graft.text.TextOps.exactDupGroups(dedupDocs(s, d), "doc_id", "text")
        .orderBy("text_md5")),
    "q_dedup_keep" -> ((s, d) =>
      graft.text.TextOps.dedupExact(dedupDocs(s, d), "doc_id", "text")
        .select("doc_id").orderBy("doc_id")),
    // --- n-gram Jaccard overlap ---
    "q_ngram_overlap" -> ((s, d) =>
      graft.text.TextOps.ngramOverlap(dedupDocs(s, d),
        s.read.parquet(s"${Fixtures.ensure(s, d)}/ngram_pairs"),
        "doc_id", "text").orderBy("a", "b")),
    // --- brute-force cosine top-k (exact ANN baseline) ---
    "q_ann_topk" -> ((s, d) =>
      graft.sim.Ann.bruteTopK(s.read.parquet(s"$d/embeddings.parquet"),
        Seq(0L, 1L, 2L, 3L, 4L), 10)
        .select("query_id", "rank", "vec_id").orderBy("query_id", "rank")),
    // --- multimodal feature plumbing (deterministic stub decoder) ---
    "q_media_features" -> ((s, d) =>
      graft.media.MediaFeatures.extract(Fixtures.docsFlat(s, d))
        .select("media_ref", "f0", "f1", "f2", "f3", "f4", "f5", "f6", "f7")
        .distinct().orderBy("media_ref").limit(500)),
    // --- REAL distributed media decode (JDK codecs: PNG/BMP/GIF/JPEG via
    //     ImageIO, PCM WAV via javax.sound; garbage rows degrade to the md5
    //     fallback). Executors re-decode the fixture's payload BYTES; the
    //     oracle replays the driver-precomputed expecteds from the same
    //     fixture — the hash compare proves executor decode == driver
    //     decode, integer-exact features (MediaCodec scaladoc) ---
    "q_media_decode" -> ((s, d) => {
      val r = Fixtures.ensure(s, d)
      graft.media.MediaFeatures.decodeFeatures(
        s.read.parquet(s"$r/media_codec").select("media_id", "payload"))
        .orderBy("media_id")
    }),
    // --- GROUND-TRUTH decode check: the media_golden fixture holds ONLY
    //     payload bytes; the oracle's expected features are hand-computed
    //     literals (derivations in MediaPayloads.goldenTable's scaladoc),
    //     independent of MediaCodec — unlike q_media_decode, whose oracle
    //     replays driver-precomputed expecteds and therefore proves
    //     executor==driver parity rather than decode correctness ---
    "q_media_decode_golden" -> ((s, d) => {
      val r = Fixtures.ensure(s, d)
      graft.media.MediaFeatures.decodeFeatures(
        s.read.parquet(s"$r/media_golden").select("media_id", "payload"))
        .orderBy("media_id")
    }),
    // --- GROUND-TRUTH resize check: executors run the full decode →
    //     NN-resize → PNG re-encode → re-decode loop over the golden image
    //     payloads into a 4×4 box; the oracle's dims AND resized-image
    //     features are hand-computed literals (derivations in the
    //     MediaCodecSpec golden-resize test, double-pinned there) — unlike
    //     q_media_resize_real, whose oracle replays driver-precomputed
    //     expecteds ---
    "q_media_resize_golden" -> ((s, d) => {
      val r = Fixtures.ensure(s, d)
      graft.media.MediaFeatures.resizeImages(
        s.read.parquet(s"$r/media_golden")
          .filter(col("media_id").isin(GoldenImageIds: _*))
          .select("media_id", "payload"), 4, 4)
        .orderBy("media_id")
    }),
    // --- GROUND-TRUTH frame-sample check: k=4 over a still (n=1: all
    //     samples hit frame 0), the 2-frame animated golden (src =
    //     ⌊i·2/4⌋ = 0,0,1,1 with DIFFERENT per-frame features) and the
    //     WBMP still; oracle rows are hand-computed literals ---
    "q_frame_sample_golden" -> ((s, d) => {
      val r = Fixtures.ensure(s, d)
      graft.media.MediaFeatures.frameSamplesReal(
        s.read.parquet(s"$r/media_golden")
          .filter(col("media_id").isin("g00-png2x2", "g07-agif2f", "g08-wbmp2x2"))
          .select("media_id", "payload"), 4)
        .orderBy("media_id", "frame_idx")
    }),
    // --- REAL pixel resize: executors decode → NN-resize (integer source
    //     indexing) → PNG re-encode → re-decode features of the RESIZED
    //     image; oracle replays driver-precomputed expecteds over the same
    //     payload bytes (media_resized fixture) ---
    "q_media_resize_real" -> ((s, d) => {
      val r = Fixtures.ensure(s, d)
      graft.media.MediaFeatures.resizeImages(
        s.read.parquet(s"$r/media_codec").select("media_id", "payload"),
        640, 360)
        .orderBy("media_id")
    }),
    // --- multimodal resize plumbing (aspect-fit plan, integer-exact) ---
    "q_media_resize" -> ((s, d) =>
      graft.media.MediaFeatures.resizePlan(
        graft.media.MediaFeatures.mediaTable(Fixtures.docsFlat(s, d)), 640, 360)
        .orderBy("media_ref").limit(500)),
    // --- REAL frame sampling: animated GIFs yield per-frame features on
    //     executors (k evenly spaced source frames); stills sample frame 0;
    //     non-images degrade to the decisecond plan. Oracle replays the
    //     driver-precomputed media_frames fixture ---
    "q_frame_sample_real" -> ((s, d) => {
      val r = Fixtures.ensure(s, d)
      graft.media.MediaFeatures.frameSamplesReal(
        s.read.parquet(s"$r/media_codec").select("media_id", "payload"), 4)
        .orderBy("media_id", "frame_idx")
    }),
    // --- multimodal frame-sample plumbing (k evenly spaced timestamps) ---
    "q_frame_sample" -> ((s, d) =>
      graft.media.MediaFeatures.frameSample(
        graft.media.MediaFeatures.mediaTable(Fixtures.docsFlat(s, d)), 4)
        .orderBy("media_ref", "frame_idx").limit(500)),
    // --- HAS_MEDIA provenance edges ---
    "q_media_edges" -> ((s, d) =>
      graft.media.MediaFeatures.mediaEdges(
        Fixtures.edgesFlat(s, d), Fixtures.nodesFlat(s, d))
        .orderBy("node_id", "media_ref").limit(500)),
    // --- MinHash+LSH near-dup; oracle = exact all-pairs shingle-Jaccard in
    //     DuckDB, so a green row proves 100% candidate recall at the
    //     planted-duplicate fixture (zero misses, zero false positives) ---
    "q_minhash_pairs" -> ((s, d) =>
      graft.text.NearDup.minhashDupPairs(dedupDocs(s, d), "doc_id", "text")
        .select("a", "b").orderBy("a", "b")),
    // --- SimHash near-dup; md5-derived token hash makes the signature,
    //     banding, Blocking.MaxBucket cap and Hamming filter exactly
    //     recomputable by the DuckDB oracle ---
    "q_simhash_pairs" -> ((s, d) =>
      graft.text.NearDup.simhashDupPairs(dedupDocs(s, d), "doc_id", "text")
        .select("a", "b", "hamming").orderBy("a", "b")),
    // --- winnowing fingerprints; base-128 positional gram key is the
    //     rolling hash, recomputable in SQL from ascii()%128 ---
    "q_fingerprint_counts" -> ((s, d) =>
      graft.text.NearDup.fingerprints(dedupDocs(s, d), "doc_id", "text")
        .groupBy("doc_id").agg(countDistinct("fp").as("n_fp"))
        .orderBy("doc_id")),
    // --- embedding-cosine near-dup dedup (LSH candidates + exact verify);
    //     oracle = exact all-pairs cosine over the planted-dup fixture ---
    "q_embed_neardup" -> ((s, d) => {
      val r = Fixtures.ensure(s, d)
      graft.sim.Ann.cosineDupPairs(s.read.parquet(s"$r/dedup_embs"),
        dim = Fixtures.AnnDim, threshold = 0.95)
        .orderBy("a", "b")
    }),
    // --- IVF TRAINING kernel: one Lloyd round from the persisted seed
    //     model (sample-based farthest-first seeding, q.v. Ann.ivfSeeds);
    //     the oracle independently replays nearest-seed assignment and the
    //     per-cell mean from the ivf_seeds fixture — training is no longer
    //     self-certified ---
    // Parity rounds the cell means at 4 dp: the two engines accumulate the
    // per-cell sums in different orders (VectorSum partial/merge order vs
    // DuckDB's avg), so the doubles can differ by the summation error —
    // bounded by ~n·ulp(Σ|x|) ≈ 1e-13 for these cells (n ≤ 500, |x| ≤ 1),
    // 9 orders below the 1e-4 rounding step. A 6-dp comparison left a
    // ~1e-8/run chance of a value landing within the error of a rounding
    // boundary and flaking the hash; at 4 dp that is ~1e-10.
    "q_ivf_train" -> ((s, d) => {
      val r = Fixtures.ensure(s, d)
      graft.sim.Ann.lloydRound(s.read.parquet(s"$d/embeddings.parquet"),
          s.read.parquet(s"$r/ivf_seeds"))
        .select(col("cid"), col("n"), posexplode(col("c")).as(Seq("pos", "m")))
        .select(col("cid"), col("n"), col("pos"), round(col("m"), 4).as("m4"))
        .orderBy("cid", "pos")
    }),
    // --- IVF ANN (k-means coarse quantizer, nprobe cells); oracle replays
    //     assignment + probing + scoring from the ivf_centroids fixture ---
    "q_ann_ivf" -> ((s, d) => {
      val r = Fixtures.ensure(s, d)
      graft.sim.Ann.ivfTopK(s.read.parquet(s"$d/embeddings.parquet"),
        s.read.parquet(s"$r/ivf_centroids"), Seq(0L, 1L, 2L, 3L, 4L),
        k = 10, nprobe = 4)
        .select("query_id", "rank", "vec_id").orderBy("query_id", "rank")
    }),
    // --- LSH-bucketed approximate ANN; oracle recomputes the sign-LSH
    //     buckets from the lsh_planes fixture (same seeded doubles) ---
    "q_ann_lsh" -> ((s, d) => {
      Fixtures.ensure(s, d) // lsh_planes fixture for the oracle
      graft.sim.Ann.lshTopK(s.read.parquet(s"$d/embeddings.parquet"),
        Seq(0L, 1L, 2L, 3L, 4L), 10, dim = Fixtures.AnnDim,
        nTables = Fixtures.AnnTables, bitsPerTable = Fixtures.AnnBits,
        maxBucket = Fixtures.AnnMaxBucket)
        .select("query_id", "rank", "vec_id").orderBy("query_id", "rank")
    })
  )

  // ----------------------------------------------------------------- oracles

  private val aliasBaitCte =
    s"""al AS (
       |  SELECT alias, canonical FROM ${p("aliases")}
       |  UNION
       |  SELECT lower(canonical), canonical FROM ${p("aliases")}
       |  WHERE canonical IN (
       |    SELECT canonical FROM ${p("aliases")} GROUP BY canonical
       |    HAVING max(CASE WHEN alias = lower(canonical) THEN 1 ELSE 0 END) = 0
       |       AND max(CASE WHEN canonical = lower(canonical) THEN 1 ELSE 0 END) = 0))""".stripMargin

  private val degreeCte =
    s"""d AS (
       |  SELECT node_id, count(*) AS degree FROM (
       |    SELECT src_id AS node_id FROM ${p("edges_flat")}
       |    UNION ALL SELECT dst_id FROM ${p("edges_flat")}) GROUP BY node_id),
       |nd AS (
       |  SELECT n.node_id, n.name, coalesce(d.degree, 0) AS degree
       |  FROM ${p("nodes_flat")} n LEFT JOIN d USING (node_id))""".stripMargin

  private val mentionsCanonCte =
    s"""mc AS (
       |  SELECT DISTINCT m.doc_id, a.canonical
       |  FROM ${p("mentions_flat")} m JOIN ${p("aliases")} a ON m.surface = a.alias)""".stripMargin

  def oracleSql: Map[String, String] = kgOracles ++ textOracles

  /** Shared independent re-derivation of the valid extracted triple set
    * (doc_id, subj, pred verbatim, obj) — the flagship chain. */
  private val extValidCte =
    s"""$aliasBaitCte,
       |sp AS (SELECT doc_id, unnest(spans) AS s FROM ${p("docs_flat")}),
       |t0 AS (SELECT doc_id, s.text AS t FROM sp WHERE s.kind = 'text'),
       |t1 AS (SELECT doc_id, CASE WHEN starts_with(t, 'It is documented that ')
       |  THEN substr(t, 23) ELSE t END AS t FROM t0),
       |t2 AS (SELECT doc_id, CASE
       |  WHEN ends_with(t, ', according to the survey.') THEN substr(t, 1, length(t) - 26)
       |  WHEN ends_with(t, '.') THEN substr(t, 1, length(t) - 1)
       |  ELSE t END AS t FROM t1),
       |subj AS (SELECT doc_id, t, alias, canonical,
       |  row_number() OVER (PARTITION BY doc_id, t ORDER BY length(alias) DESC, alias) AS rn
       |  FROM t2 JOIN al ON starts_with(t, alias || ' ')),
       |obj AS (SELECT doc_id, t, alias, canonical,
       |  row_number() OVER (PARTITION BY doc_id, t ORDER BY length(alias) DESC, alias) AS rn
       |  FROM t2 JOIN al ON ends_with(t, ' ' || alias)),
       |ext AS (SELECT s.doc_id, s.canonical AS subj,
       |  trim(substr(s.t, length(s.alias) + 1,
       |       length(s.t) - length(s.alias) - length(o.alias) - 1)) AS pred,
       |  o.canonical AS obj
       |  FROM (SELECT * FROM subj WHERE rn = 1) s
       |  JOIN (SELECT * FROM obj WHERE rn = 1) o ON s.doc_id = o.doc_id AND s.t = o.t),
       |extv AS (SELECT * FROM ext
       |  WHERE pred NOT IN ('related to', 'is related to', 'relates to')
       |    AND length(trim(pred)) > 0)""".stripMargin

  def kgOracles: Map[String, String] = Map(
    "q_pipeline_triples" ->
      s"""WITH $extValidCte
         |SELECT DISTINCT subj, lower(replace(pred, ' ', '_')) AS pred_norm, obj
         |FROM extv
         |ORDER BY subj, pred_norm, obj""".stripMargin,
    // edge description: canonical sentence rendering of the (subj,pred,obj)
    // key — constant per edge, so MERGE keeps it; re-derived independently
    "q_edge_descriptions" ->
      s"""WITH $extValidCte,
         |ed AS (SELECT DISTINCT subj, pred, obj FROM extv)
         |SELECT subj, lower(replace(pred, ' ', '_')) AS pred_norm, obj,
         |  subj || ' ' || pred || ' ' || obj AS description
         |FROM ed ORDER BY subj, pred_norm, obj""".stripMargin,
    // node description: lexicographically-first incident evidence sentence
    "q_node_descriptions" ->
      s"""WITH $extValidCte,
         |ed AS (SELECT DISTINCT subj, pred, obj FROM extv),
         |dd AS (SELECT subj, obj, subj || ' ' || pred || ' ' || obj AS d FROM ed),
         |nd AS (SELECT subj AS name, d FROM dd UNION ALL SELECT obj, d FROM dd)
         |SELECT name, min(d) AS description FROM nd GROUP BY name
         |ORDER BY name""".stripMargin,
    // J1 ConceptExists as a left-semi join
    "q_concept_exists" ->
      s"""SELECT name FROM ${p("candidates")}
         |WHERE name IN (SELECT name FROM ${p("nodes_flat")})
         |ORDER BY name""".stripMargin,
    "q_mention_spans" ->
      s"""WITH sp0 AS (SELECT doc_id, generate_subscripts(spans, 1) - 1 AS span_idx,
         |  unnest(spans) AS s FROM ${p("docs_flat")}),
         |sp AS (SELECT doc_id, span_idx, s.kind AS kind, s.text AS text FROM sp0)
         |SELECT DISTINCT sp.doc_id, sp.span_idx, a.alias AS surface
         |FROM sp JOIN ${p("aliases")} a
         |  ON sp.kind = 'text' AND regexp_matches(sp.text, a.alias_regex)
         |ORDER BY doc_id, span_idx, surface""".stripMargin,
    "q_valid_names" ->
      s"""SELECT name FROM ${p("candidates")}
         |WHERE name IS NOT NULL AND length(name) >= 3
         |  AND NOT regexp_matches(name, '[!@#$$%^&*()_+={}\\[\\]|\\\\:;"''<>,?/~`]')
         |  AND NOT (
         |    len(list_filter(string_split(name, ' '), w -> length(w) > 0)) > 2
         |    AND len(list_filter(string_split(name, ' '),
         |        w -> length(w) > 0 AND NOT regexp_matches(w, '^[A-Z]'))) = 0)
         |ORDER BY name""".stripMargin,
    "q_degree" ->
      s"""WITH $degreeCte
         |SELECT node_id, name, degree FROM nd ORDER BY node_id""".stripMargin,
    "q_top_connected" ->
      s"""WITH $degreeCte
         |SELECT name, degree FROM nd ORDER BY degree DESC, name ASC LIMIT 5""".stripMargin,
    "q_low_connectivity" ->
      s"""WITH $degreeCte
         |SELECT name, degree FROM nd ORDER BY degree ASC, name ASC LIMIT 10""".stripMargin,
    "q_pred_histogram" ->
      s"""SELECT pred_norm, count(*) AS n FROM ${p("edges_flat")}
         |GROUP BY pred_norm ORDER BY pred_norm""".stripMargin,
    "q_search" ->
      s"""SELECT name FROM ${p("nodes_flat")} WHERE contains(name, 'Data')
         |ORDER BY name LIMIT 10""".stripMargin,
    "q_search_limit" ->
      s"""SELECT name FROM ${p("nodes_flat")} WHERE contains(name, 'a')
         |ORDER BY name LIMIT 10""".stripMargin,
    "q_concept_names" ->
      s"""SELECT DISTINCT canonical_name AS name FROM ${p("nodes_flat")} ORDER BY name""".stripMargin,
    "q_stats" ->
      s"""SELECT (SELECT count(*) FROM ${p("nodes_flat")}) AS node_count,
         |       (SELECT count(*) FROM ${p("edges_flat")}) AS relationship_count""".stripMargin,
    "q_cooccurrence" ->
      s"""WITH mcc AS (
         |  SELECT m.doc_id, a.canonical, count(*) AS n_m
         |  FROM ${p("mentions_flat")} m JOIN ${p("aliases")} a ON m.surface = a.alias
         |  GROUP BY m.doc_id, a.canonical),
         |mc AS (
         |  SELECT doc_id, canonical FROM (
         |    SELECT doc_id, canonical, row_number() OVER (
         |      PARTITION BY doc_id ORDER BY n_m DESC, canonical ASC) AS rk
         |    FROM mcc) WHERE rk <= 8)
         |SELECT l.canonical AS a, r.canonical AS b, count(*) AS n_docs
         |FROM mc l JOIN mc r ON l.doc_id = r.doc_id AND l.canonical < r.canonical
         |GROUP BY a, b HAVING count(*) >= 3 ORDER BY a, b""".stripMargin,
    "q_nonadjacent_pairs" ->
      s"""WITH sn AS (SELECT node_id, name FROM ${p("nodes_flat")}
         |  ORDER BY md5(name) LIMIT 64),
         |pairs AS (SELECT a.node_id AS a_id, a.name AS a, b.node_id AS b_id, b.name AS b
         |  FROM sn a JOIN sn b ON a.node_id < b.node_id),
         |ex AS (SELECT DISTINCT least(src_id, dst_id) AS a_id, greatest(src_id, dst_id) AS b_id
         |  FROM ${p("edges_flat")})
         |SELECT a, b FROM pairs ANTI JOIN ex USING (a_id, b_id)
         |ORDER BY md5(a || '|' || b) LIMIT 20""".stripMargin,
    "q_enrich_pairs" ->
      s"""WITH $mentionsCanonCte,
         |co AS (SELECT l.canonical AS a, r.canonical AS b, count(*) AS n_docs
         |  FROM mc l JOIN mc r ON l.doc_id = r.doc_id AND l.canonical < r.canonical
         |  GROUP BY a, b HAVING count(*) >= 3),
         |wi AS (SELECT co.a, co.b, co.n_docs, ia.node_id AS a_id, ib.node_id AS b_id
         |  FROM co JOIN ${p("nodes_flat")} ia ON co.a = ia.name
         |          JOIN ${p("nodes_flat")} ib ON co.b = ib.name),
         |ex AS (SELECT DISTINCT least(src_id, dst_id) AS k1, greatest(src_id, dst_id) AS k2
         |  FROM ${p("edges_flat")}),
         |cand AS (SELECT wi.* FROM wi ANTI JOIN ex
         |  ON least(wi.a_id, wi.b_id) = ex.k1 AND greatest(wi.a_id, wi.b_id) = ex.k2)
         |SELECT a_id AS src_id, b_id AS dst_id, 'cooccurswith' AS pred_norm, n_docs
         |FROM cand ORDER BY n_docs DESC, md5(a || '|' || b) ASC LIMIT 25""".stripMargin,
    "q_cleanup_nodes" ->
      s"""WITH ce AS (SELECT * FROM ${p("dirty_edges")}
         |  WHERE pred IS NOT NULL AND length(trim(pred)) > 0),
         |touched AS (SELECT src_id AS node_id FROM ce UNION SELECT dst_id FROM ce)
         |SELECT n.node_id, n.name FROM ${p("dirty_nodes")} n
         |SEMI JOIN touched t ON n.node_id = t.node_id ORDER BY node_id""".stripMargin,
    "q_cleanup_edges" ->
      s"""SELECT src_id, dst_id, pred FROM ${p("dirty_edges")}
         |WHERE pred IS NOT NULL AND length(trim(pred)) > 0
         |ORDER BY src_id, dst_id, pred""".stripMargin,
    "q_media_provenance" ->
      s"""WITH pv0 AS (SELECT unnest(provenance) AS pv FROM ${p("edges_flat")})
         |SELECT DISTINCT pv.doc_id AS doc_id, pv.media_ref AS media_ref FROM pv0
         |WHERE pv.media_ref <> '' ORDER BY doc_id, media_ref""".stripMargin,
    "q_graph_snapshot" ->
      s"""WITH $degreeCte
         |SELECT node_id AS id, name, 'Concept' AS type, degree AS size
         |FROM nd ORDER BY id""".stripMargin,
    "q_bfs_reachable" ->
      s"""WITH RECURSIVE adj AS (SELECT DISTINCT src_id, dst_id FROM ${p("edges_flat")}),
         |r(node_id, hops) AS (
         |  SELECT node_id, 0 FROM ${p("nodes_flat")} WHERE name = 'Artificial Intelligence'
         |  UNION ALL
         |  SELECT a.dst_id, r.hops + 1 FROM r JOIN adj a ON a.src_id = r.node_id
         |  WHERE r.hops < 2),
         |m AS (SELECT node_id, min(hops) AS hops FROM r GROUP BY node_id)
         |SELECT m.node_id, n.name, CAST(m.hops AS INTEGER) AS hops
         |FROM m JOIN ${p("nodes_flat")} n USING (node_id)
         |ORDER BY hops, name LIMIT 1000""".stripMargin,
    // in-loop budget replay: per hop, candidates = new distinct successors;
    // when they exceed the remaining budget the winners are the budget-many
    // smallest by (name NULLS LAST, node_id) — exactly reachableFrom's
    // mid-loop cap. maxNodes=15: seed 1 + hop1 7 (under budget 14, all in)
    // + hop2 top-7-of-32 (budget 15-1-7)
    "q_bfs_capped" ->
      s"""WITH adj AS (SELECT DISTINCT src_id, dst_id FROM ${p("edges_flat")}),
         |nd AS (SELECT node_id, name FROM ${p("nodes_flat")}),
         |seed AS (SELECT node_id FROM nd WHERE name = 'Artificial Intelligence'),
         |h1c AS (SELECT DISTINCT a.dst_id AS node_id FROM seed s
         |  JOIN adj a ON a.src_id = s.node_id
         |  WHERE a.dst_id NOT IN (SELECT node_id FROM seed)),
         |h1 AS (SELECT node_id FROM (
         |    SELECT c.node_id, row_number() OVER (
         |      ORDER BY n.name ASC NULLS LAST, c.node_id ASC) AS rk
         |    FROM h1c c LEFT JOIN nd n USING (node_id))
         |  WHERE rk <= 15 - (SELECT count(*) FROM seed)),
         |h2c AS (SELECT DISTINCT a.dst_id AS node_id FROM h1 f
         |  JOIN adj a ON a.src_id = f.node_id
         |  WHERE a.dst_id NOT IN (SELECT node_id FROM seed
         |                         UNION SELECT node_id FROM h1)),
         |h2 AS (SELECT node_id FROM (
         |    SELECT c.node_id, row_number() OVER (
         |      ORDER BY n.name ASC NULLS LAST, c.node_id ASC) AS rk
         |    FROM h2c c LEFT JOIN nd n USING (node_id))
         |  WHERE rk <= 15 - (SELECT count(*) FROM seed) - (SELECT count(*) FROM h1)),
         |vis AS (SELECT node_id, 0 AS hops FROM seed
         |  UNION ALL SELECT node_id, 1 FROM h1
         |  UNION ALL SELECT node_id, 2 FROM h2)
         |SELECT v.node_id, n.name, CAST(v.hops AS INTEGER) AS hops
         |FROM vis v JOIN nd n USING (node_id)
         |ORDER BY hops, name LIMIT 15""".stripMargin,
    "q_add_edge" ->
      s"""SELECT src_id, dst_id, lower(replace(pred, ' ', '_')) AS pred_norm,
         |  CAST(sum(n_obs) AS BIGINT) AS n_obs
         |FROM (SELECT src_id, dst_id, pred, n_obs FROM ${p("edges_flat")}
         |      UNION ALL SELECT 111, 222, 'Manually Added', 1)
         |GROUP BY src_id, dst_id, pred
         |ORDER BY src_id, dst_id, pred_norm""".stripMargin
  )

  private val D = "read_parquet('/root/testdata/sf0.01/documents.parquet')"
  private val docsLong =
    s"(SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM $D)"

  private def markerSum(words: Seq[String]): String =
    words.map(w => s"len(regexp_extract_all(pad, ' $w '))").mkString(" + ")

  private val qualityCte =
    s"""q0 AS (SELECT doc_id, text, ' ' || lower(text) || ' ' AS pad FROM $docsLong),
       |q1 AS (SELECT doc_id,
       |  length(text) AS n_chars,
       |  len(list_filter(string_split_regex(trim(text), '\\s+'), w -> len(w) > 0)) AS n_tokens,
       |  ${markerSum(Seq("the", "and", "of", "a", "in", "to", "is"))} AS n_stopwords,
       |  len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct
       |  FROM q0)""".stripMargin

  def textOracles: Map[String, String] = Map(
    "q_token_count" ->
      s"""SELECT doc_id,
         |  len(list_filter(string_split_regex(trim(text), '\\s+'), w -> len(w) > 0)) AS n_tokens
         |FROM $docsLong ORDER BY doc_id""".stripMargin,
    "q_bpeish_tokens" -> {
      // same pattern strings; DuckDB single-quoted literals keep backslashes
      // verbatim, only embedded quotes need doubling
      val pat = graft.text.TextOps.BpeishPattern.replace("'", "''")
      val ws = graft.text.TextOps.WsRunPattern
      s"""SELECT doc_id,
         |  len(list_filter(regexp_extract_all(text, '$pat'),
         |      t -> NOT regexp_matches(t, '$ws'))) AS n_bpeish
         |FROM $docsLong ORDER BY doc_id""".stripMargin
    },
    "q_quality" ->
      s"""WITH $qualityCte
         |SELECT doc_id, n_chars, n_tokens, n_stopwords, n_punct,
         |  CASE WHEN n_tokens < 5 THEN 0
         |       WHEN n_punct * 10 > n_tokens THEN 1
         |       WHEN n_stopwords = 0 THEN 2 ELSE 3 END AS quality_bucket
         |FROM q1 ORDER BY doc_id""".stripMargin,
    "q_lang_guess" ->
      s"""WITH q0 AS (SELECT doc_id, text, ' ' || lower(text) || ' ' AS pad FROM $docsLong),
         |sc AS (SELECT doc_id, text,
         |  ${markerSum(Seq("the", "and", "of", "is", "with"))} AS s_en,
         |  ${markerSum(Seq("der", "und", "die", "das", "mit"))} AS s_de,
         |  ${markerSum(Seq("el", "los", "las", "una", "con"))} AS s_es,
         |  ${markerSum(Seq("le", "les", "et", "une", "dans"))} AS s_fr
         |  FROM q0)
         |SELECT doc_id, CASE
         |  WHEN len(regexp_extract_all(text, '[一-龥]')) > 0 THEN 'zh'
         |  WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
         |  WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
         |  WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
         |  ELSE 'fr' END AS lang_guess
         |FROM sc ORDER BY doc_id""".stripMargin,
    "q_exact_dedup" ->
      s"""SELECT md5(text) AS text_md5, count(*) AS n_docs, min(doc_id) AS min_doc_id
         |FROM ${p("dedup_docs")} GROUP BY md5(text) HAVING count(*) > 1
         |ORDER BY text_md5""".stripMargin,
    "q_dedup_keep" ->
      s"""SELECT min(doc_id) AS doc_id FROM ${p("dedup_docs")}
         |GROUP BY md5(text) ORDER BY doc_id""".stripMargin,
    "q_ngram_overlap" ->
      s"""WITH tok AS (SELECT doc_id AS id,
         |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ts
         |  FROM ${p("dedup_docs")}),
         |sh AS (SELECT DISTINCT id, array_to_string(ts[i:i+2], ' ') AS sh
         |  FROM tok, UNNEST(generate_series(1, len(ts) - 2)) AS g(i) WHERE len(ts) >= 3),
         |cnt AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
         |pr AS (SELECT a, b FROM ${p("ngram_pairs")})
         |SELECT pr.a, pr.b, count(*) AS n_common, ca.n_sh AS n_a, cb.n_sh AS n_b
         |FROM pr
         |JOIN sh sa ON sa.id = pr.a
         |JOIN sh sb ON sb.id = pr.b AND sb.sh = sa.sh
         |JOIN cnt ca ON ca.id = pr.a
         |JOIN cnt cb ON cb.id = pr.b
         |GROUP BY pr.a, pr.b, ca.n_sh, cb.n_sh
         |ORDER BY a, b""".stripMargin,
    "q_ann_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |  FROM read_parquet('/root/testdata/sf0.01/embeddings.parquet')),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0,1,2,3,4)),
         |s AS (SELECT q.query_id, e.vec_id,
         |  round(list_dot_product(e.v, q.qv) /
         |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 5) AS cos5
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos5 DESC, vec_id ASC) AS rk
         |  FROM s)
         |SELECT query_id, CAST(rk AS INTEGER) AS rank, vec_id FROM r WHERE rk <= 10
         |ORDER BY query_id, rank""".stripMargin,
    "q_media_features" ->
      s"""WITH sp AS (SELECT unnest(spans) AS s FROM ${p("docs_flat")}),
         |m AS (SELECT DISTINCT s.media_ref AS media_ref FROM sp WHERE s.kind = 'media'),
         |h AS (SELECT media_ref, md5(media_ref) AS hx FROM m)
         |SELECT media_ref,
         |  ${(0 until 8).map(i => s"ascii(substr(hx, ${i + 1}, 1)) AS f$i").mkString(", ")}
         |FROM h ORDER BY media_ref LIMIT 500""".stripMargin,
    // replay of the driver-precomputed expected features persisted beside
    // the payload bytes (the Spark side re-decodes those bytes on
    // executors — see the queries entry for why this is a real parity)
    "q_media_decode" ->
      s"""SELECT media_id, fmt,
         |  ${(0 until 8).map(i => s"e$i AS f$i").mkString(", ")}
         |FROM ${p("media_codec")} ORDER BY media_id""".stripMargin,
    // hand-computed literal expecteds (derivations in
    // MediaPayloads.goldenTable's scaladoc) — decode GROUND TRUTH, no
    // MediaCodec-produced value anywhere on the oracle side
    "q_media_decode_golden" ->
      s"""SELECT media_id, fmt,
         |  ${(0 until 8).map(i => s"CAST(f$i AS FLOAT) AS f$i").mkString(", ")}
         |FROM (VALUES
         |  ('g00-png2x2',  'img', 2, 2, 127500, 127500, 127500, 127250, 7331, 1000),
         |  ('g01-bmp2x2',  'img', 2, 2, 127500, 127500, 127500, 127250, 7331, 1000),
         |  ('g02-gif4x1',  'img', 4, 1, 127500, 127500, 127500, 127250, 7331, 4000),
         |  ('g03-gray3x1', 'img', 3, 1, 128000, 128000, 128000, 128000, 0, 3000),
         |  ('g04-wav5',    'wav', 8000, 1, 5, 16, 140, 300, 3, 0),
         |  ('g05-au3',     'wav', 8000, 1, 3, 16, 3, 5, 1, 0),
         |  ('g06-aiff4',   'wav', 4000, 1, 4, 16, 1000, 1000, 3, 1),
         |  ('g07-agif2f',  'img', 4, 1, 127500, 127500, 127500, 127250, 7331, 4000),
         |  ('g08-wbmp2x2', 'img', 2, 2, 127500, 127500, 127500, 127500, 16383, 1000)
         |) AS t(media_id, fmt, f0, f1, f2, f3, f4, f5, f6, f7)
         |ORDER BY media_id""".stripMargin,
    // hand-computed resize ground truth: 2×2 quads duplicate each pixel
    // into a 4×4 grid (sums ×4 — means and variance unchanged), 4×1 rows
    // fit the 4×4 box as the identity, the 3×1 gray row NN-maps sx =
    // ⌊x·3/4⌋ = 0,0,1,2 (all gray). Derivations double-pinned by the
    // MediaCodecSpec golden-resize unit test
    "q_media_resize_golden" ->
      s"""SELECT media_id, fmt,
         |  ${(Seq("in_w", "in_h", "out_w", "out_h").map(c => s"CAST($c AS INTEGER) AS $c") ++
             (2 to 7).map(i => s"CAST(r$i AS FLOAT) AS r$i")).mkString(", ")}
         |FROM (VALUES
         |  ('g00-png2x2',  'img', 2, 2, 4, 4, 127500, 127500, 127500, 127250, 7331, 1000),
         |  ('g01-bmp2x2',  'img', 2, 2, 4, 4, 127500, 127500, 127500, 127250, 7331, 1000),
         |  ('g02-gif4x1',  'img', 4, 1, 4, 1, 127500, 127500, 127500, 127250, 7331, 4000),
         |  ('g03-gray3x1', 'img', 3, 1, 4, 1, 128000, 128000, 128000, 128000, 0, 4000),
         |  ('g07-agif2f',  'img', 4, 1, 4, 1, 127500, 127500, 127500, 127250, 7331, 4000),
         |  ('g08-wbmp2x2', 'img', 2, 2, 4, 4, 127500, 127500, 127500, 127500, 16383, 1000)
         |) AS t(media_id, fmt, in_w, in_h, out_w, out_h, r2, r3, r4, r5, r6, r7)
         |ORDER BY media_id""".stripMargin,
    // hand-computed frame-sample ground truth: stills are a 1-frame
    // sequence (every sample hits frame 0 → the decode features); the
    // 2-frame animated golden samples src = ⌊i·2/4⌋ = 0,0,1,1 with frame 0
    // = the quad row and frame 1 = the gray row — per-frame features are
    // DIFFERENT, so a decoder that ignored src frames would hash-mismatch
    "q_frame_sample_golden" ->
      s"""SELECT media_id, fmt,
         |  ${(Seq("n_frames", "frame_idx", "src_pos").map(c => s"CAST($c AS INTEGER) AS $c") ++
             (2 to 7).map(i => s"CAST(r$i AS FLOAT) AS r$i")).mkString(", ")}
         |FROM (VALUES
         |  ('g00-png2x2',  'frames', 1, 0, 0, 127500, 127500, 127500, 127250, 7331, 1000),
         |  ('g00-png2x2',  'frames', 1, 1, 0, 127500, 127500, 127500, 127250, 7331, 1000),
         |  ('g00-png2x2',  'frames', 1, 2, 0, 127500, 127500, 127500, 127250, 7331, 1000),
         |  ('g00-png2x2',  'frames', 1, 3, 0, 127500, 127500, 127500, 127250, 7331, 1000),
         |  ('g07-agif2f',  'frames', 2, 0, 0, 127500, 127500, 127500, 127250, 7331, 4000),
         |  ('g07-agif2f',  'frames', 2, 1, 0, 127500, 127500, 127500, 127250, 7331, 4000),
         |  ('g07-agif2f',  'frames', 2, 2, 1, 128000, 128000, 128000, 128000, 0, 4000),
         |  ('g07-agif2f',  'frames', 2, 3, 1, 128000, 128000, 128000, 128000, 0, 4000),
         |  ('g08-wbmp2x2', 'frames', 1, 0, 0, 127500, 127500, 127500, 127500, 16383, 1000),
         |  ('g08-wbmp2x2', 'frames', 1, 1, 0, 127500, 127500, 127500, 127500, 16383, 1000),
         |  ('g08-wbmp2x2', 'frames', 1, 2, 0, 127500, 127500, 127500, 127500, 16383, 1000),
         |  ('g08-wbmp2x2', 'frames', 1, 3, 0, 127500, 127500, 127500, 127500, 16383, 1000)
         |) AS t(media_id, fmt, n_frames, frame_idx, src_pos, r2, r3, r4, r5, r6, r7)
         |ORDER BY media_id, frame_idx""".stripMargin,
    // replay of driver-precomputed resize expecteds (see queries entry)
    "q_media_resize_real" ->
      s"""SELECT media_id, fmt, in_w, in_h, out_w, out_h,
         |  ${(2 to 7).map(i => s"e$i AS r$i").mkString(", ")}
         |FROM ${p("media_resized")} ORDER BY media_id""".stripMargin,
    "q_media_resize" ->
      s"""WITH sp AS (SELECT unnest(spans) AS s FROM ${p("docs_flat")}),
         |m AS (SELECT DISTINCT s.media_ref AS media_ref FROM sp WHERE s.kind = 'media'),
         |h AS (SELECT media_ref,
         |  CAST(('0x' || substr(md5(media_ref), 1, 4))::UBIGINT % 2048 + 256 AS INTEGER) AS width,
         |  CAST(('0x' || substr(md5(media_ref), 5, 4))::UBIGINT % 1024 + 144 AS INTEGER) AS height
         |  FROM m),
         |r AS (SELECT media_ref, width, height,
         |  CASE WHEN width * 360 >= height * 640 THEN 640
         |       ELSE greatest(1, CAST(floor(width * 360.0 / height) AS INTEGER)) END AS out_w,
         |  CASE WHEN width * 360 >= height * 640
         |       THEN greatest(1, CAST(floor(height * 640.0 / width) AS INTEGER)) ELSE 360 END AS out_h
         |  FROM h)
         |SELECT media_ref, width, height, out_w, out_h,
         |  CAST(out_w AS BIGINT) * out_h * 3 AS out_bytes
         |FROM r ORDER BY media_ref LIMIT 500""".stripMargin,
    // replay of driver-precomputed frame-sample expecteds (queries entry)
    "q_frame_sample_real" ->
      s"""SELECT media_id, fmt, n_frames, frame_idx, src_pos,
         |  ${(2 to 7).map(i => s"e$i AS r$i").mkString(", ")}
         |FROM ${p("media_frames")} ORDER BY media_id, frame_idx""".stripMargin,
    "q_frame_sample" ->
      s"""WITH sp AS (SELECT unnest(spans) AS s FROM ${p("docs_flat")}),
         |m AS (SELECT DISTINCT s.media_ref AS media_ref FROM sp WHERE s.kind = 'media'),
         |h AS (SELECT media_ref,
         |  CAST(('0x' || substr(md5(media_ref), 9, 4))::UBIGINT % 3600 + 10 AS INTEGER) AS duration_ds
         |  FROM m)
         |SELECT media_ref, CAST(g.frame_idx AS INTEGER) AS frame_idx,
         |  CAST(floor(g.frame_idx * duration_ds / 4.0) AS INTEGER) AS ts_ds
         |FROM h, UNNEST(generate_series(0, 3)) AS g(frame_idx)
         |ORDER BY media_ref, frame_idx LIMIT 500""".stripMargin,
    "q_media_edges" ->
      s"""WITH pv AS (SELECT src_id, unnest(provenance) AS p FROM ${p("edges_flat")}),
         |pm AS (SELECT DISTINCT src_id AS node_id, p.media_ref AS media_ref
         |  FROM pv WHERE p.media_ref <> '')
         |SELECT pm.node_id, n.name, 'has_media' AS pred_norm, pm.media_ref
         |FROM pm JOIN ${p("nodes_flat")} n USING (node_id)
         |ORDER BY node_id, media_ref LIMIT 500""".stripMargin,
    // exact all-pairs trigram-shingle Jaccard — ground truth for the
    // MinHash-LSH path; equality proves full recall AND the >= threshold
    // verify on this fixture
    "q_minhash_pairs" ->
      s"""WITH tok AS (SELECT doc_id AS id,
         |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ts
         |  FROM ${p("dedup_docs")}),
         |sh AS (SELECT DISTINCT id, array_to_string(ts[i:i+2], ' ') AS g
         |  FROM tok, UNNEST(generate_series(1, len(ts) - 2)) AS u(i) WHERE len(ts) >= 3),
         |cnt AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
         |inter AS (SELECT a.id AS a, b.id AS b, count(*) AS ni
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.id < b.id GROUP BY 1, 2)
         |SELECT i.a, i.b
         |FROM inter i JOIN cnt ca ON ca.id = i.a JOIN cnt cb ON cb.id = i.b
         |WHERE ni * 1.0 / (ca.n + cb.n - ni) >= 0.5 ORDER BY a, b""".stripMargin,
    // full independent re-derivation of the simhash pipeline: md5-derived
    // per-token 64-bit hash -> per-bit majority signature -> 4x16-bit bands
    // -> bucket cap 64 -> Hamming <= 3. The cap counts rows per bucket;
    // Blocking.pairs counts distinct ids, the same count when ids are unique
    // (dedup_docs' are)
    "q_simhash_pairs" ->
      s"""WITH tk AS (SELECT doc_id AS id,
         |  unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |         w -> len(w) > 0)) AS tok
         |  FROM ${p("dedup_docs")}),
         |th AS (SELECT id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h FROM tk),
         |bits AS (SELECT id, bb.b AS bit,
         |  sum(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
         |  FROM th, (SELECT unnest(generate_series(0, 63)) AS b) bb GROUP BY 1, 2),
         |sig AS (SELECT id,
         |  CAST(sum(CASE WHEN cnt > 0 THEN (1::UBIGINT << bit) ELSE 0 END) AS UBIGINT) AS sg
         |  FROM bits GROUP BY id),
         |bd AS (SELECT id, sg, bb.b AS band,
         |  CAST((sg >> (bb.b * 16)) & 65535 AS BIGINT) AS band_val
         |  FROM sig, (SELECT unnest(generate_series(0, 3)) AS b) bb),
         |bn AS (SELECT band, band_val, count(*) AS n FROM bd GROUP BY 1, 2),
         |cp AS (SELECT bd.* FROM bd JOIN bn USING (band, band_val) WHERE bn.n <= 64),
         |pr AS (SELECT DISTINCT l.id AS a, r.id AS b,
         |  CAST(bit_count(xor(l.sg, r.sg)) AS INTEGER) AS hamming
         |  FROM cp l JOIN cp r ON l.band = r.band AND l.band_val = r.band_val
         |    AND l.id < r.id)
         |SELECT a, b, hamming FROM pr WHERE hamming <= 3 ORDER BY a, b""".stripMargin,
    // independent winnowing re-implementation: base-128 positional 8-gram
    // keys, min per 4-window (fingerprint identity = key value, so tie
    // position is irrelevant), all-distinct when fewer grams than a window
    "q_fingerprint_counts" -> {
      val pows = Seq(562949953421312L, 4398046511104L, 34359738368L,
        268435456L, 2097152L, 16384L, 128L, 1L)
      val terms = pows.zipWithIndex
        .map { case (pw, j) => s"(ascii(substr(t, i + $j, 1)) % 128)::BIGINT * $pw" }
        .mkString(" +\n         |    ")
      s"""WITH d AS (SELECT doc_id, lower(text) AS t FROM ${p("dedup_docs")}
         |  WHERE length(text) >= 8),
         |g AS (SELECT doc_id, i,
         |    $terms AS h
         |  FROM d, UNNEST(generate_series(1, length(t) - 7)) AS u(i)),
         |n AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY doc_id),
         |wm AS (SELECT doc_id, i, min(h) OVER (PARTITION BY doc_id ORDER BY i
         |  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh FROM g),
         |sel AS (
         |  SELECT w.doc_id, w.mh AS fp FROM wm w JOIN n USING (doc_id)
         |  WHERE n.ng > 4 AND w.i <= n.ng - 3
         |  UNION
         |  SELECT g.doc_id, g.h AS fp FROM g JOIN n USING (doc_id) WHERE n.ng <= 4)
         |SELECT doc_id, count(DISTINCT fp) AS n_fp FROM sel GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    },
    // exact all-pairs cosine ≥ τ over the planted-duplicate embedding
    // fixture — ground truth for the LSH-candidate near-dup path (equality
    // proves full candidate recall at this fixture)
    "q_embed_neardup" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM ${p("dedup_embs")}),
         |pr AS (SELECT a.vec_id AS a, b.vec_id AS b,
         |  round(list_dot_product(a.v, b.v) /
         |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 5) AS cos5
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
         |SELECT a, b, cos5 FROM pr WHERE cos5 >= 0.95 ORDER BY a, b""".stripMargin,
    // IVF TRAINING replay from the ivf_seeds fixture: nearest-seed
    // assignment (same SHIFTED-L2 score |c|²−2v·c and cid tie-break as the
    // Spark kernel — |v|² is a per-row constant, dropped on BOTH sides)
    // then the per-cell elementwise mean — one full Lloyd round re-derived
    // in SQL, so the training kernel (not just search) is oracled
    "q_ivf_train" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |  FROM read_parquet('/root/testdata/sf0.01/embeddings.parquet')
         |  WHERE embedding IS NOT NULL),
         |c AS (SELECT cid, c::DOUBLE[] AS c FROM ${p("ivf_seeds")}),
         |asg AS (SELECT vec_id, v, cid FROM (
         |  SELECT e.vec_id, e.v, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |    list_dot_product(c.c, c.c)
         |      - 2 * list_dot_product(e.v, c.c) ASC, c.cid ASC) AS rk
         |  FROM e CROSS JOIN c) WHERE rk = 1),
         |cnt AS (SELECT cid, count(*) AS n FROM asg GROUP BY cid),
         |x AS (SELECT cid, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS x FROM asg)
         |SELECT x.cid, cnt.n, CAST(x.pos AS INTEGER) AS pos, round(avg(x.x), 4) AS m4
         |FROM x JOIN cnt USING (cid)
         |GROUP BY x.cid, cnt.n, x.pos
         |ORDER BY cid, pos""".stripMargin,
    // full IVF replay from the ivf_centroids fixture: nearest-cell
    // assignment (shifted-L2 score |c|²−2x·c, same dots in the same order
    // as the Spark kernel — the per-row |x|² constant is dropped on both
    // sides), nprobe probing, exact-cosine scoring, top-k
    // null embeddings are excluded to mirror Ann.withCid/lloydRound's
    // isNotNull guard (the sf0.01 fixture happens to contain none, but the
    // oracle must not silently diverge if one appears)
    "q_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |  FROM read_parquet('/root/testdata/sf0.01/embeddings.parquet')
         |  WHERE embedding IS NOT NULL),
         |c AS (SELECT cid, c::DOUBLE[] AS c FROM ${p("ivf_centroids")}),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |    list_dot_product(c.c, c.c)
         |      - 2 * list_dot_product(e.v, c.c) ASC, c.cid ASC) AS rk
         |  FROM e CROSS JOIN c) WHERE rk = 1),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2, 3, 4)),
         |pr AS (SELECT query_id, cid FROM (
         |  SELECT q.query_id, c.cid, row_number() OVER (PARTITION BY q.query_id ORDER BY
         |    list_dot_product(c.c, c.c)
         |      - 2 * list_dot_product(q.qv, c.c) ASC, c.cid ASC) AS rk
         |  FROM q CROSS JOIN c) WHERE rk <= 4),
         |cand AS (SELECT pr.query_id, asg.vec_id FROM pr JOIN asg USING (cid)
         |  WHERE asg.vec_id <> pr.query_id),
         |s AS (SELECT cand.query_id, cand.vec_id,
         |  round(list_dot_product(e.v, q.qv) /
         |    (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 5) AS cos5
         |  FROM cand JOIN e ON e.vec_id = cand.vec_id JOIN q ON q.query_id = cand.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |  ORDER BY cos5 DESC, vec_id ASC) AS rk FROM s)
         |SELECT query_id, CAST(rk AS INTEGER) AS rank, vec_id FROM r WHERE rk <= 10
         |ORDER BY query_id, rank""".stripMargin,
    // sign-LSH buckets recomputed from the lsh_planes fixture (identical
    // seeded doubles; list_dot_product on the same double arrays), then the
    // same per-bucket cap, candidate union, exact-cosine scoring and top-k
    "q_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |  FROM read_parquet('/root/testdata/sf0.01/embeddings.parquet')),
         |pl AS (SELECT tbl, bit, w::DOUBLE[] AS w FROM ${p("lsh_planes")}),
         |bk AS (SELECT e.vec_id, pl.tbl,
         |  CAST(sum(CASE WHEN list_dot_product(e.v, pl.w) >= 0
         |           THEN (1::BIGINT << pl.bit) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM e CROSS JOIN pl GROUP BY 1, 2),
         |qb AS (SELECT vec_id AS query_id, tbl, bucket FROM bk
         |  WHERE vec_id IN (0, 1, 2, 3, 4)),
         |ecap AS (SELECT vec_id, tbl, bucket FROM (
         |  SELECT vec_id, tbl, bucket,
         |    row_number() OVER (PARTITION BY tbl, bucket ORDER BY vec_id) AS rk
         |  FROM bk) WHERE rk <= ${Fixtures.AnnMaxBucket}),
         |cand AS (SELECT DISTINCT qb.query_id, ec.vec_id
         |  FROM qb JOIN ecap ec ON qb.tbl = ec.tbl AND qb.bucket = ec.bucket
         |  WHERE ec.vec_id <> qb.query_id),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2, 3, 4)),
         |s AS (SELECT c.query_id, c.vec_id,
         |  round(list_dot_product(e.v, q.qv) /
         |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 5) AS cos5
         |  FROM cand c JOIN e ON e.vec_id = c.vec_id JOIN q ON q.query_id = c.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |  ORDER BY cos5 DESC, vec_id ASC) AS rk FROM s)
         |SELECT query_id, CAST(rk AS INTEGER) AS rank, vec_id FROM r WHERE rk <= 10
         |ORDER BY query_id, rank""".stripMargin
  )
}
