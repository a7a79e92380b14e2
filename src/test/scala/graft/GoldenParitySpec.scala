package graft

import graft.corpus.{DeterministicCorpus, Golden, Vocabulary}
import graft.model.Doc
import graft.run.Pipeline
import org.apache.spark.sql.functions._

/** The correctness gate from BASELINE.json: full pipeline on the
  * deterministic corpus must reproduce the reference's golden triples at
  * P ≥ 0.95 ∧ R ≥ 0.95, preserve span sequences, and be deterministic.
  *
  * Every run here is built from the reference's export at
  * `Golden.defaultDir`, not the engine's built-in vocabulary: the export is
  * the oracle. Where it is absent these tests fail with "reference export
  * not found at <dir>". */
class GoldenParitySpec extends SparkSuite {
  import spark.implicits._

  private def conf(work: String, fastExtract: Boolean = false) =
    Pipeline.Conf(workDir = tmpDir(work), nDocs = 220, nBuckets = 4, concurrency = 2,
      goldenDir = Golden.defaultDir, fastExtract = fastExtract)

  private lazy val out1 = Pipeline.run(spark, conf("parity1"))

  private def triples(o: Pipeline.Out): Set[(String, String, String)] =
    o.triplesView.as[(String, String, String)].collect().toSet

  test("golden triple parity: P >= 0.95 and R >= 0.95") {
    val emitted = triples(out1)
    val golden = Vocabulary.at(Golden.defaultDir).normalizedTriples
    val tp = (emitted & golden).size.toDouble
    val p = tp / math.max(1, emitted.size)
    val r = tp / golden.size
    info(f"emitted=${emitted.size} tp=${tp.toInt} P=$p%.4f R=$r%.4f")
    assert(p >= 0.95, s"precision $p; extras=${(emitted -- golden).take(5)}")
    assert(r >= 0.95, s"recall $r; misses=${(golden -- emitted).take(5)}")
  }

  test("fastExtract (the bench configuration) emits the identical triple set") {
    // the fused single-job path and the bucketed resumable path must be the
    // same engine: identical triples, nodes, and edge MERGE keys
    val fast = Pipeline.run(spark, conf("parityFast", fastExtract = true))
    assert(triples(fast) == triples(out1))
    assert(fast.nodes.select("canonical_name").as[String].collect().toSet ==
      out1.nodes.select("canonical_name").as[String].collect().toSet)
    val keys = (o: Pipeline.Out) => o.edges.select("src_id", "dst_id", "pred", "n_obs")
      .as[(Long, Long, String, Long)].collect().toSet
    assert(keys(fast) == keys(out1))
  }

  test("node parity: canonical node set equals the 76 golden names") {
    val names = out1.nodes.select("canonical_name").as[String].collect().toSet
    assert(names == Golden.nodeNames(Golden.defaultDir).toSet)
  }

  test("span invariant: materialized docs preserve (kind, text, media_ref, order)") {
    val readBack = out1.docs.drop("bucket").as[Doc].collect()
      .map(d => d.doc_id -> d.spans.map(s => (s.kind, s.text, s.media_ref)).toList).toMap
    val fresh = DeterministicCorpus.docs(spark, 220,
        vocab = Vocabulary.at(Golden.defaultDir)).collect()
      .map(d => d.doc_id -> d.spans.map(s => (s.kind, s.text, s.media_ref)).toList).toMap
    assert(readBack.keySet == fresh.keySet)
    assert(readBack == fresh)
  }

  test("edge provenance refers to real text spans; media_ref matches the doc") {
    val prov = out1.edges
      .select(explode(col("provenance")).as("p"))
      .select(col("p.doc_id").as("doc_id"), col("p.span_idx").as("span_idx"),
        col("p.media_ref").as("media_ref"))
    val spans = out1.docs.drop("bucket").select(col("doc_id"),
        posexplode(col("spans")).as(Seq("span_idx", "s")))
      .select(col("doc_id"), col("span_idx"), col("s.kind").as("kind"))
    val joined = prov.join(spans, Seq("doc_id", "span_idx"), "left")
    assert(joined.filter(col("kind").isNull || col("kind") =!= "text").count() == 0)
    // every non-empty provenance media_ref exists as a media span of that doc
    val mediaRefs = out1.docs.drop("bucket")
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .filter(col("s.kind") === "media")
      .select(col("doc_id"), col("s.media_ref").as("media_ref"))
    val bad = prov.filter(col("media_ref") =!= "")
      .join(mediaRefs, Seq("doc_id", "media_ref"), "left_anti")
    assert(bad.count() == 0)
  }

  test("determinism: independent run yields identical sorted triple set") {
    val out2 = Pipeline.run(spark, conf("parity2"))
    assert(triples(out2) == triples(out1))
    assert(out2.nodes.select("node_id", "name").as[(Long, String)].collect().sortBy(_._1).toSeq ==
      out1.nodes.select("node_id", "name").as[(Long, String)].collect().sortBy(_._1).toSeq)
  }

  test("cleanup invariants: no empty/generic predicates, no orphan nodes") {
    val edges = out1.edges
    assert(edges.filter(length(trim(col("pred"))) === 0).count() == 0)
    assert(edges.filter(col("pred").isin(DeterministicCorpus.GenericPreds: _*)).count() == 0)
    val touched = edges.select(col("src_id").as("node_id"))
      .union(edges.select(col("dst_id").as("node_id"))).distinct()
    assert(out1.nodes.join(touched, Seq("node_id"), "left_anti").count() == 0)
  }
}
