package graft

import graft.corpus.{DeterministicCorpus, Vocabulary}
import graft.extract.Extract
import graft.model.Doc
import graft.streaming.StreamIngest

class StreamIngestSpec extends SparkSuite {
  import spark.implicits._

  // the vocabulary DeterministicCorpus.docs builds its docs from by default
  private val vocab = Vocabulary.builtIn
  private lazy val dict = Extract.broadcastDict(spark,
    DeterministicCorpus.aliasRows(vocab.names,
      DeterministicCorpus.pickCcBaitName(vocab.names)).map(_.alias))
  private lazy val preds = Extract.broadcastDict(spark, vocab.preds)

  private def writeSlice(dir: String, from: Long, until: Long): Unit =
    DeterministicCorpus.docs(spark, until).filter(d => d.doc_id >= f"doc-$from%09d")
      .coalesce(2).write.mode("append").parquet(dir)

  test("streaming extraction equals batch; checkpoint resumes increments exactly-once") {
    val in = tmpDir("stream-in")
    val out = tmpDir("stream-out")
    val cp = tmpDir("stream-cp")

    // increment 1: docs [0, 60)
    writeSlice(in, 0, 60)
    StreamIngest.runAvailableNow(spark, in, out, cp, dict, preds)
    val n1 = spark.read.parquet(out).count()
    val batch1 = Extract.rawTriples(
      DeterministicCorpus.docs(spark, 60), dict, preds).count()
    assert(n1 == batch1)

    // increment 2: docs [60, 100) appended — only the new files process
    writeSlice(in, 60, 100)
    StreamIngest.runAvailableNow(spark, in, out, cp, dict, preds)
    val n2 = spark.read.parquet(out).count()
    val batchAll = Extract.rawTriples(
      DeterministicCorpus.docs(spark, 100), dict, preds).count()
    assert(n2 == batchAll, "increment must add exactly the new docs' triples")

    // re-run with no new input: checkpoint prevents reprocessing
    StreamIngest.runAvailableNow(spark, in, out, cp, dict, preds)
    assert(spark.read.parquet(out).count() == n2)

    // streamed triples equal batch triples as a SET, not just count
    val streamed = spark.read.parquet(out)
      .select("doc_id", "span_idx", "subj", "pred", "obj")
      .as[(String, Int, String, String, String)].collect().toSet
    val batch = Extract.rawTriples(DeterministicCorpus.docs(spark, 100), dict, preds)
      .toDF().select("doc_id", "span_idx", "subj", "pred", "obj")
      .as[(String, Int, String, String, String)].collect().toSet
    assert(streamed == batch)
  }

  test("watermarked windowed predicate counts run and match batch totals") {
    val in = tmpDir("stream-in2")
    writeSlice(in, 0, 50)
    StreamIngest.windowedPredCounts(spark, in, "pred_counts", dict, preds)
    val streamTotal = spark.sql("select sum(n) from pred_counts").as[Long].head()
    val batchTotal = Extract.rawTriples(
      DeterministicCorpus.docs(spark, 50), dict, preds).count()
    assert(streamTotal == batchTotal)
    // windows are deterministic functions of doc_id
    val w = spark.sql("select count(distinct window_start) from pred_counts").as[Long].head()
    assert(w >= 2, s"expected multiple windows, got $w")
  }
}
