package graft

import graft.extract.{AhoCorasick, ByteAhoCorasick, Extract}
import graft.model.{Doc, Span}
import org.scalacheck.Gen

/** Parity gate for the columnar extraction path: `ExtractTriplesExpr` (byte
  * automaton, whole-stage-codegen expression) must produce EXACTLY the
  * triples of the typed reference kernel `Extract.docTriples` (char
  * automaton, object mode) on hostile corpora — nested/overlapping aliases,
  * alias==predicate collisions, non-ASCII patterns AND text (multi-byte
  * UTF-8 exercises the byte-offset slicing), media provenance threading,
  * empty/degenerate spans. The Pipeline runs ONLY the columnar path; this
  * spec is what makes the typed kernel a trustworthy reference for it (the
  * bench's workload-matched host probes also run the typed kernel).
  */
class ExtractExprParitySpec extends SparkSuite {
  import spark.implicits._

  private val aliases = Seq(
    "AI", "Machine Learning", "Learning", "Machine",
    "Deep Learning", "Deep Learning Systems",
    "uses",
    "Ångström Synthesis", "中文概念",
    "Named Entity Recognition (NER)")
  private val preds = Seq("is a", "uses", "extends", "is related to", "supports")
  private val noise = Seq("the", "frob", "42", "—", "naïve", "x.y", ";", "", "Åx", "文")

  private val charDict = AhoCorasick(aliases)
  private val charPred = AhoCorasick(preds)
  private lazy val byteDict = spark.sparkContext.broadcast(ByteAhoCorasick(aliases))
  private lazy val bytePred = spark.sparkContext.broadcast(ByteAhoCorasick(preds))

  private val token: Gen[String] = Gen.frequency(
    4 -> Gen.oneOf(aliases), 3 -> Gen.oneOf(preds), 3 -> Gen.oneOf(noise))
  private val sentence: Gen[String] = for {
    n <- Gen.choose(0, 10)
    ws <- Gen.listOfN(n, token)
    end <- Gen.oneOf(".", "!", "", ". Machine Learning uses AI.", " 中文概念…")
  } yield (ws.mkString(" ") + end).trim
  private val span: Gen[Span] = Gen.frequency(
    5 -> (for { t <- sentence; off <- Gen.choose(0, 1000) }
      yield Span("text", t, "", off)),
    2 -> (for { m <- Gen.oneOf("img-1", "vid-2", ""); off <- Gen.choose(0, 1000) }
      yield Span("media", "", m, off)))
  private val doc: Gen[Doc] = for {
    id <- Gen.choose(0, 10000).map(i => s"doc-$i")
    k <- Gen.choose(0, 8)
    sps <- Gen.listOfN(k, span)
  } yield Doc(id, sps)

  private type Key =
    (String, Int, String, String, String, Boolean, Boolean, String, Double)

  private def viaExpr(docs: Seq[Doc]): Seq[Key] =
    keys(Extract.rawTriplesCols(spark.createDataset(docs).toDF(), byteDict, bytePred))

  private def keys(triples: org.apache.spark.sql.DataFrame): Seq[Key] =
    triples.collect().toSeq.map(r => (r.getString(0), r.getInt(1), r.getString(2),
      r.getString(3), r.getString(4), r.getBoolean(5), r.getBoolean(6),
      r.getString(7), r.getDouble(8))).sorted

  private def viaKernel(docs: Seq[Doc]): Seq[Key] =
    docs.flatMap(d => Extract.docTriples(d, charDict, charPred))
      .map(t => (t.doc_id, t.span_idx, t.subj, t.pred, t.obj,
        t.subj_grounded, t.obj_grounded, t.media_ref, t.conf))
      .sorted

  test("hostile random docs: expression == typed kernel, triple for triple") {
    val docs = Check.samples(doc, 400).zipWithIndex
      .map { case (d, i) => d.copy(doc_id = s"${d.doc_id}-$i") } // unique ids
    assert(viaExpr(docs) == viaKernel(docs))
  }

  test("degenerate docs: empty, media-only, unicode self-relation, lone tokens") {
    val docs = Seq(
      Doc("d0", Nil),
      Doc("d1", Seq(Span("text", "", "", 0))),
      Doc("d2", Seq(Span("media", "", "m", 0), Span("media", "", "", 1))),
      Doc("d3", Seq(Span("text", "uses", "", 0))),
      Doc("d4", Seq(Span("text", "Machine Learning", "", 0))),
      Doc("d5", Seq(Span("text", "中文概念 uses 中文概念.", "", 0))),
      Doc("d6", Seq(Span("media", "", "mm", 0),
        Span("text", "Machine Learning extends AI.", "", 1),
        Span("media", "", "m2", 2),
        Span("text", "naïve prose supports Ångström Synthesis.", "", 3))))
    val expr = viaExpr(docs)
    assert(expr == viaKernel(docs))
    // the unicode self-relation and both provenance refs actually extract
    assert(expr.exists(k => k._3 == "中文概念" && k._5 == "中文概念"))
    assert(expr.exists(_._8 == "mm") && expr.exists(_._8 == "m2"))
  }

  test("leftmostLongestInto == leftmostLongest on random byte strings") {
    // kernel-level pin for the allocation-free selection path (r07): same
    // hits, same order, for any input — including multi-byte UTF-8
    val bac = ByteAhoCorasick(aliases ++ preds)
    val sc = new graft.extract.MatchScratch
    val texts = Check.samples(sentence, 500) ++ Seq(
      "", "Machine Machine Learning Learning uses uses AI AI",
      "中文概念 uses 中文概念. Ångström Synthesis extends Deep Learning Systems")
    texts.foreach { t =>
      val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val expected = bac.leftmostLongest(b, b.length)
      val k = bac.leftmostLongestInto(b, b.length, sc)
      assert(k == expected.length, s"count mismatch on '$t'")
      expected.zipWithIndex.foreach { case (h, i) =>
        assert(sc.starts(i) == h.start && sc.ends(i) == h.end &&
          sc.pats(i) == h.patIdx, s"hit $i mismatch on '$t'")
      }
    }
  }

  test("base+offset overload == byte[] overload at nonzero offsets (zero-copy scan, r07)") {
    // the in-place scan reads [off, off+len) of a larger buffer (the shape
    // ColumnVector/UnsafeRow-backed UTF8Strings hand it); padding bytes are
    // WORD characters so a boundary bug that peeks outside the window would
    // flip a word-boundary verdict and fail the compare
    val bac = ByteAhoCorasick(aliases ++ preds)
    val sc1 = new graft.extract.MatchScratch
    val sc2 = new graft.extract.MatchScratch
    val texts = Check.samples(sentence, 200) ++ Seq(
      "", "Machine Learning uses AI",
      "中文概念 uses 中文概念. Ångström Synthesis extends Deep Learning Systems")
    val off = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET.toLong
    texts.foreach { t =>
      val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val pad = 7
      val buf = new Array[Byte](b.length + pad + 3)
      java.util.Arrays.fill(buf, 'x'.toByte) // word bytes on both flanks
      System.arraycopy(b, 0, buf, pad, b.length)
      val k1 = bac.leftmostLongestInto(b, b.length, sc1)
      val k2 = bac.leftmostLongestInto(buf, off + pad, b.length, sc2)
      assert(k2 == k1, s"count mismatch on '$t'")
      (0 until k1).foreach { i =>
        assert(sc2.starts(i) == sc1.starts(i) && sc2.ends(i) == sc1.ends(i) &&
          sc2.pats(i) == sc1.pats(i), s"hit $i mismatch on '$t'")
      }
    }
  }

  test("off-heap base = null overload == byte[] overload (off-heap column vectors)") {
    // the shape an off-heap ColumnVector's UTF8String hands the kernel: a
    // null base object and an absolute address
    import org.apache.spark.unsafe.Platform
    val bac = ByteAhoCorasick(aliases ++ preds)
    val sc1 = new graft.extract.MatchScratch
    val sc2 = new graft.extract.MatchScratch
    val texts = Check.samples(sentence, 200) ++ Seq(
      "", "Machine Learning uses AI",
      "中文概念 uses 中文概念. Ångström Synthesis extends Deep Learning Systems")
    texts.foreach { t =>
      val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val addr = Platform.allocateMemory(math.max(b.length, 1).toLong)
      try {
        Platform.copyMemory(b, Platform.BYTE_ARRAY_OFFSET.toLong, null, addr, b.length.toLong)
        val k1 = bac.leftmostLongestInto(b, b.length, sc1)
        val k2 = bac.leftmostLongestInto(null, addr, b.length, sc2)
        assert(k2 == k1, s"count mismatch on '$t'")
        (0 until k1).foreach { i =>
          assert(sc2.starts(i) == sc1.starts(i) && sc2.ends(i) == sc1.ends(i) &&
            sc2.pats(i) == sc1.pats(i), s"hit $i mismatch on '$t'")
        }
      } finally Platform.freeMemory(addr)
    }
  }

  test("extract_triples over an off-heap column vector == the on-heap read") {
    // a vectorized parquet scan with off-heap vectors hands the kernel
    // UTF8Strings whose base object is null
    val dir = s"${tmpDir("offheap")}/docs"
    val docs = Check.samples(doc, 300).zipWithIndex
      .map { case (d, i) => d.copy(doc_id = s"${d.doc_id}-$i") } :+
      Doc("fixed", Seq(Span("media", "", "img-9", 0),
        Span("text", "中文概念 uses Ångström Synthesis. Machine Learning extends AI.", "", 1)))
    // plain-encoded: a dictionary-encoded string column decodes to on-heap bytes
    spark.createDataset(docs).write.option("parquet.enable.dictionary", "false").parquet(dir)
    def read(): (Seq[Key], String) = {
      val df = Extract.rawTriplesCols(spark.read.parquet(dir), byteDict, bytePred)
      (keys(df), df.queryExecution.executedPlan.toString)
    }
    val onHeap = read()._1
    val key = "spark.sql.columnVector.offheap.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    val (offHeap, plan) =
      try read() finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(plan.contains("ColumnarToRow"), s"the scan must be vectorized:\n$plan")
    assert(offHeap == onHeap)
    assert(onHeap == viaKernel(docs))
    assert(onHeap.exists(k => k._1 == "fixed" && k._3 == "中文概念" && k._8 == "img-9"))
  }

  test("null spans array and null span elements yield zero triples, both eval paths") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spanType = StructType(Seq(
      StructField("kind", StringType), StructField("text", StringType),
      StructField("media_ref", StringType), StructField("offset", IntegerType)))
    val schema = StructType(Seq(
      StructField("doc_id", StringType),
      StructField("spans", ArrayType(spanType, containsNull = true), nullable = true)))
    val rows = Seq(
      Row("dnull", null),
      Row("delem", Seq(null, Row("text", "Machine Learning uses AI.", "", 0))),
      Row("dok", Seq(Row("text", "Machine Learning extends AI.", "", 0))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    val out = Extract.rawTriplesCols(df, byteDict, bytePred)
      .select("doc_id", "subj", "obj").collect()
    // null array row emits nothing (codegen path must not NPE); the null
    // ELEMENT is skipped but its sibling span still extracts
    assert(!out.exists(_.getString(0) == "dnull"))
    assert(out.count(_.getString(0) == "delem") == 1)
    assert(out.count(_.getString(0) == "dok") == 1)
    // interpreted path agrees: empty array, not null
    val expr = graft.extract.ExtractTriplesExpr(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        null, ArrayType(spanType, containsNull = true)),
      byteDict, bytePred)
    val v = expr.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    assert(v != null &&
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].numElements() == 0)
  }

  test("plan: columnar path has no object-mode island and codegens the generate") {
    val docs = Seq(Doc("p0", Seq(Span("text", "Machine Learning uses AI.", "", 0))))
    val df = Extract.rawTriplesCols(
      spark.createDataset(docs).toDF(), byteDict, bytePred)
    val physical = df.queryExecution.executedPlan.toString()
    assert(physical.contains("extract_triples"), physical)
    // the Generate must sit INSIDE a whole-stage-codegen span ("*(n)"
    // prefix), proving doGenCode composes instead of falling back to an
    // interpreted Generate island
    assert(physical.linesIterator.exists(l =>
      l.contains("Generate") && l.contains("*(")), physical)
    assert(!physical.contains("DeserializeToObject"),
      s"columnar path must not decode Doc objects:\n$physical")
    assert(!physical.contains("MapPartitions"),
      s"columnar path must not run an object-mode kernel:\n$physical")
    // the expression itself must be codegen-capable (no CodegenFallback):
    // doGenCode is exercised by evaluating inside a wholestage-codegen'd
    // projection — a fallback would still pass eval parity, so pin the
    // class contract directly
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val e = graft.extract.ExtractTriplesExpr(
      org.apache.spark.sql.graft.Bridge.expression(df.col("pred")), byteDict, bytePred)
    assert(!e.isInstanceOf[CodegenFallback])
  }
}
