package graft.corpus

import graft.model.{Doc, Span}
import org.apache.spark.sql.{Dataset, SparkSession}

final case class AliasRow(alias: String, canonical: String, prior: Double, alias_regex: String)

/** Deterministic synthetic corpus of interleaved text+media documents encoding
  * a [[Vocabulary]]'s triples (FIXTURES.md §1): by default the engine's
  * built-in one, for the parity tests the reference's golden export. Pure
  * function of (seed, docIdx, sorted triples) — generated DISTRIBUTED via
  * `spark.range(nDocs).map(genDoc)` so the same generator scales from the
  * 200-doc test corpus to the multi-M-doc bench corpus without a driver loop.
  *
  * Each triple (s,p,o) renders as a text span "<s> <p-verbatim> <o>."
  * (predicate verbatim so pred normalization round-trips exactly); docs
  * interleave media spans and four kinds of deterministic bait:
  *   - filler sentences with no mentions,
  *   - generic-predicate sentences ("related to" …) that isValidRelationship
  *     must drop (/root/reference/kg-builder/internal/graph/graph.go:317-336),
  *   - invalid open-path candidates (short/special-char/all-caps names) that
  *     isValidConcept must drop (graph.go:225-265),
  *   - a lowercase un-aliased variant of one concept (ccBaitName) whose node
  *     only merges through the normalized-name group-min (the reference's
  *     duplicate-node fix, internal/common/neo4j/neo4j.go:386-451).
  */
object DeterministicCorpus extends Serializable {

  val GenericPreds: Seq[String] = Seq("related to", "is related to", "relates to")

  val Fillers: Vector[String] = Vector(
    "the quarterly budget was finalized after a long meeting.",
    "several teams gathered to discuss the upcoming roadmap.",
    "the committee reviewed the proposal and adjourned early.",
    "a fresh pot of coffee appeared in the break room.",
    "the annual retreat was moved to a later month.")

  val InvalidNames: Vector[String] = Vector(
    "Xq#z",                  // special character → isValidConcept reject
    "ab",                    // length < 3 → reject
    "Qzw Vbn Mlk Jhg",       // >2 words all capitalized → reject
    "Zz@k")

  private def mix(seed: Long, i: Long): Long = {
    var h = seed ^ (i * 0x9E3779B97F4A7C15L)
    h ^= (h >>> 32); h *= 0xff51afd7ed558ccdL; h ^= (h >>> 32)
    h
  }

  def mediaRef(docId: String, spanIdx: Int): String =
    f"media://${mix(docId.hashCode.toLong, spanIdx.toLong)}%016x"

  /** Acronym of a multi-word name ("Natural Language Processing" → "NLP"). */
  private def acronym(name: String): Option[String] = {
    val ws = name.split("[ -]+").filter(_.nonEmpty)
    if (ws.length < 2) None
    else {
      val a = ws.map(_.charAt(0)).mkString.toUpperCase
      if (a.length >= 2 && a.forall(_.isLetter)) Some(a) else None
    }
  }

  /** Regex usable by BOTH Java regex (Spark) and RE2 (DuckDB oracle): no
    * lookaround, explicit boundary alternatives. */
  def boundaryRegex(alias: String): String = {
    val esc = alias.flatMap {
      case c if "\\.^$|?*+()[]{}".contains(c) => "\\" + c
      case c => c.toString
    }
    s"(^|[^A-Za-z0-9])$esc($$|[^A-Za-z0-9])"
  }

  /** Alias dictionary derived from the vocabulary's node names: identity + lowercase +
    * unique acronyms; the lowercase alias of `ccBaitName` is withheld so its
    * lowercase occurrences exercise the group-min canonicalization path. */
  def aliasRows(names: Seq[String], ccBaitName: String): Vector[AliasRow] = {
    val nameSet = names.toSet
    val acr = names.flatMap(n => acronym(n).map(_ -> n))
      .groupBy(_._1).collect { case (a, Seq((_, n))) if !nameSet.contains(a) => (a, n) }
    val rows = Vector.newBuilder[AliasRow]
    for (n <- names.sorted) {
      rows += AliasRow(n, n, 1.0, boundaryRegex(n))
      val lc = n.toLowerCase
      if (lc != n && !nameSet.contains(lc) && n != ccBaitName)
        rows += AliasRow(lc, n, 0.7, boundaryRegex(lc))
    }
    for ((a, n) <- acr.toVector.sortBy(_._1)) rows += AliasRow(a, n, 0.6, boundaryRegex(a))
    rows.result()
  }

  /** Word-boundary substring test (mirrors the matcher's ASCII boundary). */
  private def isWordAscii(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')
  private def boundedSubstr(needle: String, hay: String): Boolean = {
    var i = hay.indexOf(needle)
    while (i >= 0) {
      val okL = i == 0 || !isWordAscii(hay.charAt(i - 1))
      val okR = i + needle.length == hay.length || !isWordAscii(hay.charAt(i + needle.length))
      if (okL && okR) return true
      i = hay.indexOf(needle, i + 1)
    }
    false
  }

  /** The duplicate-node bait concept: its lowercase form must contain no
    * other concept's lowercase alias (else the dictionary would partially
    * match inside the bait sentence and corrupt extraction). */
  def pickCcBaitName(names: Seq[String]): String = {
    val sorted = names.sorted
    sorted.find { n =>
      n.split(' ').length >= 2 && n.toLowerCase != n &&
        !sorted.exists(m => m != n && boundedSubstr(m.toLowerCase, n.toLowerCase))
    }.getOrElse(sorted.head)
  }

  /** Render one document. Pure in (seed, i, triples, aliasIndex). */
  def genDoc(
      i: Long,
      seed: Long,
      triples: IndexedSeq[GoldenTriple],
      acronyms: Map[String, String],
      ccBaitName: String): Doc = {
    val rng = new java.util.Random(mix(seed, i))
    val docId = f"doc-$i%09d"
    val spans = Vector.newBuilder[Span]
    var spanIdx = 0
    var offset = 0
    def addText(t: String): Unit = {
      spans += Span("text", t, "", offset); offset += t.length + 1; spanIdx += 1
    }
    def addMedia(): Unit = {
      spans += Span("media", "", mediaRef(docId, spanIdx), offset); offset += 1; spanIdx += 1
    }

    def surface(name: String, rv: Int): String = rv match {
      // lowercase variant only where the alias table grounds it (ccBaitName's
      // lowercase alias is withheld → its lowercase form appears only in the
      // dedicated template-0 cc-bait sentences, never behind a template prefix)
      case 7 | 8 if name != ccBaitName => name.toLowerCase
      case 9 => acronyms.getOrElse(name, name)
      case _ => name
    }
    def tripleSentence(t: GoldenTriple, identityOnly: Boolean): String = {
      val s = if (identityOnly) t.subj else surface(t.subj, rng.nextInt(10))
      val o = if (identityOnly) t.obj else surface(t.obj, rng.nextInt(10))
      rng.nextInt(3) match {
        case 0 => s"$s ${t.pred} $o."
        case 1 => s"It is documented that $s ${t.pred} $o."
        case _ => s"$s ${t.pred} $o, according to the survey."
      }
    }

    val nSent = 2 + rng.nextInt(3)
    for (k <- 0 until nSent) {
      if (rng.nextInt(10) < 3) addMedia()
      if (k == 0) {
        // coverage guarantee: doc i always carries triple (i mod |T|) verbatim
        addText(tripleSentence(triples((i % triples.length).toInt), identityOnly = true))
      } else rng.nextInt(20) match {
        case 0 | 1 => addText(Fillers(rng.nextInt(Fillers.length)))
        case 2 | 3 => // generic-predicate bait (dropped by F2)
          val t = triples(rng.nextInt(triples.length))
          addText(s"${t.subj} ${GenericPreds(rng.nextInt(GenericPreds.length))} ${t.obj}.")
        case 4 => // invalid open-path candidate (dropped by F1)
          val t = triples(rng.nextInt(triples.length))
          addText(s"${InvalidNames(rng.nextInt(InvalidNames.length))} ${t.pred} ${t.obj}.")
        case 5 => // cc bait: lowercase un-aliased variant of ccBaitName
          val cands = triples.filter(t => t.subj == ccBaitName || t.obj == ccBaitName)
          if (cands.nonEmpty) {
            val t = cands(rng.nextInt(cands.length))
            val s = if (t.subj == ccBaitName) t.subj.toLowerCase else t.subj
            val o = if (t.obj == ccBaitName) t.obj.toLowerCase else t.obj
            addText(s"$s ${t.pred} $o.")
          } else addText(Fillers(rng.nextInt(Fillers.length)))
        case _ => addText(tripleSentence(triples(rng.nextInt(triples.length)), identityOnly = false))
      }
    }
    Doc(docId, spans.result())
  }

  /** Distributed corpus generation: Dataset[Doc] of nDocs documents. */
  def docs(spark: SparkSession, nDocs: Long, seed: Long = 42L,
           vocab: Vocabulary = Vocabulary.builtIn): Dataset[Doc] = {
    import spark.implicits._
    val ccBait = pickCcBaitName(vocab.names)
    val acronyms = aliasRows(vocab.names, ccBait).filter(_.prior == 0.6)
      .map(r => r.canonical -> r.alias).toMap
    val tsB = spark.sparkContext.broadcast(vocab.triples)
    spark.range(0, nDocs)
      .map(i => genDoc(i, seed, tsB.value, acronyms, ccBait))
  }

  def aliases(spark: SparkSession, vocab: Vocabulary = Vocabulary.builtIn): Dataset[AliasRow] = {
    import spark.implicits._
    spark.createDataset(aliasRows(vocab.names, pickCcBaitName(vocab.names)))
  }
}
