package graftbench

import graft.model.{Doc, Span}

final case class Triple(subj: String, pred: String, obj: String)

/** One alias-table row, in the column shape `Pipeline.run` reads. */
final case class AliasRow(alias: String, canonical: String, prior: Double)

/** An endpoint rendered as an ambiguous acronym, with the canonical it was
  * planted for — the ground truth for `link.ambiguous_correct_ratio`. */
final case class AmbMention(doc_id: String, span_idx: Int, role: String,
    surface: String, planted: String)

/** The benchmark's own vocabulary: invented three-word concept names (so no
  * name can collide with the English predicates, fillers and templates),
  * planted triples, and the alias dictionary.
  *
  * @param acronyms canonical → acronym for every acronym the docs may use:
  *   acronyms unique to one name, plus (only when `ambiguous` is non-empty)
  *   the acronyms shared by two names
  * @param ambiguous acronym → its two canonicals (empty on `build_dict`)
  * @param ccBait the name whose lowercase alias is withheld, so its
  *   lowercase mentions reach the graph only through canonicalization */
final case class Vocab(
    concepts: Vector[String],
    preds: Vector[String],
    triples: Vector[Triple],
    acronyms: Map[String, String],
    ambiguous: Map[String, Seq[String]],
    ccBait: String) {

  def aliases: Vector[AliasRow] = {
    val rows = Vector.newBuilder[AliasRow]
    for (n <- concepts) {
      rows += AliasRow(n, n, 1.0)
      if (n != ccBait) rows += AliasRow(n.toLowerCase, n, 0.7)
    }
    for ((n, a) <- acronyms.toVector.sorted if !ambiguous.contains(a))
      rows += AliasRow(a, n, 0.6)
    for ((a, ns) <- ambiguous.toVector.sortBy(_._1); n <- ns)
      rows += AliasRow(a, n, 0.6)
    rows.result()
  }

  /** The triples view a correct build must produce: (subj, pred_norm, obj). */
  def expectedView: Set[(String, String, String)] =
    triples.map(t => (t.subj, Gen.normPred(t.pred), t.obj)).toSet

  /** Acronym sibling of an ambiguous canonical. */
  def sibling(name: String): Option[String] =
    acronyms.get(name).flatMap(ambiguous.get).flatMap(_.find(_ != name))
}

/** Seeded corpus generator. Same document shape and bait classes as the
  * engine's built-in corpus, but independent of it, so changes to the
  * engine's generator cannot change the benchmark's inputs:
  *  - every doc carries one planted triple verbatim (coverage);
  *  - other sentences: planted triples with lowercase / acronym surfaces,
  *    fillers, generic-predicate bait (dropped by the predicate gate),
  *    invalid open-path names (dropped by the name gate), and the
  *    lowercase un-aliased `ccBait` variant (merged by canonicalization);
  *  - media spans interleaved as provenance;
  *  - after a sentence that uses an ambiguous acronym, a context sentence
  *    naming one word of the planted canonical. */
object Gen {

  val Preds: Vector[String] = Vector(
    "enables", "depends on", "is a subfield of", "improves", "regulates",
    "is used in", "extends", "competes with", "influences", "supports",
    "is part of", "derives from", "replaces", "accelerates", "inhibits",
    "is measured by", "produces", "consumes", "is inspired by", "stabilizes",
    "catalyzes", "encodes", "predicts", "constrains", "amplifies",
    "is evaluated on", "is derived from", "complements", "precedes",
    "is composed of", "transforms", "validates", "monitors", "simplifies",
    "generalizes", "is funded by", "is hosted by", "benchmarks",
    "is licensed to", "is cited by")

  val GenericPreds: Vector[String] = Vector("related to", "is related to", "relates to")

  val Fillers: Vector[String] = Vector(
    "the quarterly budget was finalized after a long meeting.",
    "several teams gathered to discuss the upcoming roadmap.",
    "the committee reviewed the proposal and adjourned early.",
    "a fresh pot of coffee appeared in the break room.",
    "the annual retreat was moved to a later month.")

  val InvalidNames: Vector[String] = Vector("Xq#z", "ab", "Qzw Vbn Mlk Jhg", "Zz@k")

  /** Lowercase + spaces→underscores, as the engine normalizes predicates. */
  def normPred(p: String): String = p.trim.toLowerCase.replace(' ', '_')

  private def mix(seed: Long, i: Long): Long = {
    var h = seed ^ (i * 0x9E3779B97F4A7C15L)
    h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL; h ^= (h >>> 33)
    h *= 0xc4ceb9fe1a85ec53L; h ^= (h >>> 33)
    h
  }

  private val Onsets = Vector("b", "d", "f", "g", "k", "l", "m", "n", "p", "r",
    "s", "t", "v", "z", "br", "dr", "gr", "kr", "tr", "st")
  private val Vowels = Vector("a", "e", "i", "o", "u", "ai", "eo")
  private val Codas = Vector("", "", "n", "r", "l", "x", "s")

  private def word(rng: java.util.Random): String = {
    val n = 2 + rng.nextInt(2)
    val w = (0 until n).map(_ =>
      Onsets(rng.nextInt(Onsets.size)) + Vowels(rng.nextInt(Vowels.size)) +
        Codas(rng.nextInt(Codas.size))).mkString
    w.capitalize
  }

  def acronym(name: String): String = name.split(' ').map(_.head).mkString.toUpperCase

  /** The vocabulary for `seed`: `nConcepts` names, `nTriples` planted
    * triples and, when `nAmbiguous` > 0, that many acronyms each shared by
    * exactly two names and aliased to both. */
  def vocab(seed: Long, nConcepts: Int, nTriples: Int, nAmbiguous: Int): Vocab = {
    val rng = new java.util.Random(mix(seed, -1L))
    val words = Iterator.continually(word(rng)).distinct.take(nConcepts / 4 + 64).toVector
    val concepts = Iterator.continually {
      val ws = Iterator.continually(words(rng.nextInt(words.size))).distinct.take(3)
      ws.mkString(" ")
    }.distinct.take(nConcepts).toVector.sorted

    val byAcr = concepts.groupBy(acronym)
    val unique = byAcr.collect { case (a, Seq(n)) => n -> a }
    val shared = byAcr.toVector.filter(_._2.size == 2).sortBy(_._1)
      .take(nAmbiguous).toMap
    require(shared.size == nAmbiguous,
      s"seed $seed: only ${shared.size} acronyms shared by two names, need $nAmbiguous")
    val acronyms = unique ++ shared.toVector.flatMap { case (a, ns) => ns.map(_ -> a) }

    val triples = Iterator.continually {
      val s = concepts(rng.nextInt(concepts.size))
      val o = concepts(rng.nextInt(concepts.size))
      Triple(s, Preds(rng.nextInt(Preds.size)), o)
    }.filter(t => t.subj != t.obj).distinct.take(nTriples).toVector
    Vocab(concepts, Preds, triples, acronyms, shared, ccBait = triples.head.subj)
  }

  def doc(v: Vocab, seed: Long, i: Long): Doc = render(v, seed, i)._1

  def ambiguousMentions(v: Vocab, seed: Long, i: Long): Seq[AmbMention] = render(v, seed, i)._2

  /** Render document `i`: a pure function of (vocab, seed, i). */
  def render(v: Vocab, seed: Long, i: Long): (Doc, Seq[AmbMention]) = {
    val rng = new java.util.Random(mix(seed, i))
    val docId = f"doc-$i%09d"
    val spans = Vector.newBuilder[Span]
    val amb = Vector.newBuilder[AmbMention]
    var spanIdx = 0
    var offset = 0
    def addText(t: String): Unit = {
      spans += Span("text", t, "", offset); offset += t.length + 1; spanIdx += 1
    }
    def addMedia(): Unit = {
      spans += Span("media", "", f"media://${mix(i, spanIdx.toLong)}%016x", offset)
      offset += 1; spanIdx += 1
    }
    var context = Vector.empty[String]
    def surface(name: String, role: String): String = rng.nextInt(10) match {
      case 7 | 8 if name != v.ccBait => name.toLowerCase
      case 9 if v.acronyms.contains(name) =>
        val a = v.acronyms(name)
        if (v.ambiguous.contains(a)) {
          amb += AmbMention(docId, spanIdx, role, a, name)
          // the document context that lets contextual linking tell the two
          // names behind `a` apart: one word of the planted name
          context :+= s"notes on ${name.split(' ').last.toLowerCase} were archived."
        }
        a
      case _ => name
    }
    def tripleSentence(t: Triple, verbatim: Boolean): String = {
      val s = if (verbatim) t.subj else surface(t.subj, "subj")
      val o = if (verbatim) t.obj else surface(t.obj, "obj")
      rng.nextInt(3) match {
        case 0 => s"$s ${t.pred} $o."
        case 1 => s"It is documented that $s ${t.pred} $o."
        case _ => s"$s ${t.pred} $o, according to the survey."
      }
    }
    def anyTriple: Triple = v.triples(rng.nextInt(v.triples.size))

    val nSent = 2 + rng.nextInt(3)
    for (k <- 0 until nSent) {
      if (rng.nextInt(10) < 3) addMedia()
      if (k == 0) addText(tripleSentence(v.triples((i % v.triples.size).toInt), verbatim = true))
      else rng.nextInt(20) match {
        case 0 | 1 => addText(Fillers(rng.nextInt(Fillers.size)))
        case 2 | 3 =>
          val t = anyTriple
          addText(s"${t.subj} ${GenericPreds(rng.nextInt(GenericPreds.size))} ${t.obj}.")
        case 4 =>
          addText(s"${InvalidNames(rng.nextInt(InvalidNames.size))} ${anyTriple.pred} ${anyTriple.obj}.")
        case 5 =>
          val t = v.triples.head // its subject is the cc bait
          addText(s"${t.subj.toLowerCase} ${t.pred} ${t.obj}.")
        case _ => addText(tripleSentence(anyTriple, verbatim = false))
      }
      context.foreach(addText)
      context = Vector.empty
    }
    (Doc(docId, spans.result()), amb.result())
  }
}

/** Writes the predicate grammar and node list `Pipeline.run` reads from
  * `Conf.goldenDir`, in the reference export's JSON shape
  * (`Edge_Details.json`: rows of n/r/m, `Node_Details.json`: rows of n).
  * The one place that knows that shape. */
object GoldenExport {
  private def props(k: String, v: String) = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("properties", java.util.Map.of(k, v)); m
  }

  def write(dir: java.nio.file.Path, v: Vocab): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    java.nio.file.Files.createDirectories(dir)
    val edges = new java.util.ArrayList[Any]()
    v.triples.foreach { t =>
      val row = new java.util.LinkedHashMap[String, Any]()
      row.put("n", props("name", t.subj))
      row.put("r", props("type", t.pred))
      row.put("m", props("name", t.obj))
      edges.add(row)
    }
    val nodes = new java.util.ArrayList[Any]()
    v.concepts.foreach(n => nodes.add(java.util.Map.of("n", props("name", n))))
    mapper.writeValue(dir.resolve("Edge_Details.json").toFile, edges)
    mapper.writeValue(dir.resolve("Node_Details.json").toFile, nodes)
  }
}
