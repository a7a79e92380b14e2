package graft.link

import graft.extract.Validity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Entity linking (SURVEY.md J5): resolve extracted surfaces to canonical
  * entities via the alias dictionary. Replaces the reference's identity rule
  * "node identity = exact name equality" (MERGE (c:Concept {name}),
  * /root/reference/internal/common/neo4j/neo4j.go:110) with a scored link.
  *
  * Scale design: the alias table is dictionary-sized → **broadcast hash join**
  * on both endpoints (zero shuffle for the fast path). Only surfaces whose
  * alias maps to >1 canonical take the slow path: TF-IDF context-cosine
  * scoring between the mention's document and each candidate's name profile,
  * best candidate picked by a window (SURVEY.md §2.9). Ungrounded surfaces
  * (open-path candidate concepts) pass the isValidConcept gate and enter as
  * new entities; failures drop the whole extraction, as in the reference
  * (graph.go:276-283).
  */
object EntityLink {

  /** docTermVecs: (doc_id, token, w) TF-IDF weights + (doc_id, norm). */
  def docTermVectors(docsText: DataFrame): (DataFrame, DataFrame) = {
    // docsText: (doc_id, text) one row per text span
    val tokens = docsText
      .select(col("doc_id"), explode(split(lower(col("text")), "[^a-z0-9]+")).as("token"))
      .filter(length(col("token")) > 1)
    val tf = tokens.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    // a scalar subquery, so building the vectors runs no job of its own
    val nDocs = tokens.select("doc_id").distinct().agg(count(lit(1))).scalar()
    val idf = tf.groupBy("token").agg(countDistinct("doc_id").as("df"))
      .withColumn("idf", log((nDocs + 1.0) / (col("df") + 1.0)))
      .select("token", "idf")
    val vec = tf.join(idf, "token").withColumn("w", col("tf") * col("idf"))
      .select("doc_id", "token", "w")
    val norms = vec.groupBy("doc_id").agg(sqrt(sum(col("w") * col("w"))).as("norm"))
    (vec, norms)
  }

  /** True iff some alias maps to >1 canonical — the gate between the
    * per-surface fast link (canonical + score are pure functions of the
    * surface string) and the per-document contextual slow path. A pure
    * function of the dictionary's (alias, canonical) pairs, which the
    * driver already holds for the automaton. */
  def hasAmbiguity(pairs: Seq[(String, String)]): Boolean =
    ambiguousAliases(pairs).nonEmpty

  /** The aliases that map to more than one canonical. */
  def ambiguousAliases(pairs: Seq[(String, String)]): Set[String] =
    pairs.groupBy(_._1).collect {
      case (alias, ps) if ps.map(_._2).distinct.length > 1 => alias
    }.toSet

  /** Per-surface resolution of both roles over an ALREADY-AGGREGATED frame
    * (one row per distinct raw (subj, pred, obj)) — valid ONLY when
    * [[hasAmbiguity]] is false, so resolution needs no document context.
    * Same fast-path semantics as [[link]]: broadcast alias join, candidate
    * validity gate, score = alias prior (or the 0.3 candidate floor);
    * rows whose endpoints both fail resolution are dropped. Returns the
    * input columns with subj/obj replaced by canonical names plus `score`
    * (the per-row subj·obj score product). The frame is dictionary-scale,
    * so the expensive validName CASE runs per distinct surface, not per
    * corpus row (r07, guide §8). */
  def linkAggregated(agg: DataFrame, aliases: DataFrame): DataFrame = {
    val uniqueAliases = aliases.select("alias", "canonical", "prior")
    val s1 = linkSimple(agg, uniqueAliases, null, null, null, "subj")
    val s2 = linkSimple(s1, uniqueAliases, null, null, null, "obj")
    val rest = agg.columns.filterNot(c => c == "subj" || c == "obj").map(col)
    s2.filter(col("subj_canon").isNotNull && col("obj_canon").isNotNull)
      .select(Seq(col("subj_canon").as("subj"), col("obj_canon").as("obj"),
        (col("subj_score") * col("obj_score")).as("score")) ++ rest: _*)
  }

  /** Full linking pass. Returns linked triples
    * (doc_id, span_idx, subj, pred, obj, media_ref, score) with canonical
    * endpoint names, invalid candidates dropped. */
  def link(spark: SparkSession, raw: DataFrame, aliases: DataFrame, docsText: DataFrame): DataFrame = {
    val triples = raw
      .filter(Validity.validPred(col("pred")))
      .withColumn("triple_id", xxhash64(col("doc_id"), col("span_idx")))

    // the alias table is dictionary-sized (broadcast side by design): ONE
    // driver collect of its (alias, canonical) pairs decides ambiguity and
    // feeds the ambiguous-doc automaton below; the common no-ambiguity case
    // (exact-match dictionaries) builds no slow-path plan at all.
    import spark.implicits._
    val amb = ambiguousAliases(
      aliases.select("alias", "canonical").as[(String, String)].collect().toSeq)
    val all = aliases.select("alias", "canonical", "prior")
    val isAmb = col("alias").isin(amb.toSeq: _*)
    val (uniqueAliases, ambiguous) =
      if (amb.isEmpty) (all, null: DataFrame)
      else (all.filter(!isAmb), all.filter(isAmb))

    // the TF-IDF context corpus is (a) only built when ambiguity exists at
    // all, and (b) restricted to docs that actually HOST an ambiguous
    // mention — the slow path vectorizes a sliver of the corpus, never all
    // of it (IDF is defined within that ambiguity-context corpus). The
    // ambiguous surface set is dictionary-sized → broadcast semi-join.
    val (docVec, docNorm) =
      if (ambiguous != null) {
        // docs POSSIBLY hosting an ambiguous mention, by substring test
        // against the raw text — a cheap superset of the true hosting set
        // that depends only on the docsText scan (deriving it from the
        // extraction plan would re-run the corpus-scale kernel here).
        // The test is ONE broadcast Aho-Corasick pass per document (the
        // same broadcast-kernel pattern as extraction): O(text length)
        // regardless of how many ambiguous surfaces the dictionary holds.
        // (A contains-predicate BroadcastNestedLoopJoin here would scan
        // every document once PER ambiguous alias — with thousands of
        // ambiguous surfaces that multiplies the corpus-scan cost by the
        // alias count.)
        val ambAc = spark.sparkContext.broadcast(
          graft.extract.AhoCorasick(amb.toSeq.sorted))
        // null text = no match (the SQL Contains semantics this replaced)
        val ambDocs = docsText
          .select(col("doc_id"), col("text"))
          .as[(String, String)]
          .filter(r => r._2 != null && ambAc.value.containsAnySubstring(r._2))
          .select("doc_id").distinct()
        docTermVectors(docsText.join(ambDocs, Seq("doc_id"), "left_semi"))
      } else (null, null)

    val s1 = linkSimple(triples, uniqueAliases, ambiguous, docVec, docNorm, "subj")
    val s2 = linkSimple(s1, uniqueAliases, ambiguous, docVec, docNorm, "obj")
    s2.filter(col("subj_canon").isNotNull && col("obj_canon").isNotNull)
      .select(col("doc_id"), col("span_idx"),
        col("subj_canon").as("subj"), col("pred"), col("obj_canon").as("obj"),
        col("media_ref"),
        (col("subj_score") * col("obj_score")).as("score"))
  }

  /** Resolve one role: broadcast join for unique aliases; TF-IDF context
    * cosine + row_number window for ambiguous ones; candidate gate for
    * unmatched surfaces. */
  private def linkSimple(
      triples: DataFrame,
      uniqueAliases: DataFrame,
      ambiguous: DataFrame,
      docVec: DataFrame,
      docNorm: DataFrame,
      role: String): DataFrame = {
    val surf = col(role)
    val u = uniqueAliases
      .select(col("alias").as(s"${role}_a"), col("canonical").as(s"${role}_cu"),
        col("prior").as(s"${role}_pu"))
    val withFast = triples.join(broadcast(u), surf === col(s"${role}_a"), "left")
      .drop(s"${role}_a")

    val resolved =
      if (docVec == null) {
        withFast
          .withColumn(s"${role}_cs", lit(null).cast("string"))
          .withColumn(s"${role}_ss", lit(null).cast("double"))
      } else {
        // score ambiguous surfaces: cosine(doc vector, candidate-name tokens)
        val amb = ambiguous
          .select(col("alias").as(s"${role}_a2"), col("canonical").as("cand"),
            col("prior").as("cand_prior"))
        val cands = withFast.filter(col(s"${role}_cu").isNull)
          .select(col("triple_id"), col("doc_id"), surf)
          .join(broadcast(amb), surf === col(s"${role}_a2"))
        val candTok = cands.select(col("triple_id"), col("doc_id"), col("cand"),
            col("cand_prior"),
            explode(split(lower(col("cand")), "[^a-z0-9]+")).as("token"))
          .filter(length(col("token")) > 1)
        val dots = candTok.join(docVec, Seq("doc_id", "token"), "left")
          .groupBy("triple_id", "doc_id", "cand", "cand_prior")
          .agg(sum(coalesce(col("w"), lit(0.0))).as("dot"),
            count(lit(1)).as("ntok"))
        // norm can be exactly 0.0 when the ambiguity-context corpus is a
        // single doc (every IDF is log(2/2)=0): guard it or cos becomes
        // 0.0/0.0 = NaN and the best-candidate window degrades to
        // alphabetical — with a zero norm the context carries no signal and
        // cos=0 lets the prior decide, which is the right degradation
        val sim = dots.join(docNorm, Seq("doc_id"), "left")
          .withColumn("cos", col("dot") /
            (when(col("norm") > 0, col("norm")).otherwise(lit(1.0)) * sqrt(col("ntok"))))
          .withColumn("sc", col("cand_prior") * (lit(1.0) + col("cos")))
        val w = Window.partitionBy(col("triple_id")).orderBy(col("sc").desc, col("cand").asc)
        val best = sim.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("triple_id").as(s"${role}_tid"), col("cand").as(s"${role}_cs0"),
            col("sc").as(s"${role}_ss0"))
        withFast.join(best, col("triple_id") === col(s"${role}_tid"), "left")
          .drop(s"${role}_tid")
          .withColumnRenamed(s"${role}_cs0", s"${role}_cs")
          .withColumnRenamed(s"${role}_ss0", s"${role}_ss")
      }

    resolved
      .withColumn(s"${role}_canon", coalesce(
        col(s"${role}_cu"), col(s"${role}_cs"),
        when(Validity.validName(surf), surf)))
      .withColumn(s"${role}_score", coalesce(
        when(col(s"${role}_cu").isNotNull, col(s"${role}_pu")),
        col(s"${role}_ss"), lit(0.3)))
      .drop(s"${role}_cu", s"${role}_pu", s"${role}_cs", s"${role}_ss")
  }
}
