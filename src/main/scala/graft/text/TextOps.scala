package graft.text

import graft.sim.Blocking
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline, all as
  * pure Catalyst column expressions (codegen'd, pushdown-friendly — no UDFs):
  * token counting, quality scoring, language-ID heuristic, exact dedup.
  * The Scala-kernel operators (MinHash/SimHash/winnowing) live in
  * [[graft.text.NearDup]].
  */
object TextOps {

  /** Whitespace token count (empty text → 0). */
  def tokenCount(text: Column): Column =
    size(filter(split(trim(text), "\\s+"), t => length(t) > 0))

  /** Explicit whitespace class — Java's \s includes \x0B, RE2's does not,
    * so the shared pattern spells the class out to keep both engines
    * byte-identical. */
  val WsClass: String = "\\t\\n\\x0B\\f\\r "

  /** GPT-2-style pre-tokenizer pattern: contractions, optional-space letter
    * runs, digit runs, punctuation runs, whitespace. No lookarounds, no \\s
    * — the same pattern means the same thing under Java regex (Spark) and
    * RE2 (DuckDB). */
  val BpeishPattern: String =
    s"'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^$WsClass\\p{L}\\p{N}]+|[$WsClass]+"

  /** Whitespace-run matcher used to drop whitespace tokens, shared with the
    * DuckDB oracle. */
  val WsRunPattern: String = s"^[$WsClass]+$$"

  /** BPE-ish token count: matches of [[BpeishPattern]] minus pure-whitespace
    * runs — a cheap upper-bound proxy for subword token counts (the real
    * BPE merge table is model-specific; the pre-tokenization split is the
    * engine-side part). Pure codegen'd column expression. */
  def bpeishTokenCount(text: Column): Column =
    size(filter(regexp_extract_all(text, lit(BpeishPattern), lit(0)),
      t => !(t rlike WsRunPattern)))

  /** Exact-duplicate groups by content hash (hash-groupBy dedup; map-side
    * combine makes this one cheap shuffle at any scale). */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("min_doc_id"))
      .filter(col("n_docs") > 1)

  /** Representative-per-group exact dedup: keeps the min-id doc of each
    * identical-text group. */
  def dedupExact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val reps = df.groupBy(md5(col(textCol)).as("k"))
      .agg(min(col(idCol)).as(idCol))
    df.join(reps.select(idCol), Seq(idCol), "left_semi")
  }

  private def occurrences(padded: Column, word: String): Column =
    regexp_count(padded, lit(s" $word "))

  /** English stopword hits (the quality signal's denominator-free variant). */
  def stopwordCount(text: Column): Column = {
    val p = concat(lit(" "), lower(text), lit(" "))
    Seq("the", "and", "of", "a", "in", "to", "is")
      .map(occurrences(p, _)).reduce(_ + _)
  }

  def punctCount(text: Column): Column = regexp_count(text, lit("[.,;:!?]"))

  /** Integer quality bucket: 0 = too short, 1 = punctuation-spam,
    * 2 = no-stopword word salad, 3 = plausible prose. */
  def qualityBucket(nTokens: Column, nPunct: Column, nStop: Column): Column =
    when(nTokens < 5, lit(0))
      .when(nPunct * 10 > nTokens, lit(1))
      .when(nStop === 0, lit(2))
      .otherwise(lit(3))

  def quality(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol),
        length(t).as("n_chars"),
        tokenCount(t).as("n_tokens"),
        stopwordCount(t).as("n_stopwords"),
        punctCount(t).as("n_punct"))
      .withColumn("quality_bucket",
        qualityBucket(col("n_tokens"), col("n_punct"), col("n_stopwords")))
  }

  /** Marker words per language for the n-gram-free language-ID heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "with"),
    "de" -> Seq("der", "und", "die", "das", "mit"),
    "es" -> Seq("el", "los", "las", "una", "con"),
    "fr" -> Seq("le", "les", "et", "une", "dans"))

  /** Deterministic language guess: CJK script wins outright; otherwise the
    * marker-hit argmax with fixed priority order en > de > es > fr on ties. */
  def langGuess(text: Column): Column = {
    val p = concat(lit(" "), lower(text), lit(" "))
    val scores = LangMarkers.map { case (lang, ws) =>
      lang -> ws.map(occurrences(p, _)).reduce(_ + _)
    }
    val best = scores.tail.foldLeft(
      (lit(scores.head._1), scores.head._2)) { case ((bl, bs), (lang, s)) =>
      (when(s > bs, lit(lang)).otherwise(bl), when(s > bs, s).otherwise(bs))
    }
    when(regexp_count(text, lit("[一-龥]")) > 0, lit("zh")).otherwise(best._1)
  }

  /** Token 3-gram shingles as an array column (SQL-reproducible). */
  def shingles3(text: Column): Column = {
    val ts = filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0)
    when(size(ts) < 3, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), size(ts) - 3),
        i => concat_ws(" ", element_at(ts, i + 1), element_at(ts, i + 2),
          element_at(ts, i + 3))))
  }

  /** Distinct-shingle overlap count per candidate pair — the exact n-gram
    * Jaccard numerator (denominators are per-doc distinct counts). Each doc
    * contributes one array of its distinct shingles, joined once per side;
    * pairs with no common shingle are dropped. */
  def ngramOverlap(docs: DataFrame, pairs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val sh = docs.select(col(idCol).as("id"), array_distinct(shingles3(col(textCol))).as("sh"))
    Blocking.withPayload(pairs, sh, "id", "sh")
      .select(col("a"), col("b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("n_common"),
        size(col("sh_a")).cast("long").as("n_a"), size(col("sh_b")).cast("long").as("n_b"))
      .filter(col("n_common") > 0)
  }
}
