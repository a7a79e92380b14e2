package graft

import graft.link.EntityLink
import graft.model.RawTriple

class EntityLinkSpec extends SparkSuite {
  import spark.implicits._

  private def raw(rows: (String, String, String, String, Boolean, Boolean)*) =
    rows.zipWithIndex.map { case ((d, s, p, o, sg, og), i) =>
      RawTriple(d, i, s, p, o, sg, og, "", 1.0)
    }.toDS().toDF()

  private val aliases = Seq(
    ("Machine Learning", "Machine Learning", 1.0),
    ("machine learning", "Machine Learning", 0.7),
    ("ML", "Machine Learning", 0.6),
    ("Artificial Intelligence", "Artificial Intelligence", 1.0),
    // ambiguous alias: resolves by document context
    ("Mercury", "Mercury (planet)", 0.5),
    ("Mercury", "Mercury (element)", 0.5),
    ("Mercury (planet)", "Mercury (planet)", 1.0),
    ("Mercury (element)", "Mercury (element)", 1.0)
  ).toDF("alias", "canonical", "prior")

  private val docsText = Seq(
    ("da", "Machine Learning SubsetOf Artificial Intelligence."),
    ("db", "the planet orbit solar astronomy sky telescope."),
    ("db", "Mercury IsA planet."),
    ("dc", "the toxic metal element chemistry lab liquid."),
    ("dc", "Mercury IsA element.")
  ).toDF("doc_id", "text")

  test("exact and variant aliases resolve to canonical; scores carried") {
    val linked = EntityLink.link(spark,
      raw(("da", "machine learning", "SubsetOf", "Artificial Intelligence", true, true)),
      aliases, docsText)
    val r = linked.select("subj", "pred", "obj").as[(String, String, String)].collect()
    assert(r.toSeq == Seq(("Machine Learning", "SubsetOf", "Artificial Intelligence")))
  }

  test("ambiguous alias disambiguated by TF-IDF document context") {
    val linked = EntityLink.link(spark,
      raw(("db", "Mercury", "IsA", "Artificial Intelligence", true, true),
          ("dc", "Mercury", "IsA", "Machine Learning", true, true)),
      aliases, docsText)
    val bySubj = linked.select("doc_id", "subj").as[(String, String)].collect().toMap
    assert(bySubj("db") == "Mercury (planet)")
    assert(bySubj("dc") == "Mercury (element)")
  }

  test("single-ambiguity-doc corpus: zero IDF degrades to prior, never NaN") {
    // one doc hosting the only ambiguous mention → IDF is log(2/2)=0 for
    // every token, norms are 0 — the guard must keep cos at 0 (prior
    // decides, name tie-break), not 0/0 = NaN
    val oneDoc = Seq(("dz", "Mercury IsA thing.")).toDF("doc_id", "text")
    val linked = EntityLink.link(spark,
      raw(("dz", "Mercury", "IsA", "Machine Learning", true, true)), aliases, oneDoc)
    val row = linked.select("subj", "score").as[(String, Double)].collect()
    assert(row.length == 1)
    assert(!row(0)._2.isNaN, s"score must not be NaN: ${row(0)}")
    assert(row(0)._1 == "Mercury (element)") // equal priors → name asc
  }

  test("ungrounded candidates: valid enters as new entity, invalid drops the triple") {
    val linked = EntityLink.link(spark,
      raw(("da", "Gradient Descent", "UsedBy", "Machine Learning", false, true),
          ("da", "Xq#z", "UsedBy", "Machine Learning", false, true),
          ("da", "ab", "UsedBy", "Machine Learning", false, true)),
      aliases, docsText)
    val subjects = linked.select("subj").as[String].collect().toSet
    assert(subjects == Set("Gradient Descent"))
  }

  test("surface-aggregated preagg == per-row link+preagg on an unambiguous dictionary") {
    // r07 equivalence pin for the guide-§8 restructure: on an unambiguous
    // alias table, aggregating raw surfaces first and linking the
    // dictionary-scale aggregate must reproduce preAggregate(link(...))
    // row for row — n_obs, provenance (exact), score_sum (up to the same
    // FP summation wiggle round(…,6) already absorbs; compared at 1e-9)
    val unambiguous = aliases.filter($"alias" =!= "Mercury")
    def pairs(a: org.apache.spark.sql.DataFrame) =
      a.select("alias", "canonical").as[(String, String)].collect().toSeq
    assert(!EntityLink.hasAmbiguity(pairs(unambiguous)))
    assert(EntityLink.hasAmbiguity(pairs(aliases)))
    val rng = new scala.util.Random(7)
    val surfaces = Seq("Machine Learning", "machine learning", "ML",
      "Artificial Intelligence", "Gradient Descent", "Xq#z", "ab")
    val predsS = Seq("SubsetOf", "UsedBy", "related to", "", "IsA")
    val rows = (0 until 400).map { i =>
      (s"d${rng.nextInt(40)}", surfaces(rng.nextInt(surfaces.length)),
        predsS(rng.nextInt(predsS.length)), surfaces(rng.nextInt(surfaces.length)),
        true, true)
    }
    val rawDf = raw(rows: _*)
    val viaRows = graft.graph.Materialize.preAggregate(
      EntityLink.link(spark, rawDf, unambiguous, docsText))
    val viaSurface = graft.graph.Materialize.preAggregateBySurface(
      rawDf.filter(graft.extract.Validity.validPred($"pred")), unambiguous)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4),
        r.getSeq[org.apache.spark.sql.Row](6 - 1).map(_.toString)))
        .sortBy(t => (t._1, t._2, t._3))
    val a = canon(viaRows)
    val b = canon(viaSurface)
    assert(a.length == b.length && a.nonEmpty)
    a.zip(b).foreach { case (x, y) =>
      assert(x._1 == y._1 && x._2 == y._2 && x._3 == y._3, s"key: $x vs $y")
      assert(x._4 == y._4, s"n_obs: $x vs $y")
      assert(math.abs(x._5 - y._5) < 1e-9, s"score_sum: $x vs $y")
      assert(x._6 == y._6, s"provenance: $x vs $y")
    }
    assert(viaRows.schema == viaSurface.schema)
  }

  test("building link over an ambiguous dictionary runs exactly 1 Spark job") {
    // the dictionary is read from parquet so its collect is a real job: the
    // one driver collect of (alias, canonical) is the whole ambiguity gate
    val dir = tmpDir("aliases")
    aliases.write.mode("overwrite").parquet(dir)
    val fromParquet = spark.read.parquet(dir)
    assert(EntityLink.ambiguousAliases(
      fromParquet.select("alias", "canonical").as[(String, String)].collect().toSeq) ==
      Set("Mercury"))
    val jobs = jobsOf(EntityLink.link(spark,
      raw(("db", "Mercury", "IsA", "Artificial Intelligence", true, true)),
      fromParquet, docsText))
    assert(jobs == 1, s"building link ran $jobs Spark jobs")
  }

  test("generic predicates are filtered before linking") {
    val linked = EntityLink.link(spark,
      raw(("da", "Machine Learning", "related to", "Artificial Intelligence", true, true),
          ("da", "Machine Learning", "", "Artificial Intelligence", true, true)),
      aliases, docsText)
    assert(linked.count() == 0)
  }
}
