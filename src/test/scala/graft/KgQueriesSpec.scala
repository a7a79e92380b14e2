package graft

import graft.graph.{Cleanup, KgQueries, Materialize}
import org.apache.spark.sql.functions._

class KgQueriesSpec extends SparkSuite {
  import spark.implicits._

  private val nodes = Seq(
    (1L, "Artificial Intelligence"), (2L, "Machine Learning"),
    (3L, "Data Mining"), (4L, "Statistics")
  ).toDF("node_id", "name").withColumn("canonical_name", col("name"))

  private val edges = Seq(
    (1L, 2L, "Includes"), (2L, 3L, "Uses"), (1L, 3L, "RelatedTo")
  ).toDF("src_id", "dst_id", "pred")
    .withColumn("pred_norm", Materialize.normPred(col("pred")))
    .withColumn("strength", lit(1.0))
    .withColumn("n_obs", lit(1L))
    .withColumn("description", lit("fixture edge"))
    .withColumn("provenance",
      typedLit(Seq.empty[(String, Int, String)])
        .cast("array<struct<doc_id:string,span_idx:int,media_ref:string>>"))
    .withColumn("created_at", Materialize.CreatedAt)

  test("degree, top-k, search, statistics") {
    val deg = KgQueries.degree(nodes, edges)
      .select("name", "degree").as[(String, Long)].collect().toMap
    assert(deg == Map("Artificial Intelligence" -> 2L, "Machine Learning" -> 2L,
      "Data Mining" -> 2L, "Statistics" -> 0L))
    assert(KgQueries.lowConnectivity(nodes, edges, 1)
      .select("name").as[String].head() == "Statistics")
    assert(KgQueries.search(nodes, "Data").as[String].collect().toSeq == Seq("Data Mining"))
    val st = KgQueries.statistics(nodes, edges).as[(Long, Long)].head()
    assert(st == (4L, 3L))
  }

  test("non-adjacent pairs exclude existing edges in either direction") {
    val pairs = KgQueries.nonAdjacentPairs(nodes, edges, 10)
      .as[(String, String)].collect().toSet
    // 4 choose 2 = 6 pairs, 3 adjacent → 3 remain
    assert(pairs.size == 3)
    assert(!pairs.contains(("Artificial Intelligence", "Machine Learning")))
    assert(pairs.forall(p => p._1 == "Statistics" || p._2 == "Statistics"))
  }

  test("cooccurrence caps entities per doc (top-k by mention count, name tie-break)") {
    val m = Seq(
      ("d1", "A"), ("d1", "A"), ("d1", "B"), ("d1", "B"), ("d1", "C"), ("d1", "D"),
      ("d2", "A"), ("d2", "B")
    ).toDF("doc_id", "canonical")
    // d1 keeps A,B (2 mentions each; C,D capped out); d2 keeps A,B
    val capped = KgQueries.cooccurrence(m, maxPerDoc = 2)
      .select("a", "b", "n_docs").as[(String, String, Long)].collect().toSet
    assert(capped == Set(("A", "B", 2L)))
    val uncapped = KgQueries.cooccurrence(m).filter(col("a") === "C" || col("b") === "C")
    assert(uncapped.count() == 3) // C pairs with A, B, D without the cap
  }

  test("enrichOnce adds only non-adjacent co-occurring pairs above threshold") {
    val mentions = Seq(
      ("d1", "Artificial Intelligence"), ("d1", "Statistics"),
      ("d2", "Artificial Intelligence"), ("d2", "Statistics"),
      ("d3", "Machine Learning"), ("d3", "Statistics"),
      ("d4", "Artificial Intelligence"), ("d4", "Machine Learning") // adjacent
    ).toDF("doc_id", "canonical")
    val r = KgQueries.enrichOnce(nodes, edges, mentions, minDocs = 2, maxNew = 10)
      .select("src_id", "dst_id", "n_docs").as[(Long, Long, Long)].collect().toSet
    assert(r == Set((1L, 4L, 2L))) // AI–Statistics, 2 docs; ML–Stats only 1 doc
  }

  test("addEdge merges on (src,dst,pred) and normalizes the predicate") {
    val once = KgQueries.addEdge(edges, 9L, 8L, "Hand Made")
    assert(once.count() == 4)
    val twice = KgQueries.addEdge(once, 9L, 8L, "Hand Made")
    val row = twice.filter(col("src_id") === 9L)
      .select("pred_norm", "n_obs").as[(String, Long)].collect()
    assert(row.toSeq == Seq(("hand_made", 2L)))
    // description is ON-CREATE-only: an existing edge's wins over the row's
    val over = KgQueries.addEdge(edges, 1L, 2L, "Includes")
    assert(over.filter(col("src_id") === 1L && col("dst_id") === 2L)
      .select("description").as[String].head() == "fixture edge")
    assert(twice.filter(col("src_id") === 9L)
      .select("description").as[String].head() == "Manually added: Hand Made")
  }

  test("addEdgeDelta writes O(1) rows per add; read-side merge equals the frame-level MERGE") {
    import graft.tables.TableIO
    val dir = tmpDir("addEdgeDelta")
    TableIO.commitSnapshot(edges, dir, "edges")
    KgQueries.addEdgeDelta(spark, dir, 9L, 8L, "Hand Made")
    KgQueries.addEdgeDelta(spark, dir, 9L, 8L, "Hand Made")
    // write volume: each add persisted exactly ONE row (never the table)
    assert(TableIO.parquetRowCount(s"$dir/snap-00001") == 1)
    assert(TableIO.parquetRowCount(s"$dir/snap-00002") == 1)
    val merged = KgQueries.mergedEdges(TableIO.readCurrent(spark, dir))
    assert(merged.count() == 4)
    val row = merged.filter(col("src_id") === 9L)
      .select("pred_norm", "n_obs", "description").as[(String, Long, String)].head()
    assert(row == ("hand_made", 2L, "Manually added: Hand Made"))
    // ON-CREATE: a delta add onto an existing key keeps the extracted
    // description and bumps n_obs through the read view
    KgQueries.addEdgeDelta(spark, dir, 1L, 2L, "Includes")
    val over = KgQueries.mergedEdges(TableIO.readCurrent(spark, dir))
      .filter(col("src_id") === 1L && col("dst_id") === 2L)
      .select("description", "n_obs").as[(String, Long)].head()
    assert(over == ("fixture edge", 2L))
  }

  test("addEdge's row, built on the driver, equals the projection it replaced, in each session time zone") {
    import graft.tables.TableIO
    import org.apache.spark.sql.{DataFrame, Row, SparkSession}
    import org.apache.spark.sql.types.{DataType, StructType}
    /** The manual edge row as a one-row frame's projection: the oracle. */
    def projected(s: SparkSession, provType: DataType, src: Long, dst: Long, pred: String): DataFrame =
      s.createDataFrame(java.util.List.of(Row(pred)), new StructType().add("pred", "string"))
        .select(lit(src).as("src_id"), lit(dst).as("dst_id"), col("pred"),
          Materialize.normPred(col("pred")).as("pred_norm"), lit(1.0).as("strength"),
          lit(1L).as("n_obs"), lit(s"${KgQueries.ManualDescriptionPrefix}$pred").as("description"),
          array().cast(provType).as("provenance"), Materialize.CreatedAt.as("created_at"))
    def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)
    val preds = Seq("Hand  Made", " two   spaces ", "UPPER Case", "Ärger ÜBER straße",
      "İstanbul ΟΔΟΣ", "中文 关系", "")
    for (tz <- Seq("UTC", "America/Los_Angeles")) {
      val s = spark.newSession()
      s.conf.set("spark.sql.session.timeZone", tz)
      val dir = tmpDir("addEdgeRow")
      TableIO.commitSnapshot(edges, dir, "edges")
      val schema = TableIO.currentSchema(dir)
      val oracle = preds.zipWithIndex.map { case (p, i) =>
        projected(s, schema("provenance").dataType, 9L, i.toLong, p)
      }.reduce(_ unionByName _).select(schema.fieldNames.toSeq.map(col): _*)
      val ids = preds.indices.map(i => KgQueries.addEdgeDelta(s, dir, 9L, i.toLong, preds(i)))
      assert(sorted(TableIO.readSnapshots(s, dir, ids)) == sorted(oracle), tz)
      val framed = preds.zipWithIndex.map { case (p, i) =>
        KgQueries.addEdge(s.createDataFrame(java.util.List.of[Row](), schema), 9L, i.toLong, p)
      }.reduce(_ unionByName _)
      assert(sorted(framed) == sorted(oracle), tz)
    }
    // the time zone is the session's: midnight in Los Angeles is 08:00 UTC
    val stamps = Seq("UTC", "America/Los_Angeles").map { tz =>
      val s = spark.newSession()
      s.conf.set("spark.sql.session.timeZone", tz)
      val dir = tmpDir("addEdgeTz")
      TableIO.commitSnapshot(edges, dir, "edges")
      KgQueries.addEdgeDelta(s, dir, 9L, 8L, "Hand Made")
      TableIO.readCurrent(s, dir).filter(col("src_id") === 9L)
        .select("created_at").head().getTimestamp(0).getTime
    }
    assert(stamps(1) - stamps(0) == 8 * 3600 * 1000L)
  }

  test("cleanup drops empty-pred edges and orphan nodes") {
    val dirtyE = edges.select("src_id", "dst_id", "pred")
      .union(Seq((7L, 8L, " ")).toDF("src_id", "dst_id", "pred"))
    val dirtyN = nodes.select("node_id", "name")
      .union(Seq((99L, "Orphan")).toDF("node_id", "name"))
    val (cn, ce) = Cleanup(dirtyN, dirtyE)
    assert(ce.count() == 3)
    // Statistics has no edges → dropped; Orphan dropped
    assert(cn.select("name").as[String].collect().toSet ==
      Set("Artificial Intelligence", "Machine Learning", "Data Mining"))
  }

  test("graph snapshot export shapes") {
    val (ns, ls) = KgQueries.graphSnapshot(nodes, edges)
    assert(ns.columns.toSeq == Seq("id", "name", "type", "size"))
    assert(ls.columns.toSeq == Seq("source", "target", "type"))
    assert(ns.count() == 4 && ls.count() == 3)
  }

  test("reachableFrom: BFS hops with cycles, caps, and unreachable nodes") {
    // 1→2→3, 1→3, plus a cycle 3→1 and isolated node 4
    val e = edges.unionByName(
      Seq((3L, 1L, "Back")).toDF("src_id", "dst_id", "pred")
        .withColumn("pred_norm", lit("back")).withColumn("strength", lit(1.0))
        .withColumn("n_obs", lit(1L))
        .withColumn("description", lit("fixture edge"))
        .withColumn("provenance", typedLit(Seq.empty[(String, Int, String)])
          .cast("array<struct<doc_id:string,span_idx:int,media_ref:string>>"))
        .withColumn("created_at", Materialize.CreatedAt))
    val r = KgQueries.reachableFrom(nodes, e, "Artificial Intelligence", maxHops = 3)
      .select("name", "hops").as[(String, Int)].collect().toMap
    assert(r == Map("Artificial Intelligence" -> 0,
      "Machine Learning" -> 1, "Data Mining" -> 1))
    val capped = KgQueries.reachableFrom(nodes, e, "Artificial Intelligence",
      maxHops = 3, maxNodes = 2).select("name").as[String].collect().toSet
    assert(capped == Set("Artificial Intelligence", "Data Mining")) // (hops, name) order
    assert(KgQueries.reachableFrom(nodes, e, "Nope", 3).count() == 0)
  }

  test("reachableFrom: maxNodes binds MID-BFS — expansion stops at the budget, (hops,name) winners") {
    // star + tail: S→{A,B,C}, A→Z. The cap must bind DURING hop-1 expansion
    // (the reference's bounded frontier, graph.go:66-70), so Z is never
    // expanded into even though maxHops would allow it.
    val n = Seq((1L, "S"), (2L, "A"), (3L, "B"), (4L, "C"), (5L, "Z"))
      .toDF("node_id", "name")
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 5L)).toDF("src_id", "dst_id")
    val got = KgQueries.reachableFrom(n, e, "S", maxHops = 3, maxNodes = 3)
      .select("name", "hops").as[(String, Int)].collect().toSet
    assert(got == Set(("S", 0), ("A", 1), ("B", 1)), got.toString)
    // the capped result is exactly the (hops, name)-prefix of the uncapped one
    val full = KgQueries.reachableFrom(n, e, "S", maxHops = 3)
      .orderBy(col("hops"), col("name"))
      .select("name", "hops").as[(String, Int)].collect().toSeq
    assert(full.take(3).toSet == got)
  }

  test("reachableFrom traverses THROUGH edge endpoints missing from the nodes table") {
    // 1→7→5 with node 7 dangling (edges snapshot ahead of nodes): 7 is
    // absent from the output but the frontier must still pass through it
    val n = Seq((1L, "S"), (5L, "Z")).toDF("node_id", "name")
    val e = Seq((1L, 7L), (7L, 5L)).toDF("src_id", "dst_id")
    val got = KgQueries.reachableFrom(n, e, "S", maxHops = 2)
      .select("name", "hops").as[(String, Int)].collect().toSet
    assert(got == Set(("S", 0), ("Z", 2)), got.toString)
  }

  test("Main arg parsing and conf precedence") {
    val m = graft.run.Main.parseArgs(Array("--workDir=/tmp/x", "--nDocs=123", "--enrich"))
    val c = graft.run.Main.confFrom(m)
    assert(c.workDir == "/tmp/x" && c.nDocs == 123L && c.nBuckets == 8)
    assert(m("enrich") == "true")
  }
}
