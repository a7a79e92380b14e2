package graft.graph

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The reference's read/ops API re-expressed as one-line DataFrame queries
  * (SURVEY.md §3.3): frontend handlers
  * (/root/reference/kg-frontend/src/handlers/{graph,statistics,concepts}.go),
  * builder statistics (kg-builder/cmd/kg-builder/main.go:178-193) and the
  * enricher's candidate-pair generation
  * (kg-enricher/internal/neo4j/neo4j.go:304-350).
  *
  * All "random" sampling is hash-ordered (md5) instead of ORDER BY rand():
  * deterministic across engines and runs — the seeded-rand requirement.
  */
object KgQueries {

  /** F5: concept-name projection (RETURN c.name). */
  def conceptNames(nodes: DataFrame): DataFrame =
    nodes.select(col("canonical_name").as("name")).distinct().orderBy("name")

  /** F7: substring search, LIMIT 10 (ordered for determinism). */
  def search(nodes: DataFrame, q: String, limit: Int = 10): DataFrame =
    nodes.filter(col("name").contains(q)).select("name")
      .orderBy("name").limit(limit)

  /** A1: graph statistics (node count, relationship count). */
  def statistics(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val n = nodes.agg(count(lit(1)).as("node_count"))
    val e = edges.agg(count(lit(1)).as("relationship_count"))
    n.crossJoin(e)
  }

  /** A2: degree (in+out) per node. */
  def degree(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val d = edges.select(col("src_id").as("node_id"))
      .unionAll(edges.select(col("dst_id").as("node_id")))
      .groupBy("node_id").agg(count(lit(1)).as("degree"))
    nodes.select("node_id", "name").join(d, Seq("node_id"), "left")
      .withColumn("degree", coalesce(col("degree"), lit(0L)))
  }

  /** A3: low-connectivity top-k (ORDER BY connectivity ASC LIMIT k). */
  def lowConnectivity(nodes: DataFrame, edges: DataFrame, k: Int = 10): DataFrame =
    degree(nodes, edges).orderBy(col("degree").asc, col("name").asc).limit(k)

  /** A4: most-connected top-k (stats dashboard top-5). */
  def mostConnected(nodes: DataFrame, edges: DataFrame, k: Int = 5): DataFrame =
    degree(nodes, edges).orderBy(col("degree").desc, col("name").asc).limit(k)

  /** A6: relationship-type histogram. */
  def predHistogram(edges: DataFrame): DataFrame =
    edges.groupBy("pred_norm").agg(count(lit(1)).as("n")).orderBy("pred_norm")

  /** J1: ConceptExists as a left-semi join. */
  def existingConcepts(candidates: DataFrame, nodes: DataFrame): DataFrame =
    candidates.join(nodes.select(col("name")), Seq("name"), "left_semi")

  /** J4: deterministic non-adjacent candidate pairs — the enricher's random
    * pair generation, hash-ordered instead of ORDER BY rand(). SAMPLE-FIRST:
    * both pairing sides are the same hash-ordered top-S node sample
    * (S = max(64, ceil(sqrt(oversample·n))) — a TakeOrdered over the node
    * table, never a full node×node cartesian), so the nested-loop join is
    * S×S ≈ O(oversample·n) regardless of graph size. Existing edges in
    * either direction are excluded via a left-anti join on the normalized
    * (least, greatest) key. */
  def nonAdjacentPairs(nodes: DataFrame, edges: DataFrame, n: Int,
      oversample: Int = 32): DataFrame = {
    val s = math.max(64, math.ceil(math.sqrt(oversample.toDouble * n)).toInt)
    val ids = nodes.select(col("node_id"), col("name"))
      .orderBy(md5(col("name"))).limit(s)
    val a = ids.select(col("node_id").as("a_id"), col("name").as("a"))
    val b = ids.select(col("node_id").as("b_id"), col("name").as("b"))
    val pairs = a.crossJoin(b).filter(col("a_id") < col("b_id"))
    val existing = edges.select(
      least(col("src_id"), col("dst_id")).as("a_id"),
      greatest(col("src_id"), col("dst_id")).as("b_id")).distinct()
    pairs.join(existing, Seq("a_id", "b_id"), "left_anti")
      .withColumn("pick", md5(concat_ws("|", col("a"), col("b"))))
      .orderBy("pick").limit(n)
      .select("a", "b")
  }

  /** Doc-level co-occurrence of canonical entities — the deterministic
    * evidence source for enrichment (replaces the reference's LLM pair
    * mining, X2). mentionsCanon: (doc_id, canonical), one row per mention
    * (duplicates = evidence weight). The per-doc pairing is quadratic in the
    * doc's distinct-entity count, so entities are capped at `maxPerDoc` per
    * doc (keep top-k by mention count, name tie-break) BEFORE pairing — a
    * boilerplate-heavy web doc mentioning 10^3 entities would otherwise
    * produce 10^6 pair rows on its own. */
  def cooccurrence(mentionsCanon: DataFrame, maxPerDoc: Int = 64): DataFrame = {
    val counted = mentionsCanon.groupBy("doc_id", "canonical")
      .agg(count(lit(1)).as("n_m"))
    val m = counted
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("n_m").desc, col("canonical").asc)))
      .filter(col("rk") <= maxPerDoc)
      .select("doc_id", "canonical")
    // per-doc pairing via a capped per-doc list + codegen'd array pair
    // explosion (r07, guide §2.4): the former doc_id SELF-JOIN evaluated the
    // whole mentions→count→window subtree TWICE and sort-merge-joined the
    // copies — two extra corpus-scale exchanges plus sorts. The list is
    // bounded by maxPerDoc, so the explosion is ≤ maxPerDoc² structs per
    // doc, map-side, and the groupBy(doc_id) reuses the window's
    // partitioning (no new exchange). Pair semantics are identical: one
    // (a, b) row per doc with a < b, list order irrelevant.
    val lists = m.groupBy("doc_id").agg(collect_list(col("canonical")).as("cs"))
    lists
      .select(explode(flatten(transform(col("cs"), x =>
        transform(col("cs"), y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_docs"))
  }

  /** G6/G7 RunOnce: enrich the graph with CoOccursWith edges for the top
    * non-adjacent co-occurring pairs (threshold on doc evidence).
    * @param focus G5 low-connectivity reseeding: when set, only pairs
    *   touching one of these node_ids are considered — the reference's
    *   "reseed from poorly-connected concepts" redirected at pair mining
    *   (the corpus-driven build has no BFS loop to reseed). The focus set
    *   is bottom-k-sized, so the OR-semi-join broadcasts it. */
  def enrichOnce(nodes: DataFrame, edges: DataFrame, mentionsCanon: DataFrame,
      minDocs: Long, maxNew: Int, focus: Option[DataFrame] = None): DataFrame =
    enrichOnceFromCo(nodes, edges,
      cooccurrence(mentionsCanon).filter(col("n_docs") >= minDocs), maxNew, focus)

  /** Enrichment tick over a PRECOMPUTED co-occurrence table: exactly
    * [[pickNew]] over the [[unlinked]] [[coPairs]]. A ticker computes the
    * corpus aggregate once and pins the unlinked pairs per (nodes, edges)
    * snapshot, so a tick runs only [[pickNew]]. */
  def enrichOnceFromCo(nodes: DataFrame, edges: DataFrame, co: DataFrame,
      maxNew: Int, focus: Option[DataFrame] = None): DataFrame =
    pickNew(unlinked(coPairs(nodes, co), edges), maxNew, focus)

  /** The co-occurrence pairs (a, b, n_docs) mapped to node ids: a_id, b_id,
    * the undirected key (k1, k2) = (least, greatest) of the ids, and the
    * hash-ordered tie-break `pick`. Depends on the nodes only, not on the
    * edges. */
  def coPairs(nodes: DataFrame, co: DataFrame): DataFrame = {
    val ids = nodes.select(col("name"), col("node_id"))
    co.join(ids.select(col("name").as("a"), col("node_id").as("a_id")), Seq("a"))
      .join(ids.select(col("name").as("b"), col("node_id").as("b_id")), Seq("b"))
      .select(col("a"), col("b"), col("n_docs"), col("a_id"), col("b_id"),
        least(col("a_id"), col("b_id")).as("k1"),
        greatest(col("a_id"), col("b_id")).as("k2"),
        md5(concat_ws("|", col("a"), col("b"))).as("pick"))
  }

  /** The [[coPairs]] `pairs` not adjacent in `edges` in either direction; an
    * anti-join drops a pair on any match, so repeated keys need no distinct. */
  def unlinked(pairs: DataFrame, edges: DataFrame): DataFrame =
    pairs.join(edges.select(
      least(col("src_id"), col("dst_id")).as("k1"),
      greatest(col("src_id"), col("dst_id")).as("k2")), Seq("k1", "k2"), "left_anti")

  /** The top `maxNew` of the [[unlinked]] pairs `remaining` by
    * (n_docs desc, pick), as CoOccursWith edge rows.
    * @param focus G5 low-connectivity reseeding, as in [[enrichOnce]] */
  def pickNew(remaining: DataFrame, maxNew: Int, focus: Option[DataFrame]): DataFrame =
    focus.fold(remaining)(f => remaining.join(broadcast(f.select(col("node_id"))),
        col("a_id") === col("node_id") || col("b_id") === col("node_id"), "left_semi"))
      .orderBy(col("n_docs").desc, col("pick").asc).limit(maxNew)
      .select(col("a_id").as("src_id"), col("b_id").as("dst_id"),
        lit("CoOccursWith").as("pred"), lit("cooccurswith").as("pred_norm"),
        round(lit(1.0) - lit(1.0) / (col("n_docs") + 1), 6).as("strength"),
        col("n_docs"),
        concat(col("a"), lit(" co-occurs with "), col("b")).as("description"))

  /** G1/O6: seed-BFS reachability — the reference's frontier-queue graph
    * expansion (/root/reference/kg-builder/internal/graph/graph.go:56-130).
    * As there, the frontier and the visited ids are held in process memory,
    * here the driver's: they are bounded by the node table, which is
    * dictionary-sized, and by maxNodes (the reference's MAX_NODES cap).
    * Collects the nodes' [[NodeDirectory]] in one job, and Spark scans the
    * edges once per hop.
    * Follows out-edges, as the builder's expansion does.
    * Returns (node_id, name, hops), ordered by (hops, name). */
  def reachableFrom(nodes: DataFrame, edges: DataFrame, seedName: String,
      maxHops: Int, maxNodes: Int = Int.MaxValue): DataFrame =
    reachableFrom(NodeDirectory(nodes), edges, seedName, maxHops, maxNodes)

  /** [[reachableFrom]] with the seed, each hop's winners and the rows from `dir`. */
  def reachableFrom(dir: NodeDirectory, edges: DataFrame, seedName: String,
      maxHops: Int, maxNodes: Int): DataFrame = {
    val visited = scala.collection.mutable.LinkedHashMap.empty[Long, Int]
    dir.named(seedName).foreach(i => visited(dir.id(i)) = 0)
    var frontier = visited.keys.toSeq
    var hop = 0
    // the maxNodes budget binds INSIDE the loop, per hop — the reference
    // caps the frontier during expansion (graph.go:66-70); a hop's winners
    // are its candidates' smallest by (name NULLS LAST, node_id), names in
    // Spark's UTF-8 order. An edge endpoint missing from the nodes table is
    // still traversed THROUGH (it is only absent from the named output); it
    // has no name, so it sorts last. Deliberate semantics: the budget counts
    // DISCOVERED ids (dangling ones included), i.e. it bounds frontier and
    // visited memory like the reference's id-holding frontier channel — so
    // under a binding cap on a referentially-drifted graph the NAMED output
    // may hold fewer than maxNodes rows.
    while (hop < maxHops && visited.size < maxNodes && frontier.nonEmpty) {
      hop += 1
      val candidates = edges.filter(col("src_id").isin(frontier: _*)).select("dst_id")
        .collect().map(_.getLong(0)).distinct.filterNot(visited.contains).toSeq
      val budget = maxNodes - visited.size
      frontier = if (candidates.size <= budget) candidates else {
        val c = candidates.toSet
        val byName = dir.byName.filter(i => c(dir.id(i)) && dir.name(i) != null)
          .take(budget).map(dir.id)
        byName ++ (c -- byName).toSeq.sorted.take(budget - byName.size)
      }
      frontier.foreach(visited(_) = hop)
    }
    val rows = dir.byName.filter(i => visited.contains(dir.id(i))).sortBy(i => visited(dir.id(i)))
    dir.frame(edges.sparkSession, rows.take(math.min(visited.size, maxNodes)),
      StructField("hops", IntegerType))(i => visited(dir.id(i)))
  }

  /** Marker prefix on manually-added edge descriptions; [[mergedEdges]]
    * ranks marked descriptions BELOW extracted ones (ON-CREATE-only
    * semantics without needing write-order metadata in the chain). */
  val ManualDescriptionPrefix = "Manually added: "

  /** The single manual edge row in the column order of `schema`, an edge
    * table's, built on the driver: `pred_norm` and `created_at` are
    * [[Materialize]]'s columns evaluated on a literal in `spark`'s time zone. */
  private def edgeRow(spark: SparkSession, schema: StructType,
      srcId: Long, dstId: Long, pred: String): Row = {
    val value = Map[String, Any]("src_id" -> srcId, "dst_id" -> dstId, "pred" -> pred,
      "pred_norm" -> Bridge.eval(spark, Materialize.normPred(lit(pred))),
      "strength" -> 1.0, "n_obs" -> 1L, "description" -> s"$ManualDescriptionPrefix$pred",
      "provenance" -> Seq.empty, "created_at" -> Bridge.eval(spark, Materialize.CreatedAt))
    Row.fromSeq(schema.fieldNames.toSeq.map(value))
  }

  /** Read-side MERGE over a (possibly delta-chained) union of edge rows: one
    * row per (src_id, dst_id, pred) with the write-time MERGE semantics —
    * n_obs summed, strength max, `description` ON-CREATE-only (an extracted
    * edge's canonical sentence outranks a manual add's
    * [[ManualDescriptionPrefix]] marker), provenance merged
    * sorted-then-capped at [[Materialize.ProvenanceCap]]. Every aggregate is
    * order-insensitive, so the view is deterministic over the unordered
    * parquet union a snapshot chain reads as; it is idempotent, so applying
    * it to an already-merged table is the identity on every column. */
  def mergedEdges(chain: DataFrame): DataFrame =
    chain
      .withColumn("is_manual",
        col("description").startsWith(ManualDescriptionPrefix).cast("int"))
      .groupBy("src_id", "dst_id", "pred").agg(
        min("pred_norm").as("pred_norm"), // = f(pred): constant per key
        max("strength").as("strength"),
        sum("n_obs").as("n_obs"),
        min(struct(col("is_manual"), col("description")))
          .getField("description").as("description"), // create-wins
        slice(sort_array(flatten(collect_list("provenance"))), 1,
          Materialize.ProvenanceCap).as("provenance"),
        min("created_at").as("created_at"))

  /** S13: manual edge creation by node id (REST POST /api/relationships) —
    * frame-level MERGE (full groupBy over the input frame; fine for tests
    * and dictionary-scale frames). The TABLE path is [[addEdgeDelta]]. */
  def addEdge(edges: DataFrame, srcId: Long, dstId: Long, pred: String): DataFrame =
    mergedEdges(edges.unionByName(edges.sparkSession.createDataFrame(java.util.List.of(
      edgeRow(edges.sparkSession, edges.schema, srcId, dstId, pred)), edges.schema)))

  /** S13 scale path: a single-row REST-style add as an O(1) DELTA commit —
    * the write volume is the ONE new row ([[graft.tables.TableIO.commitDelta]]),
    * never a table rewrite; MERGE semantics are applied at read time by
    * [[mergedEdges]]. The row is built on the driver and written there, so
    * the add plans no query and runs no Spark job. Returns the committed
    * snapshot's id. */
  def addEdgeDelta(spark: SparkSession, tableDir: String,
      srcId: Long, dstId: Long, pred: String): Int = {
    val schema = graft.tables.TableIO.currentSchema(tableDir)
    graft.tables.TableIO.commitDeltaRows(spark, schema, tableDir, "add_edge")(
      Seq(edgeRow(spark, schema, srcId, dstId, pred)))
  }

  /** G8: graph snapshot export (nodes + links, id-addressed). */
  def graphSnapshot(nodes: DataFrame, edges: DataFrame): (DataFrame, DataFrame) =
    graphSnapshotOf(nodes, edges, degree(nodes, edges))

  /** G8 with the [[degree]] frame of `nodes` and `edges` given. */
  def graphSnapshotOf(nodes: DataFrame, edges: DataFrame,
      degree: DataFrame): (DataFrame, DataFrame) = {
    val d = degree.select(col("node_id"), col("degree"))
    val ns = nodes.join(d, Seq("node_id"), "left")
      .select(col("node_id").as("id"), col("name"),
        lit("Concept").as("type"), coalesce(col("degree"), lit(0L)).as("size"))
    val ls = edges.select(col("src_id").as("source"), col("dst_id").as("target"),
      col("pred_norm").as("type"))
    (ns, ls)
  }
}

/** A nodes table's (node_id, name) rows on the driver in its row order, so
  * that reads whose answer is a few node rows run no Spark query; as large
  * as the node table, which is broadcast-sized (SCALE.md). Names are held
  * and ordered as Spark holds them, in UTF-8, nulls first. Never mutated. */
final class NodeDirectory private (val schema: StructType, ids: Array[Long],
    names: Array[UTF8String]) {
  def rows: Range = ids.indices
  def id(i: Int): Long = ids(i)
  def name(i: Int): String = Option(names(i)).map(_.toString).orNull

  /** The rows by (name, node_id). */
  val byName: Array[Int] = rows.sortBy(i => (Option(names(i)), ids(i)))(
    Ordering.Tuple2(Ordering.Option(Ordering.fromLessThan(_.compareTo(_) < 0)), Ordering.Long)).toArray

  /** The rows named `name`, in row order. */
  def named(name: String): Seq[Int] =
    Option(UTF8String.fromString(name)).toSeq.flatMap(u => rows.filter(i => u == names(i)))

  /** The node_id of the first row named `name`. */
  def idOf(name: String): Option[Long] = named(name).headOption.map(ids)

  /** [[KgQueries.search]]: the non-null names containing `q`, by name, at most `limit`. */
  def search(q: String, limit: Int): Seq[String] = Option(UTF8String.fromString(q)).toSeq.flatMap(u =>
    byName.iterator.map(names(_)).filter(n => n != null && n.contains(u)).take(limit).map(_.toString))

  /** (node_id, name, `field`) of `rows`, in that order, as a local frame. */
  def frame(spark: SparkSession, rows: Array[Int], field: StructField)(value: Int => Any): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(i => Row(ids(i), name(i), value(i))): _*),
      schema.add(field))
}

object NodeDirectory {
  def apply(nodes: DataFrame): NodeDirectory = {
    val named = nodes.select("node_id", "name")
    val rows = named.collect()
    new NodeDirectory(named.schema, rows.map(_.getLong(0)),
      rows.map(r => UTF8String.fromString(r.getString(1))))
  }
}

/** G3/G4 as standalone set-oriented cleanup (replaces the reference's
  * periodic two-pass Cypher deletes,
  * /root/reference/kg-builder/internal/neo4j/neo4j.go:417-540). */
object Cleanup {
  def apply(nodes: DataFrame, edges: DataFrame): (DataFrame, DataFrame) = {
    val cleanEdges = edges.filter(
      col("pred").isNotNull && length(trim(col("pred"))) > 0)
    val touched = cleanEdges.select(col("src_id").as("node_id"))
      .unionAll(cleanEdges.select(col("dst_id").as("node_id"))).distinct()
    val cleanNodes = nodes.join(touched, Seq("node_id"), "left_semi")
    (cleanNodes, cleanEdges)
  }
}
