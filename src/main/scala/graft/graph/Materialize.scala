package graft.graph

import graft.functions.BoundedCollectList.bounded_collect_list
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonicalization + node/edge table materialization (SURVEY.md G2-G4,
  * S9-S11).
  *
  * - node identity: stable content hash of the name (`xxhash64`), with
  *   grounded (dictionary) entities placed in a LOWER id band than open-path
  *   candidate entities, so the keep-lowest-id rule (the reference's
  *   FixDuplicateNodes, internal/common/neo4j/neo4j.go:386-451) always
  *   elects a grounded representative when one exists.
  * - duplicate canonicalization: one group-min per normalized name.
  * - edge materialization: MERGE-by-key semantics (S11: key (src,dst,pred))
  *   as ONE hash aggregate whose per-group state is bounded: count/sum are
  *   map-side combined, and provenance exemplars use the custom
  *   [[graft.functions.BoundedCollectList]] aggregate, so hub edges at web
  *   scale can't blow an aggregation buffer or skew a reducer with giant
  *   arrays (the buffer is capped on the map side too). The aggregate also
  *   carries both endpoint names, so the edges, nodes and triples-view
  *   tables are all read off that one frame.
  * - cleanup: empty-predicate edges (G3) are filtered upstream; orphan nodes
  *   (G4) never arise: nodes are grouped from the edges' endpoints.
  */
object Materialize {

  /** Fixed timestamp — determinism requirement (no wall clock in the plan). */
  val CreatedAt: Column = to_timestamp(lit("2026-01-01 00:00:00"))

  val ProvenanceCap = 24

  def normName(c: Column): Column = lower(regexp_replace(trim(c), " +", " "))

  /** U2 (formatRelationType, kg-enricher/internal/neo4j/neo4j.go:353-365)
    * + lowercase for case-stable predicate parity. */
  def normPred(c: Column): Column = lower(regexp_replace(c, " ", "_"))

  /** 61-bit content hash; grounded band [0, 2^61), candidate band starts at
    * 2^62 — min() picks grounded representatives first. */
  def nodeId(name: Column, grounded: Column): Column =
    (xxhash64(name).bitwiseAND(lit(0x1FFFFFFFFFFFFFFFL))) +
      when(grounded, lit(0L)).otherwise(lit(1L << 62))

  final case class Graph(nodes: DataFrame, edges: DataFrame)

  /** The canonicalization map: one row per distinct raw name →
    * (name, rep_id, rep_name). Small (dictionary-scale), localCheckpointed.
    *
    * The equivalence is "same normalized name", a blocking key: every
    * `normName` group is already closed under it, so each component is
    * exactly its group and the representative is the group's min
    * (node_id, name) — ONE aggregate, no transitive closure to run. */
  def canonicalize(spark: SparkSession, linked: DataFrame, aliases: DataFrame): DataFrame = {
    // duplicate canonicals only repeat a name's row; min and collect_set
    // absorb them, so the alias side needs no distinct (and no shuffle)
    val grounded = aliases.select(col("canonical").as("gname"))
    linked
      .select(explode(array(col("subj"), col("obj"))).as("name"))
      .join(broadcast(grounded), col("name") === col("gname"), "left")
      .groupBy(normName(col("name")))
      .agg(
        min(struct(nodeId(col("name"), col("gname").isNotNull).as("id"), col("name")))
          .as("rep"),
        collect_set(col("name")).as("names"))
      .select(explode(col("names")).as("name"),
        col("rep.id").as("rep_id"), col("rep.name").as("rep_name"))
      .localCheckpoint() // small: one row per distinct raw name
  }

  /** Stage A of edge materialization: collapse the corpus-sized linked
    * stream to ONE row per raw (subj, pred, obj) in a single bounded hash
    * aggregate — the only job that touches corpus-scale data. Distinct raw
    * triples are dictionary-bounded (surface variants × golden triples), so
    * the output is tiny regardless of corpus size; partial aggregation means
    * the shuffle moves ≤ (#keys × #partitions) combined rows, never the
    * corpus. Run this in the SAME job as extraction+linking (they are all
    * narrow maps/broadcast joins above it) and the whole pipeline is one
    * scan. */
  def preAggregate(linked: DataFrame): DataFrame =
    linked
      .groupBy(col("subj"), col("pred"), col("obj"))
      .agg(
        count(lit(1)).as("n_obs"),
        sum(col("score")).as("score_sum"),
        bounded_collect_list(
          struct(col("doc_id"), col("span_idx"), col("media_ref")),
          ProvenanceCap).as("provenance"))

  /** Stage A without per-row linking (r07, guide §8 "decide with small
    * rows"): when no alias is ambiguous, the canonical endpoint and its
    * score are pure functions of the raw surface string — so the
    * corpus-scale stream is FIRST collapsed to one row per distinct raw
    * (subj, pred, obj) (count + bounded provenance exemplars), and the
    * broadcast alias joins + the validName candidate gate then run on the
    * dictionary-scale aggregate instead of per corpus row. Output is
    * row-identical to `preAggregate(EntityLink.link(...))`:
    *  - n_obs: raw-surface groups partition each canonical group, so the
    *    counts sum exactly;
    *  - provenance: the K smallest of a union of per-group K-smallest sets
    *    is the K smallest of the union (each (doc_id, span_idx) appears in
    *    exactly one raw group);
    *  - score_sum: the score is constant within a raw group, so
    *    Σ_rows score = n·score per group (the summation-order FP wiggle is
    *    absorbed by the round(…,6) that already guards the distributed
    *    partial-sum order downstream).
    * `rawValid` must already carry the validPred filter. */
  def preAggregateBySurface(rawValid: DataFrame, aliases: DataFrame): DataFrame = {
    val surfAgg = rawValid
      .groupBy(col("subj"), col("pred"), col("obj"))
      .agg(
        count(lit(1)).as("n0"),
        bounded_collect_list(
          struct(col("doc_id"), col("span_idx"), col("media_ref")),
          ProvenanceCap).as("prov0"))
    graft.link.EntityLink.linkAggregated(surfAgg, aliases)
      .groupBy(col("subj"), col("pred"), col("obj"))
      .agg(
        // coalesce only to pin the non-nullable schema count(1) had — the
        // sum over a group is never actually null
        coalesce(sum(col("n0")), lit(0L)).as("n_obs"),
        sum(col("n0") * col("score")).as("score_sum"),
        slice(sort_array(flatten(collect_list(col("prov0")))), 1, ProvenanceCap)
          .as("provenance"))
  }

  /** Stage B: canonical MERGE on the dictionary-scale pre-aggregate —
    * endpoint remap through the broadcast resolve map, then the final
    * (src,dst,pred) merge. Provenance exemplars from the variant groups are
    * merged sorted-then-capped, so the kept set is deterministic (the
    * ProvenanceCap smallest (doc_id, span_idx) entries); the collect_list
    * here buffers at most #variant-groups × ProvenanceCap structs per edge
    * on dictionary-scale data.
    *
    * `description` mirrors the reference's relationship Description with
    * MERGE-on-create semantics (ON CREATE SET r.description,
    * internal/common/neo4j/neo4j.go:107-151): the canonical sentence
    * rendering "<rep subj> <pred verbatim> <rep obj>". The key fixes all
    * three parts, so it is constant per edge and any later merge keeps it
    * unchanged — exactly "first writer wins", batch-deterministic.
    *
    * The result is the edges table plus `src_name`/`dst_name` (each is
    * constant per rep id); [[edgesTable]], [[nodesOf]] and [[triplesOf]]
    * read the three output tables off it. */
  def namedEdges(preAgg: DataFrame, resolve: DataFrame): DataFrame = {
    val subjMap = resolve.select(col("name").as("subj"),
      col("rep_id").as("src_id"), col("rep_name").as("src_name"))
    val objMap = resolve.select(col("name").as("obj"),
      col("rep_id").as("dst_id"), col("rep_name").as("dst_name"))
    preAgg
      .join(broadcast(subjMap), Seq("subj"))
      .join(broadcast(objMap), Seq("obj"))
      .withColumn("desc",
        concat_ws(" ", col("src_name"), col("pred"), col("dst_name")))
      .groupBy(col("src_id"), col("dst_id"), col("pred"))
      .agg(
        min(col("src_name")).as("src_name"),
        min(col("dst_name")).as("dst_name"),
        sum(col("n_obs")).as("n_obs"),
        sum(col("score_sum")).as("score_sum"),
        min(col("desc")).as("description"),
        slice(sort_array(flatten(collect_list(col("provenance")))), 1, ProvenanceCap)
          .as("provenance"))
      .withColumn("pred_norm", normPred(col("pred")))
      .withColumn("strength", round(col("score_sum") / col("n_obs"), 6))
      .withColumn("created_at", CreatedAt)
      .select((EdgeColumns :+ "src_name" :+ "dst_name").map(col): _*)
  }

  val EdgeColumns: Seq[String] = Seq("src_id", "dst_id", "pred", "pred_norm",
    "strength", "n_obs", "description", "provenance", "created_at")

  /** The edges table: a column projection of [[namedEdges]]. */
  def edgesTable(named: DataFrame): DataFrame = named.select(EdgeColumns.map(col): _*)

  /** The edges table straight from the pre-aggregate. */
  def buildEdgesAgg(preAgg: DataFrame, resolve: DataFrame): DataFrame =
    edgesTable(namedEdges(preAgg, resolve))

  /** Node table: every edge endpoint once, under its rep name. Nodes are
    * exactly the edge-touched reps, so there are no orphans to drop (G4).
    *
    * Node `description` = the lexicographically-first evidence sentence
    * among the node's incident edges (the reference's Concept.Description
    * is LLM-authored; a deterministic MERGE-on-create analog needs a stable
    * pick order, and evidence order is engine-reproducible). */
  def nodesOf(named: DataFrame): DataFrame =
    named.select(col("src_id").as("node_id"), col("src_name").as("name"), col("description"))
      .unionAll(named.select(col("dst_id"), col("dst_name"), col("description")))
      .groupBy("node_id", "name")
      .agg(min("description").as("description"))
      .select(col("node_id"), col("name"), col("name").as("canonical_name"),
        col("description"), CreatedAt.as("created_at"))

  /** The canonical triple read used for P/R comparison (F6 — mirrors
    * RETURN a.name, r.type, b.name;
    * kg-builder/internal/neo4j/neo4j.go:253-283). */
  def triplesOf(named: DataFrame): DataFrame =
    named.select(col("src_name").as("subj"), col("pred_norm"), col("dst_name").as("obj"))
      .distinct()

  /** `edges` with `src_name`/`dst_name` attached from an (id, name) map. */
  private def withNames(edges: DataFrame, names: DataFrame): DataFrame =
    edges
      .join(broadcast(names.toDF("src_id", "src_name")), "src_id")
      .join(broadcast(names.toDF("dst_id", "dst_name")), "dst_id")

  /** [[nodesOf]] over a materialized edges table. A merged group repeats
    * its (rep_id, rep_name) once per raw name, which only repeats edges in
    * the join; the node group-by absorbs them, so no distinct is needed. */
  def buildNodes(resolve: DataFrame, edgesT: DataFrame): DataFrame =
    nodesOf(withNames(edgesT, resolve.select("rep_id", "rep_name")))

  /** [[triplesOf]] over a materialized graph. */
  def triplesView(g: Graph): DataFrame =
    triplesOf(withNames(g.edges, g.nodes.select("node_id", "name")))
}
