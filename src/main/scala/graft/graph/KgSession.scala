package graft.graph

import graft.run.Pipeline
import graft.tables.TableIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The single user-facing handle over a materialized knowledge graph — what
  * a kay-gee-go user gets from the frontend API + ops scripts, as a library:
  * build, query, mutate (snapshot-append), enrich, export, time-travel.
  *
  * All mutations go through snapshot commits: readers never observe a
  * partial write, and every prior state stays addressable.
  *
  * Reads are pinned per snapshot: [[nodes]], [[edges]] and [[triples]]
  * each keep the frame of the snapshot they last read, localCheckpointed
  * once, and reuse it while the table's CURRENT still names that snapshot
  * (snapshots are immutable). Freshness comes from re-reading CURRENT, one
  * small file, on every access: a commit by any writer — this session, the
  * enricher's thread, another session or process, `TableIO` called
  * directly — is seen on the next read, with no invalidation step. A frame
  * taken before a commit keeps showing its own snapshot. */
final class KgSession(val spark: SparkSession, val workDir: String) {

  private def conf = Pipeline.Conf(workDir = workDir)

  /** Edges table directory (snapshot commits, e.g. the enricher's). */
  def edgesDir: String = Pipeline.edgesDir(conf)

  /** Per table dir: the snapshot id last read and its checkpointed frame. */
  private val pins = scala.collection.mutable.Map.empty[String, (Int, DataFrame)]

  /** `view` over the current snapshot of `dir`, computed once per snapshot
    * id. Synchronized: the enricher reads from its own thread. */
  private def pinned(dir: String)(view: DataFrame => DataFrame): DataFrame = synchronized {
    val id = TableIO.requireCurrentId(dir)
    pins.get(dir) match {
      case Some((`id`, df)) => df
      case _ =>
        val df = view(TableIO.readSnapshot(spark, dir, id)).localCheckpoint()
        pins(dir) = id -> df
        df
    }
  }

  def nodes: DataFrame = pinned(Pipeline.nodesDir(conf))(identity)

  /** Current edges through the read-side MERGE view: a delta chain may hold
    * several rows for one (src,dst,pred) key (repeated [[addEdge]]), and
    * compaction unions the chain verbatim — the MERGE is applied here, at
    * read time, once per snapshot. Identity on an already-merged table (one
    * aggregate over a dictionary-scale frame). */
  def edges: DataFrame = pinned(edgesDir)(KgQueries.mergedEdges)

  def triples: DataFrame = pinned(Pipeline.triplesDir(conf))(identity)

  // ------------------------------------------------------------ query side
  def statistics(): (Long, Long) = {
    val r = KgQueries.statistics(nodes, edges).collect()(0)
    (r.getLong(0), r.getLong(1))
  }
  def search(q: String, limit: Int = 10): Seq[String] =
    KgQueries.search(nodes, q, limit).collect().map(_.getString(0)).toSeq
  def conceptNames(): DataFrame = KgQueries.conceptNames(nodes)
  def degree(): DataFrame = KgQueries.degree(nodes, edges)
  def mostConnected(k: Int = 5): DataFrame = KgQueries.mostConnected(nodes, edges, k)
  def graphSnapshot(): (DataFrame, DataFrame) = KgQueries.graphSnapshot(nodes, edges)
  def reachableFrom(seed: String, maxHops: Int, maxNodes: Int = Int.MaxValue): DataFrame =
    KgQueries.reachableFrom(nodes, edges, seed, maxHops, maxNodes)

  // --------------------------------------------------------- mutation side
  /** S13 manual edge creation: an O(1)-row DELTA commit (never a table
    * rewrite); MERGE semantics surface through the [[edges]] read view. */
  def addEdge(srcId: Long, dstId: Long, pred: String): Unit =
    KgQueries.addEdgeDelta(spark, edgesDir, srcId, dstId, pred)

  /** Node id lookup by exact name (the frontend's id-addressed API needs it). */
  def idOf(name: String): Option[Long] =
    nodes.filter(col("name") === name).select("node_id")
      .collect().headOption.map(_.getLong(0))

  // ----------------------------------------------------------- time travel
  def edgeSnapshots(): Seq[Int] = TableIO.listSnapshots(edgesDir)
  def edgesAt(snapshot: Int): DataFrame =
    TableIO.readSnapshot(spark, edgesDir, snapshot)
}

object KgSession {
  /** Build (or resume) the graph from the configured corpus, then open. */
  def build(spark: SparkSession, c: Pipeline.Conf): KgSession = {
    Pipeline.run(spark, c)
    new KgSession(spark, c.workDir)
  }

  /** Open an already-materialized graph. */
  def open(spark: SparkSession, workDir: String): KgSession =
    new KgSession(spark, workDir)
}
