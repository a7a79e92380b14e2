package graft.graph

import graft.run.Pipeline
import graft.tables.TableIO
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
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
  * taken before a commit keeps showing its own snapshot.
  *
  * A new snapshot is folded into the pin, not re-read: when CURRENT's
  * [[TableIO.snapshotChain]] still contains the pinned id, the new pin is
  * `view(pinned ∪ the deltas newer than it)`. Otherwise (the first read, a
  * compaction, a new full snapshot) the whole chain is read. The fold is
  * exact whenever `view(chain) == view(view(prefix) ∪ rest)`: identity
  * meets it, and so does [[KgQueries.mergedEdges]], whose every aggregate
  * is associative and idempotent — `n_obs` is a sum, `strength` a max,
  * `description`, `created_at` and `pred_norm` are mins, and `provenance`
  * keeps the K smallest, which are also the K smallest of (the K smallest
  * of A) ∪ B.
  *
  * Every read takes its files from the snapshots' manifests
  * ([[TableIO.readSnapshots]]), so a part file that is gone fails the pin
  * instead of reading as no rows. The pin's own job also gathers, with
  * `Dataset.observe`, the view's row count (so [[statistics]] runs no job).
  *
  * Once the degree frame or the enricher asks, a fold of ≤ `CarryCap` delta
  * rows also observes their distinct (src_id, dst_id, pred) keys. With
  * n_new = n' − n from the observed counts, the delta added none of them
  * when n_new = 0 and all when n_new is their count (as every enricher tick
  * does); any other delta, or over `CarryCap` keys, drops the carry. A key
  * is tagged with the snapshot that added it, so the degree frame and the
  * enricher, pinned at an earlier edges snapshot, get the keys added since
  * ([[edgeEndsSince]]). */
final class KgSession(val spark: SparkSession, val workDir: String) {
  import KgSession._

  private def conf = Pipeline.Conf(workDir = workDir)

  /** Edges table directory (snapshot commits, e.g. the enricher's). */
  def edgesDir: String = Pipeline.edgesDir(conf)

  /** One table's pinned snapshot: its id, its view localCheckpointed, the
    * view's row count and partition count, and the keys its folds carry. */
  private final case class Pin(id: Int, df: DataFrame, rows: Long, parts: Int,
      carry: Option[Carry] = None)

  private val pins = scala.collection.mutable.Map.empty[String, Pin]

  /** (nodes id, edges id, checkpointed degree frame) of the last degree
    * computed. */
  private var degreePin: Option[(Int, Int, DataFrame)] = None

  /** `view` over the current snapshot of `dir`, folded from the previous
    * pin when the chain allows it. Synchronized: the enricher reads from its
    * own thread. */
  private def pinned(dir: String)(view: DataFrame => DataFrame): Pin = synchronized {
    val id = TableIO.requireCurrentId(dir)
    pins.get(dir) match {
      case Some(p) if p.id == id => p
      case prev =>
        val chain = TableIO.snapshotChain(dir, id)
        val pin = prev.filter(p => chain.contains(p.id)) match {
          case Some(p) => fold(dir, p, chain.takeWhile(_ != p.id), view)
          case None => checkpointed(dir, chain, None, view, keyed = false)._1
        }
        pins(dir) = pin
        pin
    }
  }

  /** The pin `p` with the snapshots `newer` folded in; carries the keys the
    * fold adds when the observed counts allow. */
  private def fold(dir: String, p: Pin, newer: Seq[Int],
      view: DataFrame => DataFrame): Pin = {
    val keyed = p.carry.isDefined && TableIO.snapshotRows(dir, newer) <= CarryCap
    val (pin, keys) = checkpointed(dir, newer, Some(p), view, keyed)
    val added = pin.rows - p.rows
    val carry = p.carry.flatMap { c =>
      if (added == 0) Some(c)
      else keys.filter(_.size == added).map(ks => c.copy(keys = c.keys ++ ks.map(_ -> pin.id)))
    }.filter(_.keys.size <= CarryCap)
    pin.copy(carry = carry)
  }

  /** The pin of `view(base ∪ snapshots ids)`, localCheckpointed in one job
    * that also observes the view's rows and, when `keyed`, the distinct
    * (src_id, dst_id, pred) keys read. The union keeps the base's partition
    * count: a base that fits one partition (as the adaptive shuffle sized
    * it) is merged in the read's own stage, with no shuffle. */
  private def checkpointed(dir: String, ids: Seq[Int], base: Option[Pin],
      view: DataFrame => DataFrame, keyed: Boolean): (Pin, Option[Seq[Row]]) = {
    val (read, out) = (Observation(), Observation())
    val in = TableIO.readSnapshots(spark, dir, ids).transform(r => if (!keyed) r
      else r.observe(read, collect_set(struct("src_id", "dst_id", "pred")).as("keys")))
    val df = view(base.fold(in)(b => b.df.unionByName(in).coalesce(math.max(1, b.parts))))
      .observe(out, count(lit(1)).as("rows")).localCheckpoint()
    val pin = Pin(ids.head, df, observed(out).getAs[Long]("rows"),
      df.queryExecution.toRdd.getNumPartitions)
    (pin, Option.when(keyed)(observed(read).getAs[scala.collection.Seq[Row]]("keys").toSeq))
  }

  private def nodesPin: Pin = pinned(Pipeline.nodesDir(conf))(identity)

  /** Read through the MERGE view: a delta chain may hold several rows for
    * one (src,dst,pred) key (repeated [[addEdge]]), and compaction unions the
    * chain verbatim. Identity on an already-merged table. */
  private def edgesPin: Pin = pinned(edgesDir)(KgQueries.mergedEdges)

  def nodes: DataFrame = nodesPin.df

  /** Current edges, one row per (src_id, dst_id, pred) key. */
  def edges: DataFrame = edgesPin.df

  def triples: DataFrame = pinned(Pipeline.triplesDir(conf))(identity).df

  /** The current edges and their snapshot id; from here on the edges pin
    * carries the keys its folds add, for [[edgeEndsSince]]. */
  private[graft] def carriedEdges: (Int, DataFrame) = synchronized {
    val e = edgesPin
    if (e.carry.isEmpty) pins(edgesDir) = e.copy(carry = Some(Carry(e.id, Map.empty)))
    (e.id, e.df)
  }

  /** The non-null endpoints of each key the current edges hold beyond edges
    * snapshot `id`, or None when the pin has not carried them all. */
  private[graft] def edgeEndsSince(id: Int): Option[Seq[Seq[Long]]] = synchronized {
    edgesPin.carry.filter(_.base <= id).map(_.since(id))
  }

  /** (node_id, name, degree) of the current snapshots: the pinned degree
    * frame plus +1 at each endpoint of each key carried since it, or
    * recomputed and pinned when they are not carried. */
  private def degreeFrame: DataFrame = synchronized {
    val n = nodesPin
    val carried = for {
      (nodesId, edgesId, d) <- degreePin if nodesId == n.id
      keys <- edgeEndsSince(edgesId)
    } yield if (keys.isEmpty) d else d.withColumn("degree", col("degree") + coalesce(
      element_at(typedLit(keys.flatten.groupMapReduce(identity)(_ => 1L)(_ + _)),
        col("node_id")), lit(0L)))
    carried.getOrElse {
      val (edgesId, edges) = carriedEdges
      val d = KgQueries.degree(n.df, edges).localCheckpoint()
      degreePin = Some((n.id, edgesId, d))
      d
    }
  }

  // ------------------------------------------------------------ query side
  /** (node count, relationship count), observed when the pins were taken. */
  def statistics(): (Long, Long) = (nodesPin.rows, edgesPin.rows)
  def search(q: String, limit: Int = 10): Seq[String] =
    KgQueries.search(nodes, q, limit).collect().map(_.getString(0)).toSeq
  def conceptNames(): DataFrame = KgQueries.conceptNames(nodes)
  def degree(): DataFrame = degreeFrame
  def mostConnected(k: Int = 5): DataFrame = KgQueries.mostConnectedOf(degreeFrame, k)
  def lowConnectivity(k: Int = 10): DataFrame = KgQueries.lowConnectivityOf(degreeFrame, k)
  def graphSnapshot(): (DataFrame, DataFrame) =
    KgQueries.graphSnapshotOf(nodes, edges, degreeFrame)
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
  /** Largest delta, in rows, whose keys a fold gathers on the driver, and
    * most keys a pin carries; past either the carry is dropped. */
  private val CarryCap = 4096

  /** The distinct (src_id, dst_id, pred) keys the edges pin's folds added
    * since snapshot `base`, each with the snapshot that added it. */
  private final case class Carry(base: Int, keys: Map[Row, Int]) {
    def since(id: Int): Seq[Seq[Long]] = keys.iterator.collect {
      case (k, n) if n > id => Seq(0, 1).filterNot(k.isNullAt).map(k.getLong)
    }.toSeq
  }

  /** An observation's metrics. They arrive on the listener bus just after
    * the job; the bound only keeps a lost event from hanging the caller. */
  private def observed(o: Observation): Row =
    scala.concurrent.Await.result(o.future, scala.concurrent.duration.Duration(60, "s"))

  /** Build (or resume) the graph from the configured corpus, then open. */
  def build(spark: SparkSession, c: Pipeline.Conf): KgSession = {
    Pipeline.run(spark, c)
    new KgSession(spark, c.workDir)
  }

  /** Open an already-materialized graph. */
  def open(spark: SparkSession, workDir: String): KgSession =
    new KgSession(spark, workDir)
}
