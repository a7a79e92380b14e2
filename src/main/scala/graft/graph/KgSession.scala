package graft.graph

import graft.run.Pipeline
import graft.tables.TableIO
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

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
  * A new snapshot is folded into the pin, not re-read: when the chain
  * walked back from CURRENT reaches the pinned id, the new pin is
  * `view(pinned ∪ the deltas newer than it)`; otherwise (the first read, a
  * compaction, a new full snapshot) the whole chain is read. The fold is
  * exact whenever `view(chain) == view(view(prefix) ∪ rest)`: identity
  * meets it, and so does [[KgQueries.mergedEdges]], whose every aggregate
  * is associative and idempotent. Every read takes its files from the
  * manifests ([[TableIO.readSnapshots]]), so a part file that is gone fails
  * it instead of reading as no rows, and observes the view's row count.
  *
  * Kept on write: the edges count and, once the degree frame or the
  * enricher asks, the (src_id, dst_id, pred) keys added since, each tagged
  * with the snapshot that added it ([[edgeEndsSince]]). The session knows
  * what two of its own commits add, recorded after the commit (which holds
  * no lock) unless a read folded it first: a tick's keys, when it lands on
  * the snapshot its pairs were picked at ([[commitPicks]]), and nothing, for
  * an [[addEdge]] of a carried key. Reading the count, the carried keys or
  * the edge keys over known snapshots runs no job and leaves them pending:
  * [[reachableFrom]]'s hops, the enricher's re-pin and the degree
  * recompute read the pin's keys ∪ the pending snapshots' known keys.
  * Merged on read: [[edges]] and [[graphSnapshot]] first merge the pending
  * files in one job, which checks the count kept. Any other snapshot is
  * folded with the pending ones in one job that observes its keys: with
  * n_new = n' − n (n the count kept), it added none when n_new = 0 and all
  * its keys not carried yet when n_new is their number; otherwise, or past
  * `CarryCap` rows or keys, the carry is dropped.
  *
  * Node-sized reads run no job: per nodes snapshot the session collects a
  * [[NodeDirectory]] and keeps a degree array beside it, carried like the
  * count. [[search]], [[idOf]], [[degree]], top-k and [[reachableFrom]]'s
  * seed, budget and rows read them; only its hops scan the edges. */
final class KgSession(val spark: SparkSession, val workDir: String) {
  import KgSession._

  private def conf = Pipeline.Conf(workDir = workDir)

  /** Edges table directory (snapshot commits, e.g. the enricher's). */
  def edgesDir: String = Pipeline.edgesDir(conf)

  /** One table's pinned snapshot `id`: its row count, the keys its folds
    * carry and, with `parts` partitions, its view localCheckpointed but for
    * the `pending` snapshots, applied to `rows`, `carry` and `pendingKeys`
    * (the new keys they add) only. */
  private final case class Pin(id: Int, df: DataFrame, rows: Long, parts: Int,
      carry: Option[Carry] = None, pending: Seq[TableIO.Snap] = Nil, pendingKeys: Seq[Row] = Nil)

  private val pins = scala.collection.mutable.Map.empty[String, Pin]

  /** What this session's edges commits add, by snapshot id, until the pin passes them. */
  private val known = scala.collection.mutable.Map.empty[Int, Known]

  /** The nodes pin of the last directory collected, and that directory. */
  private var dirPin: Option[(Pin, NodeDirectory)] = None

  /** (directory, edges id, degrees aligned with the directory) of the last degrees read. */
  private var degreePin: Option[(NodeDirectory, Int, Array[Long])] = None

  /** `view` over the current snapshot of `dir`, folded from the previous
    * pin when the chain allows it. Synchronized: the enricher reads from its
    * own thread. */
  private def pinned(dir: String)(view: DataFrame => DataFrame): Pin = synchronized {
    val id = TableIO.requireCurrentId(dir)
    pins.get(dir) match {
      case Some(p) if p.id == id => p
      case prev =>
        val newer = TableIO.chainUntil(dir, id, prev.fold(-1)(_.id))
        val pin = prev.filter(_.id == newer.last.deltaOf) match {
          case Some(p) => fold(dir, p, newer, view)
          case None => checkpointed(dir, id, None, newer, Nil, view)._1
        }
        pins(dir) = pin
        if (dir == edgesDir) known.filterInPlace((n, _) => n > id)
        pin
    }
  }

  /** The pin `p` advanced over the snapshots `newer`: the known ones are
    * applied to the count and the carry and, unless all are and no `merge`
    * is asked, every snapshot not merged is merged in one job that throws if
    * the merged count is below the count kept, or off it with all known. */
  private def fold(dir: String, p: Pin, newer: Seq[TableIO.Snap],
      view: DataFrame => DataFrame, merge: Boolean = false): Pin = {
    val adds = newer.map(s => s -> known.get(s.id).filter(k =>
      dir == edgesDir && k.parent.forall(_ == s.deltaOf)).map(_.keys.map(_ -> s.id)))
    val newKeys = adds.flatMap(_._2).flatten
    val rows = p.rows + newKeys.size
    val carry = p.carry.map(c => c.copy(keys = newKeys.toMap ++ c.keys))
    val unknown = adds.collect { case (s, None) => s }
    val id = newer.headOption.fold(p.id)(_.id)
    if (unknown.isEmpty && !merge) return p.copy(id = id, rows = rows, carry = carry.filter(
      _.keys.size <= CarryCap), pending = newer ++ p.pending, pendingKeys = newKeys.map(_._1) ++ p.pendingKeys)
    val keyed = carry.isDefined && unknown.map(_.rows).sum <= CarryCap
    val (pin, keys) = checkpointed(dir, id, Some(p), (if (keyed) newer.filterNot(unknown.contains)
      else newer) ++ p.pending, if (keyed) unknown else Nil, view)
    val added = pin.rows - rows
    if (added < 0 || added > 0 && unknown.isEmpty) throw new IllegalStateException(
      s"$dir: snap-$id merged to ${pin.rows} rows; this session's commits counted $rows")
    pin.copy(carry = carry.flatMap { c =>
      if (added == 0) Some(c)
      else keys.map(_.filterNot(c.keys.contains)).filter(_.size == added)
        .map(ks => c.copy(keys = c.keys ++ ks.map(_ -> id)))
    }.filter(_.keys.size <= CarryCap))
  }

  /** The pin `id` of `view(base ∪ snaps ∪ keyed)`, localCheckpointed in one
    * job that also observes the view's rows and the distinct (src_id, dst_id,
    * pred) keys of `keyed`. The union keeps the base's partition count: a
    * base that fits one partition is merged in the read's stage, unshuffled. */
  private def checkpointed(dir: String, id: Int, base: Option[Pin], snaps: Seq[TableIO.Snap],
      keyed: Seq[TableIO.Snap], view: DataFrame => DataFrame): (Pin, Option[Seq[Row]]) = {
    val (read, out) = (Observation(), Observation())
    val in = (Option.when(snaps.nonEmpty)(TableIO.readSnaps(spark, dir, snaps)) ++
      Option.when(keyed.nonEmpty)(TableIO.readSnaps(spark, dir, keyed)
        .observe(read, collect_set(struct("src_id", "dst_id", "pred")).as("keys"))))
      .reduce(_ unionByName _)
    val df = view(base.fold(in)(b => b.df.unionByName(in).coalesce(math.max(1, b.parts))))
      .observe(out, count(lit(1)).as("rows")).localCheckpoint()
    val pin = Pin(id, df, observed(out).getAs[Long]("rows"),
      df.queryExecution.toRdd.getNumPartitions)
    (pin, Option.when(keyed.nonEmpty)(
      observed(read).getAs[scala.collection.Seq[Row]]("keys").toSeq))
  }

  private def nodesPin: Pin = pinned(Pipeline.nodesDir(conf))(identity)

  /** Read through the MERGE view: a delta chain may hold several rows for
    * one (src,dst,pred) key (repeated [[addEdge]]), and compaction unions the
    * chain verbatim. Identity on an already-merged table. */
  private def edgesPin: Pin = pinned(edgesDir)(KgQueries.mergedEdges)

  /** The current edges' snapshot id and (src_id, dst_id, pred) keys, one row
    * each, with no merge: the pin's ∪ its pending snapshots' known keys. A
    * known tick's picks are new, distinct keys and a known add adds none.
    * The union keeps the pin's partitions: the local relation adds no task. */
  private def edgeKeys: (Int, DataFrame) = synchronized {
    val p = edgesPin
    val keys = p.df.select("src_id", "dst_id", "pred")
    p.id -> (if (p.pendingKeys.isEmpty) keys
      else keys.unionByName(spark.createDataFrame(java.util.List.of(p.pendingKeys: _*), keys.schema))
        .coalesce(math.max(1, p.parts)))
  }

  def nodes: DataFrame = nodesPin.df

  /** Current edges, one row per (src_id, dst_id, pred) key: the pin with its
    * pending snapshots merged. */
  def edges: DataFrame = synchronized {
    val p = edgesPin
    if (p.pending.nonEmpty) pins(edgesDir) = fold(edgesDir, p, Nil, KgQueries.mergedEdges, merge = true)
    pins(edgesDir).df
  }

  def triples: DataFrame = pinned(Pipeline.triplesDir(conf))(identity).df

  /** The current edges' snapshot id and keys ([[edgeKeys]]); from here on
    * the edges pin carries the keys its folds add, for [[edgeEndsSince]]. */
  private[graft] def carriedEdges: (Int, DataFrame) = synchronized {
    val keys = edgeKeys
    val e = pins(edgesDir)
    if (e.carry.isEmpty) pins(edgesDir) = e.copy(carry = Some(Carry(e.id, Map.empty)))
    keys
  }

  /** The current edges snapshot id and the non-null endpoints of each key
    * its edges hold beyond edges snapshot `id`, or None when the pin has not
    * carried them all. */
  private[graft] def edgeEndsSince(id: Int): Option[(Int, Seq[Seq[Long]])] = synchronized {
    val e = edgesPin
    e.carry.filter(_.base <= id).map(c => (e.id, c.since(id)))
  }

  /** Commits the enricher's picks `rows` of `schema`, pairs not adjacent at
    * edges snapshot `at`, as an edges delta outside the lock; their keys are
    * known to be new if it lands on `at` and no read has folded it yet. */
  private[graft] def commitPicks(at: Int, schema: StructType, rows: Seq[Row],
      maxChain: Int): Unit = {
    val keys = rows.map(r => Row.fromSeq(Seq("src_id", "dst_id", "pred").map(r.getAs[Any])))
    val id = TableIO.commitDeltaRows(spark, schema, edgesDir, "edges", maxChain)(rows)
    synchronized { if (pins.get(edgesDir).exists(_.id < id)) known(id) = Known(Some(at), keys.distinct) }
  }

  /** The current nodes snapshot's directory, collected once per snapshot. */
  private def directory: NodeDirectory = synchronized {
    val n = nodesPin
    if (!dirPin.exists(_._1.id == n.id)) dirPin = Some(n -> NodeDirectory(n.df))
    dirPin.get._2
  }

  /** The (node_id, name, degree) rows `pick` chooses, as a local frame. The
    * degrees are the last ones plus 1 at each endpoint in the nodes of each
    * key carried since (a new array), or recomputed in one job. */
  private def degreeRows(pick: (NodeDirectory, Array[Long]) => Array[Int]): DataFrame = synchronized {
    val dir = directory
    val (edgesId, deg) = (for {
      (d0, edgesId, d) <- degreePin if d0 eq dir
      (id, keys) <- edgeEndsSince(edgesId)
      inc = keys.flatten.groupMapReduce(identity)(_ => 1L)(_ + _)
    } yield id -> dir.rows.map(i => d(i) + inc.getOrElse(dir.id(i), 0L)).toArray).getOrElse {
      val (edgesId, edges) = carriedEdges
      val byId = KgQueries.degree(dirPin.get._1.df, edges).select("node_id", "degree").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      edgesId -> dir.rows.map(i => byId(dir.id(i))).toArray
    }
    degreePin = Some((dir, edgesId, deg))
    dir.frame(spark, pick(dir, deg), StructField("degree", LongType, nullable = false))(deg(_))
  }

  // ------------------------------------------------------------ query side
  /** (node count, relationship count), observed when the pins were taken. */
  def statistics(): (Long, Long) = (nodesPin.rows, edgesPin.rows)
  def search(q: String, limit: Int = 10): Seq[String] = directory.search(q, limit)
  def conceptNames(): DataFrame = KgQueries.conceptNames(nodes)
  def degree(): DataFrame = degreeRows((d, _) => d.rows.toArray)
  def mostConnected(k: Int = 5): DataFrame = degreeRows((d, deg) => d.byName.sortBy(-deg(_)).take(k))
  def lowConnectivity(k: Int = 10): DataFrame = degreeRows((d, deg) => d.byName.sortBy(deg(_)).take(k))
  def graphSnapshot(): (DataFrame, DataFrame) =
    KgQueries.graphSnapshotOf(nodes, edges, degree())
  def reachableFrom(seed: String, maxHops: Int, maxNodes: Int = Int.MaxValue): DataFrame =
    KgQueries.reachableFrom(directory, edgeKeys._2, seed, maxHops, maxNodes)

  // --------------------------------------------------------- mutation side
  /** S13 manual edge creation: an O(1)-row DELTA commit (never a table
    * rewrite); MERGE semantics surface through the [[edges]] read view. */
  def addEdge(srcId: Long, dstId: Long, pred: String): Unit = {
    val id = KgQueries.addEdgeDelta(spark, edgesDir, srcId, dstId, pred)
    synchronized { if (pins.get(edgesDir).exists(p => p.id < id &&
      p.carry.exists(_.keys.contains(Row(srcId, dstId, pred))))) known(id) = Known(None, Nil) }
  }

  /** Node id lookup by exact name (the frontend's id-addressed API needs it). */
  def idOf(name: String): Option[Long] = directory.idOf(name)

  // ----------------------------------------------------------- time travel
  def edgeSnapshots(): Seq[Int] = TableIO.listSnapshots(edgesDir)
  def edgesAt(snapshot: Int): DataFrame =
    KgQueries.mergedEdges(TableIO.readSnapshot(spark, edgesDir, snapshot))
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

  /** The keys a commit adds to the merged edges if its parent is `parent` (or any, for None). */
  private final case class Known(parent: Option[Int], keys: Seq[Row])

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
