package graft.run

import graft.graph.{KgQueries, KgSession, Materialize}
import graft.tables.TableIO
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

/** G7: the continuous-enrichment lifecycle — the reference enricher's
  * Start/Stop/IsRunning ticker with its `max_relationships` stop condition
  * (/root/reference/kg-enricher/internal/enricher/enricher.go:61-130,
  * 210-235), over the deterministic co-occurrence miner instead of an LLM.
  *
  * Each tick appends at most `batch` new non-adjacent CoOccursWith edges as
  * an edges-table DELTA snapshot, committed through the session
  * ([[KgSession.commitPicks]]) — per-tick write volume is O(batch),
  * independent of the edges-table size, with periodic compaction handled
  * by the table layer. Ticks see the PREVIOUS tick's edges, so the
  * anti-join naturally walks down the candidate ranking. The runner stops
  * itself when `maxRelationships` edges have been added or the candidate
  * pool is drained (a tick adds nothing).
  *
  * The [[KgQueries.unlinked]] co-occurrence pairs are pinned per (nodes,
  * edges) snapshot. As `anti(P, E ∪ D) = anti(anti(P, E), D)`, a tick drops
  * from the pin, as a literal set, the pairs of the keys added since
  * ([[KgSession.edgeEndsSince]]) and collects its ≤ `batch` picks in one
  * job; the pin is taken again when those keys are not all carried. The
  * tick reads no edge rows, and the session counts its picks as new keys
  * when its delta lands on the edges snapshot they were picked at.
  */
final class Enricher(kg: KgSession, mentionsCanon: DataFrame, conf: Enricher.Conf) {

  private val runningFlag = new AtomicBoolean(false)
  private val addedCount = new AtomicLong(0L)
  @volatile private var worker: Thread = _

  /** The corpus-scale co-occurrence aggregate is a fixed input — computed
    * once for the enricher's lifetime. */
  private lazy val coTable = KgQueries.cooccurrence(mentionsCanon)
    .filter(col("n_docs") >= conf.minDocs)
    .localCheckpoint()

  /** (nodes frame, edges snapshot id, the unlinked [[KgQueries.coPairs]] of
    * [[coTable]] at them, localCheckpointed); `kg.nodes` is the same frame
    * until a nodes commit. */
  private var unlinkedPin: Option[(DataFrame, Int, DataFrame)] = None

  /** The current edges id and the pairs not linked in its edges: the pin less
    * the (least, greatest) pairs of the keys added since, or a new pin. */
  private def remaining(nodes: DataFrame): (Int, DataFrame) = {
    val carried = for {
      (n, edgesId, pairs) <- unlinkedPin if n eq nodes
      (at, ends) <- kg.edgeEndsSince(edgesId)
    } yield at -> pairs.filter(!struct(col("k1"), col("k2")).isin(ends.filter(_.nonEmpty).distinct
      .map(e => struct(lit(e.min).as("k1"), lit(e.max).as("k2"))): _*))
    carried.getOrElse {
      val (edgesId, edges) = kg.carriedEdges
      val pairs = KgQueries.unlinked(KgQueries.coPairs(nodes, coTable), edges).localCheckpoint()
      unlinkedPin = Some((nodes, edgesId, pairs))
      edgesId -> pairs
    }
  }

  def isRunning: Boolean = runningFlag.get()
  def added: Long = addedCount.get()

  /** One enrichment pass (the reference's RunOnce/processBatch): append up
    * to min(batch, remaining) new edges; returns how many were added. One
    * Spark job, the collect of the picks, when the session's pins and the
    * unlinked pairs' pin are current. */
  def runOnce(): Long = synchronized {
    val left = conf.maxRelationships - addedCount.get()
    if (left <= 0) 0L else commit(picks(math.min(conf.batch.toLong, left).toInt))
  }

  /** The current edges snapshot id and the top `n` pairs not linked at it. */
  private[graft] def picks(n: Int): (Int, DataFrame) = {
    val (at, pairs) = remaining(kg.nodes)
    // G5 reseeding analog: focus this tick's mining on the currently worst-
    // connected nodes, re-ranked per tick over the session's pinned degree
    val focus = Option.when(conf.focusBottomK > 0)(
      kg.lowConnectivity(conf.focusBottomK).select("node_id"))
    at -> KgQueries.pickNew(pairs, n, focus)
      .select(col("src_id"), col("dst_id"), col("pred"), col("pred_norm"),
        col("strength"), col("n_docs").as("n_obs"), col("description"),
        array().cast(TableIO.currentSchema(kg.edgesDir)("provenance").dataType).as("provenance"),
        Materialize.CreatedAt.as("created_at"))
  }

  /** Collects `picks` and commits them; returns how many there were. */
  private[graft] def commit(picks: (Int, DataFrame)): Long = {
    val (at, df) = picks
    val rows = df.collect().toSeq
    if (rows.nonEmpty) {
      kg.commitPicks(at, df.schema, rows, conf.maxChain)
      // snapshot GC: without it a long-running ticker accretes one snap dir
      // per tick forever; the single appender is the safe place to vacuum
      if (conf.vacuumRetain > 0)
        TableIO.vacuum(kg.edgesDir, conf.vacuumRetain, conf.vacuumGraceMs)
      addedCount.addAndGet(rows.length)
    }
    rows.length
  }

  /** Start the ticker; no-op if already running. */
  def start(): Unit = if (runningFlag.compareAndSet(false, true)) {
    worker = new Thread(() => {
      try {
        var drained = false
        while (runningFlag.get() && !drained &&
            addedCount.get() < conf.maxRelationships) {
          drained = runOnce() == 0
          if (!drained && addedCount.get() < conf.maxRelationships)
            try Thread.sleep(conf.intervalMs)
            catch { case _: InterruptedException => () }
        }
      } finally runningFlag.set(false)
    }, "graft-enricher")
    worker.setDaemon(true)
    worker.start()
  }

  /** Stop the ticker and wait for the in-flight tick to finish. */
  def stop(): Unit = {
    runningFlag.set(false)
    val w = worker
    if (w != null) { w.interrupt(); w.join(60000) }
  }

  /** Block until the runner stops on its own (cap reached or drained). */
  def awaitStopped(timeoutMs: Long = 120000): Boolean = {
    val t0 = System.currentTimeMillis()
    while (isRunning && System.currentTimeMillis() - t0 < timeoutMs)
      Thread.sleep(20)
    !isRunning
  }
}

object Enricher {
  /** @param minDocs co-occurrence evidence threshold
    * @param batch max edges per tick
    * @param maxRelationships total cap, the enricher's stop condition
    * @param intervalMs ticker interval
    * @param focusBottomK >0 = G5 reseeding: each tick mines only pairs
    *   touching the current bottom-k-degree nodes
    * @param vacuumRetain >0 = per-tick snapshot GC keeping the chains of
    *   the newest N roots ([[graft.tables.TableIO.vacuum]]); 0 = keep
    *   every snapshot (unbounded time travel, unbounded disk)
    * @param maxChain delta-chain length that triggers a compacting full
    *   rewrite ([[graft.tables.TableIO.commitDelta]]) — the disk floor
    *   under vacuum is one full chain, so GC granularity follows this
    * @param vacuumGraceMs cross-process GC grace window: vacuum skips
    *   victims younger than this (TableIO.vacuum minAgeMs) — 0 = immediate
    *   collection (safe for this single-appender ticker; raise it when a
    *   second process might read the table dir) */
  final case class Conf(
      minDocs: Long = 3,
      batch: Int = 10,
      maxRelationships: Long = 50,
      intervalMs: Long = 1000,
      focusBottomK: Int = 0,
      vacuumRetain: Int = 0,
      maxChain: Int = 64,
      vacuumGraceMs: Long = 0L)
}
