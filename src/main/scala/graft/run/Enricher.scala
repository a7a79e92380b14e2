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
  * an edges-table DELTA snapshot ([[TableIO.commitDelta]]) — per-tick write
  * volume is O(batch), independent of the edges-table size, with periodic
  * compaction handled by the table layer. Ticks see the PREVIOUS tick's
  * edges, so the anti-join naturally walks down the candidate ranking. The runner
  * stops itself when `maxRelationships` edges have been added or the candidate
  * pool is drained (a tick adds nothing).
  *
  * The [[KgQueries.unlinked]] co-occurrence pairs are pinned per (nodes,
  * edges) snapshot. As `anti(P, E ∪ D) = anti(anti(P, E), D)`, a tick drops
  * from the pin, as a literal set, the pairs of the keys folded in since
  * ([[KgSession.edgeEndsSince]]) and collects its ≤ `batch` picks in one
  * job; the pin is taken again when those keys are not all carried.
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

  /** The pairs not linked in the current edges: the pin less the
    * (least, greatest) pairs of the keys folded in since, or a new pin. */
  private def remaining(nodes: DataFrame): DataFrame = {
    val carried = for {
      (n, edgesId, pairs) <- unlinkedPin if n eq nodes
      ends <- kg.edgeEndsSince(edgesId)
    } yield pairs.filter(!struct(col("k1"), col("k2")).isin(ends.filter(_.nonEmpty).distinct
      .map(e => struct(lit(e.min).as("k1"), lit(e.max).as("k2"))): _*))
    carried.getOrElse {
      val (edgesId, edges) = kg.carriedEdges
      val pairs = KgQueries.unlinked(KgQueries.coPairs(nodes, coTable), edges).localCheckpoint()
      unlinkedPin = Some((nodes, edgesId, pairs))
      pairs
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
    if (left <= 0) return 0L
    val pairs = remaining(kg.nodes)
    // G5 reseeding analog: focus this tick's mining on the currently
    // worst-connected nodes (re-ranked per tick, as the reference reseeds,
    // over the session's pinned degree)
    val focus =
      if (conf.focusBottomK > 0)
        Some(kg.lowConnectivity(conf.focusBottomK).select("node_id"))
      else None
    val picks = KgQueries.pickNew(pairs, math.min(conf.batch.toLong, left).toInt, focus)
      .select(col("src_id"), col("dst_id"), col("pred"), col("pred_norm"),
        col("strength"), col("n_docs").as("n_obs"), col("description"),
        array().cast(kg.edges.schema("provenance").dataType).as("provenance"),
        Materialize.CreatedAt.as("created_at"))
    val rows = picks.collect().toSeq
    if (rows.nonEmpty) {
      // delta-append: each tick writes O(batch) rows, not O(edges) — the
      // reader unions the delta chain; TableIO compacts when it grows long
      TableIO.commitDeltaRows(picks.sparkSession, picks.schema, kg.edgesDir, "edges",
        conf.maxChain)(rows)
      // snapshot GC: without it a long-running ticker accretes one snap
      // dir per tick forever (compaction repoints but never deletes);
      // vacuum from the single appender is the safe place (see
      // TableIO.vacuum's reader caveat)
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
