package graft.tables

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Iceberg-*style* table layer: parquet data + JSON snapshot manifests with
  * an atomically-replaced CURRENT pointer, plus per-partition lineage
  * counters. This replaces both the reference's Neo4j store and its per-key
  * LLM JSON cache (the resume layer,
  * /root/reference/kg-builder/internal/llm/llm.go:304-418): where the
  * reference resumes at concept granularity from cache files, a killed run
  * here resumes at partition (bucket) granularity from committed manifests.
  * (A real Iceberg catalog could be dropped in — the runtime jar doesn't ship
  * in this sandbox; SURVEY.md §7.3.)
  */
object TableIO {

  private val mapper = new ObjectMapper()

  final case class PartitionMeta(
      stage: String, partition: Int, status: String,
      input_rows: Long, output_rows: Long, wall_ms: Long, fingerprint: String)

  private def writeJsonAtomic(path: Path, obj: Any): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    val json = obj match {
      case m: PartitionMeta =>
        val node = mapper.createObjectNode()
        node.put("stage", m.stage); node.put("partition", m.partition)
        node.put("status", m.status); node.put("input_rows", m.input_rows)
        node.put("output_rows", m.output_rows); node.put("wall_ms", m.wall_ms)
        node.put("fingerprint", m.fingerprint)
        mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node)
      case s: String => s
    }
    Files.writeString(tmp, json)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def readPartitionMeta(path: Path): Option[PartitionMeta] =
    if (!Files.exists(path)) None
    else {
      val n = mapper.readTree(path.toFile)
      Some(PartitionMeta(n.get("stage").asText, n.get("partition").asInt,
        n.get("status").asText, n.get("input_rows").asLong,
        n.get("output_rows").asLong, n.get("wall_ms").asLong,
        n.get("fingerprint").asText))
    }

  // ---------------------------------------------------------------- snapshot

  /** Commit `df` as the next FULL snapshot of table `dir`: data to
    * snap-<n>/; each part file's rows and bytes and the read schema to
    * _manifest/snap-<n>.json; then CURRENT is repointed (monotonically).
    * Readers always see a complete snapshot.
    *
    * Concurrency scope: concurrent commits produce DISTINCT snapshot ids
    * and internally consistent snapshots (the id is claimed with an
    * exclusive createDirectory — fails on exists → next id — so two writers
    * never interleave inside one snap dir), and CURRENT only ever advances
    * within a JVM (repointing is serialized in-process and checked against
    * the pointed id, so a slow writer of snap-0 cannot repoint it backwards
    * past a faster writer's snap-3; cross-PROCESS writers to one table dir
    * are out of scope — the pipeline has exactly one driver). What this
    * does NOT give is serialized read-union-commit transactions: two
    * writers that each read CURRENT, union new rows and commit will each
    * persist only their own addition — last id wins. The same applies to
    * [[commitDelta]]: delta chains assume a SINGLE appender (the enricher
    * ticker); two concurrent delta writers would chain onto the same
    * parent and the lower id would drop out of the read chain. Returns the
    * snapshot's id. */
  def commitSnapshot(df: DataFrame, dir: String, stage: String): Int =
    repointCurrent(Paths.get(dir), writeSnap(df, Paths.get(dir), stage))

  /** Commit `newRows` as a DELTA snapshot chained onto the current one: the
    * write volume is O(newRows), independent of the table size — the
    * enricher's per-tick append path (a full-table rewrite per tick would
    * make tick cost O(edges)). The driver writes the collected rows as one
    * parquet file, so the commit runs no job beyond their collect. Readers
    * union the chain transparently. When the chain has reached `maxChain`
    * entries the commit COMPACTS instead: a Spark write of chain ∪ rows
    * keeps read fan-in bounded (amortized
    * O(newRows · maxChain⁻¹ · table) — the standard log-structured trade).
    * Falls back to a full commit when the table has no snapshot yet.
    *
    * Appender discipline is ENFORCED, not just documented: in-JVM appenders
    * to one table dir are serialized (so concurrent ticks chain correctly
    * instead of both chaining onto the same parent and losing the lower
    * id from the read chain), and a cross-process appender is detected at
    * repoint time — CURRENT having moved since the chain head was read
    * fails the commit loudly instead of silently dropping the other
    * writer's rows. `newRows` is collected after the chain head is read.
    * Returns the committed snapshot's id, as [[commitDeltaRows]]. */
  def commitDelta(newRows: DataFrame, dir: String, stage: String,
      maxChain: Int = 64): Int =
    commitDeltaRows(newRows.sparkSession, newRows.schema, dir, stage, maxChain)(
      newRows.collect().toSeq)

  /** [[commitDelta]] of `rows` of `schema`, evaluated once after the chain
    * head is read. Returns the id of the snapshot committed: a delta whose
    * parent is the head read under the append lock, or, when the chain had
    * reached `maxChain` or the table had no snapshot, a full snapshot. */
  def commitDeltaRows(spark: SparkSession, schema: StructType, dir: String, stage: String,
      maxChain: Int = 64)(rows: => Seq[Row]): Int = {
    val lock = appendLocks.computeIfAbsent(
      Paths.get(dir).toAbsolutePath.toString, _ => new Object)
    lock.synchronized {
      val base = Paths.get(dir)
      currentSnapshotId(dir) match {
        case None => commitSnapshot(spark.createDataFrame(rows.asJava, schema), dir, stage)
        case Some(cur) =>
          // fail-fast on schema drift (it would surface later as silent
          // nulls or read errors in the chain's union): name→type equality,
          // order- and nullability-insensitive; the rows are reordered to
          // the snapshot's columns so the chain's files stay aligned.
          val head = snap(dir, cur)
          val curSig = head.schema.fields.map(f => f.name -> f.dataType.sql).toMap
          val newSig = schema.fields.map(f => f.name -> f.dataType.sql).toMap
          require(curSig == newSig,
            s"commitDelta($dir): delta schema does not match the current snapshot\n" +
              s"  table: ${head.schema.simpleString}\n  delta: ${schema.simpleString}")
          val order = head.schema.fieldNames.map(schema.fieldIndex)
          val aligned = StructType(order.map(schema(_)))
          val rs = rows.map(r => Row.fromSeq(order.toSeq.map(r.get)))
          val n =
            // compaction: the chain, read from its manifests' file lists (a
            // part file gone fails it before CURRENT moves), ∪ the rows
            if (head.chainLen >= maxChain) writeSnap(readSnapshots(spark, dir, snapshotChain(dir, cur))
              .unionByName(spark.createDataFrame(rs.asJava, aligned)), base, stage)
            else writeSnap(base, stage, cur, head.chainLen + 1, aligned) { snapDir =>
              val name = Bridge.writeParquet(spark, aligned, rs, snapDir.toString)
              Seq(PartFile(name, rs.size.toLong, Files.size(snapDir.resolve(name))))
            }
          repointCurrentFrom(base, cur, n)
      }
    }
  }

  /** One lock object per table dir: serializes the read-chain-head →
    * write-delta → repoint sequence for in-JVM delta appenders. */
  private val appendLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Writes `df` with Spark as the next full snapshot of `base`; returns its id. */
  private def writeSnap(df: DataFrame, base: Path, stage: String): Int =
    writeSnap(base, stage, deltaOf = -1, chainLen = 1, df.schema) { snapDir =>
      // append into the freshly claimed EMPTY dir — overwrite would delete
      // the claim first, letting a concurrent committer re-claim the same id;
      // then row counts from the footers, byte lengths from a stat (no job)
      df.write.mode("append").parquet(snapDir.toString)
      parquetFileRows(snapDir).toSeq
    }

  /** Claims the next snapshot id of `base`, has `write` fill its directory
    * and return its part files, and writes their manifest; returns the id.
    * `chainLen` is the length of the snapshot's chain, itself included. */
  private def writeSnap(base: Path, stage: String, deltaOf: Int, chainLen: Int, schema: StructType)(
      write: Path => Seq[PartFile]): Int = {
    Files.createDirectories(base)
    var n = listSnapshots(base.toString).lastOption.fold(0)(_ + 1)
    var snapDir = base.resolve(f"snap-$n%05d")
    var claimed = false
    while (!claimed) {
      try { Files.createDirectory(snapDir); claimed = true }
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        n += 1; snapDir = base.resolve(f"snap-$n%05d")
      }
    }
    val perFile = write(snapDir)
    val node = mapper.createObjectNode()
    node.put("stage", stage); node.put("snapshot", n)
    node.put("delta_of", deltaOf) // -1 = full snapshot
    node.put("chain_len", chainLen)
    node.put("total_rows", perFile.map(_.rows).sum)
    // the schema a parquet read of the snapshot infers (file sources read
    // every field as nullable), so readers skip the inference job
    node.set[JsonNode]("schema", mapper.readTree(Bridge.asNullable(schema).json))
    // the snapshot's files: what a read of it scans
    val parts = node.putObject("partitions")
    perFile.foreach(f => parts.putObject(f.name).put("rows", f.rows).put("bytes", f.bytes))
    writeJsonAtomic(base.resolve("_manifest").resolve(f"snap-$n%05d.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node))
    n
  }

  /** Advance CURRENT to snapshot `n` unless it already points past it; returns `n`.
    * The read-check-write is serialized in-process (one lock for all
    * tables — repointing is microseconds), making the monotonic guarantee
    * hold for concurrent committers within a JVM; cross-process writers
    * are out of scope (one driver per table dir). */
  private val repointLock = new Object
  private def repointCurrent(base: Path, n: Int): Int = repointLock.synchronized {
    if (currentSnapshotId(base.toString).forall(_ < n)) {
      writeJsonAtomic(base.resolve("CURRENT"), f"snap-$n%05d")
      logRoot(base, n)
    }
    n
  }

  /** Append a successfully-committed root id to the table's `_roots` log —
    * the record of every id CURRENT has ever pointed at. [[vacuum]] picks
    * its retained roots from this log, so snapshots that were claimed and
    * written but never became CURRENT (e.g. left behind by a failed
    * [[repointCurrentFrom]] CAS) cannot occupy retention slots and silently
    * shrink the time-travel window below `retainLast` REAL roots. One id
    * per line. Every write to the log, this append and [[vacuum]]'s
    * rewrite, holds [[repointLock]]. */
  private def logRoot(base: Path, n: Int): Unit =
    Files.writeString(base.resolve("_roots"), f"snap-$n%05d%n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)

  /** Ids CURRENT has ever pointed at (committed roots), ascending. Tables
    * written before the log existed have no `_roots` file → empty. */
  private[graft] def rootLog(dir: String): Seq[Int] = {
    val p = Paths.get(dir, "_roots")
    if (!Files.exists(p)) Seq.empty
    else Files.readAllLines(p).asScala.iterator
      .map(_.trim).filter(_.startsWith("snap-"))
      .map(_.stripPrefix("snap-").toInt).toSeq.distinct.sorted
  }

  /** CAS repoint for delta commits: advance CURRENT `expected → n`, failing
    * LOUDLY if CURRENT moved since the chain head was read — that means a
    * second (cross-process) appender chained onto the same parent, and
    * silently repointing would drop its rows from the read chain. Returns `n`. */
  private def repointCurrentFrom(base: Path, expected: Int, n: Int): Int =
    repointLock.synchronized {
      val cur = currentSnapshotId(base.toString)
      if (!cur.contains(expected) || n <= expected)
        throw new java.util.ConcurrentModificationException(
          s"commitDelta($base): CURRENT moved snap-$expected -> " +
            s"${cur.fold("<none>")(c => f"snap-$c%05d")} during the commit " +
            f"(concurrent appender?); snap-$n%05d left unreferenced")
      writeJsonAtomic(base.resolve("CURRENT"), f"snap-$n%05d")
      logRoot(base, n)
      n
    }

  /** Hadoop conf for footer reads: built once, as parsing its default
    * resources costs more than reading a small file's footer. */
  private lazy val footerConf = new org.apache.hadoop.conf.Configuration()

  /** One parquet file of a directory: its name, row count and byte length. */
  final case class PartFile(name: String, rows: Long, bytes: Long)

  /** The parquet files in a directory, by name, with their footers' row
    * counts. */
  def parquetFileRows(dir: Path): Array[PartFile] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    entries(dir).filter(_.getFileName.toString.endsWith(".parquet")).map { p =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p.toString), footerConf))
      try PartFile(p.getFileName.toString, r.getRecordCount, Files.size(p)) finally r.close()
    }.toArray.sortBy(_.name)
  }

  def parquetRowCount(dir: String): Long =
    parquetFileRows(Paths.get(dir)).map(_.rows).sum

  /** The entries of directory `dir`. The listing holds a file descriptor
    * until it is closed, so it is read whole and closed here. */
  private def entries(dir: Path): List[Path] = {
    val st = Files.list(dir)
    try st.iterator().asScala.toList finally st.close()
  }

  def currentSnapshot(dir: String): Option[String] = {
    val cur = Paths.get(dir, "CURRENT")
    if (Files.exists(cur)) Some(Files.readString(cur).trim) else None
  }

  def currentSnapshotId(dir: String): Option[Int] =
    currentSnapshot(dir).map(_.stripPrefix("snap-").toInt)

  /** What snapshot `id`'s manifest records: its parent (-1 = a full
    * snapshot), its chain's length, its rows, the schema a read of it
    * returns and its part files with their byte lengths. */
  private[graft] final case class Snap(id: Int, deltaOf: Int, chainLen: Int, rows: Long,
      schema: StructType, files: Seq[(String, Long)])

  /** Snapshot `n`'s manifest. A manifest without a field [[writeSnap]]
    * writes (one written before the field existed) fails, naming the
    * snapshot and the field: its table has to be rebuilt. */
  private[graft] def snap(dir: String, n: Int): Snap = {
    val snap = f"$dir/snap-$n%05d"
    val p = Paths.get(dir, "_manifest", f"snap-$n%05d.json")
    if (!Files.exists(p)) throw new IllegalStateException(s"$snap: no manifest at $p")
    // `path` names the field from the manifest's root; its last part is j's key
    def field(j: JsonNode, path: String): JsonNode = Option(j.get(path.split('.').last))
      .getOrElse(throw new IllegalStateException(s"$snap: manifest $p has no field '$path'"))
    val m = mapper.readTree(p.toFile)
    Snap(n, field(m, "delta_of").asInt, field(m, "chain_len").asInt, field(m, "total_rows").asLong,
      DataType.fromJson(field(m, "schema").toString).asInstanceOf[StructType],
      field(m, "partitions").properties.asScala.toSeq.map(e =>
        e.getKey -> field(e.getValue, s"partitions.${e.getKey}.bytes").asLong))
  }

  /** The schema a read of the current snapshot returns, from its manifest:
    * a small file read, no Spark job. */
  def currentSchema(dir: String): StructType = snap(dir, requireCurrentId(dir)).schema

  /** Snapshot ids making up the state at snapshot `n`, newest first: `n`,
    * then the delta chain down to (and including) its base full snapshot. */
  def snapshotChain(dir: String, n: Int): Seq[Int] = chainUntil(dir, n, -1).map(_.id)

  /** The manifests of snapshot `n`'s chain, newest first, down to its base
    * or to the snapshot just after `stop`, each parsed once. */
  private[graft] def chainUntil(dir: String, n: Int, stop: Int): Seq[Snap] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Snap]
    var cur = n
    while (cur >= 0 && cur != stop && !buf.exists(_.id == cur)) {
      buf += snap(dir, cur); cur = buf.last.deltaOf
    }
    buf.toSeq
  }

  /** [[currentSnapshotId]], failing when the table has no snapshot yet. */
  def requireCurrentId(dir: String): Int = currentSnapshotId(dir).getOrElse(
    throw new IllegalStateException(s"no CURRENT snapshot in $dir"))

  def readCurrent(spark: SparkSession, dir: String): DataFrame =
    readSnapshot(spark, dir, requireCurrentId(dir))

  /** Time travel: read the table state AT a committed snapshot — the
    * snapshot's own data plus, for a delta snapshot, its chain of parents
    * (snapshots are immutable; CURRENT only ever advances), through
    * [[readSnapshots]]. */
  def readSnapshot(spark: SparkSession, dir: String, snapshot: Int): DataFrame =
    readSnapshots(spark, dir, snapshotChain(dir, snapshot))

  /** The rows of snapshots `ids` themselves, not of their parents, newest
    * first as [[snapshotChain]] lists them: a reader that already holds a
    * chain's prefix reads only the deltas after it. Every snapshot read goes
    * through here. The files and the schema come from the manifests, so the
    * read lists no directory and runs no job, and a part file that is gone
    * fails the read instead of reading as no rows. Every snapshot of a chain
    * has the same schema ([[commitDelta]] checks it); `ids.head`'s serves. */
  def readSnapshots(spark: SparkSession, dir: String, ids: Seq[Int]): DataFrame =
    readSnaps(spark, dir, ids.map(snap(dir, _)))

  /** [[readSnapshots]] of manifests already parsed. */
  private[graft] def readSnaps(spark: SparkSession, dir: String, snaps: Seq[Snap]): DataFrame =
    Bridge.parquetFiles(spark, snaps.head.schema,
      snaps.map(s => Paths.get(dir, f"snap-${s.id}%05d").toString -> s.files))

  def listSnapshots(dir: String): Seq[Int] =
    if (!Files.exists(Paths.get(dir))) Seq.empty
    else entries(Paths.get(dir)).map(_.getFileName.toString)
      .filter(_.startsWith("snap-")).map(_.stripPrefix("snap-").toInt).sorted

  /** Snapshot garbage collection: delete snap dirs (and their manifests)
    * not reachable from the chains of the `retainLast` newest committed
    * roots (CURRENT's chain is always among them — CURRENT only ever
    * advances, so the newest ids are the most recent CURRENTs). Without
    * this every [[commitSnapshot]]/compaction leaves its superseded
    * `snap-*` dir on disk forever and a long-running enricher accretes
    * unbounded storage; with it, disk is bounded by the retention window
    * while [[readCurrent]] and time travel ([[readSnapshot]]) within that
    * window stay intact — a retained root's whole delta chain is kept,
    * including base full snapshots older than the window.
    *
    * Retention slots are COMMITTED ROOTS: ids the `_roots` log records as
    * having been CURRENT (so an unreferenced snapshot left by a failed
    * [[repointCurrentFrom]] CAS cannot eat a slot and shrink the
    * time-travel window below `retainLast` real roots); tables predating
    * the log degrade to {CURRENT} as the only root. After deletion the log
    * is compacted to the retained roots plus any root a full
    * [[commitSnapshot]] logged meanwhile (that commit does not take the
    * appender lock; the rewrite shares the appends' lock instead).
    *
    * Safety: ids GREATER than CURRENT are never touched (a concurrent
    * committer may have claimed the dir and still be writing into it),
    * and the scan-choose-delete runs under the table's appender lock so
    * an in-JVM delta commit can't repoint CURRENT mid-vacuum. The lock is
    * in-JVM only, so `minAgeMs` adds a cross-process grace window: a
    * victim whose manifest (or snap dir) mtime is younger than `minAgeMs`
    * is skipped this pass and collected by a later one — a misconfigured
    * second process racing this writer degrades to harmless instead of
    * losing a snapshot mid-commit. Deleting a snapshot a reader is
    * mid-scan over is the usual object-store GC race — run vacuum from
    * the single writer, with `retainLast` sized past the longest reader.
    * Returns the deleted snapshot ids. */
  def vacuum(dir: String, retainLast: Int = 2, minAgeMs: Long = 0L): Seq[Int] = {
    require(retainLast >= 1, s"retainLast must be >= 1, got $retainLast")
    val lock = appendLocks.computeIfAbsent(
      Paths.get(dir).toAbsolutePath.toString, _ => new Object)
    lock.synchronized {
      currentSnapshotId(dir) match {
        case None => Seq.empty
        case Some(cur) =>
          val all = listSnapshots(dir)
          val exists = all.toSet
          // committed roots only; CURRENT itself is always a root even if
          // the table predates the _roots log
          val roots = (rootLog(dir) :+ cur).distinct.sorted
            .filter(r => r <= cur && exists.contains(r))
            .takeRight(retainLast)
          val keep = roots.flatMap(r => snapshotChain(dir, r)).toSet
          def youngerThanGrace(n: Int): Boolean = minAgeMs > 0 && {
            val m = Paths.get(dir, "_manifest", f"snap-$n%05d.json")
            val sd = Paths.get(dir, f"snap-$n%05d")
            val stamp = Seq(m, sd).filter(Files.exists(_))
              .map(Files.getLastModifiedTime(_).toMillis)
            stamp.nonEmpty &&
              System.currentTimeMillis() - stamp.max < minAgeMs
          }
          val victims = all.filter(n =>
            n < cur && !keep.contains(n) && !youngerThanGrace(n))
          victims.foreach { n =>
            val snapDir = Paths.get(dir, f"snap-$n%05d")
            if (Files.exists(snapDir))
              Files.walk(snapDir).sorted(java.util.Comparator.reverseOrder())
                .forEach(p => Files.delete(p))
            Files.deleteIfExists(
              Paths.get(dir, "_manifest", f"snap-$n%05d.json"))
          }
          // compact the log to the retained roots (their snaps are the only
          // reachable history left; dropped ids would never be retained
          // again). Under repointLock, like every append: a root a
          // concurrent commit logged since the log was read above is newer
          // than `cur` and is kept.
          if (victims.nonEmpty) repointLock.synchronized {
            val log = Paths.get(dir, "_roots")
            if (Files.exists(log))
              writeJsonAtomic(log, (roots ++ rootLog(dir).filter(_ > cur))
                .map(r => f"snap-$r%05d").mkString("", "\n", "\n"))
          }
          victims
      }
    }
  }

  // ------------------------------------------------------- bucketed staging

  /** Run a stage with **bucket-granular resume**. The input must be a
    * directory parquet-partitioned by `bucket=<b>` (see [[bucketize]]); each
    * bucket is transformed and committed independently (data dir rename +
    * manifest write), several buckets in flight at once as concurrent Spark
    * jobs. On re-run, buckets whose manifest says `committed` with a matching
    * fingerprint, and whose part files hold the manifest's `output_rows`,
    * are skipped — the reference's cache-hit short-circuit (llm.go:61-68) at
    * partition granularity. */
  def runBucketed(
      spark: SparkSession,
      stage: String,
      inputDir: String,
      stageDir: String,
      nBuckets: Int,
      concurrency: Int = 4,
      maxRetries: Int = 2,
      backoffMs: Long = 1000L)(transform: DataFrame => DataFrame): DataFrame = {
    val base = Paths.get(stageDir)
    Files.createDirectories(base.resolve("data"))
    val manifestDir = base.resolve("_manifest")
    Files.createDirectories(manifestDir)

    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = Executors.newFixedThreadPool(math.max(1, concurrency))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (0 until nBuckets).map { b =>
        Future {
          val mPath = manifestDir.resolve(f"bucket-$b%04d.json")
          val fp = bucketFingerprint(inputDir, b)
          // its part files must still hold the rows it recorded (footers, no job)
          val dataDir = base.resolve("data").resolve(s"bucket=$b")
          val done = readPartitionMeta(mPath).exists(m =>
            m.status == "committed" && m.fingerprint == fp && Files.isDirectory(dataDir) &&
              parquetRowCount(dataDir.toString) == m.output_rows)
          if (!done) {
            // X5: retry with backoff per bucket — the reference's
            // RetryWithBackoff (kg-builder/internal/errors/errors.go:127-151)
            // at partition granularity, on top of Spark's task retries.
            // Only plausibly-transient failures are retried (IO, task/stage
            // failures); deterministic ones (analysis/schema errors, OOM)
            // rethrow immediately — retrying those just delays and obscures
            // the real failure. Every swallowed attempt is logged.
            var attempt = 0
            var committed = false
            while (!committed) {
              try {
                val t0 = System.nanoTime()
                val in = spark.read.parquet(s"$inputDir/bucket=$b")
                val inRows = parquetRowCount(s"$inputDir/bucket=$b")
                val out = transform(in)
                val tmp = base.resolve(f"tmp-$b%04d")
                out.write.mode("overwrite").parquet(tmp.toString)
                val outRows = parquetRowCount(tmp.toString)
                if (Files.exists(dataDir))
                  Files.walk(dataDir).sorted(java.util.Comparator.reverseOrder())
                    .forEach(p => Files.delete(p))
                Files.move(tmp, dataDir, StandardCopyOption.ATOMIC_MOVE)
                val ms = (System.nanoTime() - t0) / 1000000
                writeJsonAtomic(mPath,
                  PartitionMeta(stage, b, "committed", inRows, outRows, ms, fp))
                committed = true
              } catch {
                case e: Throwable if attempt < maxRetries && isRetryable(e) =>
                  attempt += 1
                  System.err.println(
                    s"[runBucketed] $stage bucket=$b attempt $attempt failed " +
                      s"(retrying): ${e.getClass.getSimpleName}: ${e.getMessage}")
                  Thread.sleep(backoffMs * (1L << (attempt - 1)))
              }
            }
            true
          } else false
        }
      }
      Await.result(Future.sequence(futures), Duration.Inf)
    } finally pool.shutdown()
    spark.read.option("basePath", base.resolve("data").toString)
      .parquet((0 until nBuckets).map(b => base.resolve("data").resolve(s"bucket=$b").toString): _*)
  }

  /** Transient-vs-deterministic failure taxonomy for the bucket retry loop.
    * WHITELIST of known-transient shapes: IO failures (includes fetch/
    * shuffle/commit IO), timeouts, and Spark task/stage failures whose cause
    * chain is itself transient-shaped. EVERYTHING ELSE — analysis errors,
    * schema mismatches, memory exhaustion, arithmetic/cast/match bugs, and
    * any UNKNOWN RuntimeException (SparkRuntimeException,
    * NumberFormatException, DateTimeException...) — rethrows immediately: a
    * deterministic failure retried with backoff just delays and obscures
    * the real bug. */
  private[graft] def isRetryable(e: Throwable): Boolean = e match {
    case _: java.io.IOException => true
    case _: java.io.UncheckedIOException => true
    case _: java.util.concurrent.TimeoutException => true
    case _: org.apache.spark.sql.AnalysisException => false
    case _: org.apache.spark.SparkException =>
      // task/stage-level failures are transient-shaped only when they wrap a
      // transient cause or carry a known-transient marker in the message; a
      // CAUSE-LESS SparkException (an assertion or task error flattened into
      // the message) is deterministic — retrying it would just burn the full
      // backoff budget before surfacing the real bug
      Option(e.getCause).exists(isRetryable) || {
        val m = Option(e.getMessage).getOrElse("").toLowerCase
        // "executorlostfailure" is Spark's actual reason string
        // (TaskEndReason.toErrorString — no space); keep the spaced
        // variants for scheduler log phrasings
        Seq("fetchfailed", "timed out", "timeout", "connection reset",
          "connection refused", "executorlostfailure", "executor lost",
          "lost executor", "heartbeat").exists(m.contains)
      }
    case _ => false
  }

  /** Content-derived resume fingerprint for one input bucket: path plus the
    * bucket's parquet file names, sizes and mtimes. Regenerating the corpus
    * under the same path invalidates committed buckets instead of silently
    * serving stale outputs. */
  private[tables] def bucketFingerprint(inputDir: String, b: Int): String = {
    val dir = Paths.get(s"$inputDir/bucket=$b")
    val files =
      if (!Files.exists(dir)) "missing"
      else entries(dir).filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => s"${p.getFileName}:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}")
        .sorted.mkString(",")
    s"$inputDir#bucket=$b#${java.util.UUID.nameUUIDFromBytes(files.getBytes("UTF-8"))}"
  }

  /** Ingest step: cluster the input by bucket for partition-pruned bucketed
    * stages. `repartitionByRange` on (bucket, doc_id) gives stable, balanced,
    * doc_id-clustered files (north_star's explicit repartitionByRange). */
  def bucketize(df: DataFrame, keyCol: String, nBuckets: Int, outDir: String): Unit = {
    df.withColumn("bucket", pmod(xxhash64(col(keyCol)), lit(nBuckets)))
      .repartitionByRange(nBuckets, col("bucket"), col(keyCol))
      .write.mode("overwrite").partitionBy("bucket").parquet(outDir)
  }
}
