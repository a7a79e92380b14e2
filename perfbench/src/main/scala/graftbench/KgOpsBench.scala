package graftbench

import graft.extract.{AhoCorasick, Extract}
import graft.graph.KgSession
import graft.model.Doc
import graft.run.Enricher
import graft.streaming.StreamIngest
import graft.tables.TableIO
import graftbench.Main._
import org.apache.spark.sql.functions._

/** `kg_ops`: a seeded closed loop with one client over a graph built in
  * set-up — reads, `addEdge` delta commits, enricher ticks and
  * stream-ingest micro-batches. */
object KgOpsBench {

  val Docs = 5000L
  val IngestDocs = 500
  /** One cycle of the script: two-thirds reads, with the writes spread
    * between them. The order is the same on every seed, so each read sees
    * the same delta chain growth; the seed picks the graph and arguments. */
  val Cycle: Seq[String] = Seq("statistics", "search", "addEdge", "idOf", "mostConnected",
    "ingest", "search", "reachableFrom", "addEdge", "idOf", "mostConnected", "tick")
  val Reads = Set("statistics", "search", "idOf", "reachableFrom", "mostConnected")
  /** Distinct keys `addEdge` draws from, so keys repeat and the read-side
    * MERGE is exercised. */
  val AddKeys = 4
  /** The engine's defaults (`batch` 10, `maxChain` 64, `minDocs` 3), so
    * ticks append deltas and the edges chain grows as it does in service;
    * only the total cap is lifted, so no tick is skipped for it. */
  val EnricherConf = Enricher.Conf(maxRelationships = Long.MaxValue)
  /** Whole cycles in the timed loop, at the least: every run times the same
    * operations over the same chain lengths, and each operation type has
    * at least three samples to take the median of. */
  val MinCycles = 3

  final class State(val env: Env, val corpus: Corpus, val kg: KgSession,
      val enricher: Enricher, nodes: IndexedSeq[(Long, String)], val hub: String) {
    val spark = env.spark
    import spark.implicits._
    private val aliasList = corpus.vocab.aliases.map(_.alias)
    val dict = Extract.broadcastDict(spark, aliasList)
    val preds = Extract.broadcastDict(spark, corpus.vocab.preds)
    private lazy val localDict = AhoCorasick(aliasList)
    private lazy val localPreds = AhoCorasick(corpus.vocab.preds)
    val streamIn: String = corpus.root.resolve("stream-in").toString
    val streamOut: String = corpus.root.resolve("stream-out").toString
    val streamCp: String = corpus.root.resolve("stream-cp").toString
    private var ingested = 0L

    val rng = new java.util.Random(env.seed * 31 + 7)
    val addKeys: IndexedSeq[(Long, Long, String)] = (0 until AddKeys).map { j =>
      (nodes(rng.nextInt(nodes.size))._1, nodes(rng.nextInt(nodes.size))._1, s"bench_rel_$j")
    }
    val adds = scala.collection.mutable.Map.empty[(Long, Long, String), Int]
    def randomName: String = nodes(rng.nextInt(nodes.size))._2
    def randomWord: String = {
      val ws = randomName.split(' '); ws(rng.nextInt(ws.length))
    }

    /** Writes the next ingest file (outside the timed call); returns the
      * rows the batch kernel yields on those docs. */
    def stageIngest(): Long = {
      val from = corpus.nDocs + ingested
      val docs = (from until from + IngestDocs).map(i => Gen.doc(corpus.vocab, corpus.seed, i))
      ingested += IngestDocs
      spark.createDataset(docs).coalesce(1).write.mode("append").parquet(streamIn)
      docs.map(d => Extract.docTriples(d, localDict, localPreds).size.toLong).sum
    }
    def written: Long =
      if (!new java.io.File(streamOut).exists) 0L else spark.read.parquet(streamOut).count()

    /** The operation itself — the only part that is timed. */
    def op(kind: String, arg: Any): Any = kind match {
      case "statistics" => kg.statistics()
      case "search" => kg.search(arg.asInstanceOf[String])
      case "idOf" => kg.idOf(arg.asInstanceOf[String])
      case "reachableFrom" => kg.reachableFrom(arg.asInstanceOf[String], 2).collect()
      case "mostConnected" => kg.mostConnected(5).collect()
      case "addEdge" =>
        val (s, d, p) = arg.asInstanceOf[(Long, Long, String)]
        kg.addEdge(s, d, p)
      case "tick" => enricher.runOnce()
      case "ingest" => StreamIngest.runAvailableNow(spark, streamIn, streamOut, streamCp, dict, preds)
    }

    def argFor(kind: String): Any = kind match {
      case "search" => randomWord
      case "idOf" => randomName
      case "reachableFrom" => hub
      case "addEdge" => addKeys(rng.nextInt(addKeys.size))
      case _ => null
    }
  }

  /** Corpus generation, the graph build and the enricher's co-occurrence
    * table; [[run]] adds one untimed warm-up cycle to the set-up. */
  def setup(env: Env): (State, Double) = timed {
    val spark = env.spark
    import spark.implicits._
    val marks = scala.collection.mutable.ArrayBuffer(nowS)
    def mark(): Unit = marks += nowS
    val c = Corpus.write(spark, env.dir("corpus"), BuildBench.vocab(env.seed, ambiguous = false),
      env.seed, Docs)
    mark()
    val kg = KgSession.build(spark, c.conf(env.dir("graph")))
    mark()
    val aliases = c.aliases(spark)
    val dict = Extract.broadcastDict(spark, c.vocab.aliases.map(_.alias))
    val mentions = Extract.mentionsAll(spark.read.parquet(c.docsDir).drop("bucket").as[Doc], dict)
      .toDF().join(broadcast(aliases), col("surface") === col("alias"))
      .select("doc_id", "canonical").localCheckpoint()
    val enricher = new Enricher(kg, mentions, EnricherConf)
    enricher.runOnce() // builds the co-occurrence table
    mark()
    val nodes = kg.nodes.select("node_id", "name").as[(Long, String)].collect().toIndexedSeq
    // every reachableFrom starts at the node with the most out-edges, so
    // its cost does not depend on the draw
    val hub = kg.edges.groupBy("src_id").count().orderBy(desc("count"), asc("src_id")).limit(1)
      .join(kg.nodes.select(col("node_id").as("src_id"), col("name")), "src_id")
      .select("name").as[String].head()
    val d = marks.zip(marks.tail).map { case (a, b) => b - a }
    note(f"setup: corpus ${d(0)}%.1fs, graph ${d(1)}%.1fs, co-occurrence ${d(2)}%.1fs")
    new State(env, c, kg, enricher, nodes, hub)
  }

  /** One operation: its latency, the Java-thread CPU time it took, the Spark
    * jobs it ran (traced loop only) and the rows it wrote: triples for an
    * ingest, edges for a tick or an `addEdge`. */
  final case class Sample(kind: String, seconds: Double, cpu: Double, jobs: Long, rows: Long = 0)

  def run(env: Env, traced: Boolean): Result = {
    val (st, setupBuildS) = setup(env)
    val spark = env.spark
    import spark.implicits._
    val heap = scala.collection.mutable.ArrayBuffer.empty[Double]
    val expectedIngest, writtenIngest = scala.collection.mutable.ArrayBuffer.empty[Long]
    val tickAdded = scala.collection.mutable.ArrayBuffer.empty[Long]
    val readProbeMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val chainLens = scala.collection.mutable.ArrayBuffer.empty[Int]
    var failed = 0L
    val problems = Seq.newBuilder[String]
    val trace = if (traced) Some(new Trace(spark.sparkContext)) else None
    val edgesDir = st.kg.edgesDir
    def chainLen = TableIO.snapshotChain(edgesDir, TableIO.currentSnapshotId(edgesDir).get).size

    /** Cycles run whole, untraced first; a traced run then repeats the
      * loop with a span around every operation. The loop runs at least
      * `minCycles` cycles and until `seconds` have passed. The warm-up
      * cycle's samples and heap are not kept. */
    def loop(seconds: Double, tracing: Boolean, minCycles: Int = 1,
        warmUp: Boolean = false): Seq[Sample] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Sample]
      val t0 = nowS
      var cycles = 0
      while (cycles < minCycles || nowS - t0 < seconds) {
        cycles += 1
        for (kind <- Cycle) {
          val arg = st.argFor(kind)
          val before = if (kind == "ingest") st.written else 0L
          val expected = if (kind == "ingest") st.stageIngest() else 0L
          try {
            val (res, s, cpu, jobs) = trace.filter(_ => tracing) match {
              case Some(tr) =>
                val ((r, span), _, cpu) = measured(
                  tr.span(s"op.$kind", Map("arg" -> String.valueOf(arg)))(st.op(kind, arg)))
                (r, span.seconds, cpu, span.spark.jobs)
              case None =>
                val (r, s, cpu) = measured(st.op(kind, arg)); (r, s, cpu, 0L)
            }
            val rows = kind match {
              case "addEdge" =>
                val k = arg.asInstanceOf[(Long, Long, String)]
                st.adds(k) = st.adds.getOrElse(k, 0) + 1
                1L
              case "tick" => val n = res.asInstanceOf[Long]; tickAdded += n; n
              case "ingest" =>
                val w = st.written - before
                expectedIngest += expected; writtenIngest += w; w
              case _ => 0L
            }
            out += Sample(kind, s, cpu, jobs, rows)
            if (kind == "addEdge" || kind == "tick") {
              chainLens += chainLen
              if (tracing)
                readProbeMs += timed(TableIO.readCurrent(spark, edgesDir).count())._2 * 1000
            }
          } catch { case e: Exception =>
            failed += 1; problems += s"$kind threw: $e"
            out += Sample(kind, Double.NaN, Double.NaN, 0)
          }
        }
        if (!tracing && !warmUp) heap += retainedHeapMb()
      }
      out.toSeq
    }

    // one untimed cycle: every operation's first call in this JVM pays
    // code generation and JIT, which the timed cycles must not
    val setupS = setupBuildS + timed(loop(0, tracing = false, warmUp = true))._2
    note(f"setup ${setupS}%.2fs")
    val plain = loop(env.seconds, tracing = false, minCycles = MinCycles)
    val tracedSamples = if (traced) loop(env.seconds / 2.0, tracing = true) else Nil

    // output checks
    val merged = st.kg.edges.filter(col("pred").startsWith("bench_rel_"))
      .select("src_id", "dst_id", "pred", "n_obs").as[(Long, Long, String, Long)].collect()
      .map { case (s, d, p, n) => ((s, d, p), n) }.toSeq
    val checkProblems = Checks.addedKeys(merged, st.adds.toMap) ++
      Checks.ingests(expectedIngest.toSeq, writtenIngest.toSeq)
    problems ++= checkProblems
    failed += checkProblems.size

    val ok = plain.filter(!_.seconds.isNaN)
    require(ok.nonEmpty, "no operation succeeded")
    def ms(kinds: Set[String], p: Double) = {
      val v = ok.filter(s => kinds(s.kind)).map(_.seconds * 1000)
      if (v.isEmpty) 0.0 else Stats.percentile(v, p)
    }
    val ingests = ok.filter(_.kind == "ingest")
    val ingestS = ingests.map(_.seconds).sum
    note(s"ops=${plain.size} ms wall/cpu: " + plain.groupBy(_.kind).toSeq.sortBy(_._1).map {
      case (k, v) => s"$k " + v.map(x => f"${x.seconds * 1000}%.0f/${x.cpu * 1000}%.0f").mkString(",")
    }.mkString("; "))
    // one cycle of the closed loop, each operation at its type's median:
    // the loop's own time, without the load generator's checks, ingest
    // staging and heap probes between operations, and robust to one slow
    // call of a type
    val byKind = ok.groupBy(_.kind)
    require(Cycle.forall(byKind.contains), "an operation type never succeeded")
    def perCycle(f: Sample => Double): Double = Cycle.map(k => Stats.median(byKind(k).map(f))).sum
    val cycleRows = perCycle(_.rows.toDouble)

    val endToEnd = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("triples_per_cpu_s", cycleRows / perCycle(_.cpu), "1/cpu_s"),
      Metric("ops_per_cpu_s", Cycle.size / perCycle(_.cpu), "1/cpu_s"),
      Metric("peak_heap_mb", heap.max, "MB"))
    if (!traced)
      return Result(plain.size, failed, problems.result(), endToEnd)

    val tr = trace.get
    val tOk = tracedSamples.filter(!_.seconds.isNaN)
    val perOpOverhead = ok.map(_.seconds).sum / ok.size
    val jobsPerOp = Cycle.distinct.map { k =>
      val xs = tOk.filter(_.kind == k)
      s"spark.jobs_per_op.$k" -> (if (xs.isEmpty) 0.0 else xs.map(_.jobs).sum.toDouble / xs.size)
    }
    val loopSpark = tr.all.filter(_.name.startsWith("op.")).map(_.spark).foldLeft(Counters.zero)(_ + _)
    val compactions = chainLens.zip(chainLens.drop(1)).count { case (a, b) => b < a }
    val values = Map(
      "read_p50_ms" -> ms(Reads, 50), "read_p90_ms" -> ms(Reads, 90),
      "write_p50_ms" -> ms(Set("addEdge"), 50), "tick_p50_ms" -> ms(Set("tick"), 50),
      "ingest_p50_ms" -> ms(Set("ingest"), 50),
      "tables.chain_len_max" -> (if (chainLens.isEmpty) 0.0 else chainLens.max.toDouble),
      "tables.compactions" -> compactions.toDouble,
      "tables.read_ms" -> (if (readProbeMs.isEmpty) 0.0 else Stats.median(readProbeMs.toSeq)),
      "run.enricher_added_ratio" -> tickAdded.sum.toDouble / (tickAdded.size * EnricherConf.batch),
      "streaming.docs_per_s" -> IngestDocs * ingests.size / ingestS,
      "streaming.triples_out" -> ingests.map(_.rows).sum.toDouble / ingests.size,
      "spark.cpu_s" -> loopSpark.cpuNs / 1e9,
      "spark.gc_s" -> loopSpark.gcMs / 1e3,
      "spark.shuffle_write_mb" -> loopSpark.shuffleWriteBytes / (1024.0 * 1024.0),
      "spark.spill_mb" -> loopSpark.spillBytes / (1024.0 * 1024.0),
      "spark.jobs" -> loopSpark.jobs.toDouble,
      "spark.tasks" -> loopSpark.tasks.toDouble,
      "trace.overhead_s" -> (tOk.map(_.seconds).sum / math.max(1, tOk.size) - perOpOverhead),
      "wall.triples_per_s" -> cycleRows / perCycle(_.seconds),
      "wall.ops_per_s" -> Cycle.size / perCycle(_.seconds)
    ) ++ jobsPerOp
    tr.close()
    tr.write(env.dir("trace.json"), values ++ Map(
      "read_samples" -> ok.count(s => Reads(s.kind)).toDouble,
      "read_tail_percentile_by_rule" -> Stats.tailPercentile(ok.count(s => Reads(s.kind))).getOrElse(0.0)))
    Result(plain.size + tracedSamples.size, failed, problems.result(),
      Layers.metrics(env.spec, values))
  }
}
