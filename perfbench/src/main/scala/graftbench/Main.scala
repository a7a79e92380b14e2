package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --out <file> --spec <BENCHMARK.json>`.
  * Writes the result object (correct, attempted, failed, metrics) to
  * `--out`; with `--trace 1` also writes every span to `<work>/trace.json`.
  * The per-layer metrics' names and units come from `--spec`. */
object Main {

  final case class Env(spark: SparkSession, work: Path, seed: Long, seconds: Int,
      spec: Path) {
    def dir(name: String): Path = work.resolve(name)
  }

  final case class Metric(name: String, value: Double, unit: String)

  final case class Result(attempted: Long, failed: Long, problems: Seq[String],
      metrics: Seq[Metric])

  def note(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def nowS: Double = System.nanoTime() / 1e9

  def timed[T](f: => T): (T, Double) = { val t0 = nowS; val r = f; (r, nowS - t0) }

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU time so far of each live Java thread: the main thread, Spark's
    * task and service threads. The JIT compiler and GC worker threads are
    * not Java threads and are left out. Thread ids are never reused. */
  private def threadCpuNs(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  /** Wall time and the Java threads' CPU time of one call, in seconds.
    * Thread CPU time leaves out the time a hypervisor took from the VM's
    * CPUs, so a busy shared host moves it less than wall time; leaving out
    * the JIT compiler keeps out the warm-up compilation a fresh JVM does in
    * the background for minutes. */
  def measured[T](f: => T): (T, Double, Double) = {
    val c0 = threadCpuNs()
    val (r, wall) = timed(f)
    val cpu = threadCpuNs().iterator.map { case (id, ns) => ns - c0.getOrElse(id, 0L) }.sum
    (r, wall, cpu / 1e9)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder()).forEach(q => Files.delete(q))
    finally st.close()
  }

  def dirBytes(p: Path): Long = {
    val st = Files.walk(p)
    try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally st.close()
  }

  /** Same session settings as the engine's own bench, at local[4]. */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use right after a full collection, in MB: what the program
    * retains between operations. Read from the heap pools' after-GC usage;
    * the benchmark calls it between operations, outside their timing. */
  def retainedHeapMb(): Double = {
    import java.lang.management.{ManagementFactory, MemoryType}
    // the first collection lets Spark's ContextCleaner drop the blocks and
    // broadcasts of frames no longer referenced; the second frees them
    System.gc()
    Thread.sleep(250)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .map(p => Option(p.getCollectionUsage).fold(0L)(_.getUsed)).sum / (1024.0 * 1024.0)
  }

  private def json(r: Result): String = {
    val m = new java.util.LinkedHashMap[String, Any]()
    r.metrics.foreach { x =>
      m.put(x.name, java.util.Map.of("value", Double.box(x.value), "unit", x.unit))
    }
    val o = new java.util.LinkedHashMap[String, Any]()
    o.put("correct", r.problems.isEmpty && r.failed == 0)
    o.put("attempted", r.attempted)
    o.put("failed", r.failed)
    o.put("metrics", m)
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(o)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val work = Paths.get(opt("work")).toAbsolutePath
    deleteTree(work)
    Files.createDirectories(work)
    val spark = session(work)
    try {
      val env = Env(spark, work, opt("seed").toLong, opt("seconds").toInt,
        Paths.get(opt("spec")))
      val traced = opt("trace") == "1"
      val r = opt("workload") match {
        case "build_dict" => BuildBench.run(env, traced)
        case "kg_ops" => KgOpsBench.run(env, traced)
        case w => sys.error(s"unknown workload $w")
      }
      r.problems.foreach(p => note(s"CHECK FAILED: $p"))
      Files.writeString(Paths.get(opt("out")), json(r) + "\n")
    } finally spark.stop()
  }
}
