package graftbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark work counters, summed over every task and job the listener saw. */
final case class Counters(jobs: Long, tasks: Long, cpuNs: Long, gcMs: Long,
    shuffleWriteBytes: Long, spillBytes: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    cpuNs - o.cpuNs, gcMs - o.gcMs, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes)
  def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks,
    cpuNs + o.cpuNs, gcMs + o.gcMs, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes)
}

object Counters {
  val zero: Counters = Counters(0, 0, 0, 0, 0, 0)
}

final class CounterListener extends SparkListener {
  private val jobs, tasks, cpu, gc, shuffle, spill = new AtomicLong()
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpu.addAndGet(m.executorCpuTime)
      gc.addAndGet(m.jvmGCTime)
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  def snapshot: Counters =
    Counters(jobs.get, tasks.get, cpu.get, gc.get, shuffle.get, spill.get)
}

/** One timed call into a layer. */
final case class SpanRec(id: Int, name: String, startNs: Long,
    endNs: Long, spark: Counters, attrs: Map[String, Any]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; [[write]] dumps every span once, at the end of
  * the run. */
final class Trace(sc: SparkContext) {
  private val listener = new CounterListener
  sc.addSparkListener(listener)
  private val spans = scala.collection.mutable.ArrayBuffer.empty[SpanRec]
  private val t0 = System.nanoTime()

  def counters: Counters = { org.apache.spark.BenchBus.drain(sc); listener.snapshot }

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(f: => T): (T, SpanRec) = {
    val c0 = counters
    val s = System.nanoTime()
    val r = f
    val e = System.nanoTime()
    val rec = SpanRec(spans.size, name, s, e, counters - c0, attrs)
    spans += rec
    (r, rec)
  }

  def all: Seq[SpanRec] = spans.toSeq

  def close(): Unit = sc.removeSparkListener(listener)

  def write(path: java.nio.file.Path, summary: Map[String, Any]): Unit = {
    import scala.jdk.CollectionConverters._
    def c(x: Counters) = Map[String, Any]("jobs" -> x.jobs, "tasks" -> x.tasks,
      "cpu_s" -> x.cpuNs / 1e9, "gc_s" -> x.gcMs / 1e3,
      "shuffle_write_bytes" -> x.shuffleWriteBytes, "spill_bytes" -> x.spillBytes).asJava
    val rows = all.map { s =>
      Map[String, Any]("id" -> s.id, "name" -> s.name,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "spark" -> c(s.spark), "attrs" -> s.attrs.asJava).asJava
    }.asJava
    java.nio.file.Files.createDirectories(path.getParent)
    new com.fasterxml.jackson.databind.ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(path.toFile, Map[String, Any]("summary" -> summary.asJava, "spans" -> rows).asJava)
  }
}
