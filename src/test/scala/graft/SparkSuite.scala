package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val get: SparkSession = GraftSession("local[4]", 4)
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `f`'s result and `n` summed over the Spark jobs it schedules, counted
    * by a listener. */
  private def countJobs[T](n: org.apache.spark.scheduler.SparkListenerJobStart => Int)(
      f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.addAndGet(n(e))
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try { val r = f; org.apache.spark.TestBus.drain(sc); (r, jobs.get) }
    finally sc.removeSparkListener(listener)
  }

  /** `f`'s result and the Spark jobs it schedules. */
  def withJobCount[T](f: => T): (T, Int) = countJobs(_ => 1)(f)

  /** `f`'s result and the tasks of the stages its jobs schedule. */
  def withTaskCount[T](f: => T): (T, Int) = countJobs(_.stageInfos.map(_.numTasks).sum)(f)

  /** The Spark jobs `f` schedules. */
  def jobsOf(f: => Any): Int = withJobCount(f)._2
}
