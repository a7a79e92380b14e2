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

  /** `f`'s result and the Spark jobs it schedules, counted by a listener. */
  def withJobCount[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try { val r = f; org.apache.spark.TestBus.drain(sc); (r, jobs.get) }
    finally sc.removeSparkListener(listener)
  }

  /** The Spark jobs `f` schedules. */
  def jobsOf(f: => Any): Int = withJobCount(f)._2
}
