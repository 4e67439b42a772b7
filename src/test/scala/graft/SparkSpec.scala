package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Shared local SparkSession for all specs (one JVM-wide session; sbt forks
 *  a single test JVM, so this is created once). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.Graft.install(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Jobs launched while `body` runs: a marker job after it flushes the
   *  (asynchronous, FIFO) listener bus, so every job `body` started has
   *  been counted once the marker is seen. */
  protected def jobsDuring[T](body: => T): (T, Int) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      spark.sparkContext.setJobDescription("__jobs_marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains("__jobs_marker") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains("__jobs_marker"), "listener bus never delivered the marker job")
      (out, seen.asScala.takeWhile(_ != "__jobs_marker").size)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
