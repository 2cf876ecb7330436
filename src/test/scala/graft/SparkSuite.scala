package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared session for all suites (one JVM under Test/fork): the same
  * factory, and so the same extensions and rules, as Bench and Verify.
  */
object SparkSuite {
  lazy val spark: SparkSession = {
    // A static conf, so it goes in before the context starts: SparkConf
    // reads `spark.*` system properties at construction.
    System.setProperty("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
    val s = GraftSession.create()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSuite extends AnyFunSuite {
  def spark: SparkSession = SparkSuite.spark
  def sf: String = SparkSuite.sf

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `body`'s result and the number of Spark jobs it started. Jobs are
    * tagged by a thread-local property; a marker job run after `body`
    * shows when the listener bus has delivered every earlier job start.
    */
  def jobsOf[T](body: => T): (T, Int) = {
    val JobTag = "graft.test.jobs"
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(JobTag))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(JobTag, tag)
      val out = try body finally sc.setLocalProperty(JobTag, null)
      sc.setLocalProperty(JobTag, s"$tag:end")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(JobTag, null)
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.contains(s"$tag:end") && System.nanoTime() < deadline) Thread.sleep(5)
      assert(seen.contains(s"$tag:end"), "listener bus did not deliver the marker job")
      (out, seen.asScala.count(_ == tag))
    } finally sc.removeSparkListener(listener)
  }
}
