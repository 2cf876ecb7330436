package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

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
}
