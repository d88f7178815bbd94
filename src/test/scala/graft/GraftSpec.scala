package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per `sbt test` fork;
  * suites run sequentially, so a single session keeps the run fast). The
  * mains' posture ([[Posture.builder]]) pinned to `local[4]` whatever the
  * host, over a temp warehouse; the state store stays Spark's default so
  * the streaming suites choose theirs per test.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Posture.builder(localCores = 4)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class GraftSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
}
