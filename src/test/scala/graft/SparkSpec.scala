package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM; forked by sbt). */
object TestSpark {
  val cpus = 4
  lazy val spark: SparkSession = GraftSession.local(cpus, "graft-test")
  val sf = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf
}
