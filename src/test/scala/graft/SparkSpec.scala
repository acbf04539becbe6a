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

  /** `body`'s result and the Spark jobs it started, counted by a
    * listener on a drained listener bus. */
  def jobsOf[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    org.apache.spark.GraftTestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Runs `body` with the given session confs, then restores them. */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
