package graft

import org.apache.spark.sql.SparkSession
import graft.sources.Tables

/** Status console — the Spark-native analog of the reference master's
  * Interface menu option 1 (`master.cc:140-148`, `master.cc:455-502`):
  * where the reference printed registered slaves and their liveness,
  * this prints the engine's registered tables (with row counts) and
  * query inventory. Worker liveness itself is native Spark (executor
  * registration + heartbeats, SURVEY.md §2.2) — nothing to reimplement.
  *
  * Usage: runMain graft.Tool status [sfDir]
  */
object Status {
  def run(spark: SparkSession, args: Array[String]): Int = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    println(s"== graft engine status ==")
    println(s"spark ${spark.version}, master ${spark.sparkContext.master}, " +
      s"defaultParallelism ${spark.sparkContext.defaultParallelism}")
    println(s"\ntables ($sfDir):")
    Tables.all.foreach { t =>
      val df = Tables.load(spark, sfDir, t)
      println(f"  $t%-12s ${df.count()}%9d rows  ${df.columns.length}%2d cols")
    }
    val specs = SparkEntry.specs
    println(s"\nqueries (${specs.size} registered, " +
      s"${SparkEntry.oracleSql.size} oracle-checked, ${specs.count(_.drain)} drains):")
    specs.sortBy(_.name).foreach { s =>
      val check = s.check match {
        case _: QuerySpec.Oracle => "oracle"
        case _: QuerySpec.Bound => "bound"
      }
      val drain = if (s.drain) " drain" else ""
      println(f"  ${s.name}%-34s $check$drain")
    }
    0
  }
}
