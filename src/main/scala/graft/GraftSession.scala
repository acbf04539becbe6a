package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the engine: [[Bench]], [[Verify]],
  * [[Tool]] and the test suites all build through [[local]], so
  * correctness is checked, plans are printed and queries are timed
  * under one configuration that differs only in the core count. */
object GraftSession {

  /** Every conf [[local]] sets, for a session of `cpus` cores. */
  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // bound the per-job SQLExecutionStart plan description: deep
    // checkpoint/cache chains over AQE subtrees can otherwise render
    // multi-GB plan strings (the r17 chunk-replay OOM) — 8 MB keeps
    // any diagnostic value while capping render cost
    "spark.sql.maxPlanStringLength" -> (8 << 20).toString)

  /** A `local[cpus]` session with one shuffle partition per core, AQE,
    * UTC session zone, no UI, the plan-string cap and WARN logging. */
  def local(cpus: Int, app: String): SparkSession = {
    val builder = SparkSession.builder().master(s"local[$cpus]").appName(app)
    val spark = confs(cpus).foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Core count from `SPARK_GRAFT_CPUS`, else the caller's default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)
}
