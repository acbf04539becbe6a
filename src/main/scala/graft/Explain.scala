package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: print the formatted physical plan of one or more registered
  * queries. Usage: runMain graft.Tool explain <sfDir> <query>[,<query>...]
  * (or 'all') [tree]. The optional `tree` mode prints the raw
  * `executedPlan` tree instead of explain("formatted") — the string
  * PLANS.md snippets and the plan-lint assertions are written against. */
object Explain {
  def run(spark: SparkSession, args: Array[String]): Int = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val which = if (args.length > 1) args(1) else "all"
    val tree = args.length > 2 && args(2) == "tree"
    val names =
      if (which == "all") SparkEntry.specs.map(_.name).sorted
      else which.split(",").toSeq
    names.foreach { name =>
      println(s"\n========== $name ==========")
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (tree) println(df.queryExecution.executedPlan.toString)
      else df.explain("formatted")
    }
    0
  }
}
