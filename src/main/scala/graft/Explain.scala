package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Dev tool: print the formatted physical plan of one or more registered
  * queries. Usage: runMain graft.Tool explain <sfDir> <query>[,<query>...]
  * (or 'all') [tree|metrics]. The optional `tree` mode prints the raw
  * `executedPlan` tree instead of explain("formatted") — the string
  * PLANS.md snippets and the plan-lint assertions are written against.
  * The `metrics` mode runs each query once and prints its final
  * adaptive plan, one node per line with that node's SQL metrics. */
object Explain {
  def run(spark: SparkSession, args: Array[String]): Int = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val which = if (args.length > 1) args(1) else "all"
    val mode = if (args.length > 2) args(2) else "formatted"
    val names =
      if (which == "all") SparkEntry.specs.map(_.name).sorted
      else which.split(",").toSeq
    names.foreach { name =>
      println(s"\n========== $name ==========")
      val df = SparkEntry.queries(name)(spark, sfDir)
      mode match {
        case "tree" => println(df.queryExecution.executedPlan.toString)
        case "metrics" =>
          val qe = df.queryExecution
          SQLExecution.withNewExecutionId(qe, Some(name))(
            qe.executedPlan.execute().foreach(_ => ()))
          printMetrics(qe.executedPlan, 0)
        case _ => df.explain("formatted")
      }
    }
    0
  }

  private def printMetrics(p: SparkPlan, depth: Int): Unit = {
    val values = p.metrics.toSeq.sortBy(_._1)
      .map { case (_, m) => s"${m.name.getOrElse("?")}: ${m.value}" }
    println("  " * depth + p.nodeName +
      (if (values.isEmpty) "" else values.mkString(" [", ", ", "]")))
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children
    }
    kids.foreach(printMetrics(_, depth + 1))
  }
}
