package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev tool: per-JOB timing breakdown of one registered query — the
  * stage-level view graft.Bench's one-number-per-query output hides.
  * Usage: runMain graft.Tool probe <sfDir> <query> [reps]
  *
  * Prints, per rep: DataFrame CONSTRUCTION seconds (where eager
  * localCheckpoints run), noop-sink EXECUTION seconds, and every Spark
  * job's wall seconds in completion order. */
object Probe {
  def run(spark: SparkSession, args: Array[String]): Int = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Int, Double)]())
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(e.jobId, System.nanoTime()): Unit
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val t0 = starts.remove(e.jobId)
        if (t0 != 0L)
          jobs.add((e.jobId, (System.nanoTime() - t0) / 1e9)): Unit
      }
    })

    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { rep =>
      jobs.clear()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      // listener events are async; give the queue a beat
      Thread.sleep(300)
      val js = jobs.toArray(Array.empty[(Int, Double)]).sortBy(_._1)
      println(f"rep $rep: construct ${(t1 - t0) / 1e9}%.3f s, " +
        f"execute ${(t2 - t1) / 1e9}%.3f s, jobs ${js.length}")
      println("  " + js.map { case (id, s) => f"j$id=$s%.3f" }.mkString(" "))
    }
    0
  }
}
