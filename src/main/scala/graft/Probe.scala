package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev tool: per-JOB timing breakdown of one registered query — the
  * stage-level view graft.Bench's one-number-per-query output hides.
  * Usage: runMain graft.Tool probe <sfDir> <query> [reps]
  *
  * Prints, per rep: DataFrame CONSTRUCTION seconds and the Spark jobs
  * it started (eager localCheckpoints, drains, schema inference),
  * noop-sink EXECUTION seconds and its jobs, e.g.
  * `rep 2: construct 0.061 s (0 jobs), execute 0.372 s (3 jobs)`; then
  * every job's wall seconds in id order, per phase. */
object Probe {
  def run(spark: SparkSession, args: Array[String]): Int = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3

    // job id → (submission wall-clock ms, start nanos)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    // (job id, submission ms, wall seconds)
    val jobs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Int, Long, Double)]())
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(e.jobId, (e.time, System.nanoTime())): Unit
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(starts.remove(e.jobId)).foreach { case (submitted, t0) =>
          jobs.add((e.jobId, submitted, (System.nanoTime() - t0) / 1e9)): Unit
        }
    })

    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { rep =>
      jobs.clear()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      // a construction job is submitted and finished before the builder
      // returns; execution jobs are submitted after this instant
      val constructed = System.currentTimeMillis()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      // listener events are async; give the queue a beat
      Thread.sleep(300)
      val (cons, exec) = jobs.toArray(Array.empty[(Int, Long, Double)])
        .sortBy(_._1).partition(_._2 < constructed)
      def list(js: Array[(Int, Long, Double)]) =
        js.map { case (id, _, s) => f"j$id=$s%.3f" }.mkString(" ")
      println(f"rep $rep: construct ${(t1 - t0) / 1e9}%.3f s (${cons.length} jobs), " +
        f"execute ${(t2 - t1) / 1e9}%.3f s (${exec.length} jobs)")
      println(s"  construct: ${list(cons)}  execute: ${list(exec)}")
    }
    0
  }
}
