package graftbench

import scala.collection.mutable.{ArrayBuffer, HashMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Records layer events from Spark's public listener interfaces while
  * attached: jobs and stages (with task metrics summed per stage), the
  * Catalyst phase intervals of every executed query, streaming
  * micro-batch progress, and RDD block storage (cache and checkpoint
  * blocks). Events are kept in memory and written out as raw JSON at the
  * end of the run; spans and per-layer figures are derived from them
  * outside the JVM. All times are epoch milliseconds. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext

  private final class StageAcc(val stageId: Int, val attempt: Int) {
    var submitted = 0.0
    var completed = 0.0
    val sums = HashMap.empty[String, Double].withDefaultValue(0.0)
  }

  private val jobs = ArrayBuffer.empty[(Int, Double, Double, Seq[Int])]
  private val jobStarts = HashMap.empty[Int, (Double, Seq[Int])]
  private val stages = HashMap.empty[(Int, Int), StageAcc]
  private val phases = ArrayBuffer.empty[(String, Double, Double)]
  private val batches = ArrayBuffer.empty[Map[String, Double]]
  private val blocks = HashMap.empty[String, Long]
  private var blockTotal = 0L
  private val storage = ArrayBuffer.empty[(Double, Long)]

  private def stage(id: Int, attempt: Int): StageAcc =
    stages.getOrElseUpdate((id, attempt), new StageAcc(id, attempt))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStarts(e.jobId) = (e.time.toDouble, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach { case (t, ids) => jobs += ((e.jobId, t, e.time.toDouble, ids)) }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()).toDouble
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      if (s.submitted == 0.0) s.submitted = e.stageInfo.submissionTime.getOrElse(0L).toDouble
      s.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()).toDouble
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val s = stage(e.stageId, e.stageAttemptId).sums
      s("tasks") += 1
      val m = e.taskMetrics
      if (m != null) {
        s("run_ms") += m.executorRunTime
        s("cpu_ns") += m.executorCpuTime
        s("gc_ms") += m.jvmGCTime
        val in = m.inputMetrics
        if (in.bytesRead > 0 || in.recordsRead > 0) {
          s("scan_tasks") += 1
          s("scan_bytes") += in.bytesRead
          s("scan_rows") += in.recordsRead
        }
        s("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        s("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        s("fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
        s("spill_bytes") += m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val info = e.blockUpdatedInfo
      info.blockId match {
        case id: RDDBlockId =>
          val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
          blockTotal += size - blocks.getOrElse(id.name, 0L)
          if (size > 0) blocks(id.name) = size else blocks.remove(id.name)
          storage += ((System.currentTimeMillis().toDouble, blockTotal))
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += ((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val ops = p.stateOperators
      val row = Map(
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        "trigger_ms" -> d.getOrElse("triggerExecution", 0.0),
        "plan_ms" -> d.getOrElse("queryPlanning", 0.0),
        "add_batch_ms" -> d.getOrElse("addBatch", 0.0),
        "commit_ms" -> (d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0)),
        "state_commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum,
        "state_rows" -> ops.map(_.numRowsUpdated.toDouble).sum,
        "input_rows" -> p.numInputRows.toDouble)
      Tracer.this.synchronized { batches += row }
    }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Waits for queued events so that none is lost or lands in the next
    * pass, then removes every listener. */
  def detach(): Unit = if (attached) {
    GraftBenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  def json(): String = synchronized {
    val js = jobs.map { case (id, s, e, ids) =>
      s"""{"id":$id,"start":$s,"end":$e,"stages":${ids.mkString("[", ",", "]")}}"""
    }.mkString("[", ",", "]")
    val ss = stages.values.filter(_.completed > 0).map { s =>
      val sums = s.sums.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":${s.stageId},"attempt":${s.attempt},"start":${s.submitted},"end":${s.completed},"metrics":{$sums}}"""
    }.mkString("[", ",", "]")
    val ps = phases.map { case (n, s, e) => s"""{"name":${Json.str(n)},"start":$s,"end":$e}""" }
      .mkString("[", ",", "]")
    val bs = batches.map(Json.nums).mkString("[", ",", "]")
    val st = storage.map { case (t, b) => s"[$t,$b]" }.mkString("[", ",", "]")
    s"""{"jobs":$js,"stages":$ss,"phases":$ps,"batches":$bs,"storage":$st}"""
  }
}
