package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run: one JVM, one `local[N]` session, one client thread
  * submitting the workload's queries one after another.
  *
  * Phases: session start, an untimed warm pass over the mix, an untimed
  * check pass, then timed passes until `seconds` have elapsed, each in a
  * seed-permuted order. The warm and timed passes force every result
  * through the `noop` sink. The check pass writes every result to parquet
  * under `check` instead, for the correctness compare that runs outside
  * the JVM; it is part of no reported time or heap figure, and it lets the
  * JIT settle further before the timed passes.
  *
  * With `trace=1` the warm pass and every other timed pass run with the
  * tracer's listeners attached; the passes in between run without them,
  * so the run measures its own tracing overhead.
  *
  * Hadoop's local file system is replaced by [[SyscallLocalFileSystem]]
  * for the `file` scheme, and every timed pass ends with a full garbage
  * collection outside its timing (see [[HeapWatch]]).
  *
  * Usage: Harness queries=<q1,q2,..> data=<table dir> seconds=<s> trace=<0|1>
  *   seed=<n> cpus=<n> launch_ms=<epoch ms> check=<dir> out=<file>
  * writes one JSON document to `out`. With `queries=.. dump_oracle=<file>`
  * it only writes the oracle SQL of the named queries, without Spark.
  */
object Harness {

  final case class Opts(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing option $k"))
    def get(k: String): Option[String] = kv.get(k).filter(_.nonEmpty)
    def int(k: String, d: Int): Int = get(k).map(_.toInt).getOrElse(d)
    def queries: Seq[String] = apply("queries").split(',').toSeq.filter(_.nonEmpty)
  }

  /** Epoch milliseconds with microsecond resolution, so harness spans and
    * listener timestamps (epoch ms) share one time axis. */
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  final case class Execution(pass: String, query: String, start: Double,
      constructEnd: Double, end: Double, ok: Boolean, error: String,
      traced: Boolean, counters: Map[String, Double])

  final case class Pass(label: String, traced: Boolean, start: Double, end: Double,
      counters: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opts = Opts(args.iterator.map { a =>
      val i = a.indexOf('='); a.substring(0, i) -> a.substring(i + 1)
    }.toMap)
    val queries = opts.queries
    val unknown = queries.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    opts.get("dump_oracle") match {
      case Some(path) => dumpOracle(queries, Paths.get(path))
      case None => run(opts, queries)
    }
  }

  private def dumpOracle(queries: Seq[String], path: Path): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val body = queries.filter(oracle.contains)
      .map(q => Json.str(q) + ":" + Json.str(oracle(q))).mkString("{", ",", "}")
    Files.writeString(path, body)
  }

  private def run(opts: Opts, queries: Seq[String]): Unit = {
    val cpus = opts.int("cpus", Runtime.getRuntime.availableProcessors())
    val seconds = opts("seconds").toDouble
    val traceOn = opts.int("trace", 0) == 1
    val seed = opts("seed").toLong
    val data = opts("data")
    val launchMs = opts("launch_ms").toDouble
    val heap = new HeapWatch

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", (8 << 20).toString)
      .config("spark.hadoop.fs.file.impl", classOf[SyscallLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[SyscallLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReady = now()

    val tracer = if (traceOn) Some(new Tracer(spark)) else None
    val fns = queries.map(q => q -> graft.SparkEntry.queries(q)).toMap
    val executions = ArrayBuffer.empty[Execution]
    val passes = ArrayBuffer.empty[Pass]

    val check = opts("check")
    def runOnce(pass: String, q: String, traced: Boolean): Unit = {
      val before = if (traced) Counters.read() else Map.empty[String, Double]
      val t0 = now()
      var t1 = t0
      var error = ""
      try {
        val df: DataFrame = fns(q)(spark, data)
        t1 = now()
        if (pass == "check") df.coalesce(1).write.mode("overwrite").parquet(s"$check/$q")
        else df.write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        if (t1 == t0) t1 = now()
        error = s"${e.getClass.getName}: ${e.getMessage}".take(500)
        System.err.println(s"[graftbench] $pass $q failed: $error")
      }
      val t2 = now()
      val delta = if (traced) Counters.delta(before, Counters.read()) else Map.empty[String, Double]
      executions += Execution(pass, q, t0, t1, t2, error.isEmpty, error, traced, delta)
    }

    def runPass(label: String, order: Seq[String], traced: Boolean): Pass = {
      tracer.foreach(t => if (traced) t.attach() else t.detach())
      val before = if (traced) Counters.read() ++ artifacts() else Map.empty[String, Double]
      val start = now()
      order.foreach(runOnce(label, _, traced))
      val end = now()
      val counters =
        if (traced) Counters.delta(before, Counters.read()) ++ artifacts()
        else Map.empty[String, Double]
      val heapPeak =
        if (label == "warm") Map.empty[String, Double]
        else Map("heap_peak_bytes" -> heap.endPass().toDouble)
      val p = Pass(label, traced, start, end, counters ++ heapPeak)
      passes += p
      p
    }

    val warmEnd = runPass("warm", queries, traceOn).end
    tracer.foreach(_.detach())
    queries.foreach(runOnce("check", _, traced = false))
    heap.endPass()

    val rng = new scala.util.Random(seed)
    val minPasses = if (traceOn) 2 else 1
    val timedStart = now()
    var i = 0
    while (i < minPasses || now() - timedStart < seconds * 1000) {
      runPass(i.toString, rng.shuffle(queries), traceOn && i % 2 == 0)
      i += 1
    }
    tracer.foreach(_.detach())

    val env = Map(
      "master" -> Json.str(spark.sparkContext.master),
      "cpus" -> cpus.toString,
      "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "aqe" -> Json.str(spark.conf.get("spark.sql.adaptive.enabled")),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576.0).toString,
      "java" -> Json.str(System.getProperty("java.version")),
      "hadoop_local_fs" -> Json.str(spark.sparkContext.hadoopConfiguration.get("fs.file.impl")),
      "spark" -> Json.str(spark.version),
      "tmpdir" -> Json.str(System.getProperty("java.io.tmpdir")))
    val out = new StringBuilder
    out ++= "{\"env\":" ++= Json.obj(env)
    out ++= s",\"launch_ms\":$launchMs,\"session_ready\":$sessionReady"
    out ++= s",\"warm_end\":$warmEnd"
    out ++= ",\"passes\":" ++= passes.map { p =>
      Json.obj(Map("label" -> Json.str(p.label), "traced" -> p.traced.toString,
        "start" -> p.start.toString, "end" -> p.end.toString,
        "counters" -> Json.nums(p.counters)))
    }.mkString("[", ",", "]")
    out ++= ",\"executions\":" ++= executions.map { e =>
      Json.obj(Map("pass" -> Json.str(e.pass), "query" -> Json.str(e.query),
        "start" -> e.start.toString, "construct_end" -> e.constructEnd.toString,
        "end" -> e.end.toString, "ok" -> e.ok.toString, "error" -> Json.str(e.error),
        "traced" -> e.traced.toString, "counters" -> Json.nums(e.counters)))
    }.mkString("[", ",", "]")
    out ++= ",\"events\":" ++= tracer.map(_.json()).getOrElse("{}")
    out ++= "}"
    Files.writeString(Paths.get(opts("out")), out.toString)
    spark.stop()
  }

  /** Size of the artifact cache the engine keeps under `java.io.tmpdir`. */
  private def artifacts(): Map[String, Double] = {
    val root = Paths.get(System.getProperty("java.io.tmpdir"), "graft-artifact-cache")
    if (!Files.isDirectory(root)) Map("artifact.count" -> 0.0, "artifact.bytes" -> 0.0)
    else {
      val top = Files.list(root)
      val count = try top.count().toDouble finally top.close()
      val walk = Files.walk(root)
      val bytes = try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum.toDouble finally walk.close()
      Map("artifact.count" -> count, "artifact.bytes" -> bytes)
    }
  }
}

/** Process-wide counters read at query and pass boundaries: codegen
  * compile time and class count, and JVM GC time. */
object Counters {
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def read(): Map[String, Double] = Map(
    "codegen.compile_ns" -> CodeGenerator.compileTime.toDouble,
    "codegen.classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "jvm.gc_ms" -> gcs.map(_.getCollectionTime.max(0L)).sum.toDouble)

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }
}

/** Peak heap occupancy right after a garbage collection, per timed pass,
  * from the GC notifications of every collector. Each pass ends with a
  * full collection (outside its timing) that counts towards its peak, so
  * every pass has at least one sample, and the next pass starts from a
  * collected heap rather than from the garbage its predecessors left in
  * the old generation. */
final class HeapWatch {
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { if (after > peak) peak = after }
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
  /** Collects the heap and returns the pass's peak; starts the next pass. */
  def endPass(): Long = {
    System.gc()
    val retained = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized { val p = math.max(peak, retained); peak = 0; p }
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(fields: Map[String, String]): String =
    fields.toSeq.sortBy(_._1).map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def nums(fields: Map[String, Double]): String = obj(fields.map { case (k, v) => k -> num(v) })
}
