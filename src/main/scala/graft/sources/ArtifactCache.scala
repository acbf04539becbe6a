package graft.sources

import org.apache.spark.SparkFiles
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Write-then-reuse materialization for derived artifacts (near-dup pair
  * tables, ANN signature/centroid indexes): compute once per corpus
  * snapshot, store as parquet, and have every consumer read the stored
  * artifact — the posture any 100 TB pipeline takes, where an index or
  * pair table is a catalog table, not a per-query recomputation. The
  * reference's own map→reduce file contract (`slave.cc:64-66` →
  * `slave.cc:177`) is the single-node precedent: its intermediate
  * files live for one job, as these live for one SparkContext.
  *
  * Two layers:
  *  - [[materialize]]: explicit, user-facing. Write to the caller's
  *    path unless a COMPLETED artifact (writer's `_SUCCESS` marker) is
  *    already there — a partial/failed write is redone, a finished one
  *    is reused even by a different JVM.
  *  - [[readOrWrite]]: session cache. A location under [[root]] keyed
  *    by (artifact name, params, corpus fingerprint); at most one
  *    writer per location (per-path future, so the Spark job runs
  *    outside any map bin lock and a failed write retries).
  *
  * [[root]] lies in the `userFiles-<uuid>` directory Spark creates for
  * each SparkContext and deletes when the context stops (`SparkEnv.stop`
  * and Spark's shutdown hook), so the session cache, `Layout`'s
  * bucketed tables and the drain spools need no cleanup of their own,
  * and two JVMs on one host never share a store. Within one context an
  * artifact whose corpus is rewritten in place is written again under
  * its new fingerprint; the old-fingerprint directory stays until the
  * context stops.
  *
  * Both read artifacts back through [[Tables.parquet]]: the footer
  * schema is memoized per artifact path, keyed by the artifact's file
  * [[fingerprint]] and the parquet confs, so a reused artifact is read
  * without a schema-inference job. The key is the dir's own file
  * listing, so a rewritten artifact is inferred again; the memo holds
  * one small entry per artifact dir this JVM reads (one dir per name,
  * params and corpus fingerprint).
  */
object ArtifactCache {

  /** The scratch root of `spark`'s SparkContext: every engine-written
    * artifact, bucketed table and spool lives under it and goes away
    * with the context. */
  def root(spark: SparkSession): String = {
    require(!spark.sparkContext.isStopped, "no artifact root for a stopped SparkContext")
    s"${SparkFiles.getRootDirectory()}/graft-artifacts"
  }

  /** A new, empty directory under [[root]] whose name starts with `prefix`. */
  private[graft] def scratchDir(spark: SparkSession, prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root(spark))), prefix)

  /** Write `df` to `outPath` (parquet) unless a completed artifact is
    * already there; return a reader over the artifact. Row order is not
    * preserved by the parquet round-trip; consumers re-sort. */
  def materialize(spark: SparkSession, outPath: String)(df: => DataFrame): DataFrame = {
    unlessDone(spark, outPath)(Sinks.writePartitionedParquet(df, outPath))
    Tables.parquet(spark, outPath)
  }

  /** Run `write` unless `outPath` holds a completed artifact (the
    * writer's `_SUCCESS` marker). */
  private def unlessDone(spark: SparkSession, outPath: String)(write: => Unit): Unit = {
    val path = new org.apache.hadoop.fs.Path(outPath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS"))) write
  }

  /** Cheap corpus fingerprint — name, length and mtime of every file of
    * the given table path, hashed. Regenerating the data in place (data
    * refresh, a different scale factor written to the same dir) changes
    * the fingerprint and so invalidates the session cache. */
  def fingerprint(spark: SparkSession, tablePath: String): String = {
    val path = new org.apache.hadoop.fs.Path(tablePath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts: Seq[String] =
      if (!fs.exists(path)) Seq("absent")
      else {
        val it = fs.listFiles(path, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val f = it.next()
          buf += s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}"
        }
        buf.sorted.toSeq
      }
    md5(parts.mkString("\n"))
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Artifact path → the one in-flight/completed write. The path holds
    * [[root]], so a later SparkContext in this JVM never reuses a slot
    * whose directory went away with an earlier one. */
  private val inFlight =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.CompletableFuture[String]]()

  /** Session-cached artifact: materialize `df` at a deterministic
    * location under [[root]] keyed by (`name`, `params`, fingerprint
    * of `tablePath`), computed at most once per SparkContext. */
  def readOrWrite(spark: SparkSession, name: String, params: String,
      tablePath: String)(df: => DataFrame): DataFrame =
    Tables.parquet(spark,
      computeOnce(spark, name, params, tablePath) { out =>
        unlessDone(spark, out)(Sinks.writePartitionedParquet(df, out))
      })

  /** Two-output sibling of [[readOrWrite]] for artifacts cut from ONE
    * shared computation (the vector-group collapse: a single window
    * pass yields both the member map and the canonical table — caching
    * them as independent artifacts would run that pass twice on a cold
    * cache). `dfs` is forced at most once; each half lands in its own
    * subdir with the usual completed-write (_SUCCESS) check, so a
    * partial write (a failed job) redoes both halves. */
  def readOrWritePair(spark: SparkSession, name: String, params: String,
      tablePath: String)(dfs: => (DataFrame, DataFrame))
      : (DataFrame, DataFrame) = {
    val dir = computeOnce(spark, name, params, tablePath) { out =>
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def done(sub: String) =
        fs.exists(new org.apache.hadoop.fs.Path(s"$out/$sub/_SUCCESS"))
      if (!done("a") || !done("b")) {
        val (a, b) = dfs
        a.write.mode("overwrite").parquet(s"$out/a")
        b.write.mode("overwrite").parquet(s"$out/b")
      }
    }
    (Tables.parquet(spark, s"$dir/a"), Tables.parquet(spark, s"$dir/b"))
  }

  /** Text-format sibling of [[readOrWrite]] for corpora whose CONTRACT
    * is a newline-delimited text file (the reference's literal input
    * modality, `slave.cc:56`): the frame's single string column writes
    * as raw lines and reads back via `spark.read.text`. Same keying,
    * same one-writer-per-location and completed-artifact (`_SUCCESS`)
    * discipline as the parquet path. */
  def readOrWriteText(spark: SparkSession, name: String, params: String,
      tablePath: String)(df: => DataFrame): DataFrame =
    spark.read.text(
      computeOnce(spark, name, params, tablePath) { out =>
        unlessDone(spark, out)(df.write.mode("overwrite").text(out))
      })

  /** The shared keyed-location + single-writer mechanics of the
    * readOrWrite formats: resolve the (name, params, fingerprint)
    * location under [[root]] and run `write` at most once per location
    * (per-path future; a failed write clears the slot so a retry
    * recomputes). Returns the artifact path once the write — this
    * thread's or a racer's — completes. */
  private def computeOnce(spark: SparkSession, name: String, params: String,
      tablePath: String)(write: String => Unit): String = {
    val keyHash = md5(s"$name|$params").take(16)
    val out = s"${root(spark)}/$name-$keyHash/${fingerprint(spark, tablePath)}"
    val fut = new java.util.concurrent.CompletableFuture[String]()
    val prev = inFlight.putIfAbsent(out, fut)
    if (prev == null) {
      try {
        write(out)
        fut.complete(out)
      } catch { case e: Throwable =>
        inFlight.remove(out, fut)
        fut.completeExceptionally(e)
        throw e
      }
    }
    (if (prev == null) fut else prev).join()
  }

  /** Detach a result frame from its upstream resources: eagerly
    * materialize via local checkpoint so a persisted input or a
    * broadcast the plan references can be RELEASED immediately after
    * (lineage is truncated — later reads never re-touch the released
    * resource). This is the anchor-query cleanup device (q11/q20's
    * threshold reports, heavyKeys' hot-key report): the materialized
    * rows stay DISTRIBUTED in executor block storage — a degenerate
    * input that makes the "report" large degrades into big-but-
    * distributed blocks, never a driver-side collect OOM — and the
    * blocks are reclaimed by the context cleaner when the frame is
    * garbage-collected, so nothing accrues in the SQL cache manager
    * across a long-lived session. Trade-off, documented: checkpoint
    * blocks are not fault-tolerant (an executor loss cannot recompute
    * truncated lineage) — acceptable for report-sized frames consumed
    * promptly.
    *
    * PLANNING CAVEAT: the detached frame is a LogicalRDD, which reports
    * the session-default (effectively infinite) size statistic — a
    * later equi-join against it will NOT auto-broadcast from stats
    * alone. Under AQE the runtime sizes correct this; in a non-AQE
    * session, wrap the detached frame in `broadcast(...)` at join-back
    * sites when it is known report-sized (q20 does). */
  def detach(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }
}
