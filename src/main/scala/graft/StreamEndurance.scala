package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Dev tool: the multi-restart streaming endurance run at ARBITRARY
  * scale — the unit-scale spec (`StreamingSpec` "multi-restart
  * endurance") proves the kill/resume choreography on sf0.001; this
  * tool replays the same protocol against a scaled events table (point
  * it at a `scale-up` output) with the RocksDB state-store provider
  * pinned, so recovery is proven where state is big enough to matter
  * (the r10 100× sweep showed the in-heap store OOMs near 183 MB of
  * source; recovery must be exercised under the provider a cluster
  * would actually run).
  *
  * Protocol: slice the events table into 6 time-ordered files (+ a
  * far-future sentinel so append mode flushes every real session),
  * then `cycles` kill/resume rounds over a maxFilesPerTrigger=1
  * session-window drain — after every kill the parquet sink must show
  * no duplicated session and monotonically growing committed output
  * (the `_spark_metadata` commit log is the exactly-once mechanism
  * asserted) — then a final `drainToCompletion` (sentinel re-injection
  * heals the restored-watermark trap the unit spec discovered), and
  * the sink must equal the batch session aggregation over all input.
  *
  * MODES: `sessions` (default) drains the session-window aggregation —
  * merge-heavy MULTI-row state per user; `lastclick` drains
  * [[graft.streaming.EventStream.lastClickAttribution]] — the
  * `flatMapGroupsWithState` single-row-per-user state with event-time
  * timeout EVICTION, whose skew hazard is one user holding ~10⁶ events
  * (run this mode against a `scale-up … skew` output so recovery is
  * proven with a giant hot-key group in play). In lastclick mode the
  * final sink must equal the EXACT batch window replay of the
  * operator's semantics (running max-(ts, id) click per user in
  * (ts, clicks-first, id) order; purchase attributes iff that click is
  * within [p.ts − window, p.ts]) — bit-equal, both directions. Output
  * emits immediately in append mode (not watermark-held), so the final
  * drain needs no sentinel healing; the far-future sentinel still
  * rides the last slice so the watermark passes every click by 2×window
  * and the EVICTION branch fires across a checkpoint boundary.
  *
  * A third mode, `docdedup`, drains the DOCUMENTS table (sliced by
  * doc_id) through the continuous-ingest dedup shape — fingerprint +
  * `dropDuplicates` keyed state — against a LONGDOC corpus: the one
  * state/row-size combination the events modes cannot produce, where
  * individual rows in flight are ~529 KB (book-sized text) while the
  * STATE stays 16-byte hash currency BY DESIGN (text never enters
  * state — the same contract as `docDedupViaStream`). What a kill
  * proves here: micro-batch REPLAY of giant rows across a checkpoint
  * boundary (re-read, re-fingerprint, re-commit exactly-once), not
  * big-value state recovery — that combination is deliberately
  * impossible in this engine. Output is the distinct fingerprint set
  * (arrival-order-free, so the batch equality is exact); the final
  * sink must equal the batch DISTINCT md5(normText(text)).
  *
  * Usage: runMain graft.Tool endurance <sfDir> [cycles] [lastclick|docdedup|chunkdedup]
  * Prints one JSON line: {"endurance":"pass", ...} and exits non-zero
  * on any violated invariant.
  */
object StreamEndurance {
  def run(spark: SparkSession, args: Array[String]): Int = {
    val sfDir = args(0)
    val cycles = if (args.length > 1) args(1).toInt else 3
    // both are runtime SQL confs, read by each query at start(): 16
    // state partitions, and — the point of the scaled run — recovery
    // under the provider a cluster runs for big state, not the in-heap
    // default
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    if (args.contains("docdedup")) runDocDedup(spark, sfDir, cycles)
    else if (args.contains("chunkdedup")) runChunkDedup(spark, sfDir, cycles)
    else runEvents(spark, sfDir, cycles, lastClickMode = args.contains("lastclick"))
    0
  }

  /** The `sessions` and `lastclick` modes (see object scaladoc). */
  private def runEvents(spark: SparkSession, sfDir: String, cycles: Int,
      lastClickMode: Boolean): Unit = {
    import spark.implicits._
    val inDir = java.nio.file.Files.createTempDirectory("graft-end25-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-end25-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-end25-ckpt").toString
    val t0 = System.nanoTime()
    try {
      val ev = graft.sources.Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value")
      // getTime is MILLISECOND-truncated while corpus timestamps carry
      // microseconds: a raw `ts <= Timestamp(hi)` upper bound would
      // silently exclude every event above the truncated max — always
      // including the true max — from all slices (and the final
      // stream-vs-batch check reads the same sliced input, so the
      // shrink would be invisible). Round hi UP by 1 ms so the last
      // slice is inclusive of the true maximum event time.
      val Array(lo, hi0) = ev.agg(min("ts"), max("ts")).collect()
        .flatMap(r => Array(r.getTimestamp(0).getTime, r.getTimestamp(1).getTime))
      val hi = hi0 + 1
      val nSlices = 6
      val bounds = (0 to nSlices).map(i => lo + (hi - lo) * i / nSlices)
      var sentinelSeq = 0
      def sentinel(extraHours: Int): org.apache.spark.sql.DataFrame =
        Seq((-999L - sentinelSeq, new Timestamp(hi + extraHours * 3600 * 1000L),
          -999L, "sentinel", 0.0))
          .toDF("event_id", "ts", "user_id", "event_type", "value")
      (0 until nSlices).foreach { i =>
        val fromBound =
          if (i == 0) lit(true) else $"ts" > lit(new Timestamp(bounds(i)))
        val base = ev.filter(fromBound)
          .filter($"ts" <= lit(new Timestamp(bounds(i + 1))))
        val s = if (i == nSlices - 1) base.unionByName(sentinel(2)) else base
        val tmp = java.nio.file.Files.createTempDirectory(s"graft-end25-sl$i").toString
        s.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dest = java.nio.file.Paths.get(inDir, f"slice-$i%03d.parquet")
        java.nio.file.Files.move(part.toPath, dest)
        // FileStreamSource discovers by mtime; pin strictly increasing
        // stamps so discovery order = event-time order
        require(dest.toFile.setLastModified((i + 1) * 60000L))
        graft.sources.ArtifactCache.deleteRecursively(new java.io.File(tmp))
      }
      val schema = spark.read.parquet(inDir).schema
      def startQuery(availableNow: Boolean) = {
        val src = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
        val transformed =
          if (lastClickMode)
            graft.streaming.EventStream.lastClickAttribution(
              src.as[graft.streaming.EventStream.Ev]).toDF()
          else graft.streaming.EventStream.sessionAgg(src)
        val w = transformed.writeStream
          .format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt).outputMode("append")
        (if (availableNow)
          w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        else
          w.trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(500)))
          .start()
      }
      def sinkSessions(): Long =
        scala.util.Try {
          val s = spark.read.parquet(outDir).filter($"user_id" >= 0)
          val n = s.count()
          // exactly-once invariant after a kill, per mode: attribution
          // emits ONE row per purchase (purchase_id is the row key);
          // sessions have no single-column key — whole-row distinct
          val d = if (lastClickMode)
            s.select("purchase_id").distinct().count()
          else s.distinct().count()
          require(n == d, s"duplicated sink rows after a kill: $n vs $d distinct")
          n
        }.getOrElse(0L)
      var committedSoFar = 0L
      var cyclesWithInput = 0
      for (c <- 1 to cycles) {
        val q = startQuery(availableNow = false)
        try {
          val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
          while (q.recentProgress.forall(_.numInputRows == 0) &&
              System.nanoTime() < deadline) Thread.sleep(100)
          if (q.recentProgress.exists(_.numInputRows > 0)) cyclesWithInput += 1
        } finally q.stop() // kill mid-drain
        val n = sinkSessions()
        require(n >= committedSoFar,
          s"committed output shrank after cycle $c: $n < $committedSoFar")
        committedSoFar = n
        System.err.println(s"[endurance] cycle $c: $n committed sessions")
      }
      require(cyclesWithInput >= 2,
        "endurance needs at least two cycles that genuinely resumed mid-input")
      if (lastClickMode) {
        // attribution rows emit immediately in append mode — one
        // AvailableNow pass drains everything; no sentinel healing
        // needed (the last slice's far-future sentinel has already
        // advanced the watermark past every click + 2×window, so the
        // EVICTION branch fires here, across the checkpoint boundary)
        val q = startQuery(availableNow = true)
        q.awaitTermination()
      } else {
        // final drain with sentinel re-injection: a kill landing exactly
        // after the sentinel's batch commits restores the PRE-sentinel
        // watermark on resume; drainToCompletion heals it by injecting a
        // fresh, later sentinel and re-draining
        graft.streaming.EventStream.drainToCompletion(
          () => startQuery(availableNow = true),
          injectSentinel = { attempt =>
            sentinelSeq += 1
            val tmp = java.nio.file.Files.createTempDirectory("graft-end25-sent").toString
            sentinel(2 + 2 * attempt).coalesce(1).write.mode("overwrite").parquet(tmp)
            val part = new java.io.File(tmp).listFiles()
              .find(_.getName.endsWith(".parquet")).get
            val dest = java.nio.file.Paths.get(inDir,
              f"sentinel-$attempt%03d.parquet")
            java.nio.file.Files.move(part.toPath, dest)
            require(dest.toFile.setLastModified((nSlices + 1 + attempt) * 60000L))
            graft.sources.ArtifactCache.deleteRecursively(new java.io.File(tmp))
          },
          // the newest sentinel's own open session never flushes
          residualStateRows = 1L)
      }
      val streamed = spark.read.parquet(outDir).filter($"user_id" >= 0)
      val batch =
        if (lastClickMode)
          lastClickBatchReplay(spark.read.parquet(inDir), windowMinutes = 60)
        else graft.streaming.EventStream.sessionAgg(
          spark.read.parquet(inDir)).filter($"user_id" >= 0)
      val sn = streamed.count()
      val missing = batch.exceptAll(streamed.select(batch.columns.map(col): _*)).count()
      val extra = streamed.select(batch.columns.map(col): _*).exceptAll(batch).count()
      require(missing == 0 && extra == 0,
        s"final sink != batch replay: $missing missing, $extra extra of $sn")
      val mode = if (lastClickMode) "lastclick" else "sessions"
      val sec = (System.nanoTime() - t0) / 1e9
      println(s"""{"endurance":"pass","mode":"$mode","cycles":$cycles,"rows":$sn,""" +
        s""""provider":"rocksdb","sf":"$sfDir","sec":${math.round(sec * 10) / 10.0}}""")
    } finally {
      Seq(inDir, outDir, ckpt).foreach(d =>
        graft.sources.ArtifactCache.deleteRecursively(new java.io.File(d)))
    }
  }

  /** The docdedup mode (see object scaladoc): documents sliced by
    * doc_id, fingerprint + dropDuplicates state, kill/resume cycles,
    * final sink == batch DISTINCT fingerprint set. private[graft] so
    * StreamingSpec drives the SAME protocol at fixture scale. */
  private[graft] def runDocDedup(spark: SparkSession,
      sfDir: String, cycles: Int): Unit = {
    import org.apache.spark.sql.functions._
    val inDir = java.nio.file.Files.createTempDirectory("graft-endd-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-endd-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-endd-ckpt").toString
    val t0 = System.nanoTime()
    try {
      val docs = graft.sources.Tables.documents(spark, sfDir)
        .select("doc_id", "text")
      val Array(lo, hi) = docs.agg(min("doc_id"), max("doc_id")).collect()
        .flatMap(r => Array(r.getLong(0), r.getLong(1)))
      val nSlices = 6
      // doc_id is integral: upper-inclusive range slices cover exactly
      val bounds = (0 to nSlices).map(i => lo - 1 + (hi - lo + 1) * i / nSlices)
      (0 until nSlices).foreach { i =>
        val s = docs.filter(col("doc_id") > bounds(i) &&
          col("doc_id") <= bounds(i + 1))
        val tmp = java.nio.file.Files.createTempDirectory(s"graft-endd-sl$i").toString
        s.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dest = java.nio.file.Paths.get(inDir, f"slice-$i%03d.parquet")
        java.nio.file.Files.move(part.toPath, dest)
        require(dest.toFile.setLastModified((i + 1) * 60000L))
        graft.sources.ArtifactCache.deleteRecursively(new java.io.File(tmp))
      }
      val schema = spark.read.parquet(inDir).schema
      def startQuery(availableNow: Boolean) = {
        val src = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
        val verdicts = src
          .select(md5(graft.operators.TextAnalysis.normText(col("text")))
            .as("fingerprint"))
          .dropDuplicates("fingerprint")
        val w = verdicts.writeStream
          .format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt).outputMode("append")
        (if (availableNow)
          w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        else
          w.trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(500)))
          .start()
      }
      def sinkFingerprints(): Long =
        scala.util.Try {
          val s = spark.read.parquet(outDir)
          val n = s.count()
          val d = s.distinct().count()
          require(n == d, s"duplicated fingerprints after a kill: $n vs $d distinct")
          n
        }.getOrElse(0L)
      var committedSoFar = 0L
      var cyclesWithInput = 0
      for (c <- 1 to cycles) {
        val q = startQuery(availableNow = false)
        try {
          val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
          while (q.recentProgress.forall(_.numInputRows == 0) &&
              System.nanoTime() < deadline) Thread.sleep(100)
          if (q.recentProgress.exists(_.numInputRows > 0)) cyclesWithInput += 1
        } finally q.stop() // kill mid-drain, big rows in flight
        val n = sinkFingerprints()
        require(n >= committedSoFar,
          s"committed output shrank after cycle $c: $n < $committedSoFar")
        committedSoFar = n
        System.err.println(s"[endurance] cycle $c: $n committed fingerprints")
      }
      require(cyclesWithInput >= 2,
        "endurance needs at least two cycles that genuinely resumed mid-input")
      // fingerprints emit immediately in append mode (no watermark
      // hold), so one AvailableNow pass drains everything — no
      // sentinel machinery in this mode
      val q = startQuery(availableNow = true)
      q.awaitTermination()
      val streamed = spark.read.parquet(outDir)
      val batch = spark.read.parquet(inDir)
        .select(md5(graft.operators.TextAnalysis.normText(col("text")))
          .as("fingerprint")).distinct()
      val sn = streamed.count()
      val missing = batch.exceptAll(streamed).count()
      val extra = streamed.exceptAll(batch).count()
      require(missing == 0 && extra == 0,
        s"final sink != batch distinct: $missing missing, $extra extra of $sn")
      val maxChars = docs.agg(max(length(col("text")))).head().getInt(0)
      val sec = (System.nanoTime() - t0) / 1e9
      println(s"""{"endurance":"pass","mode":"docdedup","cycles":$cycles,""" +
        s""""rows":$sn,"max_doc_chars":$maxChars,"provider":"rocksdb",""" +
        s""""sf":"$sfDir","sec":${math.round(sec * 10) / 10.0}}""")
    } finally {
      Seq(inDir, outDir, ckpt).foreach(d =>
        graft.sources.ArtifactCache.deleteRecursively(new java.io.File(d)))
    }
  }

  /** Fourth mode, `chunkdedup`: the r15 continuous-ingest CHUNK probe
    * under kill/resume — odd-id arrivals sliced and streamed, chunked
    * row-locally, probed against the STORED even-id chunk-keeper index
    * via a stream-static broadcast join, and rolled up to per-doc
    * novelty verdicts inside foreachBatch writing BATCH-KEYED parquet
    * subdirs (`batch_<id>` + overwrite — the spool idempotence device
    * `EventStream.runToCompletion` documents). What a kill proves HERE,
    * and the docdedup mode cannot: micro-batch REPLAY through the
    * foreachBatch sink — a resumed batch re-runs with the SAME batchId
    * and must overwrite its own subdir rather than appending duplicate
    * verdicts; after every kill the sink must hold at most one verdict
    * per doc and never shrink. Zero streaming state by design (the
    * seen-chunk set is the out-of-band index), so recovery cost is
    * offsets + sink log only. Final sink must equal the registered
    * batch query `dedup_chunk_incremental` row-for-row. */
  private[graft] def runChunkDedup(spark: SparkSession,
      sfDir: String, cycles: Int): Unit = {
    import org.apache.spark.sql.functions._
    val inDir = java.nio.file.Files.createTempDirectory("graft-endc-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-endc-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-endc-ckpt").toString
    val t0 = System.nanoTime()
    try {
      val arrivals = graft.sources.Tables.documents(spark, sfDir)
        .select("doc_id", "text").filter(col("doc_id") % 2 === 1)
      val Array(lo, hi) = arrivals.agg(min("doc_id"), max("doc_id")).collect()
        .flatMap(r => Array(r.getLong(0), r.getLong(1)))
      val nSlices = 6
      val bounds = (0 to nSlices).map(i => lo - 1 + (hi - lo + 1) * i / nSlices)
      (0 until nSlices).foreach { i =>
        val s = arrivals.filter(col("doc_id") > bounds(i) &&
          col("doc_id") <= bounds(i + 1))
        val tmp = java.nio.file.Files.createTempDirectory(s"graft-endc-sl$i").toString
        s.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dest = java.nio.file.Paths.get(inDir, f"slice-$i%03d.parquet")
        java.nio.file.Files.move(part.toPath, dest)
        require(dest.toFile.setLastModified((i + 1) * 60000L))
        graft.sources.ArtifactCache.deleteRecursively(new java.io.File(tmp))
      }
      val priorFps = graft.operators.Dedup.chunkKeeperIndex(spark, sfDir)
        .select("chunk_fp")
      val schema = spark.read.parquet(inDir).schema
      def startQuery(availableNow: Boolean) = {
        val src = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
        val verdicts = graft.operators.Dedup.chunkVerdictsFrom(
          src.select("doc_id", "text"), broadcast(priorFps), 32)
        val w = verdicts.writeStream
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
              graft.operators.Dedup.chunkNoveltyRollup(b.toDF())
                .write.mode("overwrite").parquet(s"$outDir/batch_$id")
          }
          .option("checkpointLocation", ckpt)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        (if (availableNow)
          w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        else
          w.trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(500)))
          .start()
      }
      val batchResult = graft.operators.Dedup.chunkDedupIncremental(spark, sfDir)
      def readSink() = spark.read.schema(batchResult.schema)
        .option("recursiveFileLookup", "true").parquet(outDir)
      def sinkVerdicts(): Long = {
        // only the EMPTY-SINK read may be swallowed (no batch committed
        // yet → no parquet under outDir → AnalysisException); the
        // duplicated-verdict invariant must PROPAGATE — wrapping it in
        // the same Try converted the exact failure this mode exists to
        // catch into "0 committed verdicts" (r15 advice)
        val rows = try Some(readSink())
          catch { case _: org.apache.spark.sql.AnalysisException => None }
        rows.fold(0L) { s =>
          val n = s.count()
          val d = s.select("doc_id").distinct().count()
          require(n == d,
            s"duplicated per-doc verdicts after a kill: $n rows vs $d docs — " +
              "batch replay appended instead of overwriting its subdir")
          n
        }
      }
      var committedSoFar = 0L
      var cyclesWithInput = 0
      for (c <- 1 to cycles) {
        val q = startQuery(availableNow = false)
        try {
          val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
          while (q.recentProgress.forall(_.numInputRows == 0) &&
              System.nanoTime() < deadline) Thread.sleep(100)
          if (q.recentProgress.exists(_.numInputRows > 0)) cyclesWithInput += 1
        } finally q.stop() // kill mid-drain; a batch may be half-written
        val n = sinkVerdicts()
        require(n >= committedSoFar,
          s"committed verdicts shrank after cycle $c: $n < $committedSoFar")
        committedSoFar = n
        System.err.println(s"[endurance] cycle $c: $n committed verdicts")
      }
      require(cyclesWithInput >= 2,
        "endurance needs at least two cycles that genuinely resumed mid-input")
      val q = startQuery(availableNow = true)
      q.awaitTermination()
      val streamed = readSink()
      val missing = batchResult.exceptAll(streamed).count()
      val extra = streamed.exceptAll(batchResult).count()
      val sn = streamed.count()
      require(missing == 0 && extra == 0,
        s"final sink != batch probe: $missing missing, $extra extra of $sn")
      val sec = (System.nanoTime() - t0) / 1e9
      println(s"""{"endurance":"pass","mode":"chunkdedup","cycles":$cycles,""" +
        s""""rows":$sn,"provider":"rocksdb","sf":"$sfDir",""" +
        s""""sec":${math.round(sec * 10) / 10.0}}""")
    } finally {
      Seq(inDir, outDir, ckpt).foreach(d =>
        graft.sources.ArtifactCache.deleteRecursively(new java.io.File(d)))
    }
  }

  /** Exact batch replay of [[graft.streaming.EventStream.lastClickAttribution]]
    * over TIME-ORDERED input (which the sliced drain delivers by
    * construction): per user, the running max-(ts_us, event_id) click
    * in (ts_us, clicks-before-purchases, event_id) processing order —
    * one window pass, the same statement as the operator's in-batch
    * fold — and a purchase emits iff that click lies within
    * [p.ts − window, p.ts]. The upper bound is structural here (the
    * running max only sees rows ordered at-or-before the purchase);
    * on ordered slices the cross-batch drop trade never fires, so
    * stream output must equal this replay EXACTLY. */
  private def lastClickBatchReplay(events: org.apache.spark.sql.DataFrame,
      windowMinutes: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val winUs = windowMinutes * 60L * 1000000L
    val w = Window.partitionBy("user_id")
      .orderBy("us", "kind", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.filter(col("event_type").isin("click", "purchase"))
      .withColumn("us", expr("unix_micros(ts)"))
      .withColumn("kind", when(col("event_type") === "click", 0).otherwise(1))
      // struct comparison is lexicographic in field order, so max picks
      // the (ts, id)-largest click; its wall-clock ts rides as a payload
      .withColumn("lc", max(when(col("kind") === 0,
        struct(col("us").as("cus"), col("event_id").as("cid"),
          col("ts").as("cts")))).over(w))
      .filter(col("kind") === 1 && col("lc").isNotNull &&
        col("lc.cus") >= col("us") - winUs)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"),
        col("lc.cid").as("click_id"), col("lc.cts").as("click_ts"))
  }
}
