package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming over the `events` schema. The reference has zero
  * streaming (SURVEY.md §2.3); this is the north-star extension: the
  * batch queries in graft.operators.Events re-expressed incrementally.
  *
  * Design: each transform takes the (possibly streaming) input DataFrame
  * rather than a path, so production wires `spark.readStream` and tests
  * wire a MemoryStream — identical plans either way. Watermarks bound
  * state: at 100 TB/day the windowed-agg state is O(open windows ×
  * event types), and late data beyond 10 minutes is dropped
  * deterministically.
  */
object EventStream {

  /** Streaming source over a directory of events parquet (one file per
    * micro-batch in practice). */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
      .parquet(dir)

  /** Tumbling 1-hour windowed counts with a 10-minute watermark —
    * incremental twin of Events.tumblingHourly, down to the rounding:
    * `sum_value` is the same quantized exact sum (`qsum`: per-row floor
    * to 1e-6 units, long-summed) the batch operator uses, so
    * batch/stream parity holds even at rounding boundaries. The
    * quantized form is also the RIGHT streaming aggregate: the state is
    * an exact long partial sum, so the emitted value is independent of
    * how events split across micro-batches — a plain double `sum` would
    * drift by add-order ulps and can flip a half-up rounding at a
    * boundary (e.g. 0.00004 + 0.00001 at 4 dp). */
  def windowedCounts(events: DataFrame): DataFrame = {
    import graft.functions.Deterministic.{qsum, rd}
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), rd(qsum(col("value"), 6), 4).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
  }

  /** Streaming gap-sessionization via native session_window (state is
    * merged per key as watermark advances). */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"), col("n_events"))

  /** Production sink wiring: windowed counts → parquet files with a
    * checkpoint (exactly-once via the file-sink commit log + the
    * checkpointed offsets; restart resumes from the log). Returns the
    * started query. */
  def startFileSink(events: DataFrame, outDir: String, checkpointDir: String) =
    windowedCounts(events)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()

  private val runSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** At most TWO live spool dirs per drain PREFIX — the new run's and
    * its immediate predecessor's — so a long bench sweep (warm +
    * passes×reps re-runs of 4 row-scaled drains) holds bounded
    * row-scaled output per drain on disk instead of accumulating
    * GB-scale dirs until the context stops. Keeping exactly one
    * generation back closes the dangling-frame hazard the old
    * delete-on-next-call rule had: a prefix's RETURNED frame reads its
    * spool lazily, and a caller that re-runs the drain while still
    * holding the previous result (compare new vs old, say) would have
    * found the old frame's files already deleted. Now the predecessor
    * stays readable until the run AFTER next; only the grandparent is
    * reclaimed. Spools live under [[graft.sources.ArtifactCache.root]],
    * so whatever is left goes away with the SparkContext. */
  private val spoolDirs =
    new java.util.concurrent.ConcurrentHashMap[String, List[java.io.File]]()

  private def freshSpoolDir(spark: SparkSession, prefix: String): String = {
    val dir = graft.sources.ArtifactCache.scratchDir(spark, s"drain-$prefix-")
    spoolDirs.compute(prefix, (_, old) => {
      val prev = Option(old).getOrElse(Nil)
      // reclaim everything OLDER than the immediate predecessor: the
      // newest prior spool may still back a frame the caller holds
      prev.drop(1).foreach(graft.sources.ArtifactCache.deleteRecursively)
      dir.toFile :: prev.take(1)
    })
    dir.toString
  }

  /** Streaming source over the corpus events parquet. The test corpus
    * stores events as a single parquet FILE; the file stream source
    * derives basePath from a non-glob path and then requires it to be
    * a directory, so give it a GLOB (which matches only events.parquet)
    * plus the parent dir as explicit basePath. In production both are
    * the events directory and [[readEvents]] alone is the wiring.
    * `events.ts` has shipped in several physical forms across data
    * refreshes (TIMESTAMP(NANOS), naive micros/NTZ, LTZ) — probe the
    * footer and apply the SAME normalization the batch reader
    * (graft.sources.Tables.events) applies for that form, so both
    * paths see identical LTZ timestamps by construction (not merely
    * because the session zone is UTC). */
  private[graft] def corpusEventsSource(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/events.parquet"
    val tsType = graft.sources.Tables.parquet(spark, path).schema("ts").dataType
    val tsDecl = tsType match {
      case LongType => "BIGINT"
      case TimestampNTZType => "TIMESTAMP_NTZ"
      case _ => "TIMESTAMP"
    }
    val base = spark.readStream
      .schema(s"event_id BIGINT, ts $tsDecl, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
      .option("basePath", sfDir)
      .parquet(path + "*")
    tsType match {
      case LongType => base.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => base.withColumn("ts", col("ts").cast("timestamp"))
      case _ => base
    }
  }

  /** Drain a FINITE stream to completion across restarts — the reusable
    * form of the watermark-restore rule the endurance spec discovered
    * (r9): if a query is killed right after the batch carrying a
    * terminal watermark-advancing event commits, the restart restores
    * the PRE-batch watermark from offset metadata and never re-reads
    * the consumed file, so append-mode state that should have flushed
    * sits open forever and an `AvailableNow` drain terminates SHORT.
    * Production streams self-heal because the next arriving data
    * re-advances the watermark; a finite corpus has no next data, so
    * the drain loop must inject it.
    *
    * Protocol per attempt: `start()` the query (an `AvailableNow`
    * trigger over the shared checkpoint), await termination, then read
    * the residual state-store size from the final progress
    * (`stateOperators.numRowsTotal`). A fully-flushed drain holds at
    * most `residualStateRows` rows (default 1: the newest sentinel's
    * own never-flushing session/window); anything above means open
    * state the restored watermark cannot close — `injectSentinel`
    * drops a fresh, LATER watermark-advancing row into the source
    * (attempt index provided for strictly-increasing event times /
    * file mtimes) and the loop re-drains. A restart that processed
    * ZERO batches reports no progress at all; that is exactly the
    * dangerous restored-watermark case, so missing progress counts as
    * residual state, not as completion. Bounded by `maxAttempts`
    * injections; an IllegalStateException (rather than silent short
    * output) surfaces a corpus that will not flush. */
  def drainToCompletion(start: () => org.apache.spark.sql.streaming.StreamingQuery,
      injectSentinel: Int => Unit, residualStateRows: Long = 1L,
      maxAttempts: Int = 3): Unit = {
    var attempt = 0
    var residual = Long.MaxValue
    var done = false
    while (!done) {
      val q = start()
      q.awaitTermination()
      // the LAST progress entry that actually carries state metrics: a
      // trailing no-data batch can report an empty stateOperators array,
      // and a run with zero batches reports no progress at all — both
      // mean "state not observed", which must read as residual, never
      // as flushed
      residual = q.recentProgress.reverse.collectFirst {
        case p if p.stateOperators.nonEmpty =>
          p.stateOperators.map(_.numRowsTotal).sum
      }.getOrElse(Long.MaxValue)
      if (residual <= residualStateRows) done = true
      else if (attempt >= maxAttempts)
        throw new IllegalStateException(
          s"finite drain still holds $residual state rows after " +
            s"$maxAttempts sentinel injections (floor $residualStateRows) — " +
            "the source is not flushing; check watermark column/threshold")
      else { attempt += 1; injectSentinel(attempt) }
    }
  }

  private val ProviderConf = "spark.sql.streaming.stateStore.providerClass"

  /** Drain the finite stream `out`, read from the corpus table `source`
    * of `sfDir`, to completion and hand back the result as a batch
    * DataFrame.
    *
    * One probe of the source's bytes sizes the drain; both settings are
    * snapshotted by the query at start(), pinned for the drain and
    * restored after. Neither a constant nor the host CPU count is the
    * right dial, and the probe reads the table the stream ACTUALLY
    * reads — sizing a documents drain off events bytes would track the
    * wrong input. Production replaces the probe with source stats,
    * same sizing rules:
    *  - STATE PARTITIONS: ~2 MB of compressed source per partition,
    *    clamped to [4, 16]. Measured both failure modes at sf0.1×10
    *    (19 MB of events): pinned at 4, the session-window merge
    *    serializes (9.7 s, vs 6.7 s at 8+); at the session default of
    *    32, per-partition state-store commits dominate (a stream-stream
    *    join keeps FOUR stores per partition: 9.1 s vs 3.0 s for the
    *    same 10× join).
    *  - STATE-STORE PROVIDER: above ~64 MB of compressed source, the
    *    RocksDB provider (ships with Spark; state lives in native
    *    memory + local disk) instead of the default HDFS-backed store,
    *    which holds every partition's FULL key map on the JVM heap —
    *    and in local mode every partition shares ONE heap, so
    *    partition count cannot spread the state the way a cluster
    *    does. Measured: the r10 full-suite 100× sweep (183 MB events,
    *    ~5 M distinct dropDuplicates keys) OOM'd an 8 GB heap in
    *    `stream_dedup`'s drain under the in-heap store and passes under
    *    RocksDB; at ≤25× (≤46 MB) the in-heap store is measured fine
    *    and stays — its per-batch commit is cheaper at micro-state
    *    sizes, the same trade the partition clamp encodes. On a real
    *    cluster the dial is the same, just per executor. */
  private def runToCompletion(spark: SparkSession, sfDir: String, out: DataFrame,
      prefix: String, mode: OutputMode = OutputMode.Complete(),
      source: String = "events", rowScaled: Boolean = false,
      perBatch: Option[DataFrame => DataFrame] = None): DataFrame = {
    val name = s"${prefix}_${runSeq.incrementAndGet()}"
    val bytes = graft.sources.Tables.tableBytes(spark, sfDir, source)
    val partitions = math.max(4, math.min(16, (bytes / (2L << 20)).toInt))
    val stateProvider =
      if (bytes > (64L << 20))
        Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else None
    // SINK CHOICE is a scale contract: the memory sink materializes
    // every output row in the DRIVER heap as a local relation, and a
    // local relation re-parallelizes by EMBEDDING its rows in task
    // binaries — fine for aggregate-sized output (windows, type×band
    // cells), an OOM class for row-scaled output. The 100× sweep
    // measured it: stream_sessionize's ~5 M session rows serialized as
    // ~19 MB tasks and killed an 8 GB heap that the same drain survives
    // distributively. Row-scaled drains (rowScaled = true: sessions,
    // join matches, distinct keys, per-doc verdicts) therefore drain
    // through foreachBatch into a parquet spool and are read back
    // distributed — the finite-drain analog of [[startFileSink]], the
    // production wiring; output never lands on the driver.
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevProv = spark.conf.getOption(ProviderConf)
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    stateProvider.foreach(spark.conf.set(ProviderConf, _))
    // Complete mode re-emits the full table per batch → overwrite;
    // Append emits each row exactly once → append. (No registered
    // drain uses Update, whose key-replacement semantics a blind
    // append would corrupt.) Guard BEFORE creating the spool dir.
    if (rowScaled) require(mode != OutputMode.Update(),
      "row-scaled spool drain supports Complete/Append only")
    require(perBatch.isEmpty || rowScaled,
      "perBatch finishing runs in the foreachBatch spool path only")
    // prefix-keyed: the grandparent run's spool for THIS drain is
    // reclaimed now, and the context's stop removes the rest
    val spool = if (rowScaled) Some(freshSpoolDir(spark, prefix)) else None
    try {
      val base = out.writeStream
        .queryName(name)
        .outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      val q = spool match {
        case Some(dir) =>
          // batch-keyed layout makes the spool IDEMPOTENT under
          // micro-batch re-execution (the durable-checkpoint/restart
          // case): a replayed batch OVERWRITES its own batch_<id>
          // subdir instead of silently appending duplicates. Complete
          // mode re-emits the full table per batch, so it converges on
          // one fixed subdir; Append emits each row in exactly one
          // batch, so batch subdirs partition the output.
          base.foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
            val sub = if (mode == OutputMode.Complete()) "state"
                      else s"batch_$batchId"
            // perBatch: stateless BATCH-side finishing step applied to
            // each micro-batch before it lands in the spool — the
            // foreachBatch upsert/rollup idiom. Only sound when the
            // rollup's keys cannot span micro-batches (e.g. per-doc
            // aggregation of chunk rows that a single input row
            // generated); the caller owns that argument.
            perBatch.fold(batch.toDF())(f => f(batch.toDF()))
              .write.mode("overwrite").parquet(s"$dir/$sub")
          }.start()
        case None => base.format("memory").start()
      }
      q.awaitTermination()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      if (stateProvider.isDefined) prevProv match {
        case Some(p) => spark.conf.set(ProviderConf, p)
        case None => spark.conf.unset(ProviderConf)
      }
    }
    spool match {
      // explicit schema: an empty drain leaves no files and inference
      // would fail; with the plan's schema an empty dir reads as an
      // empty frame, matching the memory sink's behavior. Recursive
      // lookup flattens the batch-keyed subdirs without inventing a
      // partition column from their names.
      case Some(dir) => spark.read
        // perBatch reshapes the spooled rows; derive the read-back
        // schema by applying it to an empty frame of the plan's schema
        .schema(perBatch.fold(out.schema)(f => f(
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            out.schema)).schema))
        .option("recursiveFileLookup", "true").parquet(dir)
      case None => spark.table(name)
    }
  }

  /** Driver-contract entry for the streaming path: run the events
    * parquet through the FILE-SOURCE streaming pipeline
    * ([[corpusEventsSource]] → [[windowedCounts]]) to completion — the
    * incremental twin of `events_tumbling`, sharing its oracle, so
    * streaming correctness is visible to the driver and not only to
    * `sbt test`. Production wiring with a durable sink + checkpoint is
    * [[startFileSink]]. */
  def tumblingViaStream(spark: SparkSession, sfDir: String): DataFrame =
    runToCompletion(spark, sfDir,
      windowedCounts(corpusEventsSource(spark, sfDir)), "graft_stream_tumbling")
      .orderBy("window_start", "event_type")

  /** Sliding-window twin of `events_sliding` through the streaming
    * path: 1 h windows sliding every 30 min (each event lands in two
    * windows — the overlap is produced by the window operator's state,
    * not by input duplication), drained to completion and sharing the
    * batch query's oracle. Completes the stream/batch parity matrix
    * alongside tumbling, session, join and dedup state. */
  def slidingViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Deterministic.{qsum, rd}
    val slid = corpusEventsSource(spark, sfDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"), rd(qsum(col("value"), 6), 4).as("sum_value"))
      .select(col("w.start").as("window_start"), col("n"), col("sum_value"))
    runToCompletion(spark, sfDir, slid, "graft_stream_sliding")
      .orderBy("window_start")
  }

  /** The watermarked session aggregation shared by
    * [[sessionizeViaStream]] and the checkpoint-recovery spec: 30-min
    * gap sessions per user with the quantized value sum. Works on a
    * batch frame too (session_window is batch-capable), which is what
    * lets the recovery spec compare stream-after-restart against the
    * identical batch expression. */
  def sessionAgg(events: DataFrame): DataFrame = {
    import graft.functions.Deterministic.{qsum, rd}
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("session_start"),
        max("ts").as("session_last"),
        rd(qsum(col("value"), 6), 4).as("session_value"))
      .select("user_id", "session_start", "session_last", "n_events", "session_value")
  }

  /** Second driver-contract streaming entry: gap-based sessionization
    * through the stateful `session_window` streaming operator (state
    * merges sessions as events arrive), drained to completion — the
    * incremental twin of `events_sessionize` with the same columns and
    * oracle. Exercises session-merge state, not just keyed windows. */
  def sessionizeViaStream(spark: SparkSession, sfDir: String): DataFrame =
    runToCompletion(spark, sfDir, sessionAgg(corpusEventsSource(spark, sfDir)),
      "graft_stream_sessionize",
      rowScaled = true) // one row per (user, session): grows with input
      .orderBy("user_id", "session_start")

  /** Third driver-contract streaming entry: the stream-stream inner
    * join ([[clickPurchaseJoin]]) over the corpus events, drained to
    * completion — exercises JOIN state (both sides buffered, evicted by
    * watermark + range condition), a different stateful operator than
    * the windowed-agg and session entries. Inner-join results are
    * emitted eagerly on match (append mode; the watermark only bounds
    * state, it never holds rows back), so the drained result equals the
    * batch join over all input. Both sides derive from one source
    * (a streaming self-join); purchase_value is rounded here, not in
    * the library operator, because rounding is a compare-convention of
    * the driver contract, not join semantics. */
  def clickAttributionViaStream(spark: SparkSession, sfDir: String,
      maxCandidatePairs: Long = graft.operators.Events.defaultCandidateBudget): DataFrame = {
    import graft.functions.Deterministic.rd
    // TWO-PRICE guard (r12, closing the last unguarded quadratic). The
    // join owes two different quadratic quantities, and skew can blow
    // either one independently:
    //  - OUTPUT: candidate (click, purchase) pairs within the window,
    //    priced exactly from the (user, window-bucket) occupancy
    //    histograms — what the sink must absorb.
    //  - STATE SCAN: the symmetric hash join stores every row of a key
    //    and scans the key's whole state list per probe row; the time
    //    predicate is evaluated AFTER the scan, and watermark eviction
    //    lags a finite drain's coarse batches — so the real streaming
    //    cost is the WORST KEY's unwindowed clicks × purchases product,
    //    serial on one core. The r12 skew measurement is the proof the
    //    windowed price alone is not enough: windowed candidates 9.0 M
    //    (admitted) while the hot keys' state products (~4×10⁸) pinned
    //    the drain for 314 s.
    // Both prices come from occupancy-sized aggregates BEFORE any
    // stream starts (no event join; memoized per corpus fingerprint
    // like the range-join guard); refuse past budget on EITHER, naming
    // the linear interface, so the refusal fires by mechanism.
    val est = clickPurchaseCandidateCount(spark, sfDir)
    val stateProd = clickPurchaseStateProduct(spark, sfDir)
    if (math.max(est, stateProd) > maxCandidatePairs)
      throw new graft.operators.PairExplosionException(
        s"clickAttributionViaStream would examine ~$est windowed candidate " +
          s"(click, purchase) pairs with a worst-key state-scan product of " +
          s"~$stateProd (budget $maxCandidatePairs, override " +
          "via SPARK_GRAFT_MAX_PAIRS or the maxCandidatePairs parameter). " +
          "The all-pairs stream-stream join is quadratic in per-user " +
          "occupancy BY CONTRACT; on skewed corpora consume the LINEAR " +
          "attribution interface instead: EventStream.lastClickAttribution " +
          "(stream_last_click) — one latest-click state row per user, one " +
          "output row per attributed purchase.")
    val src = corpusEventsSource(spark, sfDir)
    val joined = clickPurchaseJoin(
      src.filter(col("event_type") === "click"),
      src.filter(col("event_type") === "purchase"))
    val rounded = joined.withColumn("purchase_value", rd(col("purchase_value"), 4))
    runToCompletion(spark, sfDir, rounded, "graft_stream_attribution", OutputMode.Append(),
      rowScaled = true) // one row per click→purchase match: grows with input
      .orderBy("click_id", "purchase_id")
  }

  // per-key futures (graft.sources.Memo): the pricing aggregates run
  // outside any map bin lock — computeIfAbsent would hold it for the
  // Spark job's duration and serialize unrelated keys in the same bin
  private val attributionEstimateCache =
    graft.sources.Memo.newCache[(String, Int)]
  private val attributionStateProductCache =
    graft.sources.Memo.newCache[String]

  /** Worst-key state-scan price, memoized per corpus fingerprint — see
    * [[clickPurchaseStateProductOf]]. */
  private[graft] def clickPurchaseStateProduct(spark: SparkSession,
      sfDir: String): Long = {
    val key = graft.sources.ArtifactCache.fingerprint(
      spark, s"$sfDir/events.parquet")
    graft.sources.Memo.once(attributionStateProductCache, key) {
      clickPurchaseStateProductOf(
        graft.sources.Tables.events(spark, sfDir))
    }
  }

  /** The streaming join's per-key SERIAL cost: max over users of
    * (total clicks × total purchases). Deliberately UNWINDOWED — the
    * state a probe row scans is bounded only by watermark eviction,
    * which lags a finite drain's coarse batches (and a hot key whose
    * clones share timestamps keeps its whole history inside retention
    * anyway), so the windowed candidate count can stay small while one
    * key's state scan is quadratic: measured on the skewed-1000×
    * corpus, 9.0 M windowed candidates vs ~4×10⁸ worst-key product and
    * a 314 s single-core pin. One per-user aggregate, no event join. */
  private[graft] def clickPurchaseStateProductOf(events: DataFrame): Long =
    events.filter(col("event_type").isin("click", "purchase"))
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"))
      .agg(coalesce(max(col("c") * col("p")), lit(0L)))
      .head().getLong(0)

  /** The stream-stream attribution join's guard price, memoized per
    * (corpus fingerprint, window) — the stat a catalog would keep.
    * See [[clickPurchaseCandidateCountOf]] for the arithmetic. */
  private[graft] def clickPurchaseCandidateCount(spark: SparkSession,
      sfDir: String, windowMinutes: Int = 60): Long = {
    val key = (graft.sources.ArtifactCache.fingerprint(
      spark, s"$sfDir/events.parquet"), windowMinutes)
    graft.sources.Memo.once(attributionEstimateCache, key) {
      clickPurchaseCandidateCountOf(
        graft.sources.Tables.events(spark, sfDir), windowMinutes)
    }
  }

  /** Candidate (click, purchase) pairs within ±window per user, priced
    * EXACTLY from the (user, window-sized time bucket) click/purchase
    * histograms: Σ over (u, b) of clicks(u,b) · (purchases(u,b−1) +
    * purchases(u,b) + purchases(u,b+1)). Any pair with |purchase_ts −
    * click_ts| ≤ window lands in adjacent buckets, so this bounds the
    * join's output from above AND tracks the per-key state product that
    * is the streaming hazard (the hot key's state list is scanned per
    * probe row — on the skewed corpus all ~10⁶ clone events share ONE
    * timestamp, i.e. one bucket, so the blowup is priced exactly). Cost
    * is two occupancy-sized aggregates and an occupancy join — no
    * event-level pair ever materializes. */
  private[graft] def clickPurchaseCandidateCountOf(events: DataFrame,
      windowMinutes: Int): Long = {
    val winUs = windowMinutes * 60L * 1000000L
    def hist(eventType: String) = events
      .filter(col("event_type") === eventType)
      .select(col("user_id"),
        expr(s"unix_micros(ts) div ${winUs}L").as("bucket"))
      .groupBy("user_id", "bucket").agg(count(lit(1)).as("n"))
    val clicks = hist("click")
    val purchases = hist("purchase")
      .select(col("user_id"), col("n").as("n_p"),
        explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1))
          .as("bucket"))
    clicks.join(purchases, Seq("user_id", "bucket"))
      .agg(coalesce(sum(col("n") * col("n_p")), lit(0L)))
      .head().getLong(0)
  }

  /** Fourth driver-contract streaming entry: keyed DE-DUPLICATION
    * through `dropDuplicates` state — the remaining stateful operator
    * class after windowed aggs, session merge, and join state. Emits
    * each distinct (user, type, hour) key once, on first arrival;
    * the output is exactly the batch DISTINCT of those columns, which
    * is what makes it oracle-stable (emitting whole first-seen ROWS
    * would tie the result to arrival order). No watermark here: a
    * finite drain must not drop late keys, and its state is the
    * distinct-key set, already bounded. The unbounded-stream variant
    * is [[dedupedEvents]] (`dropDuplicatesWithinWatermark`), where
    * state eviction is the point. */
  def dedupViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    val keys = corpusEventsSource(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        date_trunc("hour", col("ts")).as("hour_start"))
      .dropDuplicates("user_id", "event_type", "hour_start")
    runToCompletion(spark, sfDir, keys, "graft_stream_dedup", OutputMode.Append(),
      rowScaled = true) // one row per distinct key: ~5 M at 100×
      .orderBy("user_id", "event_type", "hour_start")
  }

  /** Fifth driver-contract streaming entry: STREAM-STATIC enrichment —
    * the events stream joins a broadcast batch dimension (per-user
    * activity profile computed from the batch table) inside the
    * streaming plan, then aggregates per (event type, activity band).
    * The static side is planned as a broadcast hash join against every
    * micro-batch: no stream state for the join at all, which is what
    * distinguishes this class from the stream-stream join
    * ([[clickAttributionViaStream]]). At 100 TB the profile is a
    * catalog dimension refreshed out-of-band; each micro-batch reads
    * the current version. */
  def staticEnrichViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Deterministic.{qsum, rd}
    val profile = graft.sources.Tables.events(spark, sfDir)
      .groupBy("user_id").agg(count(lit(1)).as("user_events"))
    val banded = enrichWithUserProfile(corpusEventsSource(spark, sfDir), profile)
      .withColumn("band",
        when(col("user_events") >= 70, lit("heavy")).otherwise(lit("light")))
      .groupBy("event_type", "band")
      .agg(count(lit(1)).as("n"), rd(qsum(col("value"), 6), 4).as("sum_value"))
    runToCompletion(spark, sfDir, banded, "graft_stream_enrich")
      .orderBy("event_type", "band")
  }

  /** Sixth driver-contract streaming entry: CONTINUOUS-INGEST document
    * dedup — an arriving documents stream probes the PRIOR corpus's
    * exact-fingerprint index (the
    * [[graft.operators.Dedup.incrementalDedupOf]] posture, streamified)
    * via a STREAM-STATIC join: the index is a batch frame broadcast
    * against every micro-batch, and the stream keeps NO state at all
    * (append mode, no watermark — each arrival's verdict depends only
    * on itself and the index). Odd doc_ids arrive against the even-id
    * prior, the same deterministic split as `dedup_incremental`.
    * Deliberately UNLIKE the batch operator, each arrival is scored
    * independently — within-batch duplicate resolution is stateful
    * (`dropDuplicates` state, [[dedupViaStream]]'s device) and is left
    * out so this query demonstrates the stateless class; the oracle is
    * therefore the plain index probe. At 100 TB/day the index is a
    * catalog artifact refreshed out-of-band (ids + 16-byte hashes);
    * document text never enters join state — and the index here IS the
    * stored artifact ([[graft.operators.Dedup.fingerprintIndex]], r15),
    * the same parquet the batch probe reads, not a per-query rescan of
    * the prior corpus. */
  def docDedupViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.TextAnalysis.normText
    val path = s"$sfDir/documents.parquet"
    val priorIdx = graft.operators.Dedup.fingerprintIndex(spark, sfDir)
    // same glob + basePath device as corpusEventsSource: the table is a
    // bare parquet file, and the streaming file source wants a listing
    val arrivals = spark.readStream
      .schema(graft.sources.Tables.parquet(spark, path).schema)
      .option("basePath", sfDir)
      .parquet(path + "*")
      .filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), md5(normText(col("text"))).as("fingerprint"))
    val verdicts = arrivals
      .join(broadcast(priorIdx), Seq("fingerprint"), "left_outer")
      .select(col("doc_id"), col("fingerprint"), col("dup_of"),
        col("dup_of").isNull.as("is_new"))
    runToCompletion(spark, sfDir, verdicts, "graft_stream_doc_dedup",
      OutputMode.Append(),
      source = "documents",
      rowScaled = true) // one verdict per arriving doc: grows with input
      .orderBy("doc_id")
  }

  /** Seventh driver-contract streaming entry: CONTINUOUS-INGEST
    * chunk-grain dedup — [[docDedupViaStream]]'s stateless posture
    * lowered to chunk grain, the streaming twin of
    * [[graft.operators.Dedup.chunkDedupIncremental]]. Arriving
    * documents are chunked and fingerprinted ROW-LOCALLY in the stream
    * (a stateless flatMap — every chunk row of a doc is generated from
    * that doc's single input row inside one micro-batch), probed via a
    * STREAM-STATIC broadcast join against the STORED chunk-keeper
    * index ([[graft.operators.Dedup.chunkKeeperIndex]] — the same
    * parquet artifact the batch probe reads), and rolled up to the
    * per-arrival novelty verdict inside foreachBatch — the batch-side
    * finishing idiom, sound here because a doc never spans
    * micro-batches. No watermark, NO streaming state of any kind: the
    * state a naive design would keep (the seen-chunk set) lives in the
    * out-of-band index, which is the only posture that survives
    * 100 TB/day — chunk fingerprints of the full corpus cannot live in
    * a state store. Shares [[graft.operators.Dedup.chunkVerdictsFrom]]
    * / `chunkNoveltyRollup` with the batch operator, so stream/batch
    * parity holds by construction and the oracle is the batch query's.
    * Odd doc_ids arrive against the even-id prior, the same
    * deterministic split as `dedup_chunk_incremental`. */
  def chunkDedupViaStream(spark: SparkSession, sfDir: String,
      chunkSize: Int = 32): DataFrame = {
    val path = s"$sfDir/documents.parquet"
    val priorFps = graft.operators.Dedup
      .chunkKeeperIndex(spark, sfDir, chunkSize).select("chunk_fp")
    val arrivals = spark.readStream
      .schema(graft.sources.Tables.parquet(spark, path).schema)
      .option("basePath", sfDir)
      .parquet(path + "*")
      .filter(col("doc_id") % 2 === 1)
      .select("doc_id", "text")
    val verdicts = graft.operators.Dedup.chunkVerdictsFrom(
      arrivals, broadcast(priorFps), chunkSize)
    runToCompletion(spark, sfDir, verdicts, "graft_stream_chunk_dedup",
      OutputMode.Append(),
      source = "documents",
      rowScaled = true, // one verdict per arriving doc after the rollup
      perBatch = Some(graft.operators.Dedup.chunkNoveltyRollup))
      .orderBy("doc_id")
  }

  /** Eighth driver-contract streaming entry: CONTINUOUS-INGEST
    * classifier INFERENCE — the streaming twin of
    * [[graft.operators.TextAnalysis.classifierScore]], completing the
    * stream/batch matrix for the trained quality model the way
    * [[chunkDedupViaStream]] completed it for chunk dedup. The learned
    * weights are a STORED 67-row artifact
    * ([[graft.operators.TextAnalysis.classifierWeights]] — trained
    * once per corpus snapshot, out of band); each arriving document is
    * featurized and scored against a BROADCAST of that table inside
    * foreachBatch. The stream itself keeps NO state and no watermark:
    * scoring a doc depends only on its own row and the static weights,
    * but the per-doc margin is an aggregation of that doc's feature
    * rows, which append mode cannot express statelessly — so the
    * rollup runs batch-side, sound for exactly the
    * [[chunkDedupViaStream]] reason (every feature row of a doc is
    * generated from the doc's single input row inside one
    * micro-batch; docs never span batches). The scorer is the SAME
    * code path the batch query runs
    * ([[graft.operators.TextAnalysis.classifierScoreWith]]), so
    * stream/batch parity holds by construction and the oracle is the
    * batch oracle restricted to the arriving half. At 100 TB/day this
    * is the shape that scales: weights are broadcast-sized forever,
    * per-batch work is linear in the batch, and retraining swaps the
    * artifact without touching the stream. */
  def classifierScoreViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/documents.parquet"
    val wtab = graft.operators.TextAnalysis.classifierWeights(spark, sfDir)
    val arrivals = spark.readStream
      .schema(graft.sources.Tables.parquet(spark, path).schema)
      .option("basePath", sfDir)
      .parquet(path + "*")
      .filter(col("doc_id") % 2 === 1)
      .select("doc_id", "text")
    runToCompletion(spark, sfDir, arrivals, "graft_stream_classifier",
      OutputMode.Append(),
      source = "documents",
      rowScaled = true, // one verdict per arriving doc
      perBatch = Some(b => graft.operators.TextAnalysis
        .classifierScoreWith(spark, sfDir, b, wtab)))
      .orderBy("doc_id")
  }

  /** foreachBatch escape hatch: arbitrary batch-side logic per
    * micro-batch (upserts, multi-sink fanout) with the batchId for
    * idempotence. */
  def startForeachBatch(events: DataFrame)(f: (DataFrame, Long) => Unit) =
    windowedCounts(events)
      .writeStream
      .foreachBatch(f)
      .outputMode("update")
      .start()

  /** Stream-stream join: clicks joined to purchases by the same user
    * within the attribution window (purchase no earlier than 1h before
    * the click, no later than the click). Watermarks on BOTH sides bound
    * the join state — without them state grows forever; with them rows
    * outside the watermark+range envelope are evicted. */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks
      .withWatermark("ts", "10 minutes")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val p = purchases
      .withWatermark("ts", "10 minutes")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") - expr("interval 1 hour") &&
        col("purchase_ts") <= col("click_ts"))
      .select("click_id", "user_id", "click_ts", "purchase_id", "purchase_ts", "purchase_value")
  }

  /** Stream-static join: the event stream enriched with a static
    * dimension (per-user profile built batch-side). The static side is
    * re-read per micro-batch — no state, broadcast-joined. */
  def enrichWithUserProfile(events: DataFrame, profile: DataFrame): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(profile), Seq("user_id"), "left_outer")

  /** Streaming exact dedup: keep the first occurrence of each event_id,
    * with state bounded by the watermark (duplicates are only possible
    * within the lateness horizon, so expired keys are dropped from
    * state — the streaming twin of Dedup.exact). */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  // --- custom state: running per-user counters with flatMapGroupsWithState ---

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class UserRunning(user_id: Long, n_events: Long, total_value: Double)
  case class OpenSession(start: Long, last: Long, n: Long)
  case class ClosedSession(user_id: Long, session_start: Timestamp,
      session_last: Timestamp, n_events: Long)

  /** Gap-sessionization with EXPLICIT state + event-time timeout — the
    * fully-custom form of what session_window does declaratively (kept
    * both: this one controls exactly when sessions close and what state
    * exists). A session closes either when a later in-batch event
    * exceeds the gap, or when the event-time timeout fires (watermark
    * passed last+gap). State per user is one O(1) OpenSession. */
  def sessionizeWithTimeout(events: Dataset[Ev], gapMinutes: Int = 30): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(uid, new Timestamp(s.start), new Timestamp(s.last), s.n))
          } else {
            val sorted = evs.toSeq.sortBy(_.ts.getTime)
            var open = state.getOption
            // accumulator for runs of far-late events (before the open
            // session's reach): they form their own sessions, merged
            // among themselves, emitted when the run breaks
            var lateOpen: Option[OpenSession] = None
            val closed = Seq.newBuilder[ClosedSession]
            def flushLate(): Unit = lateOpen.foreach { s =>
              closed += ClosedSession(uid, new Timestamp(s.start), new Timestamp(s.last), s.n)
              lateOpen = None
            }
            sorted.foreach { e =>
              val t = e.ts.getTime
              open match {
                // strictly within gap of the session's span — STRICT
                // bounds to match session_window (an event at exactly
                // last+gap starts a NEW session, same as the timeout)
                case Some(s) if t > s.start - gapMs && t < s.last + gapMs =>
                  flushLate()
                  open = Some(OpenSession(math.min(s.start, t), math.max(s.last, t), s.n + 1))
                // far-late: before the open session's reach — merge into
                // the late-run accumulator (consecutive late events that
                // are within gap of each other form ONE session)
                case Some(s) if t <= s.start - gapMs =>
                  lateOpen match {
                    case Some(ls) if t < ls.last + gapMs =>
                      lateOpen = Some(OpenSession(math.min(ls.start, t), math.max(ls.last, t), ls.n + 1))
                    case _ =>
                      flushLate()
                      lateOpen = Some(OpenSession(t, t, 1))
                  }
                // at/beyond the gap after the session: close it, open new
                case Some(s) =>
                  flushLate()
                  closed += ClosedSession(uid, new Timestamp(s.start), new Timestamp(s.last), s.n)
                  open = Some(OpenSession(t, t, 1))
                case None =>
                  open = Some(OpenSession(t, t, 1))
              }
            }
            flushLate()
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  case class LastClick(click_id: Long, click_ts: Timestamp)

  /** Microsecond-precision epoch of a Timestamp — getTime alone is
    * millis and silently truncates the corpus's microsecond stamps
    * (caught by the oracle compare: .884882 read back as .884000). */
  private def micros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
  case class Attribution(purchase_id: Long, user_id: Long,
      purchase_ts: Timestamp, purchase_value: Double,
      click_id: Long, click_ts: Timestamp)

  /** LAST-CLICK attribution — the LINEAR production interface to the
    * click→purchase question, and the skew-sweep fix for the all-pairs
    * join's hot-key blowup (r11): on the skewed-1000× corpus a single
    * user holds ~10⁶ events, and [[clickPurchaseJoin]] — whose contract
    * is EVERY (click, purchase) pair within the window — owes ~10¹¹
    * output rows on that one key (observed: the symmetric-hash-join
    * task pinned a core scanning the hot key's state list per probe
    * row; the drain never finishes). This operator answers what an
    * attribution pipeline actually asks — each purchase's LATEST click
    * at-or-before it within the window — with state = ONE (click_id,
    * ts) per user and output = one row per attributed purchase, both
    * linear at any skew.
    *
    * Semantics (single-sourced with the DuckDB oracle): per user,
    * events process in event-time order (ties: clicks before purchases
    * at the same timestamp, then event_id asc — so a same-ts click is
    * attributable and the LARGEST click_id wins a ts tie); a purchase
    * emits iff the latest click so far lies in [purchase_ts − window,
    * purchase_ts] — both bounds enforced against state, so a purchase
    * arriving after a LATER click overwrote its proper click drops
    * rather than mis-attributing forward in time. Cross-batch the
    * state carries the max-(ts, id) click, so late PURCHASES attribute
    * correctly; a click arriving after a purchase it should have
    * attributed is the documented single-pass trade (the finite
    * AvailableNow drain sees the corpus as one in-order batch, where
    * the operator equals the batch SQL).
    * State EVICTS by event-time timeout once the watermark passes the
    * stored click by 2×window — bounded by recently-active users, not
    * by every user ever seen. */
  def lastClickAttribution(events: Dataset[Ev],
      windowMinutes: Int = 60): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    val winUs = windowMinutes * 60000000L
    val winMs = windowMinutes * 60000L
    events
      .filter(e => e.event_type == "click" || e.event_type == "purchase")
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastClick, Attribution](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[LastClick]) =>
          if (state.hasTimedOut) {
            // the stored click is > 2×window behind the watermark: no
            // in-order purchase can attribute to it anymore — evict, so
            // state is bounded by RECENTLY-ACTIVE users, not all users
            // ever seen (the 100 TB posture; inert on a finite
            // AvailableNow drain, which times nothing out)
            state.remove()
            Iterator.empty
          } else {
            val sorted = evs.toSeq.sortBy(e =>
              (micros(e.ts), if (e.event_type == "click") 0 else 1, e.event_id))
            var last = state.getOption
            val out = Seq.newBuilder[Attribution]
            sorted.foreach { e =>
              if (e.event_type == "click") {
                if (last.forall(l => micros(l.click_ts) < micros(e.ts) ||
                    (micros(l.click_ts) == micros(e.ts) && l.click_id <= e.event_id)))
                  last = Some(LastClick(e.event_id, e.ts))
              } else {
                // BOTH window bounds: the lower cut is the attribution
                // window; the UPPER cut (click at-or-before purchase)
                // matters cross-batch, where state can hold a click
                // LATER than an on-time purchase still inside the
                // lateness allowance (purchase_ts ∈ [watermark, stored
                // click_ts)) — without it that purchase would attribute
                // to a FUTURE click, violating the contract and the
                // oracle's c.ts <= p.ts predicate. Such a purchase now
                // drops (its proper click was overwritten — the
                // documented single-pass trade), never mis-attributes.
                last.filter(l => micros(l.click_ts) <= micros(e.ts) &&
                    micros(l.click_ts) >= micros(e.ts) - winUs)
                  .foreach { l =>
                    out += Attribution(e.event_id, uid, e.ts, e.value,
                      l.click_id, l.click_ts)
                  }
              }
            }
            last.foreach { l =>
              state.update(l)
              // 2×window past the click (clamped above the watermark,
              // which setTimeoutTimestamp requires): late purchases up
              // to the lateness allowance still find the click
              state.setTimeoutTimestamp(math.max(
                l.click_ts.getTime + 2L * winMs,
                state.getCurrentWatermarkMs() + winMs))
            }
            out.result().iterator
          }
      }
  }

  /** Driver-contract entry for last-click attribution: the corpus
    * events drained through [[lastClickAttribution]]. Row-scaled (one
    * row per attributed purchase) → parquet spool. */
  def lastClickViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Deterministic.rd
    val out = lastClickAttribution(corpusEventsSource(spark, sfDir).as[Ev])
      .toDF()
      .withColumn("purchase_value", rd(col("purchase_value"), 4))
    runToCompletion(spark, sfDir, out, "graft_stream_lastclick", OutputMode.Append(),
      rowScaled = true)
      .orderBy("purchase_id")
  }

  /** Custom stateful operator: running per-user event count + value sum,
    * emitting the updated running totals every micro-batch. State is one
    * small case class per user — O(users) memory across the cluster. */
  def runningUserTotals(events: Dataset[Ev]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          evs.foreach { e => n += 1; tot += e.value }
          val next = UserRunning(userId, n, math.round(tot * 10000.0) / 10000.0)
          state.update(next)
          Iterator.single(next)
      }
  }
}
