package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities for joins whose key distribution has hot
  * keys (the 100-TB failure mode AQE's skew-join handles only for
  * sort-merge shuffles; salting also covers aggregations and works when
  * AQE is off or the skew is extreme).
  *
  * ==When to use which: manual salt vs AQE's runtime skew split==
  *
  * Spark's own `OptimizeSkewedJoin` (`spark.sql.adaptive.skewJoin.*`,
  * ON by default) detects oversized shuffle partitions at runtime and
  * splits them into map-output ranges, replicating the matching
  * partition of the other side — for a plain shuffled equi-join it
  * SUBSUMES [[saltedJoin]]: same row multiplication, no replicated-dim
  * write amplification, no plan rewrite, and it sizes the split from
  * the real runtime bytes instead of a guessed bucket count
  * (ScaleToolsSpec proves the split fires and returns bit-identical
  * rows on a 90%-hot-key fixture). **Prefer AQE when** the join is a
  * sort-merge/shuffled-hash equi-join and the skew shows up as
  * partition BYTES above `skewedPartitionThresholdInBytes` (256 MB
  * default — exactly the shape a 100 TB hot key takes).
  *
  * **Reach for the manual salt when AQE's rule cannot fire:**
  *  - the skew is in an AGGREGATION, not a join — `OptimizeSkewedJoin`
  *    only rewrites joins; a hot group key needs the (key, salt)
  *    two-phase trick (or a partial-pushdown agg, which Spark already
  *    map-side combines);
  *  - Structured Streaming — AQE does not re-plan stateful streaming
  *    joins, so [[salt]] is the only lever there;
  *  - COMPUTE skew with small bytes — a key whose rows are cheap to
  *    store but expensive to process (heavy UDF, wide explode) never
  *    crosses the byte threshold yet still pins a reducer;
  *  - the split would add an exchange AQE refuses to insert (the
  *    join's output partitioning is reused by a parent and
  *    `forceOptimizeSkewedJoin` is off);
  *  - AQE is disabled, or the engine replaying the plan lacks it.
  *
  * Use [[heavyKeys]] first either way: it tells you whether a hot key
  * exists and how hot, which decides the bucket count (or confirms the
  * default AQE thresholds will catch it).
  *
  * Salted join: the skewed (large) side gets a random-ish but
  * DETERMINISTIC salt in [0, buckets) derived from row content; the
  * small side is replicated `buckets` times with every salt value. The
  * join key becomes (key, salt), splitting each hot key's row group
  * across `buckets` reducers. Replication cost: |right| × buckets —
  * use for dimension-sized right sides.
  */
object SkewTools {

  /** Deterministic per-row salt (content-hashed, stable across runs —
    * keeps query results reproducible, unlike rand()). */
  def salt(buckets: Int, cols: Column*): Column =
    pmod(xxhash64(cols: _*), lit(buckets))

  /** Inner equi-join of `left` (skewed, large) with `right` (small) on
    * `key`, salted into `buckets` sub-keys. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      buckets: Int, saltSource: Seq[String]): DataFrame = {
    val l = left.withColumn("__salt",
      salt(buckets, saltSource.map(left(_)): _*))
    // generator must stand alone (no enclosing cast) — build long salts
    val r = right.withColumn("__salt",
      explode(sequence(lit(0L), lit((buckets - 1).toLong))))
    l.join(r, Seq(key, "__salt")).drop("__salt")
  }

  /** Driver-contract query THROUGH the salted path: enrich every event
    * with its user's activity count via [[saltedJoin]] (events = the
    * "skewed" large side, per-user counts = the replicated dim), then
    * aggregate per event type. Salting must be semantics-free — the
    * oracle is the PLAIN join+agg SQL, so the driver hash-check proves
    * the salted plan returns exactly what the unsalted one would,
    * which is the entire point of the technique (same trick at 100 TB:
    * hot-key row groups split across `buckets` reducers, results
    * unchanged). */
  def saltedUserEnrich(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, buckets: Int = 8): DataFrame = {
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select("event_id", "user_id", "event_type")
    val dim = ev.groupBy("user_id")
      .agg(count(lit(1)).as("user_events"))
    saltedJoin(ev, dim, "user_id", buckets, Seq("event_id"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("user_events") >= 70, 1L).otherwise(0L)).as("n_heavy_events"),
        count_distinct(when(col("user_events") >= 70, col("user_id"))).as("n_heavy_users"))
      .orderBy("event_type")
  }

  /** Hot-key detector via a Count-Min-Sketch guard — the measurement
    * half of skew mitigation (find the keys worth salting BEFORE the
    * join melts a reducer), and the classic two-pass bounded-memory
    * heavy-hitter. Pass 1 builds ONE fixed-size CMS over the key
    * column (`df.stat.countMinSketch`: map-side partial sketches merge
    * into an O(eps⁻¹·depth) counter array — fixed memory regardless of
    * key cardinality); pass 2 filters the rows through the broadcast
    * sketch BEFORE the exact groupBy, so the count shuffle carries
    * only candidate keys, not the full key dictionary.
    *
    * CMS never underestimates, so the guard admits a SUPERSET of the
    * true hot keys and the exact `cnt >= threshold` recount decides:
    * the output is bit-identical to the ungated groupBy+HAVING — the
    * Bloom-guarded-decontamination device (a semantics-free
    * approximate guard, verified exact), which is what lets the plain
    * SQL oracle hash-verify an operator built on a sketch. The
    * estimate probe is a Scala UDF because no built-in CMS-probe
    * expression exists (the Bloom `mightContainLong` justification);
    * it gates a filter only, never a value.
    *
    * The threshold is MEAN-RELATIVE (`factor ×` the average rows per
    * key) — SF-invariant where an absolute count or a share-of-total
    * cut degenerates as data or cardinality grows. The anchors are TWO
    * scalar jobs at plan-build time (q15's device, each one pruned
    * single-column scan): sketch+total in one aggregation, the
    * distinct-key count in another. They deliberately stay separate —
    * putting `count_distinct` next to the sketch (a
    * TypedImperativeAggregate) triggers Catalyst's Expand-based
    * distinct rewrite, which re-runs the sketch update over the
    * expanded rows on the sort-agg path: measured 17 s vs 0.9 s for
    * the two separate jobs at sf0.1. NULL keys bypass the sketch and
    * go straight to the exact recount (the sketch cannot represent
    * them; passing them through preserves "no false negatives", and
    * the exact cut still decides).
    *
    * The hot-key report materializes eagerly via
    * [[graft.sources.ArtifactCache.detach]] (distributed checkpoint
    * blocks — a broad-skew key distribution that puts many keys above
    * the cut stays big-but-distributed, never a driver collect) so the
    * CMS broadcast can be DESTROYED before returning instead of
    * leaking one broadcast per call across a long-lived session; the
    * truncated lineage is what makes the destroy safe. */
  def heavyKeys(df: DataFrame, keyCol: String, factor: Double = 1.2,
      eps: Double = 1e-4, confidence: Double = 0.99,
      seed: Int = 42): DataFrame = {
    val (report, bc) = heavyKeysLazy(df, keyCol, factor, eps, confidence, seed)
    try graft.sources.ArtifactCache.detach(report)
    finally bc.destroy()
  }

  /** The un-materialized guarded plan + its CMS broadcast — split out
    * so the plan-shape spec can assert the guard sits below the count
    * exchange; callers must destroy the broadcast when done (the
    * public [[heavyKeys]] does). */
  private[graft] def heavyKeysLazy(df: DataFrame, keyCol: String,
      factor: Double = 1.2, eps: Double = 1e-4, confidence: Double = 0.99,
      seed: Int = 42): (DataFrame,
      org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.CountMinSketch]) = {
    val keys = df.select(keyCol)
    // Column-API aggregate (not an expr() string): immune to key names
    // that would need backtick-quoting in SQL text (dots, spaces).
    // The two anchors stay SEPARATE jobs (the Expand hazard documented
    // above) but run CONCURRENTLY (r17, guide §2.6) — they are
    // independent scalar reductions over the same pruned column.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val anchorF = Future { keys.agg(
      count_min_sketch(col(keyCol), lit(eps), lit(confidence), lit(seed)),
      count(col(keyCol))).head() }
    val nKeysF = Future {
      keys.agg(count_distinct(col(keyCol))).head().getLong(0) }
    val anchor = Await.result(anchorF, Duration.Inf)
    val total = anchor.getLong(1)
    val nKeys = Await.result(nKeysF, Duration.Inf)
    val threshold =
      if (nKeys == 0L) Long.MaxValue // empty input: nothing is hot
      else math.max(1L, math.ceil(factor * total / nKeys).toLong)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(anchor.getAs[Array[Byte]](0)))
    val bc = keys.sparkSession.sparkContext.broadcast(cms)
    // probe typed per key column — a single Long-typed UDF would force
    // an implicit cast that NULLs out string keys and silently drops
    // every row. Boxed inputs keep NULL keys visible; they always pass.
    val guard = keys.schema(keyCol).dataType match {
      case org.apache.spark.sql.types.LongType =>
        udf((k: java.lang.Long) =>
          k == null || bc.value.estimateCount(k.longValue()) >= threshold)
      case org.apache.spark.sql.types.IntegerType =>
        udf((k: java.lang.Integer) =>
          k == null || bc.value.estimateCount(k.longValue()) >= threshold)
      case org.apache.spark.sql.types.StringType =>
        udf((k: String) =>
          k == null || bc.value.estimateCount(k) >= threshold)
      case dt => sys.error(
        s"heavyKeys supports bigint/int/string keys, got ${dt.catalogString}")
    }
    (keys.filter(guard(col(keyCol)))
      .groupBy(keyCol).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= threshold)
      .orderBy(desc("cnt"), asc(keyCol)), bc)
  }

  /** Driver-contract query: users with ≥1.2× the mean event count —
    * the hot keys [[saltedUserEnrich]] exists to survive. */
  def heavyUsers(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame =
    heavyKeys(graft.sources.Tables.events(spark, sfDir), "user_id")
}
