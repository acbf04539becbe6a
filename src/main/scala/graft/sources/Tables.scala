package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Central table catalog over the driver-generated parquet star schema.
  *
  * Replaces the reference's only "source": a byte-range-chunked HDFS text
  * scan (`slave.cc:56-89`) whose split planning was hand-rolled in
  * `master.cc:190-217`. Spark's `FileSourceScanExec` plans splits from
  * parquet row-groups natively (vectorized reader, column pruning,
  * predicate pushdown), so the source layer here is a thin catalog.
  *
  * At 100 TB these reads scale because: (a) parquet scans split by
  * row-group so 1000 executors each get balanced work; (b) column pruning
  * and predicate pushdown reach the scan (verify via
  * `.explain("formatted")` → `ReadSchema` / `PushedFilters`); (c) nothing
  * here ever collects to the driver.
  *
  * Every read goes through [[parquet]], which memoizes each path's
  * footer schema JVM-wide, keyed by the path's file fingerprint (names,
  * lengths, mtimes) and the schema-relevant parquet confs: a query
  * construction after the first read of its tables starts no Spark job.
  * The memo holds one entry per path (bounded by the tables and
  * artifacts the JVM reads), and a layout or conf change is a miss.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Small dimension tables — always broadcast them in joins. */
  val smallDims: Set[String] = Set("region", "nation", "supplier", "customer", "part")

  /** Deterministic redistribution keys for the conditional scan-
    * parallelism floor on the FACT tables (dimension tables stay
    * un-floored: they broadcast). High-cardinality keys (≥20× the
    * partition count, guide §2.5) so the hash spreads evenly. */
  private val floorKeys: Map[String, Seq[String]] = Map(
    "documents" -> Seq("doc_id"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "orders" -> Seq("o_orderkey"),
    "events" -> Seq("event_id"),
    "embeddings" -> Seq("vec_id"))

  /** Floor decision memo (None = scan already wide enough, leave it).
    * `df.rdd.getNumPartitions` forces a physical plan (file listing
    * included) per probe; the answer depends only on the file layout
    * and the session parallelism, so pay it once per (table
    * fingerprint, parallelism), not once per query construction
    * (ADVICE r16). The fingerprint, not the path, keys it: a table
    * rewritten in place is a new layout and is sized again. */
  private val floorMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Int]]()

  /** Total bytes of one table's parquet (file or directory), through
    * the path's Hadoop file system, so any `sfDir` scheme is sized;
    * 0 when the table is absent. */
  private[graft] def tableBytes(spark: SparkSession, sfDir: String, name: String): Long = {
    val path = new org.apache.hadoop.fs.Path(s"$sfDir/$name.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) 0L else fs.getContentSummary(path).getLength
  }

  /** Opt-in floored fact-table read for HEAVY per-row consumers (BPE
    * corpus rewrites, span/chunk tokenization passes, wide exact-
    * distinct aggregation). r16 applied the floor unconditionally in
    * [[table]] and the driver bench showed the cost: ~200 short
    * scan→agg queries each paid a full-table Exchange at bench SF
    * (20/32 comparable tail queries regressed >10%, 8-core total beat
    * 32-core) while only the heavy per-row call sites measurably won.
    * So the floor now lives AT those call sites — the default read
    * stays the raw scan and each heavy consumer asks for the floored
    * shape explicitly (r17; guide §1.2 step 1 "choose a partitioning",
    * §2.5).
    *
    * The floor targets the single-row-group / unsplittable-file shape,
    * where all work fused into the scan stage serializes onto one core:
    * it redistributes ONCE by the table's deterministic content key
    * ([[floorKeys]]), which keeps row→partition deterministic under
    * task retries (the SPARK-38388 hazard of rand()/round-robin keys).
    * At scale the scan already plans enough splits and the floor is the
    * identity (no exchange added). Results are partitioning-independent
    * by construction (every registered query ends in a total order;
    * aggregates are partition-commutative), so the floor never changes
    * what a query computes. */
  def floored(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = load(spark, sfDir, name)
    val keys = floorKeys.getOrElse(name,
      sys.error(s"no floor key declared for table $name"))
    val want = spark.sparkContext.defaultParallelism
    val fp = ArtifactCache.fingerprint(spark, s"$sfDir/$name.parquet")
    val target = floorMemo.computeIfAbsent(s"$fp@$want", _ => {
      // SIZE-ADAPTIVE target, not a blind jump to defaultParallelism
      // (guide §2.2 "fewer, larger partitions"): one partition per
      // ~2 MB of compressed source, clamped to [2, want]. A 32-way
      // shuffle of an 11 MB file is mostly scheduling overhead — the
      // r17 c8-vs-c32 bench measured the BPE rounds 2× FASTER at
      // local[8] than local[32] under the want-wide floor — while at
      // scale bytes/2MB exceeds `want` long before the scan stops
      // planning enough splits on its own, so the cap (and the probe)
      // keep the floor the identity there.
      val parts = math.max(2L, math.min(want.toLong,
        tableBytes(spark, sfDir, name) / (2L << 20))).toInt
      if (df.rdd.getNumPartitions >= parts) None else Some(parts)
    })
    target.fold(df)(n =>
      df.repartition(n, keys.map(org.apache.spark.sql.functions.col): _*))
  }

  /** Footer schema memo behind [[parquet]]: path → (key, schema), the
    * key being the path's [[ArtifactCache.fingerprint]] plus
    * [[parquetConfs]]; a miss replaces the path's entry. */
  private[graft] val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]()

  /** The session confs that can change the schema Spark infers from a
    * parquet footer: every set `spark.sql.parquet.*` and
    * `spark.sql.legacy.parquet.*` entry (e.g. `nanosAsLong`,
    * `binaryAsString`), sorted, plus `spark.sql.caseSensitive`. */
  private def parquetConfs(spark: SparkSession): String = {
    val set = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }
    (set.toSeq.sorted :+ ("spark.sql.caseSensitive" -> spark.conf.get("spark.sql.caseSensitive")))
      .map { case (k, v) => s"$k=$v" }.mkString(";")
  }

  /** Every parquet read of a catalog table or stored artifact. Spark's
    * plain parquet read infers the footer schema with a 1-task Spark
    * job on every call; the reference planned its input split once per
    * job (`master.cc:190-217`), not per reducer. So the schema is
    * inferred once per (file layout, parquet confs) and passed in on
    * every later read, which then starts no job until execution. The
    * key is taken before the read: a rewrite racing the read can only
    * leave a stale key, which the next read misses. A missing path
    * fingerprints as absent, misses, and fails in the inferring read
    * as before (`PATH_NOT_FOUND`). */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val key = s"${ArtifactCache.fingerprint(spark, path)}|${parquetConfs(spark)}"
    schemaMemo.get(path) match {
      case (`key`, schema) => spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        schemaMemo.put(path, (key, df.schema))
        df
    }
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** Name-based loader honoring per-table quirks (events' NANOS ts). */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir) else table(spark, sfDir, name)

  /** Register every table as a temp view so `spark.sql` works over the
    * catalog — the declarative query surface the reference never had
    * (its only "query" was a hard-coded pipeline, SURVEY.md §3).
    * Idempotent per (session, dir): repeated calls — e.g. one per SQL
    * query in a bench loop — skip the 10 parquet reads. */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    val key = "graft.views.registeredFor"
    if (spark.conf.getOption(key).contains(sfDir)) return
    all.foreach(t => load(spark, sfDir, t).createOrReplaceTempView(t))
    spark.conf.set(key, sfDir)
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` has shipped in several parquet physical forms across
    * driver data refreshes — TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects outright), naive TIMESTAMP(MICROS) (surfaced as
    * TIMESTAMP_NTZ), and plain TIMESTAMP — so the reader normalizes all
    * of them to one session type, TIMESTAMP (LTZ): nanos are read as
    * long under the legacy conf and converted with integer division
    * (`div`, not `/` — true division routes through double and loses
    * precision above 2^53 ns), and NTZ is cast (wall-clock-preserving
    * under the fixed UTC session zone every entry point sets). DuckDB
    * reads the same column at µs precision as naive timestamps, so
    * values match the oracle either way. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      // NANOS column surfaced as long under the legacy conf → convert
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      // naive micros → NTZ; align with the LTZ type every other ts form
      // lands on (UTC session zone makes the cast wall-clock-identical)
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      // already a (LTZ) timestamp (e.g. re-written copies) → untouched
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
