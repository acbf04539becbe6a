package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Deterministic.qsum
import graft.sources.{ArtifactCache, Tables}

/** Multi-dimensional data-layout operators: Z-order (Morton) clustering
  * keys for write-time file layout.
  *
  * The reference's only layout device is its first-letter range
  * partitioning of word-count output (`master.cc:274-297`, one bucket
  * per a-z letter) — a 1-dimensional clustering key. Z-ordering is the
  * multi-dimensional generalization used by every modern lakehouse
  * writer: interleave the bits of two (or more) join/filter keys so
  * rows close in EITHER dimension land in the same file, giving
  * min/max-based data skipping on both columns at once. At 100 TB the
  * layout is applied as `repartitionByRange(zval).sortWithinPartitions
  * (zval)` before the write — a single range shuffle — and every
  * subsequent selective scan on either key prunes most files from
  * parquet footer stats alone.
  */
object Layout {

  /** Morton (Z-order) interleave of the low `bits` bits of two
    * non-negative long columns: x's bit i lands at output bit 2i+1,
    * y's at 2i. Pure bitwise arithmetic — codegen'd end to end, and
    * replayable bit-for-bit in any engine with `& << >>` (the DuckDB
    * oracle does exactly that). Keys wider than `bits` wrap by masking;
    * callers pick `bits` to cover their key cardinality. */
  def zValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, "need 1 <= bits <= 31")
    val mask = (1L << bits) - 1
    val xm = x.bitwiseAND(lit(mask))
    val ym = y.bitwiseAND(lit(mask))
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(xm, i).bitwiseAND(lit(1L)), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(ym, i).bitwiseAND(lit(1L)), 2 * i))
    }
  }

  /** Z-order layout summary for lineitem on (l_orderkey, l_partkey):
    * assign every row its Morton key, bucket rows by the top `bucketBits`
    * of the key (the file a range-partitioned writer would put them in),
    * and report each bucket's row count and per-dimension min/max — the
    * exact footer statistics a scan would prune on. The point of the
    * summary: z-buckets have TIGHT rectangles in both dimensions
    * simultaneously (a 1-D sort would give tight ranges on one key and
    * full-width ranges on the other), which is the data-skipping win.
    * One map pass + one small aggregation — the bucket count is
    * 2^bucketBits regardless of data size. */
  def zorderLayout(spark: SparkSession, sfDir: String,
      bits: Int = 16, bucketBits: Int = 8): DataFrame = {
    require(bucketBits >= 1 && bucketBits <= 2 * bits, "bucketBits out of range")
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"),
        zValue(col("l_orderkey"), col("l_partkey"), bits).as("zval"))
      .groupBy(shiftright(col("zval"), 2 * bits - bucketBits).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min("l_orderkey").as("min_orderkey"), max("l_orderkey").as("max_orderkey"),
        min("l_partkey").as("min_partkey"), max("l_partkey").as("max_partkey"))
      .orderBy("bucket")
  }

  /** WRITE-side Z-order layout: the physical materialization
    * [[zorderLayout]]'s summary models. Each key is first min/max
    * NORMALIZED onto the full [0, 2^bits) range — raw interleaving is
    * the classic Morton pitfall: a key whose values use fewer high
    * bits than the other contributes nothing to the top interleaved
    * bits, and the "z-order" silently degenerates to a 1-D sort on the
    * wider key (measured on lineitem: partkey ≤20k vs orderkey ≤600k
    * left per-file partkey ranges at 99% of full width). Production
    * writers do the same normalization from column stats. Then: Morton
    * key, range-partition into `files` files, sort within each, drop
    * the key, write parquet. One stats agg + one range shuffle — and
    * every subsequent selective scan on EITHER key prunes most files
    * from parquet footer min/max alone (each file is a tight rectangle
    * in both dimensions). Verified in BucketedJoinSpec by reading the
    * written files' actual per-file ranges against a 1-D-sorted
    * baseline. */
  def writeZOrdered(df: DataFrame, outDir: String, xCol: String,
      yCol: String, files: Int = 16, bits: Int = 16): Unit = {
    // stats and normalization run entirely in double: works for any
    // numeric key type (an int column would make Row.getLong throw) and
    // never overflows — a Long-typed `hi - lo` wraps when keys span
    // more than half the long range
    val mm = df.agg(
      min(col(xCol).cast("double")), max(col(xCol).cast("double")),
      min(col(yCol).cast("double")), max(col(yCol).cast("double"))).head()
    // empty input (or all-null keys): no stats to normalize against —
    // write the frame as-is instead of NPE-ing on a null aggregate
    if (mm.isNullAt(0) || mm.isNullAt(2)) {
      df.write.mode("overwrite").parquet(outDir)
      return
    }
    val scale = (1L << bits) - 1
    // NULL keys normalize to the range floor (a null zval would land
    // rows in an arbitrary range partition and break per-file stats)
    def norm(c: Column, lo: Double, hi: Double): Column =
      if (hi == lo) lit(0L)
      else ((coalesce(c.cast("double"), lit(lo)) - lit(lo)) / lit(hi - lo) * scale)
        .cast("long")
    df.withColumn("zval", zValue(
        norm(col(xCol), mm.getDouble(0), mm.getDouble(1)),
        norm(col(yCol), mm.getDouble(2), mm.getDouble(3)), bits))
      .repartitionByRange(files, col("zval"))
      .sortWithinPartitions("zval")
      .drop("zval")
      .write.mode("overwrite").parquet(outDir)
  }

  /** Register `df` as a bucketed + per-bucket-sorted catalog table on
    * `key` — Spark's durable answer to "co-locate this join once, reuse
    * forever". The write pays ONE hash shuffle; every later equi-join
    * or aggregation on `key` between tables sharing the bucket spec
    * runs with ZERO exchange and zero sort (the scan itself reports
    * `HashPartitioning(key, buckets)` + per-bucket order).
    * `repartition(buckets, key)` before the write keeps it to ONE file
    * per bucket, which is what lets the reader trust the sort and skip
    * its own.
    *
    * Like every [[ArtifactCache]] artifact, the table lives for one
    * SparkContext: the catalog entry is the context's in-memory one and
    * the backing files sit under [[ArtifactCache.root]], which the
    * context deletes when it stops. The name carries the source path's
    * hash and the source's fingerprint, so two sources bucketed under
    * one logical name get two tables, and a source rewritten in place
    * gets a new table; the old one stays until the context stops. */
  def bucketedTable(spark: SparkSession, name: String, buckets: Int,
      key: String, srcPath: String)(df: => DataFrame): DataFrame = synchronized {
    val srcTag = java.security.MessageDigest.getInstance("MD5")
      .digest(srcPath.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
    val fp = ArtifactCache.fingerprint(spark, srcPath).take(8)
    val tbl = s"graft_bkt_${name}_s${srcTag}_b${buckets}_$fp"
    if (!spark.catalog.tableExists(tbl))
      df.repartition(buckets, col(key))
        .write.mode("overwrite").option("path", s"${ArtifactCache.root(spark)}/$tbl")
        .bucketBy(buckets, key).sortBy(key)
        .saveAsTable(tbl)
    spark.table(tbl)
  }

  /** Revenue per order priority THROUGH the bucketed layout: orders and
    * lineitem both land in `buckets` buckets on the order key, so the
    * orderkey equi-join is exchange-free and sort-free — the one shuffle
    * left in the whole plan is the tiny 5-group priority aggregation.
    * This is the 100 TB shape for any repeatedly-joined fact pair: pay
    * the co-location shuffle once at ingest, not per query. The oracle
    * is the PLAIN join+agg SQL — bucketing must be invisible in the
    * result, exactly like [[SkewTools.saltedJoin]]'s contract. */
  def bucketedOrderRevenue(spark: SparkSession, sfDir: String,
      buckets: Int = 16): DataFrame = {
    val o = bucketedTable(spark, "orders", buckets, "o_orderkey",
      s"$sfDir/orders.parquet") {
      Tables.orders(spark, sfDir).select("o_orderkey", "o_orderpriority")
    }
    val l = bucketedTable(spark, "lineitem", buckets, "l_orderkey",
      s"$sfDir/lineitem.parquet") {
      Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    }
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        count_distinct(col("o_orderkey")).as("n_orders"),
        qsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 2).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Small-files compaction PLAN per source partition: given a target
    * file size, how many output files each partition should coalesce
    * into and the rows per file — the planning half of the compaction
    * job every large table needs (file counts drive open-file cost,
    * footer reads, and scheduler overhead at 100 TB; the 2 MiB default
    * matches the bench corpus, production dials to 128 MiB+). All
    * integer arithmetic (`ceil` as `(a + b - 1) div b`), so the oracle
    * replays it exactly; one bounded per-source agg. */
  def compactionPlan(spark: SparkSession, sfDir: String,
      targetBytes: Long = 2L << 20): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("total_bytes"))
      .select(col("source"), col("n_docs"), col("total_bytes"),
        greatest(lit(1L), expr(
          s"(total_bytes + ${targetBytes - 1}L) div ${targetBytes}L"))
          .as("n_files"))
      .withColumn("rows_per_file",
        expr("(n_docs + n_files - 1) div n_files"))
      .orderBy("source")

  /** Compaction that PRESERVES Z-order clustering: [[compactTo]]'s
    * round-robin `repartition(n)` balances file sizes but destroys any
    * clustering the table was written with — after it, per-file min/max
    * rectangles are full-width and footer-stats pruning is dead. For a
    * z-ordered table the compaction rewrite must itself be a z-order
    * write: plan the output file count from the ACTUAL on-disk bytes
    * (what real compaction keys on — small-file overhead is a physical
    * problem), then re-run [[writeZOrdered]] at that count. Cost is the
    * same single range shuffle any compaction pays; the clustering
    * comes along free because the range partitioner keys on the Morton
    * value. Returns the file count ACTUALLY written (the plan and the
    * outcome can differ — writeZOrdered's empty/all-null-key fallback
    * ignores the file target, and a near-empty input can underfill
    * range partitions — so the honest return value is a post-write
    * listing, not the plan). Asserted in BucketedJoinSpec:
    * post-compaction per-file rectangles stay tight on BOTH dimensions
    * while a round-robin compaction's do not. */
  def compactZOrdered(spark: SparkSession, inDir: String, outDir: String,
      xCol: String, yCol: String, targetBytes: Long = 2L << 20,
      bits: Int = 16): Int = {
    val fsOf = (d: String) => {
      val p = new org.apache.hadoop.fs.Path(d)
      (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
    }
    val (in, fs) = fsOf(inDir)
    val bytes = fs.getContentSummary(in).getLength
    val files = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    writeZOrdered(spark.read.parquet(inDir), outDir, xCol, yCol, files, bits)
    val (out, outFs) = fsOf(outDir)
    outFs.listStatus(out).count(_.getPath.getName.endsWith(".parquet"))
  }

  /** EXECUTE a [[compactionPlan]]: rewrite the documents table under
    * `outDir/source=…` with min(planned files, row count) files per
    * source — the clamp matters when single rows exceed the target
    * size (a 10 MiB doc plans 5 files but can only fill one;
    * `repartition(n)` leaves empty partitions fileless). The driver
    * loop is over the BOUNDED partition dimension (sources), which is
    * exactly how lakehouse compaction runs in production — one rewrite
    * job per table partition, each job a distributed `repartition(n)`
    * round-robin write (guaranteed file count, balanced file sizes).
    * The table is persisted across the loop so S sources cost one
    * scan, not S; the plan rows collected to the driver are
    * partition-count-sized, never data-sized. Asserted in
    * BucketedJoinSpec: per-source file counts equal the clamped plan,
    * row counts survive. */
  def compactTo(spark: SparkSession, sfDir: String, outDir: String,
      targetBytes: Long = 2L << 20): Unit = {
    val plan = compactionPlan(spark, sfDir, targetBytes)
      .select("source", "n_docs", "n_files").collect()
    val docs = Tables.documents(spark, sfDir).persist()
    try {
      plan.foreach { r =>
        val src = r.getString(0)
        val n = math.min(r.getLong(1), r.getLong(2)).toInt
        docs.filter(col("source") === src)
          .repartition(n)
          .write.mode("overwrite").parquet(s"$outDir/source=$src")
      }
    } finally { docs.unpersist(): Unit }
  }
}
