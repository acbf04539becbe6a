package graft

import org.apache.spark.sql.functions._
import graft.operators.{SkewTools, WordCount, Relational}
import graft.functions.TopKAggregate

class ScaleToolsSpec extends SparkSpec {
  import spark.implicits._

  /** The reference's pipeline in its literal MapReduce shape — RDD
    * `flatMap` (Map, `slave.cc:101-116`) → `reduceByKey` (combiner +
    * Reduce, `slave.cc:159-210`) → `takeOrdered` (top-K,
    * `master.cc:395-453`): documentation-by-code of the
    * reference↔Spark mapping, and a differential check of the
    * DataFrame plan with an independent tokenizer (`String.split`).
    * `reduceByKey` IS the map-side combine the reference lacks;
    * `takeOrdered` IS the per-partition top-K heap its driver loop
    * lacks. */
  private def topKviaRDD(k: Int): Seq[(String, Long)] = {
    implicit val ord: Ordering[(String, Long)] =
      Ordering.by { case (w, c) => (-c, w) } // count desc, word asc
    graft.sources.Tables.documents(spark, sf)
      .select("text").rdd.map(_.getString(0))
      .flatMap(_.split("[ \n]"))                      // Map     (O4)
      .filter(w => w.nonEmpty && w.head >= 'a' && w.head <= 'z') // O7
      .map((_, 1L))
      .reduceByKey(_ + _)                             // Reduce  (O8, with combiner)
      .takeOrdered(k)                                 // top-K   (O11)
      .toSeq
  }

  test("RDD reduceByKey formulation equals the DataFrame plan (reference MapReduce mapping)") {
    val viaRdd = topKviaRDD(50)
    val viaDf = WordCount.topK(spark, sf, 50).as[(String, Long)].collect().toSeq
    assert(viaRdd === viaDf)
  }

  test("salted join equals plain join (correctness under salting)") {
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity")
    val ord = graft.sources.Tables.orders(spark, sf)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val plain = li.join(ord, Seq("l_orderkey"))
      .groupBy("o_orderpriority").agg(sum("l_quantity").as("q"))
      .as[(String, Double)].collect().toMap
    val salted = SkewTools.saltedJoin(li, ord, "l_orderkey",
        buckets = 7, saltSource = Seq("l_quantity"))
      .groupBy("o_orderpriority").agg(sum("l_quantity").as("q"))
      .as[(String, Double)].collect().toMap
    assert(salted === plain)
  }

  test("salted driver query equals the unsalted formulation") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type")
    val dim = ev.groupBy("user_id").agg(count(lit(1)).as("user_events"))
    val plain = ev.join(dim, Seq("user_id"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("user_events") >= 70, 1L).otherwise(0L)).as("n_heavy_events"),
        count_distinct(when(col("user_events") >= 70, col("user_id"))).as("n_heavy_users"))
      .orderBy("event_type").collect().map(_.toString).toSeq
    val salted = SkewTools.saltedUserEnrich(spark, sf)
      .collect().map(_.toString).toSeq
    assert(salted === plain)
    assert(salted.nonEmpty)
  }

  test("salt is deterministic and bounded") {
    val s = graft.sources.Tables.lineitem(spark, sf)
      .select(SkewTools.salt(8, col("l_orderkey"), col("l_linenumber")).as("s"))
    val vals = s.distinct().as[Long].collect()
    assert(vals.forall(v => v >= 0 && v < 8))
  }

  test("heap top-k aggregator equals the window formulation") {
    val win = Relational.windowTopOrders(spark, sf).collect().map(_.toString).toSeq
    val heap = TopKAggregate.topOrdersPerCustomer(spark, sf).collect().map(_.toString).toSeq
    assert(heap === win)
  }

  test("CMS-guarded hot-key detector equals the ungated exact computation") {
    val got = SkewTools.heavyUsers(spark, sf)
      .as[(Long, Long)].collect().toSeq
    // brute force WITHOUT the sketch: same mean-relative threshold rule
    val counts = graft.sources.Tables.events(spark, sf)
      .select("user_id").as[Long].collect()
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val total = counts.values.sum
    val thr = math.max(1L,
      math.ceil(1.2 * total / counts.size).toLong)
    val expect = counts.filter(_._2 >= thr).toSeq
      .sortBy { case (k, c) => (-c, k) }
    assert(got === expect, "CMS guard must be semantics-free (no false negatives)")
    assert(got.nonEmpty, "fixture must contain above-mean-activity users")
    assert(got.size < counts.size,
      "the cut must actually separate hot keys from the key population")
  }

  test("heavy-keys guard prunes the count shuffle to candidate keys") {
    // the CMS probe (the plan's only UDF) must sit BELOW the count
    // exchange — i.e. print AFTER it in the top-down tree — so the
    // shuffle carries candidate keys only. An index comparison against
    // a bare "Filter" would match the scan's PushedFilters line and
    // assert nothing.
    // the public heavyKeys materializes eagerly (so it can destroy its
    // broadcast); the plan shape lives on the internal lazy form
    val (report, bc) = SkewTools.heavyKeysLazy(
      graft.sources.Tables.events(spark, sf), "user_id")
    try {
      val plan = report.queryExecution.executedPlan.toString
      val udfIdx = plan.indexOf("UDF")
      val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
      assert(udfIdx >= 0, s"CMS guard UDF missing from plan:\n$plan")
      assert(exchangeIdx >= 0 && udfIdx > exchangeIdx,
        s"guard must evaluate below the count shuffle:\n$plan")
    } finally bc.destroy()
  }

  test("heavy-keys handles string keys and passes null keys to the exact count") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    // 20×"hot", 3×"warm", 1×"cold", 4×null → mean over non-null keys =
    // 24/3 = 8; threshold ceil(1.2·8) = 10 → only "hot" (and the null
    // group if it cleared, which at 4 it does not)
    val rows = (Seq.fill(20)("hot") ++ Seq.fill(3)("warm") ++ Seq("cold") ++
      Seq.fill(4)(null)).map(Row(_))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 3),
      StructType(Seq(StructField("k", StringType, nullable = true))))
    val got = SkewTools.heavyKeys(df, "k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === Seq(("hot", 20L)),
      "string keys must not be cast away; null group below threshold drops")
    // null group CAN surface when it clears the cut (guard passes nulls)
    val rows2 = (Seq.fill(20)(null: String) ++ Seq("a", "b")).map(Row(_))
    val df2 = spark.createDataFrame(
      spark.sparkContext.parallelize(rows2.toSeq, 3),
      StructType(Seq(StructField("k", StringType, nullable = true))))
    val got2 = SkewTools.heavyKeys(df2, "k").collect()
    // mean over non-null = 1 → thr 2; the 20-row null group must appear
    assert(got2.length === 1 && got2.head.isNullAt(0) && got2.head.getLong(1) === 20L)
  }

  test("AQE skew-join positioning: native runtime split subsumes the manual salt for shuffle joins") {
    // The decision rule documented on SkewTools: for a plain shuffled
    // equi-join whose skew is visible at partition-byte granularity,
    // AQE's OptimizeSkewedJoin splits the hot partition at runtime and
    // the manual salt buys nothing — this spec proves both halves on a
    // fixture with a genuinely hot key (90% of rows on one key).
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> conf.getOption(k))
    try {
      // force the shuffle path (no broadcast) and lower AQE's byte
      // thresholds so the test fixture's skew crosses them, the same
      // way a 100 TB hot partition crosses the 256 MB default
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val payload = "x" * 64
      val left = spark.sparkContext
        .parallelize((1 to 20000).map { i =>
          (if (i % 10 == 0) (i % 97) + 2L else 1L, i.toLong, payload)
        }, 8).toDF("k", "row_id", "payload")
      val right = (1L to 99L).map(k => (k, s"dim_$k")).toDF("k", "attr")
      val joined = left.join(right, Seq("k")).select("row_id", "attr")
      val plainRows = joined.collect().map(r => (r.getLong(0), r.getString(1))).sorted
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE must split the hot partition at runtime:\n$finalPlan")
      // the manual salt produces exactly the same rows — and nothing more
      val saltedRows = SkewTools.saltedJoin(left, right, "k", 8, Seq("row_id"))
        .select("row_id", "attr")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted
      assert(saltedRows === plainRows)
      // detection is sound: with the AQE rule off, the marker disappears
      conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val unsplit = left.join(right, Seq("k")).select("row_id", "attr")
      unsplit.collect()
      assert(!unsplit.queryExecution.executedPlan.toString.contains("skew=true"))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("native as-of equals the composition on randomized key/time data") {
    // differential test for the custom SparkPlan: many keys, duplicate
    // timestamps, keys missing on either side, unmatched-early lefts
    val rnd = new scala.util.Random(1234)
    val clicks = (1 to 400).map { i =>
      (i.toLong, (rnd.nextInt(30) + 1).toLong,
        new java.sql.Timestamp(1700000000000L + rnd.nextInt(100000) * 1000L))
    }
    val purchases = (1 to 300).map { i =>
      ((rnd.nextInt(40) + 1).toLong,
        new java.sql.Timestamp(1700000000000L + rnd.nextInt(100000) * 1000L),
        1000L + i, rnd.nextDouble())
    }
    val l = clicks.toDF("event_id", "user_id", "ts")
    val r = purchases.toDF("p_user_id", "p_ts", "pid", "p_value")
    val native = graft.plans.AsOfJoinNative.asOf(
        l, r, Seq("user_id"), Seq("p_user_id"), "ts", "p_ts",
        rightTiebreak = Some("pid"))
      .select("event_id", "p_ts", "pid", "p_value")
      .collect().map(row => (row.getLong(0),
        Option(row.getTimestamp(1)), if (row.isNullAt(2)) None else Some(row.getLong(2))))
      .sortBy(_._1).toSeq
    // composition reference via the window formulation
    val comp = graft.operators.AsOfJoin.asOf(
        l, r.select($"p_user_id".as("user_id"), $"p_ts".as("ts"),
          $"pid", $"p_value", $"p_ts".as("keep_ts")),
        Seq("user_id"), "ts",
        Map("keep_ts" -> "m_ts", "pid" -> "m_pid"), tiebreak = Some("pid"))
      .select("event_id", "m_ts", "m_pid")
      .collect().map(row => (row.getLong(0),
        Option(row.getTimestamp(1)), if (row.isNullAt(2)) None else Some(row.getLong(2))))
      .sortBy(_._1).toSeq
    assert(native === comp)
    assert(native.exists(_._2.isDefined) && native.exists(_._2.isEmpty),
      "fixture must exercise both matched and unmatched lefts")
  }

  test("heap top-k shuffles partial buffers, not the full table") {
    val plan = TopKAggregate.topOrdersPerCustomer(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"expected partial aggregation before the shuffle:\n$plan")
  }
}
