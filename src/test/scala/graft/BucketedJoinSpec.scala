package graft

import org.apache.spark.sql.functions._

/** Co-located (bucketed) joins — the zero-shuffle scale path for
  * repeated fact⋈fact joins on a stable key. Both tables are written
  * bucketed by the join key into the session warehouse; Spark then
  * plans the join with NO Exchange on either side.
  *
  * This is the design answer to "would this join survive 100×?": at
  * 100 TB, bucketing lineitem and orders by orderkey once amortizes
  * the shuffle across every subsequent join. */
class BucketedJoinSpec extends SparkSpec {

  test("bucketed fact-fact join plans without any shuffle") {
    // warehouse dir is a static conf — set via javaOptions in build.sbt
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val ord = graft.sources.Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderpriority")

    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_bucketed")
    ord.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("ord_bucketed")
    try {
      val j = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(sum("l_quantity").as("q"))
      // force a non-broadcast join to prove bucketing removes the shuffle;
      // restore in finally — a leak would poison the shared session for
      // every later suite
      val plan =
        try {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          spark.conf.set("spark.sql.adaptive.enabled", "false")
          j.queryExecution.executedPlan.toString
        } finally {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
          spark.conf.set("spark.sql.adaptive.enabled", "true")
        }
      // plan prints top-down: the join's INPUTS are below (after) the
      // SortMergeJoin line; the aggregate's exchange above it is expected
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      val belowJoin = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!belowJoin.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle its inputs:\n$plan")
      assert(belowJoin.contains("Bucketed: true"), "scans must be bucketed")
      // and it still computes the right thing
      assert(j.count() === 5)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("bucketed driver query: exchange-free join, result equals the plain formulation") {
    import graft.functions.Deterministic.qsum
    val res = graft.operators.Layout.bucketedOrderRevenue(spark, sf)
    // with broadcast+AQE off, the orderkey join must run on the bucket
    // layout alone: SMJ with no hashpartitioning exchange on its inputs
    val plan =
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        graft.operators.Layout.bucketedOrderRevenue(spark, sf)
          .queryExecution.executedPlan.toString
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
      }
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    val belowJoin = plan.substring(plan.indexOf("SortMergeJoin"))
    assert(!belowJoin.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle its inputs:\n$plan")
    // bucketing must be invisible in the result
    val plain = graft.sources.Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderpriority")
      .join(graft.sources.Tables.lineitem(spark, sf)
          .select("l_orderkey", "l_extendedprice", "l_discount"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        count_distinct(col("o_orderkey")).as("n_orders"),
        qsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 2).as("revenue"))
      .orderBy("o_orderpriority")
      .collect().map(_.toString).toSeq
    assert(res.collect().map(_.toString).toSeq === plain)
    assert(plain.nonEmpty)
  }

  test("bucketedTable: a sibling table from a DIFFERENT source survives the sweep") {
    import graft.operators.Layout
    // same logical name, two source paths — the path discriminator in
    // the prefix must keep their sweeps independent (the ADVICE hazard:
    // a shared tmpdir sweep deleting a live sibling's backing files)
    val srcA = s"$sf/orders.parquet"
    val srcB = s"$sf/customer.parquet"
    try {
      val a = Layout.bucketedTable(spark, "twosource", 4, "o_orderkey", srcA) {
        graft.sources.Tables.orders(spark, sf).select("o_orderkey")
      }
      val aRows = a.count()
      val b = Layout.bucketedTable(spark, "twosource", 4, "c_custkey", srcB) {
        graft.sources.Tables.customer(spark, sf).select("c_custkey")
      }
      assert(b.count() > 0)
      // building B must not have swept A's files: A still reads fine
      val aAgain = Layout.bucketedTable(spark, "twosource", 4, "o_orderkey", srcA) {
        fail("source A's table should still be cached"); ???
      }
      assert(aAgain.count() === aRows)
    } finally {
      spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_bkt_twosource_"))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("writeZOrdered: empty input and NULL keys are handled, not NPE'd") {
    import graft.operators.Layout
    import spark.implicits._
    val outE = java.nio.file.Files.createTempDirectory("graft-zempty").toString
    val outN = java.nio.file.Files.createTempDirectory("graft-znull").toString
    try {
      // empty frame: writes an empty parquet instead of throwing
      val empty = Seq.empty[(Long, Long)].toDF("x", "y")
      Layout.writeZOrdered(empty, outE, "x", "y", files = 4)
      assert(spark.read.parquet(outE).count() === 0)
      // null keys: rows survive the write (normalized to the range floor)
      val withNulls = Seq[(java.lang.Long, java.lang.Long)](
        (1L, 10L), (2L, null), (null, 30L), (4L, 40L)).toDF("x", "y")
      Layout.writeZOrdered(withNulls, outN, "x", "y", files = 2)
      assert(spark.read.parquet(outN).count() === 4)
    } finally {
      graft.sources.ArtifactCache.deleteRecursively(new java.io.File(outE))
      graft.sources.ArtifactCache.deleteRecursively(new java.io.File(outN))
    }
  }

  test("z-ordered write: per-file rectangles tight in BOTH dims, unlike a 1-D sort") {
    import graft.operators.Layout
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey")
    val zDir = java.nio.file.Files.createTempDirectory("graft-zw").toString
    val sDir = java.nio.file.Files.createTempDirectory("graft-sw").toString
    try {
      Layout.writeZOrdered(li, zDir, "l_orderkey", "l_partkey", files = 16)
      // baseline: same file count, 1-D range sort on the first key only
      li.repartitionByRange(16, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite").parquet(sDir)
      // measured skipping power = mean fractional width of each file's
      // [min, max] on a key (what footer-stats pruning sees)
      def meanWidth(dir: String, key: String): Double = {
        val perFile = spark.read.parquet(dir)
          .groupBy(input_file_name().as("f"))
          .agg(min(key).as("lo"), max(key).as("hi"))
          .collect().map(r => (r.getLong(1), r.getLong(2)))
        val glo = perFile.map(_._1).min.toDouble
        val ghi = perFile.map(_._2).max.toDouble
        perFile.map { case (lo, hi) => (hi - lo).toDouble / (ghi - glo) }
          .sum / perFile.length
      }
      val zOrder = meanWidth(zDir, "l_orderkey")
      val zPart = meanWidth(zDir, "l_partkey")
      val sOrder = meanWidth(sDir, "l_orderkey")
      val sPart = meanWidth(sDir, "l_partkey")
      info(f"z-order widths: orderkey $zOrder%.3f partkey $zPart%.3f; " +
        f"1-D sort: orderkey $sOrder%.3f partkey $sPart%.3f")
      // the 1-D sort is tight on its own key and full-width on the other
      assert(sOrder < 0.2, "1-D sort should be tight on its sort key")
      assert(sPart > 0.8, "1-D sort has no partkey locality")
      // z-order: BOTH dims materially tighter than the 1-D sort's
      // unsorted dim — that asymmetry is the data-skipping win
      assert(zPart < 0.6 * sPart, s"z-order partkey width $zPart not tight")
      assert(zOrder < 0.6, s"z-order orderkey width $zOrder degenerated")
    } finally {
      graft.sources.ArtifactCache.deleteRecursively(new java.io.File(zDir))
      graft.sources.ArtifactCache.deleteRecursively(new java.io.File(sDir))
    }
  }

  test("z-order-preserving compaction: fewer files, rectangles stay tight") {
    import graft.operators.Layout
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey")
    val smallDir = java.nio.file.Files.createTempDirectory("graft-zc-small").toString
    val zDir = java.nio.file.Files.createTempDirectory("graft-zc-z").toString
    val rrDir = java.nio.file.Files.createTempDirectory("graft-zc-rr").toString
    try {
      // a z-ordered table fragmented into many small files
      Layout.writeZOrdered(li, smallDir, "l_orderkey", "l_partkey", files = 64)
      val smallFiles = new java.io.File(smallDir).listFiles()
        .count(f => f.getName.endsWith(".parquet"))
      assert(smallFiles === 64, "fragmented input")
      // compact it with clustering preserved vs a plain round-robin rewrite
      // byte size via the SAME Hadoop API the operator plans with
      // (Files.walk would also count the local FS's hidden .crc files)
      def hadoopBytes(dir: String): Long = {
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
      }
      // aim for ~8 output files whatever the SF's byte size is
      val target = math.max(1L, hadoopBytes(smallDir) / 8)
      val written = Layout.compactZOrdered(spark, smallDir, zDir,
        "l_orderkey", "l_partkey", targetBytes = target)
      spark.read.parquet(smallDir).repartition(written)
        .write.mode("overwrite").parquet(rrDir)
      val zFiles = new java.io.File(zDir).listFiles()
        .count(f => f.getName.endsWith(".parquet"))
      assert(zFiles === written, s"returned count must match the listing")
      // on this non-degenerate input the byte plan is achieved exactly
      val bytes2 = hadoopBytes(smallDir)
      assert(written === ((bytes2 + target - 1) / target).toInt,
        s"plan ceil(bytes/target) not achieved")
      assert(zFiles < smallFiles / 4, "compaction must actually reduce file count")
      assert(spark.read.parquet(zDir).count() === li.count(), "rows survive")
      // footer-stats pruning power: mean fractional [min,max] width per file
      def meanWidth(dir: String, key: String): Double = {
        val perFile = spark.read.parquet(dir)
          .groupBy(input_file_name().as("f"))
          .agg(min(key).as("lo"), max(key).as("hi"))
          .collect().map(r => (r.getLong(1), r.getLong(2)))
        val glo = perFile.map(_._1).min.toDouble
        val ghi = perFile.map(_._2).max.toDouble
        perFile.map { case (lo, hi) => (hi - lo).toDouble / (ghi - glo) }
          .sum / perFile.length
      }
      val zo = meanWidth(zDir, "l_orderkey"); val zp = meanWidth(zDir, "l_partkey")
      val ro = meanWidth(rrDir, "l_orderkey"); val rp = meanWidth(rrDir, "l_partkey")
      info(f"z-compacted widths: orderkey $zo%.3f partkey $zp%.3f; " +
        f"round-robin: orderkey $ro%.3f partkey $rp%.3f")
      // round-robin kills clustering (full-width files on both keys);
      // the z-preserving rewrite keeps both dims materially tight
      assert(ro > 0.9 && rp > 0.9, "round-robin compaction should be full-width")
      assert(zo < 0.75 * ro, s"orderkey width $zo did not stay tight")
      assert(zp < 0.75 * rp, s"partkey width $zp did not stay tight")
    } finally {
      Seq(smallDir, zDir, rrDir).foreach(d =>
        graft.sources.ArtifactCache.deleteRecursively(new java.io.File(d)))
    }
  }

  test("compaction execute: per-source file counts equal the plan, rows survive") {
    import graft.operators.Layout
    val outDir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    try {
      Layout.compactTo(spark, sf, outDir)
      val plan = Layout.compactionPlan(spark, sf).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
      plan.foreach { case (src, (nDocs, nFiles)) =>
        val files = new java.io.File(s"$outDir/source=$src").listFiles()
          .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
        // clamped contract: a source can't fill more files than rows
        assert(files.length.toLong === math.min(nDocs, nFiles), s"$src file count")
        val rows = spark.read.parquet(s"$outDir/source=$src").count()
        assert(rows === nDocs, s"$src row count")
      }
    } finally {
      graft.sources.ArtifactCache.deleteRecursively(new java.io.File(outDir))
    }
  }

  test("compaction plan: integer ceil invariants hold per source") {
    val target = 2L << 20
    val rows = graft.operators.Layout.compactionPlan(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, nDocs, bytes, nFiles, rpf) =>
      assert(nFiles >= 1, s"$src files")
      assert(nFiles * target >= bytes || nFiles == 1, s"$src capacity")
      assert(nFiles == 1 || (nFiles - 1) * target < bytes, s"$src no overshoot")
      assert(rpf * nFiles >= nDocs && (rpf - 1) * nFiles < nDocs, s"$src rows split")
    }
    val docs = graft.sources.Tables.documents(spark, sf)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(r => r._1 -> r._2).toMap === docs, "doc counts per source")
  }
}
