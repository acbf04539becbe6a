package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import graft.operators.WordCount

/** Golden + edge-case tests from FIXTURES.md §2 (tiny_corpus etc.). */
class WordCountSpec extends SparkSpec {
  import spark.implicits._

  private def countsOf(lines: String*): Seq[(String, Long)] =
    WordCount.countsOf(lines.toDF("text"))
      .orderBy(desc("cnt"), asc("word"))
      .as[(String, Long)].collect().toSeq

  /** The executed nodes of `p`, read through adaptive and query-stage
    * wrappers (after execution: the final plan). */
  private def executedNodes(p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children
    }).flatMap(executedNodes)
  }

  /** The metrics of the one `TokenMergeExec` in `ds`'s executed plan. */
  private def mergeMetrics(ds: Dataset[_]): Map[String, Long] = {
    val merges = executedNodes(ds.queryExecution.executedPlan).collect {
      case m: graft.plans.TokenMergeExec => m
    }
    assert(merges.size == 1, ds.queryExecution.executedPlan.toString)
    merges.head.metrics.map { case (k, m) => k -> m.value }
  }

  /** Edge words, keys of 1 to 40 bytes, and the sf corpus, over 3
    * partitions. */
  private def mixedTexts = {
    val edge = Seq("a b z a", "aA a0 a' a{ a~ aé a中 a😀 zz z😀", "b\u0000 bZ by bz b{") ++
      (1 to 40).map(n => ("abcdefghijklmnopqrstuvwxyz" * 2).take(n)).map(w => s"$w x$w $w")
    val docs = graft.sources.Tables.documents(spark, sf).select("text").as[String].collect().toSeq
    spark.sparkContext.parallelize(edge ++ docs, 3).toDF("text")
  }

  test("tiny_corpus golden: filter, counts, tie order") {
    val got = countsOf(
      "the quick brown fox",
      "the lazy dog",
      "The the THE",
      "fox 42 !bang fox")
    assert(got === Seq(
      "fox" -> 3L, "the" -> 3L,
      "brown" -> 1L, "dog" -> 1L, "lazy" -> 1L, "quick" -> 1L))
  }

  test("empty corpus and delimiter-only input produce zero rows") {
    assert(countsOf("").isEmpty)
    assert(countsOf("  \n \n  ").isEmpty)
  }

  test("single word without trailing newline is counted") {
    assert(countsOf("hello") === Seq("hello" -> 1L))
  }

  test("non-[a-z]-initial tokens dropped; punctuation retained inside") {
    assert(countsOf("Zebra 9lives _foo ébc").isEmpty)
    assert(countsOf("don't stop, don't") === Seq("don't" -> 2L, "stop," -> 1L))
  }

  test("TokenCountExec metrics: tokens seen, rows out and flushes at the cap") {
    import graft.plans.TokenCountExec
    // 8 kept tokens, 5 distinct words, one partition
    val texts = spark.sparkContext.parallelize(Seq("a b a c", "b d e a Zed"), 1).toDF("text")
    def run(maxKeys: Int): (Map[String, Long], Map[String, Long]) = {
      val ds = WordCount.countsOf(texts, "text", maxKeys).as[(String, Long)]
      val got = ds.collect().toMap
      val exec = executedNodes(ds.queryExecution.executedPlan).collect { case t: TokenCountExec => t }
      assert(exec.size == 1)
      (got, exec.head.metrics.map { case (k, m) => k -> m.value })
    }
    val expected = Map("a" -> 3L, "b" -> 2L, "c" -> 1L, "d" -> 1L, "e" -> 1L)
    val (whole, m) = run(graft.plans.TokenCount.MaxKeys)
    assert(whole === expected)
    assert(m === Map("numTokens" -> 8L, "numOutputRows" -> 5L, "numFlushes" -> 0L))
    // a 2-word table fills every second token: (a b) (a c) (b d) (e a)
    val (flushed, mf) = run(2)
    assert(flushed === expected)
    assert(mf === Map("numTokens" -> 8L, "numOutputRows" -> 8L, "numFlushes" -> 4L))
  }

  test("fused counter: keys of 1 to 40 bytes, mid-row and at a row's end, equal wordsOf counts") {
    // the table packs keys of up to 16 bytes into its slots, from whole
    // longs where 16 bytes of the row remain and byte by byte near its
    // end; longer keys live in its arena. Each word appears in both
    // positions, so both packings must agree.
    val words = (1 to 40).map(n => ("abcdefghijklmnopqrstuvwxyz" * 2).take(n)) ++
      Seq("a\u0000", "a\u0000\u0000", "é" * 9, "x中😀y")
    val lines = words.map(w => s"$w ${"filler " * 3}$w") ++ words.map(w => s"filler $w")
    val texts = spark.sparkContext.parallelize(lines, 2).toDF("text")
    def sorted(df: org.apache.spark.sql.DataFrame) = df.as[(String, Long)].collect().toSeq.sorted
    val reference = sorted(WordCount.wordsOf(texts).groupBy("word").count())
    assert(reference.size == words.size)
    assert(sorted(WordCount.countsOf(texts)) === reference)
    assert(sorted(WordCount.countsOf(texts, "text", 3)) === reference)
  }

  test("the count builders arm the TokenCount strategy on a plain session") {
    // a session built without the graft extensions (graftbench builds
    // its own) plans the TokenCount node only if the builder arms it
    val plain = spark.newSession()
    assert(!plain.experimental.extraStrategies.contains(graft.plans.TokenCountStrategy))
    val texts = plain.createDataFrame(Seq(Tuple1("b a b"))).toDF("text")
    assert(WordCount.countsOf(texts).as[(String, Long)].collect().toMap ===
      Map("a" -> 1L, "b" -> 2L))
    assert(plain.experimental.extraStrategies.contains(graft.plans.TokenCountStrategy))
  }

  test("ordered counts equal wordsOf + groupBy + orderBy row for row at any shuffle width") {
    import org.apache.spark.sql.catalyst.plans.physical.ShufflePartitionIdPassThrough
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
      case other => other.children
    }).flatMap(nodes)
    // one-letter words, second bytes below 'a' and above 'z', multi-byte
    // UTF-8 after the first letter, a word for every two-letter prefix,
    // and the sf corpus
    val edge = Seq("a b z a", "aA a0 a' a{ a~ aé a中 a😀 zz z😀", "b\u0000 bZ by bz b{") ++
      ('a' to 'z').map(b0 => ('a' to 'z').map(b1 => s"$b0${b1}x $b0$b1").mkString(" "))
    val docs = graft.sources.Tables.documents(spark, sf).select("text").as[String].collect().toSeq
    val texts = spark.sparkContext.parallelize(edge ++ docs, 3).toDF("text")
    // AQE's initial width is meant for coalescing, which this exchange
    // does not get: the width is the plain one, capped at the key count
    for (aqe <- Seq("true", "false"); n <- Seq(1, 3, 4, 32, 1000)) withConf(
        "spark.sql.adaptive.enabled" -> aqe, "spark.sql.shuffle.partitions" -> n.toString,
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "64") {
      val ordered = WordCount.countsOf(texts).orderBy("word")
      val got = ordered.as[(String, Long)].collect().toSeq
      val want = WordCount.wordsOf(texts).groupBy("word").count().orderBy("word")
        .as[(String, Long)].collect().toSeq
      val firstDiff = got.zip(want).indexWhere { case (g, w) => g != w }
      assert(got.size > 1000 && got.size == want.size && firstDiff < 0,
        s"aqe=$aqe, $n partitions: ${got.size} vs ${want.size} rows, first difference at $firstDiff")
      val exchanges = nodes(ordered.queryExecution.executedPlan).collect {
        case e: ShuffleExchangeExec => e.outputPartitioning
      }
      assert(exchanges.size == 1 && (exchanges.head match {
        case p: ShufflePartitionIdPassThrough =>
          p.numPartitions == math.min(n, graft.functions.AzRangeId.Keys)
        case _ => false
      }), s"aqe=$aqe, $n partitions: $exchanges")
    }
  }

  test("TokenMergeExec at small caps: the sorted fallback merges both shapes, AQE on and off") {
    val texts = mixedTexts
    val want = WordCount.wordsOf(texts).groupBy("word").count().orderBy("word")
      .as[(String, Long)].collect().toSeq
    for (cap <- Seq(2, 3); aqe <- Seq("true", "false"); n <- Seq(1, 4, 32)) withConf(
        "spark.sql.adaptive.enabled" -> aqe, "spark.sql.shuffle.partitions" -> n.toString) {
      val at = s"cap $cap, aqe=$aqe, $n partitions"
      val hash = WordCount.countsOf(texts, "text", cap).as[(String, Long)]
      val hashRows = hash.collect().toSeq
      assert(hashRows.size == want.size && hashRows.toMap == want.toMap, at)
      assert(mergeMetrics(hash)("numFallbacks") >= 1, at)
      val ordered = WordCount.countsOf(texts, "text", cap).orderBy("word").as[(String, Long)]
      val got = ordered.collect().toSeq
      val firstDiff = got.zip(want).indexWhere { case (g, w) => g != w }
      assert(got.size == want.size && firstDiff < 0, s"$at: first difference at $firstDiff")
      val m = mergeMetrics(ordered)
      assert(m("numFallbacks") >= 1 && m("numOutputRows") == want.size, s"$at: $m")
    }
  }

  test("TokenMergeExec peak table bytes are bounded by the words, with no fallback at MaxKeys") {
    // 20,000 generated words, 2,000 of them longer than 16 bytes, on
    // top of the sf corpus; 4 reduce tasks
    val vocab = (0 until 20000).map { i =>
      val w = s"w${Integer.toString(i, 36)}"
      if (i % 10 == 0) w + "-long-enough-for-the-arena" else w
    }
    val texts = spark.sparkContext.parallelize(
      vocab.grouped(50).map(_.mkString(" ")).toSeq ++ mixedTexts.as[String].collect(), 4)
      .toDF("text")
    val distinct = WordCount.wordsOf(texts).distinct().as[String].collect()
    val d = distinct.length.toLong
    val arenaBytes = distinct.map(_.getBytes("UTF-8").length).filter(_ > 16).map(_.toLong).sum
    assert(d > 20000 && arenaBytes > 2000 * 16)
    withConf("spark.sql.adaptive.enabled" -> "false", "spark.sql.shuffle.partitions" -> "4") {
      for (ordered <- Seq(false, true)) {
        val counts = WordCount.countsOf(texts)
        val ds = (if (ordered) counts.orderBy("word") else counts).as[(String, Long)]
        assert(ds.collect().length == d)
        val m = mergeMetrics(ds)
        // a slot is 32 B and the table doubles at half load, so it holds
        // 64–128 B per word (32 KiB of slots and a 4 KiB arena at least
        // per task); the arena at most doubles the long words' bytes
        val bound = 4 * (32768 + 4096) + 128 * d + 2 * arenaBytes
        assert(m("numFallbacks") == 0 && m("numOutputRows") == d, s"ordered=$ordered: $m")
        assert(m("peakTableBytes") >= 64 * d + arenaBytes && m("peakTableBytes") <= bound,
          s"ordered=$ordered: ${m("peakTableBytes")} table bytes for $d words, bound $bound")
      }
    }
  }

  test("ordered counts at 200 shuffle partitions: AQE coalesces the range exchange") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
    val texts = graft.sources.Tables.documents(spark, sf).select("text")
    withConf("spark.sql.adaptive.enabled" -> "true", "spark.sql.shuffle.partitions" -> "200") {
      val stages = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
      val listener = new SparkListener {
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
          stages.put(e.stageInfo.stageId, e.stageInfo.numTasks): Unit
      }
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      val ordered = WordCount.countsOf(texts).orderBy("word").as[(String, Long)]
      val got =
        try {
          val rows = ordered.collect().toSeq
          org.apache.spark.GraftTestBus.drain(spark.sparkContext)
          rows
        } finally spark.sparkContext.removeSparkListener(listener)
      val want = WordCount.wordsOf(texts).groupBy("word").count().orderBy("word")
        .as[(String, Long)].collect().toSeq
      assert(got.nonEmpty && got == want)
      val reads = executedNodes(ordered.queryExecution.executedPlan).collect {
        case r: AQEShuffleReadExec => r
      }
      assert(reads.size == 1 && reads.head.isCoalescedRead && reads.head.partitionSpecs.size < 200,
        ordered.queryExecution.executedPlan.toString)
      val finalTasks = stages.get(stages.keySet.toArray.map(_.asInstanceOf[Int]).max)
      assert(finalTasks == reads.head.partitionSpecs.size, s"stages: $stages")
    }
  }

  test("range ids reach every partition up to one per key") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.AzRangeId
    // every key, in byte order: first letter, then no/low, a-z, high byte
    val seconds = "" +: ('a' to 'z').map(_.toString) :+ "{"
    val keys = for (b0 <- 'a' to 'z'; b1 <- seconds) yield UTF8String.fromString(s"$b0$b1")
    assert(keys.map(AzRangeId.key) === (0 until AzRangeId.Keys))
    for (n <- Seq(1, 4, 26, 27, 200, AzRangeId.Keys))
      assert(keys.map(AzRangeId.of(_, n)).distinct === (0 until n), s"$n partitions")
  }

  test("flagship entry returns rows on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.toSeq === Seq("word", "cnt"))
  }

  test("sum(cnt) over full counts equals number of matching tokens") {
    val words = WordCount.words(spark, sf)
    val total = WordCount.full(spark, sf).agg(sum("cnt")).as[Long].head()
    assert(total === words.count())
  }

  test("topK(k) is a prefix of topK(k+10) under the total order") {
    val k10 = WordCount.topK(spark, sf, 10).as[(String, Long)].collect().toSeq
    val k20 = WordCount.topK(spark, sf, 20).as[(String, Long)].collect().toSeq
    assert(k20.take(10) === k10)
  }

  test("letter buckets cover only a-z and sum to total word count") {
    val b = WordCount.letterBuckets(spark, sf).collect()
    val letters = b.map(_.getString(0))
    assert(letters.forall(l => l.length == 1 && l.head >= 'a' && l.head <= 'z'))
    assert(letters.toSeq === letters.toSeq.sorted)
    val sumBuckets = b.map(_.getLong(1)).sum
    assert(sumBuckets === WordCount.words(spark, sf).count())
  }

  test("table pipeline equals text-file pipeline over the same corpus (O2 equivalence)") {
    // dump the documents table to a newline-delimited text file and run
    // the reference's exact ingestion path over it — same counts
    val dir = java.nio.file.Files.createTempDirectory("graft-corpus").toFile
    val f = new java.io.File(dir, "docs.txt")
    val texts = graft.sources.Tables.documents(spark, sf)
      .select("text").as[String].collect()
    java.nio.file.Files.writeString(f.toPath, texts.mkString("\n"))
    val viaFile = WordCount.countsFromTextFile(spark, f.getAbsolutePath, 1000)
      .as[(String, Long)].collect().toSeq
    val viaTable = WordCount.topK(spark, sf, 1000).as[(String, Long)].collect().toSeq
    assert(viaFile === viaTable)
  }

  test("oracle-wired textfile wordcount equals the table wordcount, warm and cold") {
    val viaTable = WordCount.full(spark, sf).as[(String, Long)].collect().toSeq
    val viaFile = WordCount.fullFromTextFile(spark, sf)
      .as[(String, Long)].collect().toSeq
    assert(viaFile.nonEmpty && viaFile === viaTable)
    // second call reuses the cached .txt artifact (same result)
    assert(WordCount.fullFromTextFile(spark, sf)
      .as[(String, Long)].collect().toSeq === viaTable)
  }

  test("text-file ingestion path (O2/O3) matches in-memory tokenization") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wc").toFile
    val f = new java.io.File(dir, "corpus.txt")
    java.nio.file.Files.writeString(f.toPath,
      "the quick brown fox\nthe lazy dog\nThe the THE\nfox 42 !bang fox")
    val got = WordCount.countsFromTextFile(spark, f.getAbsolutePath, 100)
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(
      "fox" -> 3L, "the" -> 3L,
      "brown" -> 1L, "dog" -> 1L, "lazy" -> 1L, "quick" -> 1L))
  }
}
