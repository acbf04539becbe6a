package graft

/** Plan lint over EVERY registered query: catches accidental cartesian
  * products and driver-side explosions for current and future entries.
  * Queries that are quadratic BY DESIGN (exact all-pairs baselines) are
  * allow-listed explicitly — adding a new product join anywhere else
  * fails this suite. */
class PlanLintSpec extends SparkSpec {

  // exact all-pairs scans (documented baselines; the scale paths are
  // their LSH/IVF/banded siblings) and bounded dimension products
  // (hours × event types in the gap-filled series). dedup_embedding is
  // no longer exempt: the blocked self-join plans as two hash joins.
  // The PQ pair are broadcast-queries × streaming-corpus BY DESIGN too:
  // ADC scores every query against every CODE row (8 ints + 1 double
  // per vector, 32× smaller than the floats) in one corpus pass with
  // no shuffle — the |Q|·N product is the scoring itself, made cheap.
  // embedding_decontamination is the same broadcast-queries × streaming-
  // corpus product as ann_range_search: the |eval|·N scoring IS the
  // exact check, with a map-side partial max so nothing shuffles.
  // ann_incremental_assign is the same broadcast-C × delta product as
  // the IVF assignment pass it replays: |delta|·16 rounded cosines IS
  // the nearest-centroid rule, with no corpus shuffle.
  // ann_index_health is a C×C product over the 16-row centroid
  // artifact — the separation audit IS the pairwise compare; the
  // corpus is never touched.
  // ann_topk_ivfpq's product is ONLY its probe stage: |Q| broadcast
  // queries × the 16-row centroid artifact (ivf_topk's exact device);
  // the corpus-sized code scan below it is an equi-join on cluster.
  // stats_equidepth_histogram (and its GK-sketch _approx twin)
  // broadcasts a ONE-row boundary list onto the scan — the bucketing
  // fold is row-local; nothing quadratic.
  // ann_knn_join's product is its probe stage only: the corpus ×
  // broadcast C≈√N centroid artifact (the nearest-centroid rule, N·√N
  // rounded cosines, map-only); the neighbor search below it is an
  // equi-join on cluster.
  private val byDesignQuadratic = Set(
    "ann_topk_brute", "ann_topk_ivf", "ann_range_search",
    "events_dense_hourly", "ann_topk_pq_adc", "ann_topk_pq",
    "embedding_decontamination", "ann_incremental_assign",
    "ann_index_health", "ann_recall_curve", "ann_topk_ivfpq",
    "ann_topk_ivfpq_rerank", "stats_equidepth_histogram",
    "stats_equidepth_histogram_approx", "ann_knn_join",
    // same probe-stage product as ann_knn_join (corpus × broadcast
    // C≈√N centroids); the candidate stage is an equi-join on cluster
    // over CODE currency and the rerank an id equi-join
    "ann_knn_join_pq",
    // same probe stage again; top-k runs as a bounded-heap aggregation
    "ann_knn_join_heap",
    // the arrival profile is the same broadcast-C × batch product as
    // ann_incremental_assign; the verdict tail is a ONE-row × ONE-row
    // product of the two error profiles — nothing corpus-quadratic
    "ann_index_drift")

  test("no registered query plans an accidental product join") {
    val offenders = SparkEntry.queries.toSeq.collect {
      case (name, fn) if !byDesignQuadratic(name) =>
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        val bad = plan.contains("CartesianProduct") ||
          plan.contains("BroadcastNestedLoopJoin")
        (name, bad)
    }.filter(_._2).map(_._1)
    assert(offenders.isEmpty, s"product joins in: $offenders")
  }

  test("chunk/CDC queries prune the documents scan to (doc_id, text)") {
    // the chunkers are pure map passes over two columns; a future edit
    // that drags lang/source/n_chars into the scan would silently read
    // 60% more bytes per row at 100 TB — pin the pruned ReadSchema
    Seq("text_chunks", "text_cdc_chunks", "dedup_chunk_keepers",
      "dedup_cdc_keepers", "dedup_chunk_rate",
      // the scrub writebacks read documents twice (occurrence stream +
      // the row-local re-slice); BOTH scans must stay (doc_id, text)
      "dedup_chunk_scrub", "dedup_cdc_scrub",
      // the incremental probe and the index refresh read documents for
      // the BATCH side only (the prior is the stored artifact)
      "dedup_chunk_incremental", "dedup_chunk_index_refresh").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
      val docScans = flatten(plan).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.getName.startsWith("documents")) => f
      }
      assert(docScans.nonEmpty, s"$q: no documents scan found")
      docScans.foreach { f =>
        assert(f.requiredSchema.fieldNames.toSet === Set("doc_id", "text"),
          s"$q: documents scan reads ${f.requiredSchema.fieldNames.mkString(",")}")
      }
    }
  }

  // --- broadcast-contract lint (r12): dimension tables broadcast,
  // fact tables never — so a stats regression (or a testdata refresh
  // that inflates a dim past the threshold) cannot silently flip the
  // flagship joins into shuffle joins, or worse, broadcast a fact.

  import org.apache.spark.sql.execution.SparkPlan

  /** Flatten a physical plan including through AQE wrappers (before
    * execution the adaptive plan is the initial physical plan). */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case other => other.children
    }
    p +: kids.flatMap(flatten)
  }

  /** Parquet table names scanned anywhere under `p`. */
  private def scannedTables(p: SparkPlan): Set[String] =
    flatten(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
    }.flatten.toSet

  /** True when the subtree REDUCES its input (aggregate/limit/window) —
    * a broadcast of such a frame is a derived small relation (a profile,
    * a threshold report), not a raw table broadcast. */
  private def reduces(p: SparkPlan): Boolean =
    flatten(p).exists {
      case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
      case _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => true
      case _: org.apache.spark.sql.execution.aggregate.SortAggregateExec => true
      case _: graft.plans.TokenMergeExec => true
      case _: org.apache.spark.sql.execution.GlobalLimitExec => true
      case _: org.apache.spark.sql.execution.LocalLimitExec => true
      case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
      case _: org.apache.spark.sql.execution.window.WindowExec => true
      case _ => false
    }

  private val factTables =
    Set("lineitem", "orders", "events", "documents", "embeddings")

  private val flagshipJoins = Seq("q3_shipping_priority", "q5_region_revenue",
    "q7_nation_trade", "q8_market_share", "q9_product_profit",
    "q10_returned_items", "q18_large_orders", "q21_waiting_suppliers",
    "q2_min_cost_supplier", "q14_promo_share")

  /** Plan the flagship joins as a 100 TB cluster would see them:
    * autoBroadcastJoinThreshold = −1 disables every STATS-driven
    * broadcast (at sf0.001 all ten tables sit under the default 10 MB
    * threshold, so fixture-scale plans legitimately broadcast filtered
    * facts — a shape that says nothing about scale). What remains
    * broadcast under −1 is exactly what the OPERATOR CODE hints — the
    * contract these lints pin. */
  private def atScalePlans: Seq[(String, SparkPlan)] = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try flagshipJoins.map(n =>
      n -> SparkEntry.queries(n)(spark, sf).queryExecution.executedPlan)
    finally spark.conf.set(key, prev)
  }

  test("rank-limit pushdown (WindowGroupLimit) is active on the top-k window queries") {
    // the r12 kNN-join attack's central finding: the window + filter
    // (rank <= k) formulation is NOT a full-candidate shuffle — Spark 4
    // plans a PARTIAL WindowGroupLimit before the exchange, bounding
    // the shuffled rows per group map-side exactly like the bounded-
    // heap aggregator (measured equal at 100×: 32.2 s window vs 36.2 s
    // heap). That pushdown only fires while the filter stays a
    // recognizable rank predicate directly over row_number — pin it on
    // the queries whose scale posture DEPENDS on it, so a refactor that
    // breaks the shape (e.g. deriving the rank through an intermediate
    // projection the optimizer can't see through) fails here by name
    // instead of silently shuffling the nprobe·N·√N candidate relation.
    val dependent = Seq("ann_knn_join", "window_top_orders", "ann_topk_ivf")
    val missing = dependent.filterNot { n =>
      flatten(SparkEntry.queries(n)(spark, sf).queryExecution.executedPlan)
        .exists {
          case _: org.apache.spark.sql.execution.window.WindowGroupLimitExec => true
          case _ => false
        }
    }
    assert(missing.isEmpty,
      s"top-k window queries without WindowGroupLimit pushdown: $missing")
  }

  test("flagship joins never hint a fact table onto the broadcast build side") {
    // with stats broadcast off, any surviving BroadcastExchange is a
    // code-level broadcast() hint; a RAW fact there (no aggregate/limit
    // reducing it first) would OOM executors at 100 TB no matter what
    // the stats say — the one mistake the threshold can't undo
    val offenders = atScalePlans.flatMap { case (name, plan) =>
      flatten(plan).collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
            if !reduces(b.child) &&
              scannedTables(b.child).exists(factTables) =>
          s"$name -> ${scannedTables(b.child).filter(factTables).mkString(",")}"
      }
    }
    assert(offenders.isEmpty, s"hinted raw fact broadcasts in: $offenders")
  }

  test("bounded-dim joins broadcast nation/region by hint, without stats help") {
    // the intended build side, pinned BY HINT per the documented
    // contract (Relational.scala header): the BOUNDED dims — region (5
    // rows) and nation (25 rows), fixed at ANY scale factor — are
    // always broadcast() in code; the scaling dims (customer/supplier/
    // part/orders) are stats/AQE territory and deliberately NOT pinned
    // (q3/q14/q18/q21 join only those — asserting a hint there would
    // pin the WRONG plan for 100 TB). A future edit that drops a
    // nation/region hint (silently flipping q5/q8/q10 into full
    // shuffle joins at scale) fails here by name.
    val dims = Set("region", "nation")
    val boundedDimJoins = Set("q2_min_cost_supplier", "q5_region_revenue",
      "q7_nation_trade", "q8_market_share", "q9_product_profit",
      "q10_returned_items")
    val missing = atScalePlans
      .filter { case (n, _) => boundedDimJoins(n) }
      .filterNot { case (_, plan) =>
        flatten(plan).exists {
          case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
            val build = b.buildSide match {
              case org.apache.spark.sql.catalyst.optimizer.BuildRight => b.right
              case _ => b.left
            }
            scannedTables(build).exists(dims)
          case _ => false
        }
      }.map(_._1)
    assert(missing.isEmpty,
      s"bounded-dim joins without a hinted nation/region broadcast build side: $missing")
  }

  // --- Generate array-carry lint (r13 lesson, encoded): an explode
  // whose OUTPUT still carries a pre-explode array column pays one
  // O(|array|) copy PER GENERATED ROW when the rows materialize —
  // O(L²/stride) per document for the chunkers, measured 62 s for five
  // 1.6 MB docs on the factor-10⁴ longdoc grid before the r13 fix
  // (slice inside the transform). The shape is invisible at fixture
  // scale and lethal at 100 TB, so pin its absence suite-wide.

  /** Query names whose Generate legitimately carries an array.
    * ann_topk_lsh: the 64-float embedding rides through the 16-band
    * posexplode so the band join's output pairs already hold both
    * vectors for the exact-cosine rank — a FIXED 16× copy of a FIXED
    * 256-byte vector (4 KB/vector, data-independent), not the
    * data-dependent O(L) carry this lint hunts; pushing the vector out
    * of the explode would instead ship it per CANDIDATE PAIR (~60%
    * candidate rate) through the two rank-side joins — strictly more
    * bytes. A future entry here needs this justification style:
    * bounded array × bounded explode cardinality, or consumption that
    * cannot be pushed inside the transform. */
  private val allowedArrayCarry = Set("ann_topk_lsh")

  /** Generate nodes in `df`'s optimized plan that carry an array-typed
    * child column through to their output. */
  private def arrayCarryingGenerates(
      df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate
          if g.requiredChildOutput.exists(
            _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]) =>
        g.requiredChildOutput
          .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
          .map(_.name).mkString(",")
    }

  test("no registered query's Generate carries a pre-explode array column") {
    val offenders = SparkEntry.queries.toSeq.flatMap {
      case (name, fn) if !allowedArrayCarry(name) =>
        arrayCarryingGenerates(fn(spark, sf)).map(cols => s"$name carries [$cols]")
      case _ => Seq.empty
    }.distinct
    assert(offenders.isEmpty,
      s"Generate array-carry (per-row O(L) copy × explode cardinality): $offenders")
  }

  test("chunk keeper/scrub elections partial-aggregate BEFORE their fingerprint exchange") {
    // the scrub fix's load-bearing property (r14): the hot-fingerprint
    // combine must happen map-side, or a boilerplate chunk's N
    // occurrences land in one reduce task (the r13 window plan's
    // failure, measured OOM at 16M occupancy in ScrubProbe). Pin that
    // every chunk_fp-keyed Exchange in these plans is fed by a partial
    // aggregate — a refactor back to a window or a final-only agg
    // fails here by name.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val offenders = Seq("dedup_chunk_keepers", "dedup_cdc_keepers",
      "dedup_chunk_scrub", "dedup_cdc_scrub").flatMap { q =>
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
      flatten(plan).collect {
        case ex: ShuffleExchangeExec
            if (ex.outputPartitioning match {
              case h: HashPartitioning =>
                h.expressions.exists(_.toString.contains("chunk_fp"))
              case _ => false
            }) && !flatten(ex.child).exists {
              case agg: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
                agg.aggregateExpressions.forall(
                  _.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial)
              case _ => false
            } =>
          s"$q: chunk_fp exchange without a map-side partial aggregate"
      }
    }
    assert(offenders.isEmpty, offenders.toString)
    // and the shape under test actually exists: at least one plan has
    // a chunk_fp-keyed exchange (guards against the lint going vacuous
    // after a column rename)
    val fpExchanges = Seq("dedup_chunk_scrub").flatMap { q =>
      flatten(SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan).collect {
        case ex: ShuffleExchangeExec
            if ex.outputPartitioning.toString.contains("chunk_fp") => ex
      }
    }
    assert(fpExchanges.nonEmpty, "no chunk_fp exchange found — lint went vacuous")
  }

  test("scrub keeper election stays SORT-aggregated — the memory-robust plan the r15 race chose") {
    // r15 raced the packed-long HashAggregate election against this
    // min(struct) SortAggregate on ScrubProbe's boilerplate workload:
    // the hash form lost 0/3 runs at 8 M docs (OOM) in the same
    // alternating session where the sort form completed 3/4 in
    // 35-45 s — with millions of
    // distinct 16-byte group keys per partition, the aggregation hash
    // map exhausts execution memory the streaming sort never needs.
    // Pin that the chunk_fp-keyed election does NOT silently become a
    // HashAggregate again (the only way it would is re-packing the key).
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    Seq("dedup_chunk_scrub", "dedup_cdc_scrub").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
      val hashFpAggs = flatten(plan).collect {
        case a: HashAggregateExec
            if a.groupingExpressions.exists(_.toString.contains("chunk_fp")) &&
              a.aggregateExpressions.exists(_.toString.contains("min(")) => a
      }
      assert(hashFpAggs.isEmpty,
        s"$q: chunk_fp-keyed min election planned as HashAggregate — " +
          "measured OOM class on high-cardinality hash currency (r15 race)")
    }
  }

  test("classifier and chunk-diff queries read only the columns they use") {
    // same 100 TB rationale as the chunk-family ReadSchema lint; these
    // queries make SEVERAL documents scans (features, intercept, dense
    // signals / both snapshots), each of which must stay pruned
    // corpus_chunk_diff itself returns a plan over the two STORED
    // fp-set artifacts (correct — no documents scan to lint), so its
    // row here lints the ARTIFACT-BUILD plan instead; every entry
    // asserts docScans.nonEmpty so a cache/plan reshuffle cannot turn
    // the lint vacuous again (r15 advice)
    val chunkDiffBuild: org.apache.spark.sql.DataFrame =
      graft.operators.TextAnalysis.sourceChunkFps(
        graft.sources.Tables.documents(spark, sf)
          .select("doc_id", "source", "text"), 32)
    Seq[(String, Set[String], () => org.apache.spark.sql.DataFrame)](
      ("text_classifier_score", Set("doc_id", "text"),
        () => SparkEntry.queries("text_classifier_score")(spark, sf)),
      ("text_classifier_holdout", Set("doc_id", "text"),
        () => SparkEntry.queries("text_classifier_holdout")(spark, sf)),
      ("corpus_chunk_diff fp-set build", Set("doc_id", "source", "text"),
        () => chunkDiffBuild)).foreach {
      case (q, allowed, frame) =>
        val plan = frame().queryExecution.executedPlan
        val docScans = flatten(plan).collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.relation.location.rootPaths.exists(_.getName.startsWith("documents")) => f
        }
        assert(docScans.nonEmpty,
          s"$q: no documents scan in the linted plan — lint went vacuous")
        docScans.foreach { f =>
          assert(f.requiredSchema.fieldNames.toSet.subsetOf(allowed),
            s"$q: documents scan reads ${f.requiredSchema.fieldNames.mkString(",")}")
        }
    }
  }

  test("no registered query explodes a MATERIALIZED nested-payload array column") {
    // the r14 CDC lesson: posexplode over a column reference whose
    // elements carry nested arrays (struct<…, array<…>>) pays a nested
    // unsafe re-encode per generated row — measured 0.5 s (inline
    // generator expression) vs 21 s (same data, materialized column) at
    // sf0.1. Exploding flat payloads (scalars, strings, structs of
    // scalars) from a column is fine; nested ones must inline the
    // expression into the Generate.
    import org.apache.spark.sql.types.{ArrayType, StructType}
    def nestedPayload(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case ArrayType(st: StructType, _) =>
        st.fields.exists(_.dataType.isInstanceOf[ArrayType])
      case ArrayType(et, _) => et.isInstanceOf[ArrayType]
      case _ => false
    }
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      fn(spark, sf).queryExecution.optimizedPlan.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate
            if g.generator.children.exists {
              case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
                nestedPayload(a.dataType)
              case _ => false
            } =>
          s"$name explodes a materialized ${g.generator.children.map(_.dataType.simpleString).mkString}"
      }
    }.distinct
    assert(offenders.isEmpty, s"nested-column explodes: $offenders")
  }

  test("the array-carry detector catches the regressed post-explode-slice spelling") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the exact r13 bug shape: explode positions, slice the carried
    // array AFTER the Generate — the detector must flag it
    val bad = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(expr("sequence(0, size(toks) - 1, 2)")))
      .select(col("doc_id"), expr("slice(toks, pos + 1, 2)").as("chunk"))
    assert(arrayCarryingGenerates(bad).nonEmpty,
      "detector missed the post-explode slice carry")
    // and the fixed spelling (slice inside the transform) passes
    val good = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(toks) - 1, 2), s -> slice(toks, s + 1, 2))")))
    assert(arrayCarryingGenerates(good).isEmpty,
      "detector false-positives on the slice-inside-transform spelling")
  }

  test("word-count queries tokenize with the byte kernel: no regex split or filter") {
    // a fallback to split([ \n]) + rlike(^[a-z]) would bring back a
    // per-row String decode, Pattern compile and per-token regex; a
    // fallback to explode + groupBy would bring back a Generate row and
    // a partial-aggregate key probe per token
    import org.apache.spark.sql.catalyst.expressions.{RLike, StringSplit}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Partial}
    import org.apache.spark.sql.catalyst.plans.logical.Expand
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, SortAggregateExec}
    import graft.plans.{TokenCount, TokenCountExec, TokenMergeExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
      case other => other.children
    }).flatMap(nodes)
    def isPartialAgg(p: SparkPlan): Boolean = p match {
      case a: BaseAggregateExec => a.aggregateExpressions.exists(_.mode == Partial)
      case _ => false
    }
    Seq("wordcount_topk", "wordcount_full", "wordcount_textfile", "letter_buckets").foreach { q =>
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      val plan = qe.optimizedPlan
      val exec = nodes(qe.executedPlan)
      val exprs = plan.collect { case p => p.expressions }.flatten ++ exec.flatMap(_.expressions)
      val regex = exprs.flatMap(_.collect {
        case e @ (_: RLike | _: StringSplit) => e.prettyName
      })
      assert(regex.isEmpty, s"$q plans regex tokenization: ${regex.distinct}")
      assert(plan.collect { case t: TokenCount => t }.size == 1,
        s"$q does not count with one TokenCount node:\n$plan")
      assert(exec.collect { case t: TokenCountExec => t }.size == 1,
        s"$q does not execute one TokenCountExec:\n${qe.executedPlan}")
      assert(!exec.exists(_.isInstanceOf[GenerateExec]), s"$q explodes tokens into rows")
      // the word exchange sits right on the fused counter, with no
      // partial aggregate below it
      val wordShuffle = exec.collect {
        case e: ShuffleExchangeExec if e.child.isInstanceOf[TokenCountExec] => e
      }
      assert(wordShuffle.size == 1, s"$q: no exchange directly over TokenCountExec")
      assert(!nodes(wordShuffle.head).exists(isPartialAgg),
        s"$q plans a partial aggregate under the word exchange")
      // the words are merged by the graft exec right over that exchange,
      // with no Tungsten aggregate or sort at word level
      val merges = exec.filter(_.children.exists(_ eq wordShuffle.head))
      assert(merges.size == 1 && merges.head.isInstanceOf[TokenMergeExec],
        s"$q: the exec over the word exchange is not TokenMergeExec:\n${qe.executedPlan}")
      val tungsten: SparkPlan => Boolean = {
        case _: HashAggregateExec | _: SortAggregateExec | _: SortExec => true
        case _ => false
      }
      assert(!nodes(merges.head).exists(tungsten),
        s"$q aggregates or sorts words outside TokenMergeExec:\n${qe.executedPlan}")
      if (q != "letter_buckets")
        assert(!exec.exists(tungsten), s"$q aggregates or sorts words:\n${qe.executedPlan}")
    }
    val buckets = SparkEntry.queries("letter_buckets")(spark, sf).queryExecution.optimizedPlan
    val distinct = buckets.collect { case p => p.expressions }.flatten.flatMap(_.collect {
      case a: AggregateExpression if a.isDistinct => a
    })
    assert(distinct.isEmpty && buckets.collect { case e: Expand => e }.isEmpty,
      s"letter_buckets plans a distinct aggregate: $distinct")
  }

  test("ordered word counts shuffle once, by first-letter range, in 2 jobs") {
    // the reference's reducers own first-letter ranges, so the ordered
    // counts need no sampled range bounds: one pass-through exchange and
    // no RangePartitioning, a map job and a result job; the unordered
    // queries keep the hash exchange
    import org.apache.spark.sql.catalyst.plans.physical.{
      HashPartitioning, RangePartitioning, ShufflePartitionIdPassThrough}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.plans.TokenCountExec
    // plans are read before the write runs, so `flatten` sees the
    // initial adaptive plan
    def exchanges(q: String) = {
      val df = SparkEntry.queries(q)(spark, sf)
      (df, flatten(df.queryExecution.executedPlan).collect { case e: ShuffleExchangeExec => e })
    }
    def jobsOfWrite(df: org.apache.spark.sql.DataFrame): Int =
      jobsOf(df.write.format("noop").mode("overwrite").save())._2
    Seq("wordcount_full", "wordcount_textfile").foreach { q =>
      val (df, ex) = exchanges(q)
      assert(ex.size == 1 && ex.head.child.isInstanceOf[TokenCountExec] &&
        ex.head.outputPartitioning.isInstanceOf[ShufflePartitionIdPassThrough],
        s"$q: not one pass-through exchange over TokenCountExec:\n${df.queryExecution.executedPlan}")
      val partitionings = flatten(df.queryExecution.executedPlan).map(_.outputPartitioning)
      assert(!partitionings.exists(_.isInstanceOf[RangePartitioning]), s"$q plans a range partitioning")
      val jobs = jobsOfWrite(df)
      assert(jobs == 2, s"$q ran $jobs jobs")
    }
    Seq("wordcount_topk", "letter_buckets").foreach { q =>
      val (_, ex) = exchanges(q)
      val word = ex.filter(_.child.isInstanceOf[TokenCountExec])
      assert(word.size == 1 && word.head.outputPartitioning.isInstanceOf[HashPartitioning],
        s"$q: the word exchange is not a hash exchange: ${ex.map(_.outputPartitioning)}")
    }
    // letter_buckets sorts its at most 26 letter rows in one task: no
    // range exchange and no sampling job, so the word map, the letter
    // map and the result are its only jobs
    val (buckets, bucketEx) = exchanges("letter_buckets")
    assert(!bucketEx.exists(_.outputPartitioning.isInstanceOf[RangePartitioning]),
      s"letter_buckets plans a range exchange:\n${buckets.queryExecution.executedPlan}")
    val bucketJobs = jobsOfWrite(buckets)
    assert(bucketJobs == 3, s"letter_buckets ran $bucketJobs jobs")
  }

  test("every query's plan builds and has output columns") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    // onQueryStarted runs synchronously inside start(), so the count
    // read right after a build is that build's own streaming queries
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.incrementAndGet(): Unit
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try SparkEntry.specs.foreach { s =>
      started.set(0)
      val df = s.build(spark, sf)
      assert(df.columns.nonEmpty, s"${s.name} has no output columns")
      assert((started.get() > 0) == s.drain,
        s"${s.name}: drain = ${s.drain} but started ${started.get()} streaming queries")
    } finally spark.streams.removeListener(listener)
  }

  test("spec names are unique; queries and oracleSql project the specs") {
    val names = SparkEntry.specs.map(_.name)
    val duplicates = names.diff(names.distinct)
    assert(duplicates.isEmpty, s"duplicate spec names: $duplicates")
    assert(SparkEntry.queries.keySet == names.toSet)
    SparkEntry.specs.foreach(s => assert(SparkEntry.queries(s.name) eq s.build, s.name))
    val oracles = SparkEntry.specs.collect {
      case QuerySpec(name, _, QuerySpec.Oracle(sql), _) => name -> sql
    }
    assert(SparkEntry.oracleSql == oracles.toMap && SparkEntry.oracleSql.size == oracles.size)
  }
}
