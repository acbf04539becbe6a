package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextAnalysis}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: docs shorter than n words yield no shingles (no descending-sequence junk)") {
    // exercised via the full path on a tiny in-memory equivalent of the expr
    val df = Seq("one two", "one two three four").toDF("text")
      .select(TextAnalysis.wsTokens(col("text")).as("w"))
      .select(explode(expr(
        "CASE WHEN size(w) >= 3 THEN transform(sequence(0, size(w) - 3), i -> concat_ws(' ', slice(w, i + 1, 3))) ELSE array() END"))
        .as("shingle"))
    assert(df.as[String].collect().toSeq === Seq("one two three", "two three four"))
  }

  test("minhash signatures are 64-wide and deterministic") {
    val sig = Dedup.minhashSignatures(spark, sf).limit(5).collect()
    assert(sig.nonEmpty)
    assert(sig.forall(_.getSeq[Long](1).length === 64))
    val again = Dedup.minhashSignatures(spark, sf).limit(5).collect()
    assert(sig.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("LSH pairs equal exact jaccard pairs at threshold 0.8 (recall check)") {
    val exact = Dedup.ngramJaccardPairs(spark, sf).collect().map(_.toString).toSeq
    val lsh = Dedup.minhashLshPairs(spark, sf).collect().map(_.toString).toSeq
    assert(exact.nonEmpty, "corpus should contain near-dups")
    assert(lsh === exact)
  }

  test("jaccard math on hand-built docs: identical=1.0, disjoint absent, computed overlap exact") {
    // doc 0 == doc 1 (jaccard 1.0); doc 2 shares a 5-of-? shingle overlap;
    // doc 3 disjoint
    val docs = Seq(
      (0L, "a b c d e f g"),   // shingles: abc bcd cde def efg (5)
      (1L, "a b c d e f g"),
      (2L, "a b c d e f z"),   // abc bcd cde def efz -> 4 common of 6 union
      (3L, "q r s t u v w")
    ).toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.ngramJaccardPairsOf(docs, threshold = 0.1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) === 1.0)
    assert(pairs((0L, 2L)) === 0.6667) // 4 / (5 + 5 - 4)
    assert(pairs((1L, 2L)) === 0.6667)
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("duplicate clusters: transitive chains collapse to one component") {
    // chain 1-2, 2-3 plus isolated pair 10-11: components {1,2,3}, {10,11}
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.85), (10L, 11L, 0.95))
      .toDF("doc_a", "doc_b", "jaccard")
    val clusters = graft.operators.Dedup.duplicateClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(clusters === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("exact dedup partitions the corpus: group sizes sum to row count") {
    val ex = Dedup.exact(spark, sf)
    val total = ex.agg(sum("n_copies")).as[Long].head()
    assert(total === graft.sources.Tables.documents(spark, sf).count())
  }

  test("simhash pairs have hamming <= 3 and doc_a < doc_b") {
    val p = Dedup.simhashPairs(spark, sf).collect()
    assert(p.forall(r => r.getInt(2) <= 3 || r.getLong(2) <= 3))
    assert(p.forall(r => r.getLong(0) < r.getLong(1)))
    // the corpus-form signature entry point covers every doc exactly once
    val sigs = Dedup.simhashSignatures(spark, sf)
    assert(sigs.count() === graft.sources.Tables.documents(spark, sf).count())
    assert(sigs.select("doc_id").distinct().count() === sigs.count())
  }

  test("embedding near-dup pairs are symmetric-free and cosine-bounded") {
    val p = Dedup.embeddingNearDupPairs(spark, sf, 0.3).collect()
    assert(p.forall(r => r.getLong(0) < r.getLong(1)))
    assert(p.forall(r => r.getDouble(2) >= 0.3 && r.getDouble(2) <= 1.0))
  }

  test("blocked embedding pairs equal the crossJoin baseline pair-for-pair") {
    val exact = Dedup.embeddingNearDupPairs(spark, sf, 0.3)
      .collect().map(_.toString).toSeq
    val blocked = Dedup.embeddingNearDupPairsBlocked(spark, sf, 0.3)
      .collect().map(_.toString).toSeq
    assert(exact.nonEmpty, "corpus should contain near-dup embeddings at 0.3")
    assert(blocked === exact)
  }

  test("pair-expansion guard: a tiny budget refuses BEFORE expansion, the default admits") {
    // the sf corpus expands to a small pair table → default budget admits
    val admitted = Dedup.semanticDedupPairs(spark, sf).count()
    assert(admitted > 0)
    // budget 0 must refuse with the exact count and the linear escape
    // hatches in the message — and refuse from the GUARD (the exception
    // type), not from some downstream OOM
    val eSem = intercept[graft.operators.PairExplosionException] {
      Dedup.semanticDedupPairs(spark, sf, maxExpandedPairs = 0L).count()
    }
    assert(eSem.getMessage.contains(s"would expand to $admitted member pairs"))
    assert(eSem.getMessage.contains("semanticDedupKeepers"))
    val eEmb = intercept[graft.operators.PairExplosionException] {
      Dedup.embeddingNearDupPairsBlocked(spark, sf, maxExpandedPairs = 0L).count()
    }
    assert(eEmb.getMessage.contains("SPARK_GRAFT_MAX_PAIRS"))
    // the guard prices EXPANSION, not survivors: on a clone-amplified
    // frame the expanded count must exceed the survivor count, and a
    // budget between the two must still refuse
    val embPairs = Dedup.embeddingNearDupPairsBlocked(spark, sf).count()
    val eMid = intercept[graft.operators.PairExplosionException] {
      Dedup.embeddingNearDupPairsBlocked(spark, sf,
        maxExpandedPairs = embPairs - 1).count()
    }
    assert(eMid.getMessage.contains(s"would expand to $embPairs"))
    // exactly at the budget → admitted (the guard is > not >=)
    assert(Dedup.embeddingNearDupPairsBlocked(spark, sf,
      maxExpandedPairs = embPairs).count() === embPairs)
  }

  test("semantic top-m equals the symmetrized pair view's per-vector cut; output bounded by m") {
    import org.apache.spark.sql.expressions.Window
    // the member-level statement of the contract: symmetrize the
    // all-pairs view, cut top-5 per vector on (cosine desc, id asc) —
    // the canonical-level candidate pruning must reproduce it exactly
    val pairs = Dedup.semanticDedupPairs(spark, sf)
      .select(col("keep_id"), col("dup_id"), col("cosine"))
    val sym = pairs.select(col("keep_id").as("vec_id"),
        col("dup_id").as("neighbor_id"), col("cosine"))
      .unionByName(pairs.select(col("dup_id").as("vec_id"),
        col("keep_id").as("neighbor_id"), col("cosine")))
    val w = Window.partitionBy("vec_id").orderBy(desc("cosine"), asc("neighbor_id"))
    val expected = sym.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 5)
      .select("vec_id", "neighbor_id", "cosine", "rank")
      .orderBy("vec_id", "rank")
      .collect().map(_.toString).toSeq
    val got = Dedup.semanticDedupTopM(spark, sf)
      .collect().map(_.toString).toSeq
    assert(got.nonEmpty)
    assert(got === expected)
    // bounded-output contract: never more than m rows per vector
    val over = Dedup.semanticDedupTopM(spark, sf)
      .groupBy("vec_id").count().filter(col("count") > 5).count()
    assert(over === 0L)
  }

  test("semantic top-m candidate cut stays exact under clone-heavy duplication (group > m+1)") {
    import org.apache.spark.sql.expressions.Window
    // 5× clone-amplified corpus (ScaleUp's uniform device: same vector,
    // offset vec_id) with m = 2: duplicate groups of 5 exceed the m+1 = 3
    // candidate window, so the pruning genuinely discards group members
    // — the cut must still reproduce the member-level top-m exactly
    // (only a group's lowest ids can rank, since clones share cosines)
    val dir = java.nio.file.Files.createTempDirectory("graft-topm-clones-").toString
    try {
      val base = spark.read.parquet(s"$sf/embeddings.parquet")
      (0 until 5).map(i => base.withColumn("vec_id",
          col("vec_id") + lit(i * 1000000000L)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val pairs = Dedup.semanticDedupPairs(spark, dir)
        .select(col("keep_id"), col("dup_id"), col("cosine"))
      val sym = pairs.select(col("keep_id").as("vec_id"),
          col("dup_id").as("neighbor_id"), col("cosine"))
        .unionByName(pairs.select(col("dup_id").as("vec_id"),
          col("keep_id").as("neighbor_id"), col("cosine")))
      val w = Window.partitionBy("vec_id").orderBy(desc("cosine"), asc("neighbor_id"))
      val expected = sym.withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 2)
        .select("vec_id", "neighbor_id", "cosine", "rank")
        .orderBy("vec_id", "rank")
        .collect().map(_.toString).toSeq
      val got = Dedup.semanticDedupTopM(spark, dir, m = 2)
        .collect().map(_.toString).toSeq
      assert(got.nonEmpty)
      assert(got === expected)
      // clone groups really are neighbors: every clone's rank-1 neighbor
      // is a cosine-1.0 row (its own group), so the self-group m+1 slot
      // logic is exercised, not vacuous
      assert(got.count(_.contains(",1.0,1]")) > 0)
    } finally graft.sources.ArtifactCache.deleteRecursively(new java.io.File(dir))
  }

  test("pair-budget report prices exactly what the views expand to, without expanding") {
    val report = Dedup.pairExpansionReport(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(report.keySet === Set("embedding", "semantic"))
    assert(report("embedding") ===
      Dedup.embeddingNearDupPairsBlocked(spark, sf).count())
    assert(report("semantic") === Dedup.semanticDedupPairs(spark, sf).count())
  }

  test("blocked embedding pairs plan has no product join") {
    val plan = Dedup.embeddingNearDupPairsBlocked(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("block-pair bound pruning skips antipodal cluster blocks without changing a row") {
    import graft.functions.VectorOps
    // two tight antipodal clusters, blocks CORRELATED with the clusters
    // (the corpus form hashes; a production clustered corpus would use
    // the IVF cell id). Unit vectors, so nrm = 1 exactly.
    val a = 0.99503719f; val b = 0.09950372f
    val emb = Seq(
      (1L, Seq(1f, 0f, 0f, 0f), 0),
      (2L, Seq(a, b, 0f, 0f), 0),
      (3L, Seq(a, -b, 0f, 0f), 0),
      (4L, Seq(-1f, 0f, 0f, 0f), 1),
      (5L, Seq(-a, -b, 0f, 0f), 1),
      (6L, Seq(-a, b, 0f, 0f), 1)
    ).toDF("vec_id", "e", "g").withColumn("nrm", lit(1.0d))
    val surviving = Dedup.survivingBlockPairs(spark, emb, 0.5, 2)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    // cross-cluster bound ≈ c0·c1 + residual terms ≈ −0.99 + 0.2 ≪ 0.5:
    // the (0,1) block pair is PROVABLY empty and must be pruned; the
    // intra-cluster pairs (bound ≈ 1) must survive
    assert(surviving === Set((0, 0), (1, 1)),
      s"expected antipodal block pair pruned, got $surviving")
    // exactness: the pruned join equals the brute-force threshold join
    val pruned = Dedup.embeddingPairsOverBlocks(spark, emb, 0.5, 2)
      .collect().map(_.toString).toSeq
    val x = emb.select(col("vec_id").as("va"), col("e").as("e_a"), col("nrm").as("n_a"))
    val y = emb.select(col("vec_id").as("vb"), col("e").as("e_b"), col("nrm").as("n_b"))
    val brute = x.crossJoin(y).filter(col("va") < col("vb"))
      .select(col("va").as("vec_a"), col("vb").as("vec_b"),
        graft.functions.Deterministic.rd(
          VectorOps.cosine(col("e_a"), col("n_a"), col("e_b"), col("n_b")), 4)
          .as("cosine"))
      .filter(col("cosine") >= 0.5)
      .orderBy("vec_a", "vec_b")
      .collect().map(_.toString).toSeq
    assert(brute.size === 6, "each cluster contributes its 3 intra pairs")
    assert(pruned === brute)
  }

  test("block pruning report: one consistent row, and its surviving set is the join's") {
    val r = Dedup.embeddingBlockPruningReport(spark, sf).collect()
    assert(r.length === 1)
    val (nb, total, surv, frac) =
      (r(0).getInt(0), r(0).getLong(1), r(0).getLong(2), r(0).getDouble(3))
    assert(nb === 8 && total === 36, "8 hash blocks, triangular pair count")
    assert(surv >= 1 && surv <= total, s"surviving $surv in range")
    assert(math.abs(frac - (1.0 - surv.toDouble / total)) < 1e-9, "frac consistent")
    // the report must describe the exact join actually run: its surviving
    // count equals the pruned relation the join broadcasts (canonical
    // blocks, mirroring the operator's r10 collapse)
    import graft.functions.VectorOps
    val (_, canon) = VectorOps.exactVectorGroups(
      VectorOps.normalizedEmbeddings(spark, sf))
    val emb = canon.select(col("canon_id").as("vec_id"), col("e"), col("nrm"),
      pmod(xxhash64(col("canon_id")), lit(8)).cast("int").as("g"))
    assert(Dedup.survivingBlockPairs(spark, emb, 0.35, 8).count() === surv)
  }

  test("canonical vector collapse: all three embedding consumers equal their member-level forms on a clone-amplified corpus") {
    // The r10 100× sweep measured the member-level formulations at
    // p≈1.9 on clone-amplified data; the collapse must change COST, not
    // rows. Amplify the fixture 3× ScaleUp-style (clones keep the exact
    // float coordinates, new key universes) and check each rewritten
    // operator against its direct member-level spelling on disk.
    import graft.functions.VectorOps
    val off = 1000000000L
    val dir = java.nio.file.Files.createTempDirectory("graft-clone-diff").toString
    def amp(name: String, key: String): Unit = {
      val t = spark.read.parquet(s"$sf/$name.parquet")
      (0 until 3).map(i => t.withColumn(key, col(key) + lit(i * off)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    amp("embeddings", "vec_id"); amp("documents", "doc_id")

    // 1. exact blocked threshold join vs brute all-pairs
    val blocked = Dedup.embeddingNearDupPairsBlocked(spark, dir)
      .collect().map(_.toString).toSeq
    val emb = VectorOps.normalizedEmbeddings(spark, dir)
    val x = emb.select(col("vec_id").as("va"), col("e").as("e_a"), col("nrm").as("n_a"))
    val y = emb.select(col("vec_id").as("vb"), col("e").as("e_b"), col("nrm").as("n_b"))
    val brute = x.crossJoin(y).filter(col("va") < col("vb"))
      .select(col("va").as("vec_a"), col("vb").as("vec_b"),
        graft.functions.Deterministic.rd(
          VectorOps.cosine(col("e_a"), col("n_a"), col("e_b"), col("n_b")), 4)
          .as("cosine"))
      .filter(col("cosine") >= 0.35)
      .orderBy("vec_a", "vec_b").collect().map(_.toString).toSeq
    assert(brute.nonEmpty && blocked === brute)

    // 2. semantic dedup vs the direct within-cell member join
    val semantic = Dedup.semanticDedupPairs(spark, dir)
      .collect().map(_.toString).toSeq
    val withVec = graft.operators.Similarity.assignmentIndex(spark, dir, 16, 2)
      .join(emb, Seq("vec_id"))
    val a2 = withVec.select(col("cluster"), col("vec_id").as("keep_id"),
      col("e").as("e_a"), col("nrm").as("n_a"))
    val b2 = withVec.select(col("cluster"), col("vec_id").as("dup_id"),
      col("e").as("e_b"), col("nrm").as("n_b"))
    val directSem = a2.join(b2, Seq("cluster"))
      .filter(col("keep_id") < col("dup_id"))
      .select(col("cluster"), col("keep_id"), col("dup_id"),
        graft.functions.Deterministic.rd(
          VectorOps.cosine(col("e_a"), col("n_a"), col("e_b"), col("n_b")), 4)
          .as("cosine"))
      .filter(col("cosine") >= 0.3)
      .orderBy("cluster", "keep_id", "dup_id").collect().map(_.toString).toSeq
    assert(directSem.nonEmpty && semantic === directSem)

    // 3. embedding decontamination vs the direct broadcast-max form
    val deco = graft.operators.Similarity.embeddingDecontaminate(spark, dir)
      .collect().map(_.toString).toSeq
    val evalIds = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("source") === "src9").select(col("doc_id").as("vec_id"))
    val evalVecs = emb.join(evalIds, Seq("vec_id"))
      .select(col("e").as("e_q"), col("nrm").as("n_q"))
    val directDeco = emb.join(evalIds, Seq("vec_id"), "left_anti")
      .join(broadcast(evalVecs))
      .groupBy("vec_id")
      .agg(max(graft.functions.Deterministic.rd(
        VectorOps.cosine(col("e"), col("nrm"), col("e_q"), col("n_q")), 4))
        .as("max_eval_cosine"))
      .select(col("vec_id").as("doc_id"), col("max_eval_cosine"),
        (col("max_eval_cosine") >= 0.4).as("contaminated"))
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(directDeco.nonEmpty && deco === directDeco)
    // the clone corpus must actually exercise expansion: intra-group
    // pairs (cosine 1.0 between clones) must be present
    assert(blocked.count(_.contains("1.0")) >= 3)

    // 4. keeper verdicts equal the pair-table reduction on the SAME
    // clone corpus (keeper(v) = min keep over pairs (keep, v)): the
    // canonical closure-min spelling must never drift from the member
    // pairs it summarizes
    val keepers = Dedup.semanticDedupKeepers(spark, dir)
      .select("vec_id", "keeper_id", "kept").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]), r.getBoolean(2)))
    val fromPairs = Dedup.semanticDedupPairs(spark, dir)
      .groupBy("dup_id").agg(min("keep_id").as("k")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keepers.length === emb.count(), "one verdict per vector")
    keepers.foreach { case (v, keeper, kept) =>
      assert(keeper === fromPairs.get(v), s"vec $v keeper")
      assert(kept === fromPairs.get(v).isEmpty, s"vec $v kept flag")
    }
    // clones guarantee both outcomes occur
    assert(keepers.exists(_._3) && keepers.exists(!_._3))
  }

  test("materialized pair table round-trips the direct pair computation") {
    val direct = Dedup.ngramJaccardPairs(spark, sf).collect().map(_.toString).toSeq
    val mat = Dedup.ngramJaccardPairsMaterialized(spark, sf)
      .collect().map(_.toString).toSeq
    assert(mat === direct)
    // second call hits the JVM-wide cache: same rows again, no rebuild
    val again = Dedup.ngramJaccardPairsMaterialized(spark, sf)
      .collect().map(_.toString).toSeq
    assert(again === direct)
  }

  test("star-edge nearDupClusters equals components over the member-level pair graph") {
    // the differential for the scale fix: canonical pairs + membership
    // star edges must produce cluster-for-cluster the same labels as
    // label propagation over the full (quadratic-in-group-size) member
    // pair table
    val direct = Dedup.duplicateClusters(Dedup.ngramJaccardPairs(spark, sf))
      .collect().map(_.toString).toSeq
    val viaStars = Dedup.nearDupClusters(spark, sf)
      .collect().map(_.toString).toSeq
    assert(viaStars === direct)
  }

  test("materializePairs is read-if-exists: a second session reuses the artifact") {
    val out = java.nio.file.Files.createTempDirectory("graft-pairs-test-")
      .resolve("pairs.parquet").toString
    val first = Dedup.materializePairs(spark, sf, out)
      .collect().map(_.toString).sorted.toSeq
    val marker = new java.io.File(out, "_SUCCESS")
    assert(marker.exists(), "completed artifact must carry _SUCCESS")
    val written = new java.io.File(out).listFiles().map(f => f.getName -> f.lastModified).toMap
    // second call (fresh consumer, simulating another session's read path)
    // must serve the same rows WITHOUT rewriting the artifact
    val second = Dedup.materializePairs(spark, sf, out)
      .collect().map(_.toString).sorted.toSeq
    assert(second === first)
    val after = new java.io.File(out).listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(after === written, "read-if-exists must not rewrite the artifact")
  }

  test("session pair cache invalidates when the corpus fingerprint changes") {
    // build a private corpus dir; materializedPairs keys on its content
    val dir = java.nio.file.Files.createTempDirectory("graft-corpus-test-")
    val corpus = dir.toString
    def writeDocs(texts: Seq[(Long, String)]): Unit =
      texts.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text")))
        .coalesce(1).write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    val dup = "alpha beta gamma delta epsilon zeta"
    writeDocs(Seq((1L, dup), (2L, dup), (3L, "one two three four five six")))
    val v1 = Dedup.materializedPairs(spark, corpus).count()
    // regenerate the corpus in place: same dir, different data
    writeDocs(Seq((1L, dup), (2L, "unrelated text entirely here now"),
      (3L, "one two three four five six")))
    val v2 = Dedup.materializedPairs(spark, corpus).count()
    assert(v1 === 1L, "identical docs 1,2 are an exact-dup pair")
    assert(v2 === 0L, "refreshed corpus has no near-dup pairs — stale cache not served")
  }

  test("sketch indexes are stored artifacts; corpus forms match the in-memory forms") {
    val docs = graft.sources.Tables.documents(spark, sf)
    // corpus forms (artifact-backed) equal the library forms (in-memory)
    val simDirect = Dedup.simhashPairsOf(docs).collect().map(_.toString).toSeq
    val simIndexed = Dedup.simhashPairs(spark, sf).collect().map(_.toString).toSeq
    assert(simIndexed === simDirect)
    val lshDirect = Dedup.minhashLshPairsOf(docs).collect().map(_.toString).toSeq
    val lshIndexed = Dedup.minhashLshPairs(spark, sf).collect().map(_.toString).toSeq
    assert(lshIndexed === lshDirect)
    // the indexes exist as completed parquet artifacts on disk
    val root = graft.sources.ArtifactCache.root(spark)
    val base = java.nio.file.Paths.get(root)
    for (name <- Seq("shingle-hashes", "minhash-sig", "simhash-sig")) {
      val dirs = base.toFile.listFiles().filter(_.getName.startsWith(s"$name-"))
      assert(dirs.nonEmpty, s"stored artifact for $name must exist under $base")
      assert(dirs.exists(d => d.listFiles().exists(fp =>
        new java.io.File(fp, "_SUCCESS").exists())),
        s"artifact for $name must carry a _SUCCESS marker")
    }
    // every engine-written scratch path lies under the context's root:
    // a readOrWrite artifact, a bucketed table and a row-scaled spool
    def files(df: org.apache.spark.sql.DataFrame) = {
      val fs = df.inputFiles.toSeq
      assert(fs.nonEmpty)
      fs
    }
    val stored = files(graft.sources.ArtifactCache.readOrWrite(spark, "root-check", "v1",
      s"$sf/documents.parquet")(spark.range(3).toDF("id")))
    val bucketed = files(graft.operators.Layout.bucketedTable(spark, "rootcheck", 2,
      "doc_id", s"$sf/documents.parquet")(docs.select("doc_id")))
    val spooled = files(graft.streaming.EventStream.sessionizeViaStream(spark, sf))
    for (f <- stored ++ bucketed ++ spooled)
      assert(new java.net.URI(f).getPath.startsWith(s"$root/"), s"$f is not under $root")
  }

  test("incremental probes read STORED fingerprint indexes; driver forms match library forms") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val odd = docs.filter($"doc_id" % 2 === 1)
    val even = docs.filter($"doc_id" % 2 === 0)
    // doc grain: the stored-index driver form equals the inline library form
    val docIndexed = Dedup.incrementalDedup(spark, sf).collect().map(_.toString).toSeq
    val docDirect = Dedup.incrementalDedupOf(odd, even).collect().map(_.toString).toSeq
    assert(docIndexed === docDirect)
    // chunk grain: same parity
    val chunkIndexed = Dedup.chunkDedupIncremental(spark, sf).collect().map(_.toString).toSeq
    val chunkDirect = Dedup.chunkDedupIncrementalOf(odd, even).collect().map(_.toString).toSeq
    assert(chunkIndexed === chunkDirect)
    // both indexes exist as completed on-disk artifacts (the O(batch)
    // probe posture: an arrival never re-reads the prior corpus)
    val base = java.nio.file.Paths.get(graft.sources.ArtifactCache.root(spark))
    for (name <- Seq("doc-fp-index", "chunk-keeper-index")) {
      val dirs = base.toFile.listFiles().filter(_.getName.startsWith(s"$name-"))
      assert(dirs.nonEmpty, s"stored artifact for $name must exist under $base")
      assert(dirs.exists(d => d.listFiles().exists(fp =>
        new java.io.File(fp, "_SUCCESS").exists())),
        s"artifact for $name must carry a _SUCCESS marker")
    }
    // the keeper index IS chunkDedupKeepersOf(prior) — reusable as-is
    assert(Dedup.chunkKeeperIndex(spark, sf).orderBy("chunk_fp")
      .collect().map(_.toString).toSeq ===
      Dedup.chunkDedupKeepersOf(even).collect().map(_.toString).toSeq)
  }

  test("chunk index refresh: merging a batch into the stored index equals rebuilding from scratch") {
    // the refresh's whole contract — every keeper-table column is a
    // mergeable aggregate, so absorb-the-batch and recompute-the-world
    // must be indistinguishable (O(index + batch) vs O(corpus) cost)
    val docs = graft.sources.Tables.documents(spark, sf)
    val refreshed = Dedup.chunkIndexRefresh(spark, sf)
      .collect().map(_.toString).toSeq
    val fromScratch = Dedup.chunkDedupKeepersOf(docs)
      .collect().map(_.toString).toSeq
    assert(refreshed === fromScratch)
    // library form over disjoint halves agrees too (keeper min crosses
    // the halves: an odd doc can steal keepership only if its id is
    // lower, which the even/odd split makes impossible for shared fps
    // EXCEPT doc_id 0 — the identity holds regardless, by the merge)
    val viaOf = Dedup.chunkIndexRefreshOf(
      docs.filter($"doc_id" % 2 === 1),
      Dedup.chunkDedupKeepersOf(docs.filter($"doc_id" % 2 === 0)))
      .collect().map(_.toString).toSeq
    assert(viaOf === fromScratch)
  }

  test("sketch-index refresh by merge equals rebuilding from scratch (all three families)") {
    // the full-row identity the driver queries project/serve from: the
    // merged shingle/minhash/simhash indexes are INDISTINGUISHABLE
    // from a from-scratch build over prior ∪ batch — including the
    // canonical reconcile (per-fp winner, summed weights) and the raw
    // engine-hash values (sig/h/simhash) the DuckDB oracle cannot see
    val docs = graft.sources.Tables.documents(spark, sf)
    val even = docs.filter($"doc_id" % 2 === 0)
    val odd = docs.filter($"doc_id" % 2 === 1)
    val priorCanon = Dedup.canonIndexOf(even)
    def rows(df: org.apache.spark.sql.DataFrame, order: String*) =
      df.orderBy(order.map(col): _*).collect().map(_.toString).toSeq
    assert(rows(Dedup.shingleIndexRefreshOf(odd,
        Dedup.shingleIndexOf(even), priorCanon), "doc_id", "h") ===
      rows(Dedup.shingleIndexOf(docs), "doc_id", "h"), "shingle index")
    assert(rows(Dedup.minhashIndexRefreshOf(odd,
        Dedup.minhashIndexOf(even), priorCanon), "doc_id") ===
      rows(Dedup.minhashIndexOf(docs), "doc_id"), "minhash index")
    assert(rows(Dedup.simhashIndexRefreshOf(odd,
        Dedup.simhashIndexOf(even), priorCanon), "doc_id") ===
      rows(Dedup.simhashIndexOf(docs), "doc_id"), "simhash index")
  }

  test("sketch-index refresh reconciles CROSS-HALF exact duplicates (synthetic)") {
    // the case the corpus may not exercise: an arriving doc whose text
    // exactly duplicates a prior canonical must collapse INTO it (the
    // prior keeps canonicalship — lower id — with the summed weight),
    // and an arriving duplicate PAIR must land under the global winner
    val mk = (rows: Seq[(Long, String)]) =>
      rows.toDF("doc_id", "text")
    val prior = mk(Seq(
      0L -> "alpha beta gamma delta epsilon",
      2L -> "one two three four five six",
      4L -> "alpha beta gamma delta epsilon")) // within-prior dup of 0
    val batch = mk(Seq(
      1L -> "alpha beta gamma delta epsilon",  // cross-half dup of 0
      3L -> "seven eight nine ten eleven",     // genuinely new
      5L -> "seven eight nine ten eleven"))    // within-batch dup of 3
    val full = prior.unionByName(batch)
    val priorCanon = Dedup.canonIndexOf(prior)
    val refreshed = Dedup.shingleIndexRefreshOf(batch,
      Dedup.shingleIndexOf(prior), priorCanon)
    val scratch = Dedup.shingleIndexOf(full)
    assert(refreshed.orderBy("doc_id", "h").collect().map(_.toString).toSeq ===
      scratch.orderBy("doc_id", "h").collect().map(_.toString).toSeq)
    // canonical profile: doc 0 owns the merged group at weight 3
    // (0, 4 prior + 1 arriving); doc 3 owns the new group at weight 2
    val prof = refreshed.select("doc_id", "w").distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prof(0L) === 3L && prof(3L) === 2L && prof(2L) === 1L)
    assert(!prof.contains(1L) && !prof.contains(4L) && !prof.contains(5L))
    // signature families reconcile identically
    assert(Dedup.minhashIndexRefreshOf(batch, Dedup.minhashIndexOf(prior),
        priorCanon).orderBy("doc_id").collect().map(_.toString).toSeq ===
      Dedup.minhashIndexOf(full).orderBy("doc_id").collect().map(_.toString).toSeq)
    assert(Dedup.simhashIndexRefreshOf(batch, Dedup.simhashIndexOf(prior),
        priorCanon).orderBy("doc_id").collect().map(_.toString).toSeq ===
      Dedup.simhashIndexOf(full).orderBy("doc_id").collect().map(_.toString).toSeq)
  }

  test("decontamination flags the eval-leaked doc and skips shingle-less docs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-decon-test-")
    val leak = "alpha beta gamma delta epsilon zeta eta theta"
    Seq(
      (1L, leak, "train"),                                  // verbatim eval leak
      (2L, "one two three four five six seven eight", "train"), // clean
      (3L, "tiny doc", "train"),                            // < 3 tokens: no shingles
      (9L, leak, "src9"))                                   // the eval doc
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.decontaminate(spark, dir.toString)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(out.keySet === Set(1L, 2L), "eval doc and shingle-less doc are absent")
    assert(out(1L) === ((6L, 6L, 1.0, true)), "full-overlap doc is contaminated")
    assert(out(2L)._2 === 0L && !out(2L)._4, "clean doc has zero overlap")
  }

  test("cluster size histogram re-totals to the corpus and to the soft-weight clusters") {
    val rows = Dedup.clusterSizeHistogram(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.foreach { case (size, nClusters, nDocs) =>
      assert(nDocs === size * nClusters, s"size $size: docs != size * clusters")
    }
    val total = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.map(_._3).sum === total, "histogram must account for every doc")
    // agrees with the per-doc cluster sizes the soft weights computed
    val fromWeights = Dedup.softDedupWeights(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2))).distinct
      .groupBy(_._2).map { case (size, cs) => size -> cs.length.toLong }
    assert(rows.map(r => r._1 -> r._2).toMap === fromWeights)
  }

  test("soft dedup weights: every doc present, cluster weights sum to 1, singletons weigh 1.0") {
    val rows = Dedup.softDedupWeights(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val total = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.length.toLong === total, "soft dedup must keep every document")
    // each cluster's members all carry weight 1/size, so they sum to ~1
    rows.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._3).distinct.size === 1, s"cluster $cid size disagrees")
      assert(members.length === members.head._3, s"cluster $cid size wrong")
      val s = members.map(_._4).sum
      assert(math.abs(s - 1.0) < 0.05, s"cluster $cid weights sum to $s")
    }
    rows.filter(_._3 == 1L).foreach { case (id, _, _, w) =>
      assert(w === 1.0, s"singleton $id weight $w != 1.0")
    }
  }

  test("bloom-guarded decontamination equals the exact operator, even with a junk-heavy filter") {
    // same params both sides: the Bloom guard must be invisible in the output
    val exact = Dedup.decontaminate(spark, sf, n = 4, threshold = 0.15)
      .collect().map(_.toSeq).toSeq
    val guarded = Dedup.bloomDecontaminate(spark, sf).collect().map(_.toSeq).toSeq
    assert(guarded === exact, "Bloom pre-filter changed the result")
    // stress the verify join: fpp=0.5 floods it with false positives,
    // which the exact semi-join must all remove
    val noisy = Dedup.bloomDecontaminate(spark, sf, fpp = 0.5)
      .collect().map(_.toSeq).toSeq
    assert(noisy === exact, "false positives leaked past the verify join")
  }

  test("winnowing pairs catch token-boundary edits that word shingles miss") {
    import org.apache.spark.sql.functions.{col => c}
    // b is a near-copy of a with token boundaries mangled (joined words,
    // punctuation): every word 3-gram differs, but long shared char runs
    // survive, so char-level winnowing still pairs them; d is unrelated
    val base = "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill nearby"
    val mangled = base.replace("jumps over", "jumps-over") + " extra"
    val docs = Seq((1L, base), (2L, mangled),
      (3L, "entirely different content about distributed query planning engines"))
      .toDF("doc_id", "text")
    val win = Dedup.winnowingPairsOf(docs, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(win.contains((1L, 2L)), "char-level sketch must pair the mangled near-copy")
    assert(!win.exists { case (a, b) => a == 3L || b == 3L })
    val ngram = Dedup.ngramJaccardPairsOf(docs, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the word-shingle path scores the same pair much lower (boundary
    // edits break shingles) — the complementarity the operator exists for
    val nj = ngram.find(p => p._1 == 1L && p._2 == 2L).map(_._3).getOrElse(0.0)
    val wj = Dedup.winnowingPairsOf(docs, threshold = 0.0)
      .collect().find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
      .map(_.getDouble(2)).get
    assert(wj > nj, s"winnowing $wj should exceed word-shingle $nj on boundary edits")
    // identical docs expand to sketch_jaccard 1.0 via the canonical path
    val dup = Seq((1L, base), (2L, base)).toDF("doc_id", "text")
    val pd = Dedup.winnowingPairsOf(dup, threshold = 0.5).collect()
    assert(pd.length === 1 && pd.head.getDouble(2) === 1.0)
  }

  test("star-edge winnowing clusters equal components over the member winnowing pairs") {
    // char-level twin of the ngram differential: the corpus form AND a
    // dup-heavy inline fixture (3-copy group near-dup to a 2-copy group,
    // plus a sub-k doc that must stay a singleton)
    val viaStars = Dedup.winnowingClusters(spark, sf)
      .collect().map(_.toString).toSeq
    val direct = Dedup.duplicateClusters(
        Dedup.winnowingPairsOf(graft.sources.Tables.documents(spark, sf))
          .select("doc_a", "doc_b"))
      .collect().map(_.toString).toSeq
    assert(viaStars === direct)
    val base = "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill nearby"
    val near = base.replace("lazy dog", "lazy-dog")
    val docs = Seq((1L, base), (2L, base), (3L, base),
      (4L, near), (5L, near), (6L, "zz"))
      .toDF("doc_id", "text")
    val starsInline = Dedup.winnowingClustersOf(docs, threshold = 0.3)
      .collect().map(_.toString).toSeq
    val directInline = Dedup.duplicateClusters(
        Dedup.winnowingPairsOf(docs, threshold = 0.3).select("doc_a", "doc_b"))
      .collect().map(_.toString).toSeq
    assert(starsInline === directInline)
    assert(starsInline.length === 5, "the sub-k doc must stay outside the cluster")
  }

  test("duplicateClusters surfaces non-convergence instead of partial clusters") {
    // a 5-hop chain cannot converge in 1 round of min-label propagation
    val chain = (1L to 6L).sliding(2).map(w => (w(0), w(1), 0.9)).toSeq
      .toDF("doc_a", "doc_b", "jaccard")
    val e = intercept[IllegalStateException] {
      Dedup.duplicateClusters(chain, maxIters = 1)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("incremental dedup: one is_new per fingerprint within a batch; prior dups resolve to prior canonical") {
    val prior = Seq(
      (0L, "alpha beta gamma"),
      (2L, "known text here")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (11L, "fresh new doc one"),
      (13L, "fresh new doc one"),  // within-batch copy of 11
      (15L, "Alpha  beta GAMMA")   // normalizes equal to prior doc 0
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedupOf(batch, prior)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(2)).map(_.asInstanceOf[Long]), r.getBoolean(3))).toMap
    assert(out(11L) === ((None, true)), "batch-min of a new fingerprint is the one is_new doc")
    assert(out(13L) === ((Some(11L), false)), "within-batch copy points at the batch-min, not the index")
    assert(out(15L) === ((Some(0L), false)), "prior duplicate resolves to the prior canonical")
    assert(out.values.count(_._2) === 1, "exactly one is_new per new fingerprint")
  }

  test("edit-distance fallback pairs short docs against ALL identical-normalized docs, short or long") {
    val docs = Seq(
      (1L, "hi"),                // 1 ws-token: invisible to the shingle blocker
      (2L, "hi"),                // short-short identical pair
      (3L, "a\tb\tc\td\te"),     // tabs: ONE ws-token, but normText = "a b c d e"
      (4L, "a b c d e"),         // 5 ws-tokens: shingles fine; short-vs-long identical pair
      (5L, "unrelated content entirely different words")
    ).toDF("doc_id", "text")
    val pairs = Dedup.editDistancePairsOf(docs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(pairs.keySet === Set((1L, 2L), (3L, 4L)),
      "short-short AND short-vs-long identical pairs must both surface, nothing else")
    assert(pairs.values.forall(_ === 1.0), "identical normalized texts score edit_sim 1.0")
  }

  test("edit-distance direct path equals the block-dedup path, with and without clones") {
    // clone-heavy fixture: exact-dup groups (intra pairs), a near-dup
    // pair, short-doc fallback pairs — every candidate source exercised
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"), // clone of 1
      (3L, "the quick brown fox jumps over the lazy dog tonite"),  // near-dup
      (4L, "hi"), (5L, "hi"),                                      // short clones
      (6L, "completely unrelated words about other topics entirely")
    ).toDF("doc_id", "text")
    val block = Dedup.editDistancePairsOf(docs, dedupBlocks = true)
      .collect().map(_.toString).toSeq
    val direct = Dedup.editDistancePairsOf(docs, dedupBlocks = false)
      .collect().map(_.toString).toSeq
    assert(block.nonEmpty && direct === block)
    // and on the real corpus (trivial duplication — the regime the
    // adaptive corpus entry routes to the direct plan)
    val sfBlock = Dedup.editDistancePairs(spark, sf).collect().map(_.toString).toSeq
    val sfDirect = Dedup.editDistancePairsOf(
      graft.sources.Tables.documents(spark, sf), dedupBlocks = false)
      .collect().map(_.toString).toSeq
    assert(sfBlock.nonEmpty && sfDirect === sfBlock)
  }

  test("banded edit distance: exact distances for survivors, identical output across the sim boundary") {
    // pairs straddling the 0.8 sim threshold: the band must return the
    // EXACT distance for passers and only ever drop pairs the filter
    // would reject anyway — verified against an unbanded replay here
    val docs = Seq(
      (1L, "aaaa bbbb cccc dddd eeee"),
      (2L, "aaaa bbbb cccc dddd eeeX"),  // dist 1 of 24 -> sim ~0.958: pass
      (3L, "aaaa bbbb cccc XXXX XXXX"),  // dist 8 of 24 -> sim ~0.667: fail (in band question zone)
      (4L, "aaaa bbbb cccc dddd"),       // shorter by 5 -> sim ~0.79: fail just under
      (5L, "zzzz yyyy xxxx wwww vvvv")   // unrelated
    ).toDF("doc_id", "text")
    val got = Dedup.editDistancePairsOf(docs, simThreshold = 0.8, candThreshold = 0.1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getInt(2), r.getDouble(3)))).toMap
    // unbanded replay in plain Spark
    val t = docs.select($"doc_id", $"text")
    val naive = t.toDF("a", "ta").crossJoin(t.toDF("b", "tb"))
      .filter($"a" < $"b")
      .select($"a", $"b", levenshtein($"ta", $"tb").as("d"),
        (lit(1.0) - levenshtein($"ta", $"tb").cast("double") /
          greatest(length($"ta"), length($"tb"))).as("sim"))
      .filter($"sim" >= 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(got.keySet === naive.keySet,
      s"banded survivors must equal unbanded survivors; got ${got.keySet} vs ${naive.keySet}")
    got.foreach { case (k, (d, s)) =>
      assert(d === naive(k), s"banded distance for $k must be EXACT")
      assert(s >= 0.8 && d >= 0)
    }
  }

  test("DP-cell guard: book-length edition pairs refuse by mechanism, default admits the corpus") {
    // two long near-dup "editions" (identical 12k-char body, different
    // tail) among snippets: shingle blocking admits the long x long
    // pair, and its DP price alone (~12k x ~2.4k band) busts a small
    // budget; the refusal must name the sub-document interfaces
    val body = (0 until 400).map(i => s"w$i common body token").mkString(" ")
    val docs = Seq(
      (1L, s"$body edition one"),
      (2L, s"$body edition two"),
      (3L, "tiny unrelated snippet")
    ).toDF("doc_id", "text")
    val e = intercept[graft.operators.PairExplosionException] {
      Dedup.editDistancePairsOf(docs, maxDpCells = 1000L).count()
    }
    assert(e.getMessage.contains("banded DP") && e.getMessage.contains("dupSpanMerge"))
    // direct mode refuses under the same contract
    val e2 = intercept[graft.operators.PairExplosionException] {
      Dedup.editDistancePairsOf(docs, dedupBlocks = false, maxDpCells = 1000L).count()
    }
    assert(e2.getMessage.contains("banded DP"))
    // generous budget: the banded DP scores the long pair exactly
    val pairs = Dedup.editDistancePairsOf(docs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(pairs.keySet === Set((1L, 2L)))
    assert(pairs((1L, 2L)) > 0.99, "editions differ only in the tail")
    // and the sf corpus admits at the default budget
    assert(Dedup.editDistancePairs(spark, sf).count() > 0)
  }

  test("edit-distance expansion guard: clone-heavy member expansion refuses at the shared pair budget") {
    // 30 clones of one text -> C(30,2) = 435 member pairs from ONE
    // surviving block; the embedding pair views refuse past exactly
    // this kind of budget, and the text view must hold the same
    // contract (the r13 skew capstone found it silently emitting ~25M)
    val docs = ((1 to 30).map(i => (i.toLong, "the quick brown fox jumps over the lazy dog")) :+
      (99L, "completely different words about unrelated topics here")).toDF("doc_id", "text")
    val e = intercept[graft.operators.PairExplosionException] {
      Dedup.editDistancePairsOf(docs, maxExpandedPairs = 100L).count()
    }
    assert(e.getMessage.contains("would expand to 435 member pairs"))
    assert(e.getMessage.contains("chunkDedupKeepers"))
    // boundary: a budget of exactly 435 admits, and the expansion is complete
    assert(Dedup.editDistancePairsOf(docs, maxExpandedPairs = 435L).count() === 435L)
  }

  test("chunk dedup: keepers count copies and doc spread; rate counts only CROSS-doc sharing") {
    // chunkSize 4 (stride 4, overlap 0) via the library forms:
    //   doc 1: chunks [a b c d] [e f g h]
    //   doc 2: chunks [a b c d] [x y z w]    (shares chunk 1 with doc 1)
    //   doc 3: chunks [a b c d] [a b c d]    (internal repeat + cross share)
    //   doc 4: chunks [q r s t]              (unique)
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d x y z w"),
      (3L, "a b c d a b c d"),
      (4L, "q r s t")
    ).toDF("doc_id", "text")
    val keepers = Dedup.chunkDedupKeepersOf(docs, chunkSize = 4)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(keepers.size === 4, "4 distinct chunks: abcd, efgh, xyzw, qrst")
    val md5abcd = java.security.MessageDigest.getInstance("MD5")
      .digest("a b c d".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(keepers(md5abcd) === ((4L, 3L, 1L)),
      "the shared chunk: 4 copies (doc 3 holds it twice), 3 docs, keeper doc 1")
    assert(keepers.values.count(_ == ((1L, 1L, 1L))) === 1, "doc 1's unique tail chunk")
    // rate: doc 3's internal repeat does NOT make a chunk 'shared' by
    // itself — sharing is distinct-doc df > 1 (here it also cross-shares)
    val rate = Dedup.chunkDedupRateOf(docs, chunkSize = 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(rate(1L) === ((2L, 1L, 0.5)))
    assert(rate(2L) === ((2L, 1L, 0.5)))
    assert(rate(3L) === ((2L, 2L, 1.0)), "both of doc 3's chunk slots are the cross-shared chunk")
    assert(rate(4L) === ((1L, 0L, 0.0)))
    // internal-only repetition stays unshared: a doc repeating ITS OWN
    // unique chunk reports 0 shared
    val solo = Seq((9L, "m n o p m n o p"), (10L, "u v w x")).toDF("doc_id", "text")
    val soloRate = Dedup.chunkDedupRateOf(solo, chunkSize = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(soloRate(9L) === 0L)
    // scrub writeback: every distinct chunk survives exactly once, at
    // its first occurrence; doc 3 (pure boilerplate) keeps nothing but
    // stays present with empty clean_text
    val scrub = Dedup.chunkDedupScrubOf(docs, chunkSize = 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(scrub(1L) === ((2L, 2L, "a b c d e f g h")))
    assert(scrub(2L) === ((2L, 1L, "x y z w")))
    assert(scrub(3L) === ((2L, 0L, "")))
    assert(scrub(4L) === ((1L, 1L, "q r s t")))
    // conservation: total kept chunks == distinct chunks in the corpus
    assert(scrub.values.map(_._2).sum ===
      Dedup.chunkDedupKeepersOf(docs, chunkSize = 4).count())
    // incremental probe: docs 3,4 arrive against prior {1, 2} — doc 3
    // (two copies of the shared abcd chunk) is fully covered; doc 4's
    // qrst chunk is novel
    val inc = Dedup.chunkDedupIncrementalOf(
      docs.filter($"doc_id" >= 3), docs.filter($"doc_id" <= 2), chunkSize = 4)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    assert(inc(3L) === ((2L, 2L, 0.0, true)),
      "pure-boilerplate arrival: every chunk already held by the prior")
    assert(inc(4L) === ((1L, 0L, 1.0, false)), "novel arrival")
  }

  test("CDC chunking: an inserted prefix realigns every later boundary; stride chunking shares nothing") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // independent Scala replay of the boundary rule — the spec's oracle
    def cdcSplit(toks: Seq[String]): Seq[Seq[String]] = {
      val out = scala.collection.mutable.ArrayBuffer[Seq[String]]()
      var cur = scala.collection.mutable.ArrayBuffer[String]()
      toks.foreach { t =>
        cur += t
        if (md5hex(t).endsWith("0")) { out += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer() }
      }
      if (cur.nonEmpty || out.isEmpty) out += cur.toSeq
      out.toSeq
    }
    val toksA = (0 until 60).map(i => s"t$i")
    val prefix = (0 until 99).map(i => s"p$i").find(p => !md5hex(p).endsWith("0")).get
    val toksB = prefix +: toksA
    val expA = cdcSplit(toksA).map(_.mkString(" "))
    val expB = cdcSplit(toksB).map(_.mkString(" "))
    assert(expA.size >= 3, "fixture must contain >= 2 breakpoints")
    val docs = Seq((1L, toksA.mkString(" ")), (2L, toksB.mkString(" "))).toDF("doc_id", "text")
    // the Spark HOF arithmetic equals the independent replay, per doc
    val gotA = graft.operators.TextAnalysis.cdcChunksOf(docs).filter($"doc_id" === 1)
      .orderBy("chunk_id").select("chunk_text").as[String].collect().toSeq
    val gotB = graft.operators.TextAnalysis.cdcChunksOf(docs).filter($"doc_id" === 2)
      .orderBy("chunk_id").select("chunk_text").as[String].collect().toSeq
    assert(gotA === expA)
    assert(gotB === expB)
    // realignment: a non-breaking prefix merges into B's FIRST chunk
    // only; every later chunk is byte-identical with A's
    assert(expB.head === s"$prefix ${expA.head}")
    assert(expB.tail === expA.tail)
    val cdcShared = Dedup.cdcDedupKeepersOf(docs)
      .filter($"n_docs" === 2).count()
    assert(cdcShared === expA.size - 1,
      "all chunks after the first boundary are shared under CDC")
    // stride chunking: the same one-token insertion shifts EVERY
    // boundary — zero shared chunks
    val strideShared = Dedup.chunkDedupKeepersOf(docs, chunkSize = 16)
      .filter($"n_docs" === 2).count()
    assert(strideShared === 0L)
    // partition property: chunks re-concatenate to the token stream
    assert(gotB.mkString(" ") === toksB.mkString(" "))

    // CDC scrub writeback (r14): under the realigned boundaries, every
    // chunk after B's first boundary is a duplicate of A's — the scrub
    // keeps A whole (first occurrence everywhere) and leaves B only its
    // prefix-perturbed first chunk
    val scrub = Dedup.cdcDedupScrubOf(docs)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(scrub(1L) === ((expA.size.toLong, expA.size.toLong, toksA.mkString(" "))),
      "doc A arrives first: every chunk survives, clean_text == original")
    assert(scrub(2L) === ((expB.size.toLong, 1L, expB.head)),
      "doc B keeps only the realignment-perturbed first chunk")
    // conservation: total kept == distinct chunks (keeper-table rows)
    assert(scrub.values.map(_._2).sum === Dedup.cdcDedupKeepersOf(docs).count())
  }

  test("CDC max-length forced break (LBFS bound): a boundary-free run splits at the max, natural text is untouched") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // one non-breaking token repeated 300×: the r13 documented
    // pathological case — without the bound this is ONE 300-token chunk
    val nb = (0 until 99).map(i => s"nb$i").find(t => !md5hex(t).endsWith("0")).get
    val pathological = Seq.fill(300)(nb)
    val docs = Seq((1L, pathological.mkString(" "))).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.cdcChunksOf(docs, maxChunkTokens = 128)
      .orderBy("chunk_id")
      .select("start_tok", "n_chunk_tokens", "chunk_text")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2)))
    assert(got.map(_._1).toSeq === Seq(0, 128, 256), "forced breaks at the max stride")
    assert(got.map(_._2).toSeq === Seq(128, 128, 44))
    assert(got.map(_._2).forall(_ <= 128), "no chunk exceeds the bound")
    // partition property survives the forced splits
    assert(got.map(_._3).mkString(" ") === pathological.mkString(" "))
    // a doc whose content-defined runs all sit under the max is
    // chunked IDENTICALLY with and without the bound — the forced
    // break only exists inside boundary-free regions
    val natural = (0 until 200).map(i => s"w$i")
    val nat = Seq((2L, natural.mkString(" "))).toDF("doc_id", "text")
    val boundless = graft.operators.TextAnalysis
      .cdcChunksOf(nat, maxChunkTokens = 100000)
      .select("chunk_id", "chunk_text").as[(Int, String)].collect().toSeq
    val runLens = boundless.map(_._2.split(' ').length)
    assert(runLens.max < 128,
      s"fixture must have no run >= 128 (got ${runLens.max}); pick other tokens")
    val bounded = graft.operators.TextAnalysis
      .cdcChunksOf(nat, maxChunkTokens = 128)
      .select("chunk_id", "chunk_text").as[(Int, String)].collect().toSeq
    assert(bounded === boundless)
  }

  test("dup-span merge: overlapping grams coalesce, touching spans merge, gapped spans stay apart") {
    val docs = Seq(
      // two shared regions: "a b c d e f" (grams pos 0,1 with doc 2 ->
      // overlapping intervals [0,4],[1,5] merge to [0,5]) and
      // "p q r s t u" (grams pos 9,10 with doc 3 -> [9,14]); the gap
      // (pos 9 > 5 + 1) keeps them as TWO spans
      (1L, "a b c d e f x1 x2 x3 p q r s t u"),
      (2L, "a b c d e f y1 y2 y3"),
      (3L, "p q r s t u n1 n2 n3"),
      // shared grams at pos 0 (ends 4) and pos 5 (starts right after):
      // touching intervals merge into ONE maximal span [0,9]
      (4L, "m1 m2 m3 m4 m5 k1 k2 k3 k4 k5"),
      (5L, "m1 m2 m3 m4 m5 w1 w2 w3 w4"),
      (6L, "k1 k2 k3 k4 k5 v1 v2 v3 v4"),
      (7L, "u1 u2 u3")  // sub-n: no grams, still present with 0 spans
    ).toDF("doc_id", "text")
    val rows = Dedup.dupSpanMergeOf(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(rows(1L) === ((15, 2L, 12L, 0.8)), "disjoint regions stay two spans")
    assert(rows(4L) === ((10, 1L, 10L, 1.0)), "touching intervals merge to one span")
    assert(rows(7L) === ((3, 0L, 0L, 0.0)), "sub-n docs present with zero spans")
  }

  test("dup-span scrub: covered tokens removed, survivors re-join, span-free docs verbatim") {
    val docs = Seq(
      // same fixture as the merge test: doc 1 has spans [0,5] and
      // [9,14]; doc 4 is fully covered [0,9]; doc 7 is sub-n
      (1L, "a b c d e f x1 x2 x3 p q r s t u"),
      (2L, "a b c d e f y1 y2 y3"),
      (3L, "p q r s t u n1 n2 n3"),
      (4L, "m1 m2 m3 m4 m5 k1 k2 k3 k4 k5"),
      (5L, "m1 m2 m3 m4 m5 w1 w2 w3 w4"),
      (6L, "k1 k2 k3 k4 k5 v1 v2 v3 v4"),
      (7L, "u1 u2 u3")
    ).toDF("doc_id", "text")
    val rows = Dedup.dupSpanScrubOf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(rows(1L) === ((15, 12, "x1 x2 x3")), "both disjoint spans cut, middle kept")
    assert(rows(4L) === ((10, 10, "")), "fully-covered doc scrubs to empty")
    assert(rows(7L) === ((3, 0, "u1 u2 u3")), "sub-n docs pass through verbatim")
    // removal count equals the merge profile's covered-token count, and
    // the surviving token count is exactly n_tok - n_removed, per doc
    val dupTok = Dedup.dupSpanMergeOf(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    rows.foreach { case (id, (nTok, nRem, clean)) =>
      assert(nRem.toLong === dupTok(id), s"doc $id removed = dup_tok")
      assert(clean.split(" ").count(_.nonEmpty) === nTok - nRem, s"doc $id survivors")
    }
  }

  test("line dedup: cross-doc boilerplate removed everywhere, within-doc repeats kept") {
    val docs = Seq(
      // "cookie banner" shared by docs 1-3 (df=3) -> removed from ALL;
      // doc 1 carries it TWICE (both copies removed); "  cookie banner"
      // in doc 3 trims equal -> same hash, removed, original spacing
      // never matters for matching
      (1L, "cookie banner\nunique first line\ncookie banner\nanother unique"),
      (2L, "cookie banner\nsecond doc body"),
      (3L, "  cookie banner \nthird doc body"),
      // within-ONE-doc repeat (df=1): kept both times — document
      // frequency, not occurrence count, is the signal
      (4L, "echo echo line\nsome middle\necho echo line"),
      // blank lines are not hashed and vanish from clean_text
      (5L, "\n\nonly line here\n\n"),
      (6L, "")  // fully empty doc: zeros and empty clean_text
    ).toDF("doc_id", "text")
    val rows = Dedup.lineDedupOf(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getDouble(3), r.getString(4)))).toMap
    assert(rows(1L) === ((4, 2, 0.5, "unique first line\nanother unique")))
    assert(rows(2L) === ((2, 1, 0.5, "second doc body")))
    assert(rows(3L) === ((2, 1, 0.5, "third doc body")))
    assert(rows(4L) === ((3, 0, 0.0, "echo echo line\nsome middle\necho echo line")),
      "within-doc repeats are not boilerplate")
    assert(rows(5L) === ((1, 0, 0.0, "only line here")), "blank lines dropped, not counted")
    assert(rows(6L) === ((0, 0, 0.0, "")))
  }

  test("duplicate clustering converges on a 200-hop chain (pointer jumping, not hop-a-round)") {
    // a path graph 0-1-2-...-200: diameter 200 >> the 20-iteration cap,
    // so plain neighbor-min propagation MUST fail here and only the
    // pointer-jumping (label-of-label) form converges (~8 rounds)
    val pairs = (0L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val clusters = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.size === 201)
    assert(clusters.values.toSet === Set(0L), "whole chain collapses to min id 0")
  }

  test("semantic dedup: exactly the same-cell pairs at the threshold, nothing across cells") {
    val th = 0.3
    val out = Dedup.semanticDedupPairs(spark, sf, th).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty, "threshold must bite on this corpus")
    // recompute cells and cosines driver-side (500 vecs at this sf)
    val cell = graft.operators.Similarity.assignmentIndex(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = graft.functions.VectorOps.normalizedEmbeddings(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getSeq[Float](1).map(_.toDouble).toArray, r.getDouble(3)))).toMap
    def cos(a: Long, b: Long): Double = {
      val (ea, na) = vecs(a); val (eb, nb) = vecs(b)
      var s = 0.0; var i = 0
      while (i < ea.length) { s += ea(i) * eb(i); i += 1 }
      math.floor(s / (na * nb) * 1e4 + 0.5) / 1e4
    }
    out.foreach { case (cl, a, b, c) =>
      assert(a < b, "keeper is the lower id")
      assert(cell(a) === cl && cell(b) === cl, "pairs never straddle cells")
      assert(c >= th, s"pair ($a,$b) below threshold")
    }
    val emitted = out.map(p => (p._2, p._3)).toSet
    // set equality outside a band around the threshold (driver double
    // math can differ from the engine by an ulp exactly AT the cut)
    val ids = vecs.keys.toSeq.sorted
    for (a <- ids; b <- ids if a < b && cell(a) == cell(b)) {
      val c = cos(a, b)
      if (c >= th + 2e-4)
        assert(emitted.contains((a, b)), s"missing same-cell pair ($a,$b) cos=$c")
      else if (c < th - 2e-4)
        assert(!emitted.contains((a, b)), s"below-threshold pair ($a,$b) cos=$c emitted")
    }
  }

  test("effective size: weighted sums replay the soft-weight table") {
    val Seq(row) = Dedup.effectiveSize(spark, sf).collect().toSeq
    val weights = Dedup.softDedupWeights(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val toks = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split("[ \n]").count(_.nonEmpty).toLong }.toMap
    val rawTok = toks.values.sum
    val edRaw = weights.values.map(w => math.floor(w * 1e4 + 0.5).toLong).sum.toDouble / 1e4
    val etRaw = weights.map { case (id, w) =>
      math.floor(w * toks(id) * 1e4 + 0.5).toLong }.sum.toDouble / 1e4
    assert(row.getLong(0) === weights.size.toLong)
    assert(row.getLong(1) === rawTok)
    assert(row.getDouble(2) === math.floor(edRaw * 1e2 + 0.5) / 1e2)
    assert(row.getDouble(3) === math.floor(etRaw * 1e2 + 0.5) / 1e2)
    assert(row.getDouble(4) === math.floor((1.0 - etRaw / rawTok) * 1e4 + 0.5) / 1e4)
    // duplicates exist at this SF only if clusters do; savings is in [0, 1)
    assert(row.getDouble(4) >= 0.0 && row.getDouble(4) < 1.0)
  }

  test("dedup rate by source: rates replay the normalized fingerprint counts") {
    val out = Dedup.dedupRateBySource(spark, sf).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("source", "text").as[(String, String)].collect()
      .map { case (s, t) =>
        (s, t.toLowerCase.replaceAll("\\s+", " ").trim) }
    val expect = docs.groupBy(_._1).map { case (s, rs) =>
      val n = rs.length.toLong
      val u = rs.map(_._2).distinct.length.toLong
      s -> (n, u, math.floor((n - u).toDouble / n * 1e4 + 0.5) / 1e4)
    }
    assert(out === expect)
    assert(out.values.map(_._1).sum === docs.length.toLong, "sources partition the corpus")
  }
}
