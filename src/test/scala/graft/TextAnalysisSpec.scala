package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("token stats on a known string") {
    val df = Seq((1L, "ab cd  ef\ngh")).toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.wsTokens(col("text")).as("toks"))
    val toks = df.select("toks").as[Seq[String]].head()
    assert(toks === Seq("ab", "cd", "ef", "gh"))
  }

  test("quality score components stay in [0, 1]") {
    val q = TextAnalysis.qualityScore(spark, sf).collect()
    assert(q.nonEmpty)
    q.foreach { r =>
      (1 to 6).foreach { i =>
        val v = r.getDouble(i)
        assert(v >= 0.0 && v <= 1.0, s"col $i out of range: $v")
      }
    }
  }

  test("repetition signals: duplicate-line and top-2-gram fractions on crafted docs") {
    // doc 1: 4 non-empty lines, 'same line' repeats twice -> dup frac 1/4;
    //        tokens: same line same line other text one two -> 7 2-grams,
    //        'line same' and 'same line' each appear twice -> top2 = 2/7
    // doc 2: all lines distinct, all 2-grams distinct -> both 0
    // doc 3: one token -> no 2-grams -> 0; single line -> 0
    val docs = Seq(
      (1L, "same line\nsame line\nother\ntext one two"),
      (2L, "alpha beta\ngamma delta"),
      (3L, "solo")).toDF("doc_id", "text")
    // route through the same column logic by writing to a temp view is
    // overkill; replicate via the public operator over a parquet round
    // trip is heavier still — assert on the library expression instead
    val out = docs
      .select(col("doc_id"), TextAnalysis.wsTokens(col("text")).as("toks"),
        filter(split(col("text"), "\n"), x => x =!= "").as("lines"))
      .select(col("doc_id"),
        (size(col("lines")) - size(array_distinct(col("lines")))).as("dup"),
        size(col("lines")).as("nl"),
        expr(TextAnalysis.top2GramRunSql).as("top2"),
        size(col("toks")).as("ntok"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2)), (r.getLong(3), r.getInt(4)))).toMap
    assert(out(1L) === ((1, 4), (2L, 8)))  // 8 tokens -> 7 2-grams, best run 2
    assert(out(2L) === ((0, 2), (1L, 4)))  // 4 tokens, all 2-grams distinct
    assert(out(3L) === ((0, 1), (0L, 1)))  // no 2-grams at all
  }

  test("PII scrub redacts emails, phones, SSNs and counts them") {
    val docs = Seq(
      (1L, "mail me at jo.doe+x@example.co.uk or call (555) 123-4567"),
      (2L, "ssn 123-45-6789 and phone 555.987.6543 twice 555.987.6543"),
      (3L, "no pii here")).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrubOf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    assert(out(1L) === (("mail me at <EMAIL> or call <PHONE>", 1, 1, 0)))
    assert(out(2L) === (("ssn <SSN> and phone <PHONE> twice <PHONE>", 0, 2, 1)))
    assert(out(3L) === (("no pii here", 0, 0, 0)))
  }

  test("PII scrub over the corpus is clean (no emails/phones in synthetic docs)") {
    val agg = TextAnalysis.piiScrub(spark, sf)
      .agg(sum("n_emails"), sum("n_phones"), sum("n_ssn")).collect()(0)
    assert((0 to 2).forall(i => agg.getLong(i) === 0L))
  }

  test("lang id predicts a known language or 'und'") {
    val langs = TextAnalysis.langId(spark, sf)
      .select("lang_pred").distinct().as[String].collect().toSet
    assert(langs.subsetOf(Set("en", "es", "fr", "de", "und")))
  }

  test("document chunking: coverage, overlap, and short-doc behavior") {
    val chunks = TextAnalysis.chunkDocs(spark, sf, chunkSize = 32, overlap = 8)
      .collect()
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), TextAnalysis.wsTokens(col("text")).as("toks"))
      .as[(Long, Seq[String])].collect().toMap
    assert(chunks.nonEmpty)
    chunks.groupBy(_.getLong(0)).foreach { case (docId, rows) =>
      val toks = docs(docId)
      val byId = rows.sortBy(_.getInt(1))
      // chunk ids are 0..m-1, starts at stride intervals
      assert(byId.map(_.getInt(1)).toSeq === byId.indices)
      byId.foreach { r =>
        val (start, nTok, text) = (r.getInt(2), r.getInt(3), r.getString(4))
        assert(start === r.getInt(1) * 24)
        // chunk content is exactly the token slice
        assert(text === toks.slice(start, start + 32).mkString(" "))
        assert(nTok === math.min(32, math.max(toks.size - start, 0)))
      }
      // full coverage: last chunk reaches the end of the doc
      val last = byId.last
      assert(last.getInt(2) + last.getInt(3) === toks.size || toks.isEmpty)
      // every non-first chunk adds new tokens beyond the overlap
      byId.tail.foreach(r => assert(r.getInt(2) + 8 < toks.size))
    }
  }

  test("pack manifest: concat-and-split arithmetic on crafted docs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pack-test-")
    // source s: 300 + 300 + 500 tokens at capacity 512:
    //   doc 1 starts seq 0 off 0; doc 2 starts seq 0 off 300, spans into seq 1;
    //   doc 3 starts seq 1 off 88, spans into seq 2. Empty doc spans nothing.
    def words(k: Int) = (1 to k).map(i => s"w$i").mkString(" ")
    Seq((1L, words(300), "s"), (2L, words(300), "s"), (3L, words(500), "s"),
        (4L, "", "s"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.packManifest(spark, dir.toString, capacity = 512)
      .collect().map(r => r.getLong(1) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(rows(1L) === ((300L, 0L, 0L, 1L)))
    assert(rows(2L) === ((300L, 0L, 300L, 2L)), "doc 2 straddles seqs 0 and 1")
    assert(rows(3L) === ((500L, 1L, 88L, 2L)), "doc 3 starts mid-seq 1")
    assert(rows(4L) === ((0L, 2L, 76L, 0L)), "empty doc spans zero sequences")
  }

  test("winnowing sketch: shared-substring guarantee, window count, short docs absent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-winnow-test-")
    // docs 1 and 2 share a 40-char substring (>= k + w - 1 = 15), so the
    // winnowing guarantee promises at least one common fingerprint;
    // doc 3 shares nothing; doc 4 is shorter than k and must be absent
    val shared = "the winnowing guarantee holds here today"
    Seq((1L, s"prefix one $shared"), (2L, s"$shared and a different tail"),
        (3L, "completely unrelated content with zero overlap at all"),
        (4L, "tiny"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.winnowingSketch(spark, dir.toString, k = 8, w = 8)
      .collect()
    val byDoc = rows.groupBy(_.getLong(0))
    assert(!byDoc.contains(4L), "docs shorter than k have no k-grams")
    val fps = (id: Long) => byDoc(id).map(_.getLong(1)).toSet
    assert((fps(1L) & fps(2L)).nonEmpty, "shared >= k+w-1 substring must share a fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty, "unrelated docs share nothing")
    // per-doc window accounting: n_windows sums to max(m - w, 0) + 1
    for ((id, rs) <- byDoc) {
      val text = Seq((1L, s"prefix one $shared"), (2L, s"$shared and a different tail"),
        (3L, "completely unrelated content with zero overlap at all"))
        .toMap.apply(id)
      val m = text.length - 7
      assert(rs.map(_.getLong(3)).sum === math.max(m - 8, 0) + 1,
        s"doc $id window count")
      // density: sketch is a small fraction of all k-gram positions
      assert(rs.length <= m)
    }
  }

  test("mixture sample: deterministic, threshold-faithful, seed redraws") {
    val s1 = TextAnalysis.mixtureSample(spark, sf).collect()
    val s2 = TextAnalysis.mixtureSample(spark, sf).collect()
    assert(s1.map(_.toString).toSeq === s2.map(_.toString).toSeq, "same seed, same sample")
    assert(s1.nonEmpty)
    // every kept row's key is below its source's threshold
    val thr = Map("src0" -> "80000000", "src1" -> "40000000", "src2" -> "19999999")
    s1.foreach { r =>
      val (src, key, rate) = (r.getString(1), r.getString(2), r.getDouble(3))
      assert(key < thr.getOrElse(src, "0ccccccc"), s"$src key $key above threshold")
      val expRate = Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.1)
        .getOrElse(src, 0.05)
      assert(rate === expRate)
    }
    // a different seed draws a different sample (overwhelmingly likely)
    val s3 = TextAnalysis.mixtureSample(spark, sf, seed = "mix1").collect()
    assert(s3.map(_.getLong(0)).toSet !== s1.map(_.getLong(0)).toSet)
    // rate 1.0 keeps everything; rate 0.0 keeps nothing
    val n = graft.sources.Tables.documents(spark, sf).count()
    val all = TextAnalysis.mixtureSample(spark, sf,
      rates = Seq.empty, defaultRate = 1.0)
    assert(all.count() === n)
    val none = TextAnalysis.mixtureSample(spark, sf,
      rates = Seq.empty, defaultRate = 0.0)
    assert(none.count() === 0L)
  }

  test("keep-best curation: one keeper per cluster, and it has the top quality") {
    val rows = TextAnalysis.keepBestPerCluster(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    // total coverage: every doc appears exactly once
    assert(rows.map(_._1).distinct.length === rows.length)
    assert(rows.length ===
      graft.sources.Tables.documents(spark, sf).count().toInt)
    val byCluster = rows.groupBy(_._2)
    // some cluster must be non-trivial for the test to mean anything
    assert(byCluster.exists(_._2.length > 1), "corpus should contain near-dup clusters")
    byCluster.foreach { case (cid, members) =>
      val kept = members.filter(_._4)
      assert(kept.length === 1, s"cluster $cid must keep exactly one doc")
      val best = members.maxBy(m => (m._3, -m._1))
      assert(kept.head._1 === best._1,
        s"cluster $cid keeps ${kept.head._1}, expected argmax-quality ${best._1}")
    }
  }

  test("tfidf: corpus-wide terms score zero, distinctive terms rank first") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tfidf-test-")
    // 'common' appears in every doc (idf = ln(1) = 0); each doc has one
    // distinctive term repeated twice -> must rank first
    Seq((1L, "common zebra zebra common alpha"),
        (2L, "common yak yak common beta"),
        (3L, "common wolf wolf common gamma"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.tfidfTopTerms(spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getInt(5)))
    val first = rows.filter(_._6 == 1).map(r => r._1 -> r._2).toMap
    assert(first === Map(1L -> "zebra", 2L -> "yak", 3L -> "wolf"))
    rows.filter(_._2 == "common").foreach { r =>
      assert(r._5 === 0.0, "term in every doc has idf 0")
      assert(r._3 === 2L && r._4 === 3L)
    }
  }

  test("snapshot diff labels added/removed/changed/unchanged correctly") {
    val old = Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("doc_id", "text")
    val nxt = Seq((1L, "one"), (2L, "two!"), (4L, "four")).toDF("doc_id", "text")
    val d = TextAnalysis.snapshotDiffOf(old, nxt).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(d === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("epoch shuffle is a deterministic permutation; a new seed reorders") {
    val e0a = TextAnalysis.epochShuffle(spark, sf, "epoch0")
      .select("doc_id").as[Long].collect().toSeq
    val e0b = TextAnalysis.epochShuffle(spark, sf, "epoch0")
      .select("doc_id").as[Long].collect().toSeq
    val e1 = TextAnalysis.epochShuffle(spark, sf, "epoch1")
      .select("doc_id").as[Long].collect().toSeq
    assert(e0a === e0b, "same seed must reproduce the permutation")
    assert(e0a.sorted === e1.sorted, "every epoch is a permutation of the corpus")
    assert(e0a !== e1, "a new seed must produce a different order")
    assert(e0a !== e0a.sorted, "the order must not be the identity")
  }

  test("fingerprint is whitespace/case-insensitive") {
    val fp = Seq("Hello  World", "hello world", "different")
      .toDF("text")
      .select(md5(TextAnalysis.normText(col("text"))).as("f"))
      .as[String].collect()
    assert(fp(0) === fp(1))
    assert(fp(0) !== fp(2))
  }

  test("repetition signals: crafted docs incl. empty and sub-n-token") {
    val docs = Seq(
      // a,b,c ×4 each: distinct 3/12; top token 4/12; all 8 5-grams
      // recur (period-3 cycle) -> dup_gram_frac 1.0
      (1L, "a b c a b c a b c a b c"),
      (2L, "x y z w v"),  // 5 distinct toks: exactly one gram, no dups
      (3L, ""),           // empty: everything 0, no div-by-zero
      (4L, "p q")         // sub-n: no grams, token signals still real
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.repetitionSignalsOf(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), r.getDouble(3), r.getInt(4), r.getDouble(5)))).toMap
    assert(rows(1L) === ((12, 0.25, 0.3333, 8, 1.0)))
    assert(rows(2L) === ((5, 1.0, 0.2, 1, 0.0)))
    assert(rows(3L) === ((0, 0.0, 0.0, 0, 0.0)))
    assert(rows(4L) === ((2, 1.0, 0.5, 0, 0.0)))
  }

  test("keep-best over winnowing clusters: every doc present, exactly one kept per cluster, argmax quality") {
    val out = TextAnalysis.keepBestPerClusterWinnow(spark, sf).collect()
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(out.length.toLong === nDocs, "retention verdict covers the whole corpus")
    out.groupBy(_.getLong(1)).foreach { case (c, rows) =>
      assert(rows.count(_.getBoolean(3)) === 1, s"cluster $c must keep exactly one member")
      val kept = rows.find(_.getBoolean(3)).get
      val best = rows.maxBy(r => (r.getDouble(2), -r.getLong(0)))
      assert(kept.getLong(0) === best.getLong(0),
        s"cluster $c keeps the argmax-quality member (ties to lower doc_id)")
    }
  }

  test("gated curation = ungated pipeline partitioned exactly by the repetition gates") {
    val pipeline = TextAnalysis.curationPipeline(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gated = TextAnalysis.curationGated(spark, sf).collect()
    val gatedIds = gated.map(_.getLong(0)).toSet
    assert(gatedIds.subsetOf(pipeline), "gating only removes, never adds")
    // every survivor satisfies all three gates
    gated.foreach { r =>
      assert(r.getDouble(3) <= 0.12 && r.getDouble(4) <= 0.14 &&
        r.getDouble(5) >= 0.35, s"doc ${r.getLong(0)} passed with a gate violated")
    }
    // every pipeline doc the gates dropped violates at least one gate
    val rep = TextAnalysis.repetitionSignalsOf(
        graft.sources.Tables.documents(spark, sf), 2).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(5), r.getDouble(3), r.getDouble(2)))).toMap
    (pipeline -- gatedIds).foreach { id =>
      val (dup, top, dist) = rep(id)
      assert(dup > 0.12 || top > 0.14 || dist < 0.35,
        s"doc $id was dropped but violates no gate")
    }
  }

  test("unigram logprob: bounded by corpus extremes, exact replay on a sample doc") {
    val res = TextAnalysis.unigramLogProb(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(res.nonEmpty)
    // every doc with tokens is scored, with the tokenStats token count
    val nTok = TextAnalysis.tokenStats(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(res.length === nTok.count(_._2 > 0))
    res.foreach { case (id, n, _) => assert(n === nTok(id)) }
    // scores are log10 probabilities: strictly negative, and bounded by
    // the most/least frequent token's logprob
    val docs = graft.sources.Tables.documents(spark, sf)
    val freqs = docs
      .select(explode(TextAnalysis.wsTokens(col("text"))).as("tok"))
      .groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = freqs.values.sum.toDouble
    val hi = math.log10(freqs.values.max / total)
    val lo = math.log10(freqs.values.min / total)
    res.foreach { case (id, _, lp) =>
      assert(lp < 0.0 && lp >= lo - 1e-4 && lp <= hi + 1e-4,
        s"doc $id logprob $lp outside corpus bounds [$lo, $hi]")
    }
    // exact replay for one doc: mean of 6-dp-rounded per-token log10
    val (docId, _, got) = res.head
    val toks = docs.filter(col("doc_id") === docId)
      .select(explode(TextAnalysis.wsTokens(col("text"))).as("t"))
      .collect().map(_.getString(0))
    def rd6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val expected = math.floor(
      toks.map(t => math.floor(rd6(math.log10(freqs(t) / total)) * 1e6 + 0.5).toLong).sum
        .toDouble / (toks.length * 1e6) * 1e4 + 0.5) / 1e4
    assert(got === expected, s"doc $docId replay mismatch")
  }

  test("corpus profile: groups partition the corpus, means bounded, gate count consistent") {
    val rows = TextAnalysis.corpusProfile(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5)))
    val total = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.map(_._3).sum === total, "groups must partition the corpus")
    rows.foreach { case (src, lang, n, toks, avgQ, nPass) =>
      assert(n > 0 && toks >= 0)
      assert(avgQ >= 0.0 && avgQ <= 1.0, s"($src,$lang) avg quality $avgQ out of range")
      assert(nPass >= 0 && nPass <= n, s"($src,$lang) gate count exceeds group size")
    }
    // gate counts re-total against the doc-level quality table
    val q = TextAnalysis.qualityScore(spark, sf).select("doc_id", "quality").collect()
      .count(_.getDouble(1) >= 0.4)
    assert(rows.map(_._6).sum === q)
  }

  test("doc-signals artifact is bit-identical to the direct operators") {
    val direct = TextAnalysis.qualityScore(spark, sf).select("doc_id", "quality")
      .join(TextAnalysis.langId(spark, sf).select("doc_id", "lang_pred"), Seq("doc_id"))
      .join(TextAnalysis.tokenStats(spark, sf).select("doc_id", "n_tokens"), Seq("doc_id"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val stored = TextAnalysis.docSignalsIndex(spark, sf)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(stored === direct, "stored signal index diverged from direct operators")
  }

  test("quality budget calibration: kept bins are a desc-quality prefix honoring the budget") {
    val budget = 20000L
    val rows = TextAnalysis.qualityBudgetCalibration(spark, sf, budget).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    // desc order, cumsum consistent, kept = budget not exhausted before the bin
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._1 > b._1, "bins must be strictly descending in quality")
      assert(b._4 === a._4 + b._3, "cum_tokens must accumulate bin_tokens")
    }
    rows.foreach { case (_, _, binTok, cumTok, kept) =>
      assert(kept === (cumTok - binTok < budget))
    }
    // kept is downward-closed from the top bin (a prefix)
    val keptFlags = rows.map(_._5)
    assert(!keptFlags.dropWhile(identity).contains(true), "kept bins must be a prefix")
    // bins partition the corpus
    val total = TextAnalysis.tokenStats(spark, sf)
      .agg(sum(col("n_tokens").cast("long"))).collect()(0).getLong(0)
    assert(rows.last._4 === total, "last cum must equal corpus token total")
  }

  test("vocab stats: totals re-add against token stats, hapax <= vocab <= tokens") {
    val rows = TextAnalysis.vocabStats(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getString(5), r.getLong(6)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, total, vocab, hapax, ttr, topTok, topCnt) =>
      assert(hapax <= vocab && vocab <= total, s"$src: hapax<=vocab<=tokens violated")
      assert(ttr > 0.0 && ttr <= 1.0, s"$src: type-token ratio $ttr out of range")
      assert(topTok.nonEmpty && topCnt >= 1)
    }
    // per-source token totals re-add against the doc-level stats
    val expected = TextAnalysis.tokenStats(spark, sf)
      .join(graft.sources.Tables.documents(spark, sf).select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source").agg(sum(col("n_tokens").cast("long")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { case (src, total, _, _, _, _, _) =>
      assert(total === expected(src), s"$src token total mismatch")
    }
  }

  // driver-side replica of the engine's seeded uniform: first 8 hex
  // digits of md5("seed|doc_id") as a long
  private def seededU(seed: String, docId: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$seed|$docId".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16)
  }

  test("quality sample: membership is exactly u < quality * 2^32, and the draw is deterministic") {
    val kept = TextAnalysis.qualitySample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    val allQ = TextAnalysis.qualityScore(spark, sf).select("doc_id", "quality")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // exact membership replay for every doc
    allQ.foreach { case (id, q) =>
      val expect = seededU("qs0", id) < q * 4294967296.0
      assert(kept.contains(id) === expect, s"doc $id membership mismatch")
    }
    // kept fraction tracks mean quality (the sampling probability)
    val meanQ = allQ.map(_._2).sum / allQ.length
    val frac = kept.size.toDouble / allQ.length
    assert(math.abs(frac - meanQ) < 0.1, s"kept $frac vs mean quality $meanQ")
    // a different seed redraws
    val redrawn = TextAnalysis.qualitySample(spark, sf, seed = "qs1").collect()
      .map(_.getLong(0)).toSet
    assert(redrawn !== kept.keySet)
  }

  test("weighted sample: exact A-ES key replay, quality bias, seed redraw") {
    val k = 100
    val got = TextAnalysis.weightedSample(spark, sf, k = k).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.length === k)
    // brute-force the whole draw: key = rd(ln(u)/max(q, .01), 10), top-k
    val allQ = TextAnalysis.qualityScore(spark, sf).select("doc_id", "quality")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val keys = allQ.map { case (id, q) =>
      val u = (seededU("wks0", id) + 1.0) / 4294967296.0
      val key = math.floor(math.log(u) / math.max(q, 0.01) * 1e10 + 0.5) / 1e10
      (id, q, key)
    }
    val expect = keys.sortBy { case (id, _, key) => (-key, id) }.take(k)
    assert(got.toSeq === expect.toSeq, "selection must replay exactly")
    // weighting bias: the sample's mean quality exceeds the corpus mean
    val meanAll = allQ.map(_._2).sum / allQ.length
    val meanSample = got.map(_._2).sum / got.length
    assert(meanSample > meanAll,
      s"weighted draw must bias toward quality: $meanSample vs $meanAll")
    // a different seed redraws a different set
    val redrawn = TextAnalysis.weightedSample(spark, sf, k = k, seed = "wks1")
      .collect().map(_.getLong(0)).toSet
    assert(redrawn !== got.map(_._1).toSet)
  }

  test("split assign: exact bucket replay, three-way partition near 90/5/5") {
    val rows = TextAnalysis.splitAssign(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    val total = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.length.toLong === total, "every doc gets exactly one split")
    rows.foreach { case (id, bucket, split) =>
      assert(bucket === seededU("split0", id) % 100, s"doc $id bucket mismatch")
      val expect = if (bucket < 90) "train" else if (bucket < 95) "val" else "test"
      assert(split === expect, s"doc $id split mismatch")
    }
    val frac = rows.groupBy(_._3).map { case (s, d) => s -> d.length.toDouble / rows.length }
    assert(math.abs(frac.getOrElse("train", 0.0) - 0.90) < 0.06, s"train frac ${frac.get("train")}")
    assert(frac.getOrElse("val", 0.0) < 0.12 && frac.getOrElse("test", 0.0) < 0.12)
  }

  test("source vocab overlap: row-local pair expansion equals the brute-force set intersection") {
    val out = TextAnalysis.sourceVocabOverlap(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // brute force from raw text
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("source", "text").as[(String, String)].collect()
    val vocab = docs.groupBy(_._1).map { case (s, ds) =>
      s -> ds.flatMap(_._2.split("[ \n]")).filter(_.nonEmpty).toSet
    }
    val sources = vocab.keys.toSeq.sorted
    for (a <- sources; b <- sources if a < b) {
      val inter = vocab(a).intersect(vocab(b)).size.toLong
      if (inter == 0) assert(!out.contains((a, b)))
      else {
        val (va, vb, shared, jac) = out((a, b))
        assert(va === vocab(a).size.toLong && vb === vocab(b).size.toLong)
        assert(shared === inter, s"($a,$b) intersection")
        val expJac = math.floor(inter.toDouble / (va + vb - inter) * 1e4 + 0.5) / 1e4
        assert(jac === expJac, s"($a,$b) jaccard")
        assert(jac > 0.0 && jac <= 1.0)
      }
    }
    assert(out.nonEmpty)
  }

  test("bigram stats: top-K counts and PMI replay the brute-force pass") {
    val out = TextAnalysis.bigramStats(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("text").as[String].collect()
      .map(_.split("[ \n]").filter(_.nonEmpty))
    val uni = docs.flatten.groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    val bg = docs.flatMap(ts => ts.zip(ts.drop(1)))
      .groupBy(identity).map { case (p, ps) => p -> ps.length.toLong }
    val nu = uni.values.sum.toDouble
    val nb = bg.values.sum.toDouble
    val expectTop = bg.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.take(100)
    assert(out.map(_._1).toSeq === expectTop.map(_._1))
    out.zip(expectTop).foreach { case (((a, b), (n, pmi)), (_, expN)) =>
      assert(n === expN, s"($a,$b) count")
      val expPmi = math.floor(
        math.log10(n.toDouble * nu * nu / (nb * uni(a) * uni(b))) * 1e6 + 0.5) / 1e6
      assert(pmi === expPmi, s"($a,$b) pmi")
    }
    // high-PMI pairs co-occur more than chance predicts
    assert(out.exists(_._2._2 > 0.0), "some collocation must beat independence")
  }

  test("bpe merge step: greedy non-overlap replay, including same-token runs") {
    val out = TextAnalysis.bpeMergeStep(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5))))
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split("[ \n]").filter(_.nonEmpty).toSeq }
    val bg = docs.flatMap { case (_, ts) => ts.zip(ts.drop(1)) }
      .groupBy(identity).map { case (p, ps) => p -> ps.length }
    val (w1, w2) = bg.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.head._1
    def greedy(ts: Seq[String]): Long = {
      var m = 0L; var i = 0
      while (i < ts.length - 1) {
        if (ts(i) == w1 && ts(i + 1) == w2) { m += 1; i += 2 } else i += 1
      }
      m
    }
    assert(out.map(_._1).toSeq === docs.map(_._1).sorted.toSeq)
    val byId = out.toMap
    docs.foreach { case (id, ts) =>
      val (n, ow1, ow2, merges, after) = byId(id)
      assert(ow1 === w1 && ow2 === w2, s"doc $id pair")
      assert(n === ts.length.toLong, s"doc $id tokens")
      assert(merges === greedy(ts), s"doc $id merges")
      assert(after === n - merges, s"doc $id after")
    }
  }

  test("bpe trainer: 5 hand-computed rounds — run parity, remerge of merged symbols, tiebreaks") {
    // constructed corpus exercising every rule: overlapping repeated-
    // token runs (z z z z merges ⌊4/2⌋ = 2), later rounds merging
    // PREVIOUSLY-merged symbols (x␁y + x␁y, then x␁y␁x␁y + x␁y), and
    // the (count desc, w1, w2) tiebreak across glued symbols
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe-test-").toString
    Seq((1L, "x y x y x y"), (2L, "x y z"), (3L, "z z z z"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val g = "\u0001"
      val rows = TextAnalysis.bpeTrain(spark, dir, rounds = 5).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))
      val expected = Seq(
        (1, "x", "y", 4L, 4L, 9L),                    // 13 tokens − 4 merges
        (2, "z", "z", 3L, 2L, 7L),                    // run of 4 → 2, not 3
        (3, s"x${g}y", s"x${g}y", 2L, 1L, 6L),        // remerge, ⌊3/2⌋ = 1
        (4, s"x${g}y", "z", 1L, 1L, 5L),              // tiebreak: shortest w1
        (5, s"x${g}y${g}x${g}y", s"x${g}y", 1L, 1L, 4L))
      assert(rows.toSeq === expected)
    } finally graft.sources.ArtifactCache.deleteRecursively(new java.io.File(dir))
  }

  test("bpe encode: final corpus state is the greedy encode under the learned merges") {
    // same fixture as the trainer spec; hand-replay of the 5 learned
    // merges gives the expected per-doc encoded state
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe-enc-test-").toString
    Seq((1L, "x y x y x y"), (2L, "x y z"), (3L, "z z z z"), (4L, ""))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val rows = TextAnalysis.bpeEncode(spark, dir, rounds = 5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4)))
      val expected = Seq(
        // doc1: r1 x+y ×3, r3 (x_y)+(x_y), r5 collapses to one symbol
        (1L, 6L, 5L, 1L, "x_y_x_y_x_y"),
        // doc2: r1 x+y, r4 (x_y)+z
        (2L, 3L, 2L, 1L, "x_y_z"),
        // doc3: r2 z+z twice (run of 4 → 2 merges, 2 symbols survive)
        (3L, 4L, 2L, 2L, "z_z z_z"),
        // doc4: empty text → empty state end to end
        (4L, 0L, 0L, 0L, ""))
      assert(rows.toSeq === expected)
      // structural invariant: every merge removes exactly one symbol
      rows.foreach { case (id, n, m, after, _) =>
        assert(n === m + after, s"doc $id token conservation")
      }
    } finally graft.sources.ArtifactCache.deleteRecursively(new java.io.File(dir))
  }

  test("bpe trainer: symbols that merely extend the winning pair are not merged") {
    // regression for the leading-only-delimiter representation, where
    // replace(s, sep+w1+sep+w2, …) also rewrote inside a following
    // symbol that STARTED with w2 (`x yz` under winner (x, y)) — a
    // merge that was never counted or learned. The fully-delimited
    // representation asserts both symbol boundaries. The w1 side
    // (`wx y`) is covered too.
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe-bound-").toString
    Seq((1L, "x y"), (2L, "x y"), (3L, "x y"), (4L, "x yz"), (5L, "wx y"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val train = TextAnalysis.bpeTrain(spark, dir, rounds = 1).collect()
      assert(train.length === 1)
      val r = train(0)
      assert((r.getString(1), r.getString(2)) === (("x", "y")))
      assert(r.getLong(3) === 3L, "pair count: exact (x, y) pairs only")
      assert(r.getLong(4) === 3L, "merges applied must equal the exact-pair count")
      val enc = TextAnalysis.bpeEncode(spark, dir, rounds = 1).collect()
        .map(x => x.getLong(0) -> x.getString(4)).toMap
      assert(enc(1L) === "x_y")
      assert(enc(4L) === "x yz", "w2-prefix symbol must stay unmerged")
      assert(enc(5L) === "wx y", "w1-suffix symbol must stay unmerged")
    } finally graft.sources.ArtifactCache.deleteRecursively(new java.io.File(dir))
  }

  test("bpe holdout encode: merges learned on the even split replay over unseen odd docs") {
    // train split (even ids): "x y" ×3 → round-1 winner (x, y); the
    // remaining rounds merge what's left of the train corpus only.
    // Holdout (odd ids) must apply the LEARNED merges in learned order
    // — including zero merges for pairs the trainer never saw (y x),
    // boundary-safety on prefix collisions (x yz), and repeated
    // application within a doc (x y x y)
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe-hold-").toString
    Seq((2L, "x y"), (4L, "x y"), (6L, "x y"),
        (1L, "x y x y"), (3L, "y x"), (5L, "x yz"), (7L, ""))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val rows = TextAnalysis.bpeEncodeHoldout(spark, dir, rounds = 5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4)))
      // learned merges on the train split: r1 (x, y); r2 (x␁y, x␁y) has
      // no pair left (each train doc is one symbol) → training stops.
      // Only (x, y) applies to the holdout.
      val expected = Seq(
        (1L, 4L, 2L, 2L, "x_y x_y"),
        (3L, 2L, 0L, 2L, "y x"),
        (5L, 2L, 0L, 2L, "x yz"),
        (7L, 0L, 0L, 0L, ""))
      assert(rows.toSeq === expected)
    } finally graft.sources.ArtifactCache.deleteRecursively(new java.io.File(dir))
  }

  test("batched bpe selection: greedy keeps disjoint footprints, excludes produced-symbol collisions") {
    val g = "\u0001"
    // hand-computed window, ranked (n_pair DESC, w1, w2):
    //  1 (b,c)    kept — rank 1 always survives
    //  2 (a,b)    excluded: shares operand b with KEPT rank 1
    //  3 (c,d)    excluded: shares operand c with KEPT rank 1
    //  4 (b⊔c,z)  excluded: its operand IS rank 1's PRODUCED symbol —
    //             applying (b,c) first would create occurrences this
    //             scan never counted
    //  5 (e,f)    kept — footprint disjoint from every KEPT pair
    //  6 (a,q)    KEPT: conflicts only with the EXCLUDED rank 2 —
    //             greedy checks against kept pairs, not the window
    //             (the order-free dominance variant would drop it; on
    //             Zipfian text that costs ~4× fewer merges per scan)
    //  7 (q,r)    excluded: shares q with KEPT rank 6
    //  8 (h,h)    kept — self-pair, footprint {h, h⊔h}
    val cands = Seq(
      ("b", "c", 9L), ("a", "b", 7L), ("c", "d", 7L),
      (s"b${g}c", "z", 5L), ("e", "f", 4L), ("a", "q", 2L), ("q", "r", 2L),
      ("h", "h", 1L))
    val kept = graft.operators.TextAnalysis.selectDisjointBatch(cands, batch = 10)
    assert(kept === Seq(("b", "c", 9L), ("e", "f", 4L), ("a", "q", 2L),
      ("h", "h", 1L)))
    // the batch cap takes the FIRST n kept in rank order
    assert(graft.operators.TextAnalysis.selectDisjointBatch(cands, 2)
      === Seq(("b", "c", 9L), ("e", "f", 4L)))
  }

  test("batched bpe with batch=1 reproduces the sequential trainer merge for merge") {
    val seq5 = TextAnalysis.bpeTrain(spark, sf, rounds = 5).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(5)))
    val b1 = TextAnalysis.bpeTrainBatched(spark, sf, scans = 5, batch = 1,
      window = 64).collect()
      .map(r => (r.getInt(1), r.getString(3), r.getString(4), r.getLong(5),
        r.getLong(6)))
    assert(seq5.nonEmpty && b1.toSeq === seq5.toSeq)
  }

  test("bpe trainer and encode match an independent driver-side sequential BPE") {
    // plain symbol lists, no delimited strings: count adjacent pairs,
    // take the (count desc, w1, w2) winner, merge greedily left to
    // right without overlap, repeat on the merged symbols
    val g = "\u0001"
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split("[ \n]").filter(_.nonEmpty).toSeq }.toMap
    def merge(ts: Seq[String], w1: String, w2: String): Seq[String] = {
      val out = Seq.newBuilder[String]; var i = 0
      while (i < ts.length) {
        if (i + 1 < ts.length && ts(i) == w1 && ts(i + 1) == w2) { out += w1 + g + w2; i += 2 }
        else { out += ts(i); i += 1 }
      }
      out.result()
    }
    var state = docs
    val expected = (1 to 5).map { r =>
      val pairs = state.values.flatMap(ts => ts.zip(ts.drop(1)))
        .groupBy(identity).map { case (p, ps) => p -> ps.size.toLong }
      val ((w1, w2), n) = pairs.minBy { case ((a, b), c) => (-c, a, b) }
      val before = state.values.map(_.size.toLong).sum
      state = state.map { case (id, ts) => id -> merge(ts, w1, w2) }
      val after = state.values.map(_.size.toLong).sum
      (r, w1, w2, n, before - after, after)
    }
    val rows = TextAnalysis.bpeTrain(spark, sf, rounds = 5).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.toSeq === expected)
    val enc = TextAnalysis.bpeEncode(spark, sf, rounds = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    val expectedEnc = docs.keys.toSeq.sorted.map { id =>
      val (n, after) = (docs(id).size.toLong, state(id).size.toLong)
      (id, n, n - after, after, state(id).mkString(" ").replace(g, "_"))
    }
    assert(enc.toSeq === expectedEnc)
  }

  test("bpe job counts: no per-round job added, no trailing aggregate without stats") {
    def secondRunJobs(body: => Unit): Int = {
      body // warm: the first call fills Tables.floored's partition memo
      jobsOf(body)._2
    }
    val train = secondRunJobs(TextAnalysis.bpeTrain(spark, sf, rounds = 3).collect(): Unit)
    val holdout = secondRunJobs(TextAnalysis.bpeEncodeHoldout(spark, sf, rounds = 3).collect(): Unit)
    // the sequential trainer's own counts: the one loop adds no job,
    // and the memoized documents reads add no schema-inference job
    assert((train, holdout) === ((16, 13)))
  }

  test("batched bpe trainer invariants: contiguous indexes, per-scan footprint disjointness, shrinking corpus") {
    val g = "\u0001"
    val rows = TextAnalysis.bpeTrainBatched(spark, sf, scans = 3, batch = 8,
      window = 64).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3),
        r.getString(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).toSeq === (1L to rows.length).toSeq, "merge_idx contiguous")
    rows.groupBy(_._2).foreach { case (scan, rs) =>
      assert(rs.map(_._3).toSeq.sorted === (1 to rs.length).toSeq, s"scan $scan seq")
      // kept pairs of one scan are pairwise footprint-disjoint
      val fps = rs.map(r => Set(r._4, r._5, r._4 + g + r._5))
      for (i <- fps.indices; j <- 0 until i)
        assert(!fps(i).exists(fps(j).contains), s"scan $scan pair $i vs $j")
    }
    // scan-end symbol counts strictly decrease (every scan merges >= 1)
    val perScan = rows.groupBy(_._2).toSeq.sortBy(_._1).map(_._2.head._7)
    perScan.zip(perScan.drop(1)).foreach { case (a, b) => assert(b < a) }
  }

  test("batched bpe keeps-per-scan: progress every scan, growth with the symbol inventory, no silent window cap") {
    // drive the loop directly (not the cached artifact) so the probe
    // hook fires; the same hook backs graft.BpeProbe's scan curve
    val perScan = scala.collection.mutable.ListBuffer.empty[(Int, Int, Int)]
    TextAnalysis.bpeTrainBatchedLoop(spark, sf, scans = 4, batch = 64,
      window = 4096, keepFinal = false,
      onScan = (k, cands, keeps, _) => perScan += ((k, cands, keeps)))
    assert(perScan.size === 4, "all four scans must produce merges")
    perScan.foreach { case (k, cands, keeps) =>
      // progress: the rank-1 candidate is always kept
      assert(keeps >= 1, s"scan $k kept nothing")
      // the window is a safety valve, not a silent cap: a scan that
      // keeps fewer than `batch` must have seen its ENTIRE candidate
      // inventory (cands < window) — i.e. keeps were disjointness-
      // limited, never window-truncated. BpeProbe reports the same
      // invariant as window_capped_scans at 25×/100× scale.
      assert(keeps === 64 || cands < 4096,
        s"scan $k: $keeps keeps with a full $cands-candidate window — possible silent cap")
    }
    // glued symbols enrich the pair inventory, so disjointness-limited
    // keeps GROW across scans (measured r11 at sf0.01: 17, 21, 28, 39,
    // 44, 53, 56, 60) — pin the trend, not the exact curve
    val keeps = perScan.map(_._3).toSeq
    assert(keeps.max > keeps.head,
      s"keeps never grew past the first scan: $keeps")
  }

  test("chunked merge application: chunk boundaries do not change the encode") {
    def run(chunk: Int) = TextAnalysis.bpeEncodeHoldoutBatched(spark, sf,
      scans = 2, batch = 32, window = 128, chunk = chunk)
      .collect().map(_.toString).toSeq
    val lazySingle = run(chunk = 64) // single-group lazy projection path
    assert(lazySingle.nonEmpty)
    assert(run(chunk = 7) === lazySingle, "uneven chunk boundary")
    assert(run(chunk = 1) === lazySingle, "merge-at-a-time replay")
  }

  test("chunked merge replay keeps only its result level's checkpoint blocks") {
    // a chunk = 1 replay checkpoints once per merge; each level is
    // released once the next one has materialized
    val run = () => TextAnalysis.bpeEncodeHoldoutBatched(spark, sf,
      scans = 2, batch = 32, window = 128, chunk = 1)
    run().collect() // builds the stored vocabulary outside the count
    val before = spark.sparkContext.getPersistentRDDs.size
    val encoded = run()
    assert(encoded.collect().nonEmpty)
    val grown = spark.sparkContext.getPersistentRDDs.size - before
    assert(grown <= 1, s"$grown RDDs stay persisted after a chunk = 1 replay")
  }

  test("bpe codegen-depth regression: the 256-merge default encodes through bounded projections") {
    // defaults: 4 scans x 64-pair batches = up to 256 learned merges,
    // applied <= 64 per projection — the regime the k-deep foldLeft of
    // the unbatched holdout encoder could not survive near k~10^3
    val train = TextAnalysis.bpeTrainBatched(spark, sf).collect()
    assert(train.length >= 100, s"expected a deep vocabulary, got ${train.length}")
    val enc = TextAnalysis.bpeEncodeHoldoutBatched(spark, sf).collect()
    assert(enc.nonEmpty)
    enc.foreach { r =>
      assert(r.getLong(1) === r.getLong(2) + r.getLong(3),
        s"doc ${r.getLong(0)} token conservation")
    }
  }

  test("batched full-corpus encode: every doc present, token conservation, merges applied") {
    val enc = TextAnalysis.bpeEncodeBatched(spark, sf).collect()
    assert(enc.length.toLong ===
      graft.sources.Tables.documents(spark, sf).count())
    enc.foreach { r =>
      assert(r.getLong(1) === r.getLong(2) + r.getLong(3),
        s"doc ${r.getLong(0)} token conservation")
    }
    assert(enc.map(_.getLong(2)).sum > 0, "the vocabulary must actually apply")
  }

  test("bpe merge fold: repeated-token runs merge floor(run/2) times") {
    val docs = Seq(
      (1L, Seq("a", "a", "a", "a", "a")), // 5-run -> 2 merges
      (2L, Seq("a", "a")),                // -> 1
      (3L, Seq("b", "a", "a", "b", "a")), // one interior pair -> 1
      (4L, Seq("a")),                     // too short -> 0
      (5L, Seq.empty[String]))            // empty -> 0
      .toDF("doc_id", "toks")
    val out = TextAnalysis.applyMerge(docs, "a", "a").collect()
      .map(r => r.getLong(0) -> (r.getLong(4), r.getLong(5))).toMap
    assert(out(1L) === ((2L, 3L)))
    assert(out(2L) === ((1L, 1L)))
    assert(out(3L) === ((1L, 4L)))
    assert(out(4L) === ((0L, 1L)))
    assert(out(5L) === ((0L, 0L)))
  }

  test("bigram logprob: smoothed conditional scores replay the brute-force LM") {
    val out = TextAnalysis.bigramLogProb(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split("[ \n]").filter(_.nonEmpty).toSeq }
    val uni = docs.flatMap(_._2).groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    val bg = docs.flatMap { case (_, ts) => ts.zip(ts.drop(1)) }
      .groupBy(identity).map { case (p, ps) => p -> ps.length.toLong }
    val vocab = uni.size.toLong
    val withBigrams = docs.filter(_._2.length >= 2)
    assert(out.keySet === withBigrams.map(_._1).toSet, "docs with >=2 tokens only")
    withBigrams.foreach { case (id, ts) =>
      val lps = ts.zip(ts.drop(1)).map { case (a, b) =>
        val raw = math.log10((bg((a, b)) + 1).toDouble / (uni(a) + vocab).toDouble)
        math.floor(raw * 1e6 + 0.5) / 1e6
      }
      val n = lps.length.toLong
      val expAvg = math.floor(
        (lps.map(lp => math.floor(lp * 1e6 + 0.5).toLong).sum.toDouble / (n * 1e6))
          * 1e4 + 0.5) / 1e4
      val (gotN, gotAvg) = out(id)
      assert(gotN === n, s"doc $id n_bigrams")
      assert(gotAvg === expAvg, s"doc $id avg")
    }
    // every smoothed conditional probability is < 1, so scores are negative
    out.values.foreach { case (_, avg) => assert(avg < 0.0) }
  }

  test("vocab growth: buckets replay first-seen accounting and re-total the vocabulary") {
    val out = TextAnalysis.vocabGrowth(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split("[ \n]").filter(_.nonEmpty) }
    val maxId = docs.map(_._1).max + 1
    def bucket(id: Long): Long = id * 10 / maxId
    val occ = docs.flatMap { case (id, ts) => ts.map(_ => bucket(id)) }
      .groupBy(identity).map { case (b, xs) => b -> xs.length.toLong }
    val firstSeen = docs.flatMap { case (id, ts) => ts.map(_ -> id) }
      .groupBy(_._1).map { case (_, rs) => bucket(rs.map(_._2).min) }
      .groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    assert(out.map(_._1).toSeq === occ.keys.toSeq.sorted)
    var cum = 0L
    out.foreach { case (b, n, newT, cumT) =>
      assert(n === occ(b), s"bucket $b occurrences")
      assert(newT === firstSeen.getOrElse(b, 0L), s"bucket $b new types")
      cum += newT
      assert(cumT === cum, s"bucket $b cumulative")
    }
    val vocab = docs.flatMap(_._2).distinct.length.toLong
    assert(out.last._4 === vocab, "curve ends at the full vocabulary")
  }

  test("zipf fit: slope/intercept replay the quantized least-squares fit") {
    val Seq(row) = TextAnalysis.zipfFit(spark, sf).collect().toSeq
    val (nFit, slope, intercept) = (row.getLong(0), row.getDouble(1), row.getDouble(2))
    val freqs = graft.sources.Tables.documents(spark, sf)
      .select("text").as[String].collect()
      .flatMap(_.split("[ \n]").filter(_.nonEmpty))
      .groupBy(identity).toSeq.map { case (t, ts) => (t, ts.length.toLong) }
      .sortBy { case (t, n) => (-n, t) }.take(1000)
    def q6(v: Double): Double = math.floor(v * 1e6 + 0.5) / 1e6
    val xy = freqs.zipWithIndex.map { case ((_, n), i) =>
      (q6(math.log10((i + 1).toDouble)), q6(math.log10(n.toDouble))) }
    def qsum(vs: Seq[Double]): Double =
      vs.map(v => math.floor(v * 1e6 + 0.5).toLong).sum.toDouble / 1e6
    val nn = xy.length.toLong
    val (sx, sy) = (qsum(xy.map(_._1)), qsum(xy.map(_._2)))
    val sxy = qsum(xy.map { case (x, y) => q6(x * y) })
    val sxx = qsum(xy.map { case (x, _) => q6(x * x) })
    val rawSlope = (nn * sxy - sx * sy) / (nn * sxx - sx * sx)
    assert(nFit === nn)
    assert(slope === math.floor(rawSlope * 1e4 + 0.5) / 1e4)
    assert(intercept === math.floor((sy - rawSlope * sx) / nn * 1e4 + 0.5) / 1e4)
    assert(slope < 0.0, "frequency must fall with rank")
  }

  test("df spectrum: histogram replays brute-force document frequencies") {
    val out = TextAnalysis.docFrequencySpectrum(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("text").as[String].collect()
      .map(_.split("[ \n]").filter(_.nonEmpty).toSet)
    val dfOf = docs.flatten.groupBy(identity).map { case (t, ts) => t -> ts.length }
    val expect = dfOf.values.groupBy(identity)
      .map { case (df, vs) => df.toLong -> vs.size.toLong }
    assert(out.toMap === expect)
    assert(out.map(_._1).toSeq === out.map(_._1).sorted.toSeq, "ordered by df")
    assert(out.map(_._2).sum === dfOf.size.toLong, "spectrum re-totals the vocabulary")
  }

  test("split budget: shares re-total the manifest exactly") {
    val out = TextAnalysis.splitBudget(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val manifest = TextAnalysis.exportManifest(spark, sf).collect()
      .map(r => (r.getString(1), r.getAs[Number](3).longValue))
    val bydSplit = manifest.groupBy(_._1)
      .map { case (s, rs) => s -> (rs.length.toLong, rs.map(_._2).sum) }
    val total = manifest.map(_._2).sum.toDouble
    assert(out.map(_._1).toSet === bydSplit.keySet)
    out.foreach { case (s, nd, tt, share) =>
      assert((nd, tt) === bydSplit(s), s"split $s totals")
      assert(share === math.floor(tt / total * 1e4 + 0.5) / 1e4, s"split $s share")
    }
    assert(out.map(_._2).sum === manifest.length.toLong)
  }

  test("boilerplate by source: fractions replay the cross-doc line counts") {
    val out = TextAnalysis.boilerplateBySource(spark, sf).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val lines = graft.sources.Tables.documents(spark, sf)
      .select("source", "doc_id", "text").as[(String, Long, String)].collect()
      .flatMap { case (s, id, t) =>
        t.split("\n").map(_.trim).filter(_.nonEmpty).map(l => (s, id, l)) }
    val boiler = lines.groupBy(_._3)
      .filter { case (_, rs) => rs.map(_._2).distinct.length >= 2 }.keySet
    val expect = lines.groupBy(_._1).map { case (s, rs) =>
      val nb = rs.count(r => boiler(r._3)).toLong
      val nl = rs.length.toLong
      s -> (nl, nb, math.floor(nb.toDouble / nl * 1e4 + 0.5) / 1e4)
    }
    assert(out === expect)
  }

  test("hash classifier: scores replay the hashed-feature linear model") {
    val out = TextAnalysis.hashClassifier(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def h8(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)
    val weight = (0 until 1024).map(b => b.toLong -> (h8(s"w|$b") % 2001 - 1000) / 1000.0).toMap
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split("[ \n]").filter(_.nonEmpty) }
      .filter(_._2.nonEmpty)
    assert(out.keySet === docs.map(_._1).toSet)
    docs.foreach { case (id, ts) =>
      val ws = ts.map(t => weight(h8(t) % 1024))
      val score = math.floor(
        ws.map(w => math.floor(w * 1e6 + 0.5).toLong).sum.toDouble / (ws.length * 1e6)
          * 1e4 + 0.5) / 1e4
      val (n, s, f) = out(id)
      assert(n === ts.length.toLong, s"doc $id tokens")
      assert(s === score, s"doc $id score")
      assert(f === (score > 0), s"doc $id flag")
    }
    // hash-derived weights must produce both positive and negative scores
    assert(out.values.exists(_._3) && out.values.exists(!_._3))
  }

  test("trained classifier: weights learned by deterministic GD recover the quality gate") {
    // the trainer must actually LEARN: the stored weights separate the
    // gate far better than the class prior (hashClassifier's stand-in
    // weights cannot — that was the r14 gap this operator closes)
    val w = TextAnalysis.classifierTrain(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w.size === TextAnalysis.ClsDim + 3, "dim buckets + intercept + 2 dense signals")
    assert(w.keySet === (-3L until TextAnalysis.ClsDim.toLong).toSet)
    assert(w.values.exists(_ != 0.0), "training moved the weights")
    // 6-dp quantization held through all steps (oracle replayability)
    w.values.foreach(v => assert(v === math.floor(v * 1e6 + 0.5) / 1e6))
    val scored = TextAnalysis.classifierScore(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2), r.getBoolean(3)))
    val n = scored.length
    val nPos = scored.count(_._4)
    val tp = scored.count(s => s._3 && s._4)
    val acc = scored.count(s => s._3 == s._4).toDouble / n
    val prior = math.max(nPos, n - nPos).toDouble / n
    assert(tp.toDouble / nPos >= 0.9, s"gate recall ${tp.toDouble / nPos} below 0.9")
    assert(acc >= 0.9 && acc > prior,
      s"accuracy $acc must beat the class prior $prior (measured 0.96 at fixture scale)")
    // scores are calibrated probabilities of the rational sigmoid
    scored.foreach { case (_, p, pred, _) =>
      assert(p > 0.0 && p < 1.0)
      assert(pred === (p >= 0.5))
    }
  }

  test("classifier holdout: even-trained weights generalize to the unseen odd half") {
    // the evidence memorized weights cannot fake — scored docs the
    // trainer never saw. Measured at fixture scale: acc 0.868 vs prior
    // 0.524, recall 0.992 (sf0.01: acc 0.864 / prior 0.584 / recall
    // 0.77) — assert comfortably below both readings so fixture
    // regeneration noise doesn't flake the suite.
    val scored = TextAnalysis.classifierHoldout(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2), r.getBoolean(3)))
    // odd docs only — the training half must be absent
    scored.foreach { case (id, _, _, _) => assert(id % 2 === 1) }
    val n = scored.length
    val nPos = scored.count(_._4)
    val tp = scored.count(s => s._3 && s._4)
    val acc = scored.count(s => s._3 == s._4).toDouble / n
    val prior = math.max(nPos, n - nPos).toDouble / n
    assert(acc >= 0.8 && acc >= prior + 0.15,
      s"unseen-half accuracy $acc must clearly beat the class prior $prior")
    assert(tp.toDouble / nPos >= 0.7, s"unseen-half gate recall ${tp.toDouble / nPos}")
  }

  test("sampled trainer: the k-doc deterministic sample scores within ε of the full-batch weights") {
    import graft.operators.TextAnalysis
    // weight table has the full shape and the 6-dp quantization
    val w = TextAnalysis.classifierTrainSampled(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w.size === TextAnalysis.ClsDim + 3)
    assert(w.keySet === (-3L until TextAnalysis.ClsDim.toLong).toSet)
    w.values.foreach(v => assert(v === math.floor(v * 1e6 + 0.5) / 1e6))
    // the sample is a strict subset, so the weights must differ from
    // the full-batch artifact (the sampled trainer is not a re-read)
    val wf = TextAnalysis.classifierTrain(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w !== wf, "sampled weights must differ from full-batch weights")
    // full-corpus metrics under the sampled weights sit within ε of
    // the full-batch scorer and clearly beat the class prior.
    // Measured: acc 0.906 vs 0.964 at fixture scale (Δ 0.058); sf0.01
    // 0.974 vs 0.966 (Δ 0.008) — ε 0.08 clears both with headroom.
    def acc(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val rows = df.select("predicted", "label").collect()
        .map(r => (r.getBoolean(0), r.getBoolean(1)))
      val nPos = rows.count(_._2)
      val prior = math.max(nPos, rows.length - nPos).toDouble / rows.length
      (rows.count(r => r._1 == r._2).toDouble / rows.length, prior)
    }
    val (accS, prior) = acc(TextAnalysis.classifierScoreSampled(spark, sf))
    val (accF, _) = acc(TextAnalysis.classifierScore(spark, sf))
    assert(math.abs(accS - accF) <= 0.08,
      s"sampled accuracy $accS drifted from full-batch $accF")
    assert(accS >= 0.85 && accS > prior,
      s"sampled accuracy $accS must beat the class prior $prior")
  }

  test("trainer reliable-checkpoint spool round-trips to identical weights") {
    // the 1000-executor posture (r15 verdict): the pinned feature
    // frame goes through a durable parquet spool instead of
    // executor-local checkpoint blocks. The trainer's arithmetic is
    // order-independent (qsum + exact counts), so the round-trip must
    // not perturb a single weight.
    import graft.operators.TextAnalysis
    val docs = graft.sources.Tables.documents(spark, sf)
    def weights(reliable: Boolean): Seq[(Long, Double)] =
      TextAnalysis.classifierTrainFrame(spark, sf, docs,
          reliableBase = reliable)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted
    assert(weights(reliable = true) === weights(reliable = false))
  }

  test("learned curation gate is load-bearing: the keep set diverges from the heuristic where model and heuristic disagree") {
    import graft.operators.{TextAnalysis, Dedup}
    val pred = TextAnalysis.classifierScore(spark, sf)
      .select("doc_id", "predicted").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val sig = TextAnalysis.docSignalsIndex(spark, sf)
      .select("doc_id", "quality", "lang_pred").collect()
      .map(r => (r.getLong(0), (r.getDouble(1), r.getString(2)))).toMap
    val losers = Dedup.materializedPairs(spark, sf)
      .select(col("doc_b")).distinct().collect().map(_.getLong(0)).toSet
    // docs passing the shared gates (language + not a near-dup loser)
    val eligible = sig.collect {
      case (id, (q, "en")) if !losers(id) => id -> q }.toMap
    val keepLearned = TextAnalysis.curationClassifier(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val keepHeur = TextAnalysis.curationPipeline(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // where the model and the heuristic disagree, the learned gate
    // must follow the MODEL — and such docs must exist (measured: 7
    // rescued + 7 dropped at fixture scale), or the query is just a
    // re-spelling of `quality >= 0.4`
    val rescued = eligible.collect {
      case (id, q) if pred(id) && q < 0.4 => id }.toSet
    val dropped = eligible.collect {
      case (id, q) if !pred(id) && q >= 0.4 => id }.toSet
    assert(rescued.nonEmpty && dropped.nonEmpty,
      "fixture must exercise both disagreement directions")
    rescued.foreach { id =>
      assert(keepLearned(id) && !keepHeur(id),
        s"doc $id: model-kept/heuristic-dropped must appear only in the learned keep set")
    }
    dropped.foreach { id =>
      assert(!keepLearned(id) && keepHeur(id),
        s"doc $id: model-dropped/heuristic-kept must appear only in the heuristic keep set")
    }
    // agreement docs are identical across the two keep sets
    assert((keepLearned -- rescued) === (keepHeur -- dropped))
  }

  test("chunk snapshot diff: per-source added/removed fingerprints re-total and match a direct replay") {
    val out = TextAnalysis.chunkSnapshotDiff(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))).toMap
    assert(out.nonEmpty)
    out.foreach { case (src, (nOld, nNew, nAdded, nRemoved, nCommon, churn)) =>
      assert(nOld === nCommon + nRemoved, s"$src old total")
      assert(nNew === nCommon + nAdded, s"$src new total")
      assert(churn ===
        math.floor((nAdded + nRemoved).toDouble / math.max(nOld, 1L) * 1e4 + 0.5) / 1e4,
        s"$src churn")
    }
    // the synthetic refresh edits (% 7) and drops (% 11) docs in every
    // source, so SOME churn must register in both directions overall
    assert(out.values.map(_._3).sum > 0, "refresh must add fingerprints")
    assert(out.values.map(_._4).sum > 0, "refresh must remove fingerprints")
    // direct (non-artifact) replay agrees with the stored-artifact path
    val docs = graft.sources.Tables.documents(spark, sf).select("doc_id", "source", "text")
    val next = docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [edited]")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + lit(1000000000L)).as("doc_id"), col("source"), col("text")))
    def fps(d: org.apache.spark.sql.DataFrame) =
      TextAnalysis.chunksOf(d.select("doc_id", "text"), 32, 0)
        .select(col("doc_id"), md5(col("chunk_text")).as("chunk_fp"))
        .join(d.select("doc_id", "source"), Seq("doc_id"))
        .select("source", "chunk_fp").distinct()
    val direct = TextAnalysis.chunkSnapshotDiffOf(fps(docs), fps(next)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))).toMap
    assert(direct === out)
  }

  test("export manifest: exactly the pipeline survivors, keyed and ordered for readers") {
    val out = TextAnalysis.exportManifest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getAs[Number](3).longValue, r.getDouble(4)))
    val survivors = TextAnalysis.curationPipeline(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getAs[Number](2).longValue)).toMap
    val split = TextAnalysis.splitAssign(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(out.map(_._1).toSet === survivors.keySet, "rows = pipeline survivors")
    out.foreach { case (id, sp, key, nTok, q) =>
      assert(sp === split(id), s"doc $id split")
      assert(key === md5hex(s"epoch0|$id"), s"doc $id shuffle key")
      assert((q, nTok) === survivors(id), s"doc $id signals")
    }
    val keys = out.map(r => (r._2, r._3, r._1))
    assert(keys.toSeq === keys.sortBy(identity).toSeq, "(split, shuffle_key) reader order")
  }

  test("split leakage: exactly the cross-split rows of the stored pair table") {
    val out = TextAnalysis.splitLeakage(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3), r.getString(4)))
    val pairs = graft.operators.Dedup.materializedPairs(spark, sf).collect()
      .map(r => (r.getLong(r.fieldIndex("doc_a")), r.getLong(r.fieldIndex("doc_b")),
        r.getDouble(r.fieldIndex("jaccard"))))
    assert(pairs.nonEmpty, "fixture must have near-dup pairs for the test to bite")
    val split = TextAnalysis.splitAssign(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val expect = pairs.filter { case (a, b, _) => split(a) != split(b) }
      .map { case (a, b, j) => (a, b, j, split(a), split(b)) }
      .sortBy { case (a, b, _, _, _) => (a, b) }
    assert(out.toSeq === expect.toSeq)
    out.foreach { case (_, _, _, sa, sb) => assert(sa !== sb) }
  }

  test("split repair: every move follows the minimum cross-split pair and fixes it") {
    val leaks = TextAnalysis.splitLeakage(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val split = TextAnalysis.splitAssign(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val out = TextAnalysis.splitRepair(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val expect = leaks.groupBy(_._2).map { case (b, ps) =>
      val follow = ps.map(_._1).min
      (b, split(b), split(follow), follow)
    }.toSeq.sortBy(_._1)
    assert(out.toSeq === expect)
    out.foreach { case (_, oldS, newS, _) => assert(oldS !== newS, "every move changes split") }
  }

  test("curation scrubbed: pipeline survivors carry their scrubbed text and counts") {
    val out = TextAnalysis.curationScrubbed(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2), r.getInt(3), r.getString(4)))
    val kept = TextAnalysis.curationPipeline(spark, sf).collect().map(_.getLong(0)).toSet
    assert(out.map(_._1).toSet === kept, "rows = pipeline survivors exactly")
    val scrub = graft.operators.Dedup.dupSpanScrub(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    out.foreach { case (id, _, nRem, cleanTok, text) =>
      val (nTok, sRem, sText) = scrub(id)
      assert(nRem === sRem, s"doc $id n_removed")
      assert(cleanTok === nTok - sRem, s"doc $id clean_tokens")
      assert(text === sText, s"doc $id clean_text")
      assert(text.split(" ").count(_.nonEmpty) === cleanTok, s"doc $id token recount")
    }
  }

  test("converged split repair: component-min split, zero leakage after applying it") {
    val out = TextAnalysis.splitRepairConverged(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val split = TextAnalysis.splitAssign(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val pairs = graft.operators.Dedup.materializedPairs(spark, sf).collect()
      .map(r => (r.getLong(r.fieldIndex("doc_a")), r.getLong(r.fieldIndex("doc_b"))))
    assert(pairs.nonEmpty, "fixture must have near-dup pairs for the test to bite")
    // driver-side union-find ground truth, root = component minimum
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val expect = members.map(d => (d, split(d), split(find(d)), find(d)))
      .filter { case (_, o, n, _) => o != n }.sortBy(_._1)
    assert(out.toSeq === expect.toSeq, "moves = component-min split for every member")
    // the defining property: applying the moves leaves NO cross-split
    // near-dup pair (what iterating the one-pass splitRepair converges to)
    val repaired = split ++ out.map(m => m._1 -> m._3).toMap
    pairs.foreach { case (a, b) =>
      assert(repaired(a) === repaired(b), s"pair ($a,$b) still leaks after repair")
    }
  }

  test("mixed language: per-line disagreement replays the profile argmax") {
    val out = TextAnalysis.mixedLanguage(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))).toMap
    val profiles = Seq(
      "en" -> "\\b(the|and|of|to|is|that|it)\\b",
      "es" -> "\\b(el|la|de|que|y|los|las)\\b",
      "fr" -> "\\b(le|la|les|de|et|est|une)\\b",
      "de" -> "\\b(der|die|das|und|ist|nicht)\\b")
    def predict(s: String): String =
      profiles.foldLeft(("und", 0)) { case ((bl, bh), (lang, pat)) =>
        val h = pat.r.findAllIn(s).length
        if (h > bh) (lang, h) else (bl, bh)
      }._1
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    docs.foreach { case (id, text) =>
      val lines = text.split("\n").filter(_.nonEmpty)
      if (lines.isEmpty) assert(!out.contains(id))
      else {
        val docLang = predict(text)
        val lineLangs = lines.map(predict)
        val det = lineLangs.count(_ != "und").toLong
        val foreign = lineLangs.count(l => l != "und" && l != docLang).toLong
        val (gl, nl, nd, nf, mf) = out(id)
        assert(gl === docLang, s"doc $id lang")
        assert(nl === lines.length.toLong, s"doc $id lines")
        assert(nd === det, s"doc $id detected")
        assert(nf === foreign, s"doc $id foreign")
        assert(mf === math.floor(foreign.toDouble / math.max(det, 1L) * 1e4 + 0.5) / 1e4)
      }
    }
  }

  test("readability: flesch components replay the brute-force pass") {
    val out = TextAnalysis.readability(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(out.map(_._1).toSeq === docs.map(_._1).sorted.toSeq)
    val m = out.toMap
    docs.foreach { case (id, text) =>
      val words = text.split("[ \n]").filter(_.nonEmpty)
      val nSent = math.max(text.split("[.!?]", -1).map(_.trim).count(_.nonEmpty), 1)
      val nSyl = words.map(w =>
        math.max(w.toLowerCase.split("[^aeiouy]+").count(_.nonEmpty), 1).toLong).sum
      val (nw, ns, nsy, ease) = m(id)
      assert(nw === words.length.toLong, s"doc $id words")
      assert(ns === nSent.toLong, s"doc $id sentences")
      assert(nsy === nSyl, s"doc $id syllables")
      val expEase = math.floor((206.835 - 1.015 * words.length.toDouble / nSent
        - 84.6 * nSyl.toDouble / math.max(words.length, 1)) * 1e4 + 0.5) / 1e4
      assert(ease === expEase, s"doc $id ease")
    }
  }

  test("length histogram: bins re-total to the corpus and replay the token counts") {
    val rows = TextAnalysis.lengthHistogram(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    rows.foreach { case (_, bin, binLow, _) =>
      assert(binLow === bin * 100, "bin_low must be bin * width")
    }
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("source", "text").as[(String, String)].collect()
    assert(rows.map(_._4).sum === docs.length.toLong, "histogram must cover every doc")
    val expect = docs.groupBy { case (s, t) =>
      (s, t.split("[ \n]").count(_.nonEmpty).toLong / 100L)
    }.map { case (k, ds) => k -> ds.length.toLong }
    assert(rows.map(r => (r._1, r._2) -> r._4).toMap === expect)
  }

  test("ccnet buckets: per-source partition into ordered score thirds at bin granularity") {
    val rows = TextAnalysis.ccnetBuckets(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    val total = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.length.toLong === total, "every scored doc gets a bucket")
    rows.groupBy(_._2).foreach { case (src, docs) =>
      val byBucket = docs.groupBy(_._4).map { case (b, d) => b -> d.map(_._3) }
      assert(byBucket.keySet.subsetOf(Set("head", "middle", "tail")))
      // score ranges must be ordered: head >= middle >= tail
      for {
        hi <- byBucket.get("head"); mid <- byBucket.get("middle")
      } assert(hi.min >= mid.max, s"$src: head/middle overlap")
      for {
        mid <- byBucket.get("middle"); lo <- byBucket.get("tail")
      } assert(mid.min >= lo.max, s"$src: middle/tail overlap")
      // head holds roughly a third (bin-granular cuts can overshoot by
      // at most one bin's population)
      val n = docs.length
      byBucket.get("head").foreach { h =>
        assert(h.size >= n / 3 - 1, s"$src: head too small (${h.size} of $n)")
      }
    }
  }

  test("apply-diff merge reproduces the diff's next snapshot exactly") {
    import org.apache.spark.sql.functions.{col, concat, lit, md5, when}
    val applied = TextAnalysis.applyDiff(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // the diff's "next" state, derived independently
    val docs = graft.sources.Tables.documents(spark, sf).select("doc_id", "text")
    val next = docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [edited]")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + lit(1000000000L)).as("doc_id"), col("text")))
      .select(col("doc_id"), md5(col("text")).as("fp")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(applied === next)
    // the merge actually did all three things
    val baseIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(baseIds.exists(id => !applied.contains(id)), "deletes must drop rows")
    assert(applied.keySet.exists(_ >= 1000000000L), "inserts must add rows")
  }

  test("dsir selection: target-language docs dominate the top ranks") {
    val topK = 50
    val res = TextAnalysis.dsirSelect(spark, sf, targetLang = "en", topK = topK)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getInt(3)))
    assert(res.length === topK)
    // ranks are 1..K in score order (ties by doc_id)
    assert(res.map(_._3).toSeq === (1 to topK))
    assert(res.sliding(2).forall { case Array((ia, sa, _), (ib, sb, _)) =>
      sa > sb || (sa == sb && ia < ib) },
      "rank order must follow (score desc, doc_id asc)")
    // the selection is enriched in the target language vs the corpus base rate
    val docs = graft.sources.Tables.documents(spark, sf)
    val langOf = docs.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val selEn = res.count { case (id, _, _) => langOf(id) == "en" }.toDouble / topK
    val baseEn = langOf.values.count(_ == "en").toDouble / langOf.size
    assert(selEn > baseEn,
      s"selected en-fraction $selEn must beat the base rate $baseEn")
  }
}
