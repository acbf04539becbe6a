package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.functions.Deterministic.{qavg, qsum, rd}
import graft.sources.{ArtifactCache, Tables}

/** Text-analysis operators for a training-data pipeline, over the
  * `documents` corpus (the role the reference's HDFS text file played,
  * `slave.cc:56`). The reference's only text op was whitespace
  * tokenization (`slave.cc:101-116`); this module adds the standard
  * corpus-curation measures: token statistics, quality scoring,
  * language ID, and document fingerprinting.
  *
  * Everything is built-in codegen'd expressions (regexp_count, split,
  * aggregate/filter higher-order functions, md5) — no UDFs, so
  * whole-stage codegen spans the full projection and the operators
  * scale embarrassingly (per-row, no shuffle except final aggs).
  */
object TextAnalysis {

  /** Whitespace tokens, empties removed (same delimiter semantics as the
    * reference tokenizer — ' ' and '\n' only, `slave.cc:103`). */
  def wsTokens(text: Column): Column =
    filter(split(text, "[ \n]"), t => t =!= "")

  /** A BPE-ish pre-tokenizer regex: letter runs, digit runs, or single
    * non-alnum marks — a portable approximation of byte-pair pretoken
    * splitting that DuckDB's RE2 evaluates identically. */
  val BpePattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \n]"

  /** Per-document token statistics: whitespace tokens, BPE-ish tokens,
    * mean token length, char length. */
  def tokenStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), wsTokens(col("text")).as("toks"), col("text"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(regexp_extract_all(col("text"), lit(BpePattern), lit(0))).as("n_bpe_tokens"),
        rd(aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)).cast("double") /
            greatest(size(col("toks")), lit(1)), 4).as("avg_token_len"),
        length(col("text")).as("n_chars"))
      .orderBy("doc_id")

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Longest equal run in the SORTED token array = the multiplicity of
    * the most frequent token — same struct-folding device as
    * [[top2GramRunSql]], one gram size down. Row-local, no shuffle. */
  private[graft] val topTokenRunSql =
    """CASE WHEN size(toks) < 1 THEN CAST(0 AS BIGINT) ELSE
      |  aggregate(
      |    array_sort(toks),
      |    named_struct('prev', CAST(NULL AS STRING),
      |                 'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)),
      |    (acc, x) -> named_struct(
      |      'prev', x,
      |      'run', CASE WHEN acc.prev IS NOT NULL AND x = acc.prev
      |               THEN acc.run + CAST(1 AS BIGINT) ELSE CAST(1 AS BIGINT) END,
      |      'best', greatest(acc.best,
      |        CASE WHEN acc.prev IS NOT NULL AND x = acc.prev
      |          THEN acc.run + CAST(1 AS BIGINT) ELSE CAST(1 AS BIGINT) END)),
      |    acc -> acc.best)
      |END""".stripMargin

  /** Occurrences that are part of a repeated group in the sorted gram
    * array `sg` (an element repeats iff it sits in an equal-run of
    * length ≥ 2): single-pass run-length fold — a run of length r ≥ 2
    * contributes r (2 when the run first extends, +1 per further
    * element). The fold references `sg` exactly ONCE, which matters
    * beyond elegance: HOFs evaluate interpreted (no codegen CSE), and
    * the optimizer's predicate pushdown substitutes alias chains into
    * filter conditions with no cost model — a formulation that indexes
    * `sg` per element (`element_at(sg, i)` under a lambda) re-evaluates
    * the whole split→transform→sort chain O(m) times per row once a
    * downstream gate is pushed into this projection (observed: a
    * single 2s-shaped query running 10+ minutes). Single-reference
    * folds are immune no matter where the optimizer moves them. */
  private val dupOccSql =
    """CASE WHEN size(sg) = 0 THEN CAST(0 AS BIGINT) ELSE
      |  aggregate(sg,
      |    named_struct('prev', CAST(NULL AS STRING),
      |                 'run', CAST(0 AS BIGINT), 'tot', CAST(0 AS BIGINT)),
      |    (acc, x) -> named_struct(
      |      'prev', x,
      |      'run', CASE WHEN acc.prev IS NOT NULL AND x = acc.prev
      |               THEN acc.run + CAST(1 AS BIGINT) ELSE CAST(1 AS BIGINT) END,
      |      'tot', acc.tot + CASE WHEN acc.prev IS NOT NULL AND x = acc.prev
      |               THEN CASE WHEN acc.run = CAST(1 AS BIGINT)
      |                         THEN CAST(2 AS BIGINT) ELSE CAST(1 AS BIGINT) END
      |               ELSE CAST(0 AS BIGINT) END),
      |    acc -> acc.tot)
      |END""".stripMargin

  /** Within-document repetition profile — the Gopher-family signals that
    * [[qualityScore]] does NOT already carry (it has duplicate-line
    * fraction and top-2-gram fraction): duplicate n-gram occupancy (the
    * fraction of positional n-grams whose gram occurs MORE THAN ONCE in
    * the same document — the token-level reading of Gopher's "fraction
    * of characters in duplicated n-grams"), top-token fraction (C4's
    * most-frequent-word ratio), and distinct-token ratio.
    *
    * Scale shape: every signal is computed ROW-LOCALLY with sorted-array
    * HOFs — a repeated gram inside one doc is a fact the row already
    * holds, so nothing shuffles; cost is O(m log m) per doc vs shipping
    * every n-gram of a 100 TB corpus through an exchange just to group
    * them back by (doc, gram). Contrast [[graft.operators.Dedup.dupSpansOf]],
    * whose CROSS-document frequency genuinely requires the shuffle. */
  def repetitionSignalsOf(docs: DataFrame, n: Int = 5): DataFrame = {
    val sortedGramsSql =
      s"""CASE WHEN size(toks) >= $n THEN
         |  array_sort(transform(sequence(0, size(toks) - $n),
         |    i -> concat_ws(' ', slice(toks, i + 1, $n))))
         |ELSE array() END""".stripMargin
    docs
      .select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .withColumn("sg", expr(sortedGramsSql))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tok"),
        rd(size(array_distinct(col("toks"))).cast("double") /
          greatest(size(col("toks")), lit(1)), 4).as("distinct_ratio"),
        rd(expr(topTokenRunSql).cast("double") /
          greatest(size(col("toks")), lit(1)), 4).as("top_token_frac"),
        size(col("sg")).as("n_grams"),
        rd(expr(dupOccSql).cast("double") /
          greatest(size(col("sg")), lit(1)), 4).as("dup_gram_frac"))
      .orderBy("doc_id")
  }

  /** Corpus repetition signals as a STORED artifact (keyed by gram size
    * + corpus fingerprint): per-doc stats are the canonical
    * compute-once-per-snapshot table — the same posture as the near-dup
    * pair tables — so every consumer (the `text_repetition` query, the
    * gated-curation thresholds) reads parquet instead of re-running the
    * interpreted HOF pass. Doubles round-trip parquet bit-exactly, so
    * readers see the identical values. */
  def repetitionIndex(spark: SparkSession, sfDir: String, n: Int = 5): DataFrame =
    ArtifactCache.readOrWrite(spark, "repetitionSignals", s"n$n",
      s"$sfDir/documents.parquet") {
      repetitionSignalsOf(Tables.documents(spark, sfDir), n)
    }

  def repetitionSignals(spark: SparkSession, sfDir: String, n: Int = 5): DataFrame =
    repetitionIndex(spark, sfDir, n).orderBy("doc_id")

  /** Per-doc curation signals (quality, predicted language, token count)
    * as a STORED artifact, same posture as [[repetitionIndex]]: the three
    * regex-heavy corpus passes run once per snapshot, and every composite
    * consumer — the curation pipeline and gates, the audit profile, the
    * budget calibration, keep-best retention — reads the tiny per-doc
    * stat table from parquet instead of re-deriving the signals from
    * text. Doubles round-trip parquet bit-exactly, so consumers see
    * values identical to the direct operators (which remain the oracled
    * `text_quality`/`text_lang_id`/`text_token_stats` surface). */
  def docSignalsIndex(spark: SparkSession, sfDir: String): DataFrame =
    ArtifactCache.readOrWrite(spark, "docSignals", "v1",
      s"$sfDir/documents.parquet") {
      qualityScore(spark, sfDir).select("doc_id", "quality")
        .join(langId(spark, sfDir).select("doc_id", "lang_pred"), Seq("doc_id"))
        .join(tokenStats(spark, sfDir).select("doc_id", "n_tokens"), Seq("doc_id"))
    }

  /** Largest 2-gram multiplicity in `toks`, computed ROW-LOCALLY: sort
    * the 2-gram array and take the longest equal run via a struct-folding
    * `aggregate` — O(k log k) per row, no shuffle, stays in codegen. The
    * relational alternative (explode → two groupBys) shuffles every
    * 2-gram of the corpus for a quantity each row already holds. */
  private[graft] val top2GramRunSql =
    """CASE WHEN size(toks) < 2 THEN CAST(0 AS BIGINT) ELSE
      |  aggregate(
      |    array_sort(transform(sequence(1, size(toks) - 1),
      |      i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))),
      |    named_struct('prev', CAST(NULL AS STRING),
      |                 'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)),
      |    (acc, x) -> named_struct(
      |      'prev', x,
      |      'run', CASE WHEN acc.prev IS NOT NULL AND x = acc.prev
      |               THEN acc.run + CAST(1 AS BIGINT) ELSE CAST(1 AS BIGINT) END,
      |      'best', greatest(acc.best,
      |        CASE WHEN acc.prev IS NOT NULL AND x = acc.prev
      |          THEN acc.run + CAST(1 AS BIGINT) ELSE CAST(1 AS BIGINT) END)),
      |    acc -> acc.best)
      |END""".stripMargin

  /** Per-document quality score: stopword ratio, punctuation ratio,
    * length saturation — the classic cheap heuristics used to filter
    * pretraining corpora — plus the Gopher/C4 repetition signals:
    * duplicate-line fraction (share of non-empty lines that repeat an
    * earlier line) and top-2-gram fraction (share of all word 2-grams
    * taken by the most frequent one). Pure arithmetic over row-local
    * arrays → oracle-stable, map-only. The composite `quality` formula
    * is unchanged (repetition columns are gates, not score inputs). */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val stopPat = "\\b(" + Stopwords.mkString("|") + ")\\b"
    // floored source (r17): per-row quality scoring (token split, line
    // split, stopword regex) is heavy per-row work — measured 0.74 s
    // floored vs 1.50 s on the 1-task unfloored scan at sf0.1
    Tables.floored(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), wsTokens(col("text")).as("toks"),
        filter(split(col("text"), "\n"), x => x =!= "").as("lines"))
      .select(col("doc_id"),
        size(col("toks")).cast("double").as("n_tok"),
        regexp_count(col("text"), lit(stopPat)).cast("double").as("n_stop"),
        regexp_count(col("text"), lit("[^a-zA-Z0-9 \n]")).cast("double").as("n_punct"),
        length(col("text")).cast("double").as("len"),
        size(col("lines")).cast("double").as("n_lines"),
        size(array_distinct(col("lines"))).cast("double").as("n_dlines"),
        expr(top2GramRunSql).cast("double").as("top2"))
      .select(
        col("doc_id"),
        rd(col("n_stop") / greatest(col("n_tok"), lit(1.0)), 4).as("stopword_ratio"),
        rd(col("n_punct") / greatest(col("len"), lit(1.0)), 4).as("punct_ratio"),
        rd(least(col("len") / lit(500.0), lit(1.0)), 4).as("len_saturation"),
        rd((col("n_lines") - col("n_dlines")) / greatest(col("n_lines"), lit(1.0)), 4)
          .as("dup_line_frac"),
        rd(col("top2") / greatest(col("n_tok") - lit(1.0), lit(1.0)), 4)
          .as("top_2gram_frac"),
        rd(
          lit(0.5) * (col("n_stop") / greatest(col("n_tok"), lit(1.0))) +
          lit(0.3) * least(col("len") / lit(500.0), lit(1.0)) +
          lit(0.2) * (lit(1.0) - col("n_punct") / greatest(col("len"), lit(1.0))), 4)
          .as("quality"))
      .orderBy("doc_id")
  }

  /** Stopword-profile language ID (n-gram-heuristic family): count
    * characteristic function-word hits per language, argmax with a
    * deterministic priority order, 'und' when nothing matches. */
  /** The function-word profiles + argmax rule shared by [[langId]] and
    * [[mixedLanguage]] (later profile wins only on STRICTLY more hits —
    * the priority order both oracles replay). */
  private val LangProfiles: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|is|that|it)\\b",
    "es" -> "\\b(el|la|de|que|y|los|las)\\b",
    "fr" -> "\\b(le|la|les|de|et|est|une)\\b",
    "de" -> "\\b(der|die|das|und|ist|nicht)\\b")

  private def langArgmax(hitsOf: String => Column): (Column, Column) =
    LangProfiles.foldLeft((lit("und"), lit(0))) {
      case ((bestLang, bestHits), (lang, _)) =>
        val h = hitsOf(lang)
        (when(h > bestHits, lit(lang)).otherwise(bestLang),
         when(h > bestHits, h).otherwise(bestHits))
    }

  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val profiles = LangProfiles
    val hits = profiles.map { case (lang, pat) =>
      regexp_count(col("text"), lit(pat)).as(s"hits_$lang")
    }
    val best = langArgmax(lang => col(s"hits_$lang"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id") +: col("lang").as("lang_label") +: hits: _*)
      .select(col("doc_id"), col("lang_label"),
        best._1.as("lang_pred"), best._2.as("lang_hits"))
      .orderBy("doc_id")
  }

  /** Mixed-language detection — the C4-style per-LINE disagreement
    * filter: a document whose lines vote for different languages is
    * usually boilerplate-wrapped or machine-concatenated, and a
    * doc-level language gate silently keeps it. Per line, the same
    * profile argmax as [[langId]]; `mixed_frac` is the share of
    * DETECTED lines (profile hit > 0) disagreeing with the doc-level
    * prediction. Everything is row-local regexp counting over the same
    * scan; the one agg is doc-keyed. */
  def mixedLanguage(spark: SparkSession, sfDir: String): DataFrame = {
    val docPred = langId(spark, sfDir)
      .select(col("doc_id"), col("lang_pred").as("doc_lang"))
    val lines = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(filter(split(col("text"), "\n"), l => l =!= "")).as("line"))
    val withHits = lines.select(col("doc_id") +: LangProfiles.map {
      case (lang, pat) => regexp_count(col("line"), lit(pat)).as(s"hits_$lang")
    }: _*)
    val best = langArgmax(lang => col(s"hits_$lang"))
    withHits.select(col("doc_id"), best._1.as("line_lang"))
      .join(docPred, Seq("doc_id"))
      .groupBy("doc_id", "doc_lang")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("line_lang") =!= "und", 1L).otherwise(0L)).as("n_detected"),
        sum(when(col("line_lang") =!= "und" && col("line_lang") =!= col("doc_lang"),
          1L).otherwise(0L)).as("n_foreign"))
      .select(col("doc_id"), col("doc_lang"), col("n_lines"),
        col("n_detected"), col("n_foreign"),
        rd(col("n_foreign").cast("double") /
          greatest(col("n_detected"), lit(1L)), 4).as("mixed_frac"))
      .orderBy("doc_id")
  }

  /** Normalization used by fingerprinting and exact dedup: lowercase,
    * collapse whitespace, trim. */
  def normText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Content fingerprint: md5 over normalized text (cross-engine-stable
    * hex). The scale property: fingerprints are computed map-side and
    * grouping by them shuffles only (hash, id) pairs, never the text. */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(normText(col("text"))).as("fingerprint"),
        sha2(normText(col("text")), 256).as("fingerprint_sha256"))
      .orderBy("doc_id")

  /** Top distinctive terms per document by TF-IDF: per-doc term
    * frequency × ln(N/df), top `topK` per doc ranked on the ROUNDED
    * score (ties to the lexicographically first term) so both engines
    * rank identically. The corpus-size scalar N is read at plan-build
    * time — a metadata-only parquet count (row-group stats, no data
    * scan; at cluster scale, a catalog statistic), folded into the
    * projection as a literal so no scalar join appears in the plan (a
    * constant-key join degenerates to a nested-loop product —
    * `PlanLintSpec` rejects it).
    *
    * Scale shape: two token-level partial-agg shuffles (tf, then df
    * over the already-distinct (doc, term) pairs — df never sees raw
    * token multiplicity) and one per-doc window; everything else is
    * map-side. The (term, df) frame is vocabulary-sized and the window
    * key is doc_id — no skew, no global sort until the final output
    * order. */
  def tfidfTopTerms(spark: SparkSession, sfDir: String, topK: Int = 5): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val tf = docs
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.count() // metadata-only on parquet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("tfidf"), asc("term"))
    tf.join(df, Seq("term"))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        rd(col("tf") * log(lit(nDocs.toDouble) / col("df")), 4).as("tfidf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .orderBy("doc_id", "rank")
  }

  /** Corpus-trained unigram language-model score — the CCNet-family
    * quality signal: documents whose tokens are typical of the corpus
    * score high (avg log10 token probability near the corpus ceiling),
    * token-salad outliers score low. Two stages, like every
    * train-then-apply operator here:
    *
    *  1. TRAIN: one corpus pass builds the (token, count) frequency
    *     table, stored through [[ArtifactCache]] — at 100 TB this is a
    *     per-snapshot catalog artifact, not a per-query recompute.
    *  2. SCORE: tokens join the frequency table and average per doc.
    *     The table is vocabulary-sized, so it BROADCASTS — the corpus
    *     never shuffles, and the hot-token skew a shuffle join would
    *     have (every "the" landing on one reducer) never exists. A
    *     vocabulary too large to broadcast falls back to an AQE
    *     skew-handled shuffle join on the token.
    *
    * Determinism across engines: per-token log10 is rounded to 6 dp
    * BEFORE averaging (one transcendental, then integer-unit exact
    * [[qavg]]) so the mean is add-order-independent and the oracle
    * replays it bit-for-bit — same device as the z-score and TF-IDF
    * oracles. */
  def unigramLogProb(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val toks = docs.select(col("doc_id"), explode(wsTokens(col("text"))).as("tok"))
    val freqs = ArtifactCache.readOrWrite(spark, "unigramFreqs", "ws",
        s"$sfDir/documents.parquet") {
      docs.select(explode(wsTokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
    }
    val total = freqs.agg(sum("cnt")).head().getLong(0) // vocabulary-sized agg
    toks.join(broadcast(freqs), Seq("tok"))
      .select(col("doc_id"),
        rd(log10(col("cnt").cast("double") / lit(total.toDouble)), 6).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), rd(qavg(col("lp"), 6), 4).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** CCNet-style LM-score bucketing: split each source into head /
    * middle / tail thirds by unigram LM score (head = highest logprob =
    * lowest perplexity — the slice CCNet keeps, tail = the noisy slice
    * it drops). The classic formulation sorts every source by score and
    * cuts at n/3 and 2n/3 — a per-source corpus-wide sort. Restated
    * with the same fixed-point-binning device as the quality
    * calibration: `avg_logprob` is 4-dp fixed point, so per-(source,
    * bin) counts aggregate with one ordinary shuffle into a small
    * table, the tertile cuts come from a window cumsum over that
    * table, and each doc picks up its bucket through a broadcast join
    * on (source, bin) — the corpus itself is never sorted. Cuts are
    * bin-granular: docs sharing a score bin share a bucket, and the
    * greedy prefix closes each bucket at the first bin reaching its
    * third (deterministic in both engines). */
  def ccnetBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = unigramLogProb(spark, sfDir).select("doc_id", "avg_logprob")
      .join(Tables.documents(spark, sfDir).select("doc_id", "source"), Seq("doc_id"))
    val bins = scored.groupBy("source", "avg_logprob")
      .agg(count(lit(1)).as("n"))
    val cumW = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("avg_logprob").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val totW = org.apache.spark.sql.expressions.Window.partitionBy("source")
    val labeled = bins
      .withColumn("cum", sum(col("n")).over(cumW))
      .withColumn("total", sum(col("n")).over(totW))
      .withColumn("bucket",
        when(col("cum") - col("n") < ceil(col("total") / lit(3.0)), "head")
          .when(col("cum") - col("n") < ceil(col("total") * lit(2) / lit(3.0)), "middle")
          .otherwise("tail"))
      .select("source", "avg_logprob", "bucket")
    scored.join(broadcast(labeled), Seq("source", "avg_logprob"))
      .select("doc_id", "source", "avg_logprob", "bucket")
      .orderBy("doc_id")
  }

  /** DSIR-style data selection (importance resampling on unigram
    * features, after Xie et al. 2023): score every document by how much
    * its tokens look drawn from a TARGET domain (here: the corpus's
    * `lang = targetLang` slice) rather than from the raw corpus — the
    * per-doc average log-likelihood ratio log10(p_target / p_corpus) —
    * and keep the top `topK`. Additive smoothing (+0.5 over the corpus
    * vocabulary) keeps target-unseen tokens finite.
    *
    * Scale shape: both distributions are vocabulary-sized artifacts
    * (the corpus side IS the stored [[unigramLogProb]] frequency
    * table); the per-token ratio table broadcasts, so scoring is one
    * map-side join + per-doc agg — the corpus never shuffles. The
    * top-K is `TakeOrderedAndProject` (per-partition heaps, no global
    * sort); only the K winners see the rank window. Rounding before
    * averaging (6 dp) and ranking on the ROUNDED score with doc_id
    * tiebreak keeps selection identical across engines. */
  def dsirSelect(spark: SparkSession, sfDir: String,
      targetLang: String = "en", topK: Int = 200): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val toks = docs.select(col("doc_id"), explode(wsTokens(col("text"))).as("tok"))
    val corpusFreqs = ArtifactCache.readOrWrite(spark, "unigramFreqs", "ws",
        s"$sfDir/documents.parquet") {
      docs.select(explode(wsTokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
    }
    val targetFreqs = docs.filter(col("lang") === targetLang)
      .select(explode(wsTokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt_t"))
    // vocabulary-sized aggregations: three scalars, read at plan build
    val vocab = corpusFreqs.count()
    val totalC = corpusFreqs.agg(sum("cnt")).head().getLong(0)
    val totalT = targetFreqs.agg(sum("cnt_t")).head().getLong(0)
    val lr = corpusFreqs.join(targetFreqs, Seq("tok"), "left_outer")
      .select(col("tok"), rd(
        log10((coalesce(col("cnt_t"), lit(0L)).cast("double") + lit(0.5)) /
          lit(totalT.toDouble + 0.5 * vocab)) -
          log10(col("cnt").cast("double") / lit(totalC.toDouble)), 6).as("llr"))
    val scored = toks.join(broadcast(lr), Seq("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), rd(qavg(col("llr"), 6), 4).as("avg_llr"))
      .orderBy(desc("avg_llr"), asc("doc_id"))
      .limit(topK)
    // rank window runs on the K winners only
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("avg_llr"), asc("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .orderBy("rank")
  }

  /** Snapshot diff by content fingerprint: full-outer join of two
    * corpus snapshots on doc_id, each row labeled
    * added/removed/changed/unchanged by comparing md5(text). The
    * incremental-processing primitive: a 100 TB corpus refresh is
    * applied as a diff (reprocess `changed`+`added`, tombstone
    * `removed`), not a full recompute — and the join ships only
    * (id, 16-byte hash), never text. */
  def snapshotDiffOf(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"), md5(col("text")).as("old_fp"))
    val n = newDocs.select(col("doc_id"), md5(col("text")).as("new_fp"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("old_fp"), col("new_fp"),
        when(col("old_fp").isNull, "added")
          .when(col("new_fp").isNull, "removed")
          .when(col("old_fp") =!= col("new_fp"), "changed")
          .otherwise("unchanged").as("status"))
      .orderBy("doc_id")
  }

  /** Driver-contract form: diff the corpus against a deterministic
    * synthetic next snapshot of itself — doc_id % 11 == 0 dropped,
    * % 7 == 0 edited (suffix appended), % 13 == 0 duplicated under a
    * shifted id — so the DuckDB oracle replays the exact same refresh. */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val next = docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [edited]")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + lit(1000000000L)).as("doc_id"), col("text")))
    snapshotDiffOf(docs, next)
  }

  /** Chunk-grain snapshot diff: added/removed/common DISTINCT chunk
    * fingerprints per source across two corpus snapshots — the
    * storage-churn/novelty accounting that tells the catalog WHEN a
    * stored chunk index ([[graft.operators.Dedup.chunkKeeperIndex]])
    * needs a refresh, and how much genuinely new content a refresh
    * brought in per source ([[snapshotDiffOf]]'s doc-grain question
    * lowered to the grain dedup actually operates at: an edited doc is
    * "changed" at doc grain but mostly-common at chunk grain).
    *
    * Scale shape: chunking and fingerprinting are row-local; each side
    * collapses to DISTINCT (source, 16-byte fp) rows (partial-agg'd);
    * the diff is one full-outer join in hash currency and a
    * source-bounded rollup. Text never crosses an Exchange. */
  def chunkSnapshotDiffOf(oldFps: DataFrame, newFps: DataFrame): DataFrame =
    oldFps.withColumn("in_old", lit(1))
      .join(newFps.withColumn("in_new", lit(1)),
        Seq("source", "chunk_fp"), "full_outer")
      .groupBy("source")
      .agg(sum(when(col("in_old").isNotNull, 1L).otherwise(0L)).as("n_old"),
        sum(when(col("in_new").isNotNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("in_old").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("in_new").isNull, 1L).otherwise(0L)).as("n_removed"))
      .select(col("source"), col("n_old"), col("n_new"),
        col("n_added"), col("n_removed"),
        (col("n_old") - col("n_removed")).as("n_common"),
        rd((col("n_added") + col("n_removed")).cast("double") /
          greatest(col("n_old"), lit(1L)), 4).as("churn"))
      .orderBy("source")

  /** Distinct (source, chunk_fp) set of a snapshot — the per-snapshot
    * side of the chunk diff, shared by both snapshots' artifacts. */
  private[graft] def sourceChunkFps(docs: DataFrame, chunkSize: Int): DataFrame =
    chunksOf(docs.select("doc_id", "text"), chunkSize, overlap = 0)
      .select(col("doc_id"), md5(col("chunk_text")).as("chunk_fp"))
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .select("source", "chunk_fp").distinct()

  /** Driver-contract form: the corpus diffed against the SAME
    * deterministic synthetic refresh as [[snapshotDiff]] (doc_id % 11
    * dropped, % 7 edited, % 13 duplicated under a shifted id), at chunk
    * grain. Both sides' distinct fingerprint sets are STORED artifacts
    * ([[ArtifactCache]]) — the base snapshot's set is exactly the index
    * a catalog holds per snapshot, so the diff is a join of two stored
    * hash tables, not a double corpus re-chunk per query. */
  def chunkSnapshotDiff(spark: SparkSession, sfDir: String,
      chunkSize: Int = 32): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text")
    val next = docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [edited]")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
          col("source"), col("text")))
    val oldFps = ArtifactCache.readOrWrite(spark, "chunk-fp-set",
      s"$sfDir|$chunkSize|base", s"$sfDir/documents.parquet")(
      sourceChunkFps(docs, chunkSize))
    val newFps = ArtifactCache.readOrWrite(spark, "chunk-fp-set",
      s"$sfDir|$chunkSize|next-synth", s"$sfDir/documents.parquet")(
      sourceChunkFps(next, chunkSize))
    chunkSnapshotDiffOf(oldFps, newFps)
  }

  /** Corpus audit profile — the per-(source, lang) dashboard every
    * curation run starts from: document and token volume, exact mean
    * quality, and how many docs clear the quality gate. One pass of
    * row-local quality/token signals and one small aggregation; the
    * group count is bounded by sources × languages regardless of corpus
    * size, so the result always fits the driver. */
  def corpusProfile(spark: SparkSession, sfDir: String,
      minQuality: Double = 0.4): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "lang")
    val sig = docSignalsIndex(spark, sfDir).select("doc_id", "quality", "n_tokens")
    docs.join(sig, Seq("doc_id"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"),
        rd(qavg(col("quality"), 4), 4).as("avg_quality"),
        sum(when(col("quality") >= minQuality, 1L).otherwise(0L)).as("n_pass"))
      .orderBy("source", "lang")
  }

  /** Quality-threshold calibration against a token budget: which quality
    * cutoff keeps exactly the token volume you can afford? The naive
    * formulation — sort all docs by quality desc and cumsum — is a
    * single-partition global window, a non-starter at corpus scale. But
    * `quality` is 4-dp fixed point, so there are at most 10,001 distinct
    * values: aggregate (docs, tokens) PER QUALITY BIN first (ordinary
    * partial-agg shuffle, output ≤10k rows), then run the cumulative sum
    * over the driver-sized bin table, where a global window is free. A
    * bin is `kept` if the budget is not already exhausted by strictly
    * higher-quality bins (greedy whole-bin selection); the calibrated
    * threshold is the smallest kept quality. */
  def qualityBudgetCalibration(spark: SparkSession, sfDir: String,
      budgetTokens: Long = 20000L): DataFrame = {
    val bins = docSignalsIndex(spark, sfDir)
      .groupBy("quality")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("bin_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("quality").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    bins
      .withColumn("cum_tokens", sum(col("bin_tokens")).over(w).cast("long"))
      .withColumn("kept", (col("cum_tokens") - col("bin_tokens")) < budgetTokens)
      .select("quality", "n_docs", "bin_tokens", "cum_tokens", "kept")
      .orderBy(col("quality").desc)
  }

  /** Per-source vocabulary statistics — the corpus-health numbers a
    * tokenizer-training or mixture-design pass starts from: total token
    * occurrences, vocabulary size, hapax-legomenon count (tokens seen
    * once — the Heaps-law tail that dominates open vocabularies), the
    * type/token ratio, and the most frequent token with a lexicographic
    * tiebreak. The only shuffle is the wordcount currency (source,
    * token); per-source rollups are bounded by the source count, so the
    * result is driver-sized at any corpus scale. */
  def vocabStats(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .select(col("source"), explode(wsTokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("cnt").desc, col("token"))
    val top = counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("source"), col("token").as("top_token"),
        col("cnt").as("top_token_count"))
    counts.groupBy("source")
      .agg(sum(col("cnt")).cast("long").as("total_tokens"),
        count(lit(1)).as("vocab_size"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax_count"))
      .join(top, Seq("source"))
      .select(col("source"), col("total_tokens"), col("vocab_size"),
        col("hapax_count"),
        rd(col("vocab_size").cast("double") / col("total_tokens"), 4)
          .as("type_token_ratio"),
        col("top_token"), col("top_token_count"))
      .orderBy("source")
  }

  /** MERGE INTO (upsert + delete) expressed Spark-first: one full-outer
    * join of the base snapshot against a keyed change-set — matched
    * `upsert` rows take the new text, `delete` rows drop out, unmatched
    * base rows pass through, unmatched upserts insert. This is how an
    * immutable-file lakehouse applies a change-set: one join keyed on
    * the primary key, shuffling only (key, fingerprint/text) — the
    * at-scale refinement is join pruning to the files whose key ranges
    * the change-set touches, which the z-order/bucketed layouts above
    * exist to make possible. */
  def applyChangeSet(base: DataFrame, changes: DataFrame): DataFrame =
    base.select(col("doc_id"), col("text"))
      .join(changes.select(col("doc_id"), col("op"), col("text").as("text_new")),
        Seq("doc_id"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "delete")
      .select(col("doc_id"),
        when(col("op") === "upsert", col("text_new")).otherwise(col("text")).as("text"))

  /** Driver query: apply the SAME deterministic change-set
    * [[snapshotDiff]] diffs against (%11 deletes, %7 edits, %13
    * inserts under a shifted id) and fingerprint the merged snapshot —
    * so the applied result IS the diff's "next" state, which
    * `TextAnalysisSpec` asserts directly. */
  def applyDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val nullText = lit(null).cast("string")
    val changes = docs.filter(col("doc_id") % 11 === 0)
      .select(col("doc_id"), lit("delete").as("op"), nullText.as("text"))
      .unionByName(docs.filter(col("doc_id") % 7 === 0 && col("doc_id") % 11 =!= 0)
        .select(col("doc_id"), lit("upsert").as("op"),
          concat(col("text"), lit(" [edited]")).as("text")))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
          lit("upsert").as("op"), col("text")))
    applyChangeSet(docs, changes)
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .orderBy("doc_id")
  }

  /** End-to-end corpus curation — the composition story: quality gate →
    * near-dup removal (keep the canonical lower-id doc of each pair) →
    * language filter, emitting the surviving docs with their stats. The
    * signal values are the oracled `text_quality`/`text_lang_id`/
    * `text_token_stats` operators', read from the compute-once
    * [[docSignalsIndex]] artifact rather than re-derived from text —
    * at snapshot scale the pipeline costs two filters and an anti-join
    * over per-doc stat rows, not three regex passes over the corpus. */
  def curationPipeline(spark: SparkSession, sfDir: String,
      minQuality: Double = 0.4): DataFrame = {
    // both inputs are stored artifacts: the near-dup pair table (shared
    // with dedup_clusters) and the per-doc signal index — the pipeline
    // itself is two filters, one anti-join, one sort
    val dupLosers = Dedup.materializedPairs(spark, sfDir)
      .select(col("doc_b").as("doc_id")).distinct()
    docSignalsIndex(spark, sfDir)
      .filter(col("quality") >= minQuality && col("lang_pred") === "en")
      .join(dupLosers, Seq("doc_id"), "left_anti")
      .select("doc_id", "quality", "n_tokens")
      .orderBy("doc_id")
  }

  /** [[curationPipeline]] survivors with their SCRUBBED text — the
    * full Lee-et-al-style output a training run actually ingests:
    * whole-document near-dups drop (the pipeline's anti-join against
    * the stored pair table), then cross-doc duplicated SPANS are cut
    * out of the survivors ([[graft.operators.Dedup.dupSpanScrubOf]]),
    * so boilerplate shared with dropped docs disappears too. Emits the
    * post-scrub token count next to the quality score — the number
    * token-budget planning should use. Plan shape: the pipeline's
    * joins plus ONE more doc_id-keyed join to the scrub output; span
    * DETECTION is corpus-wide (a span is duplicated against any doc,
    * kept or dropped) but the expensive text RECONSTRUCTION runs only
    * on the keep set (`onlyDocs`), so the rebuild cost tracks
    * survivors, not the corpus. */
  def curationScrubbed(spark: SparkSession, sfDir: String,
      minQuality: Double = 0.4): DataFrame = {
    val kept = curationPipeline(spark, sfDir, minQuality)
      .select("doc_id", "quality")
    val scrub = Dedup.dupSpanScrubOf(
      Tables.floored(spark, sfDir, "documents"), onlyDocs = Some(kept))
    kept.join(scrub, Seq("doc_id"))
      .select(col("doc_id"), col("quality"), col("n_removed"),
        (col("n_tok") - col("n_removed")).as("clean_tokens"),
        col("clean_text"))
      .orderBy("doc_id")
  }

  /** [[curationPipeline]] plus the Gopher/C4 repetition gates from
    * [[repetitionSignalsOf]]: drop documents dominated by repeated
    * 2-grams (`dup_gram_frac`), by one token (`top_token_frac`, C4's
    * most-frequent-word rule), or with a collapsed vocabulary
    * (`distinct_ratio`). Gates, not score inputs — a document passes
    * all of them or is dropped, matching how Gopher applies its
    * repetition thresholds. n=2 grams: within-doc 5-gram repeats are
    * rare in short documents, so the 2-gram reading is the one that
    * actually discriminates at this document length (the threshold is
    * a dial either way). Plan shape: the repetition signals are
    * row-local HOFs over the same documents scan the quality/langid
    * stages already read — Catalyst shares the scan, and the gate is
    * one more join on doc_id in the same job, nothing corpus-wide. */
  def curationGated(spark: SparkSession, sfDir: String,
      minQuality: Double = 0.4, n: Int = 2,
      maxDupGramFrac: Double = 0.12, maxTopTokenFrac: Double = 0.14,
      minDistinctRatio: Double = 0.35): DataFrame = {
    // the pipeline materializes (localCheckpoint — tiny per-doc stat
    // rows, doubling as the pushdown barrier; see dupOccSql's comment),
    // and the repetition signals come from the STORED per-corpus
    // artifact the text_repetition query shares — the gates read
    // parquet, the interpreted HOF pass runs once per snapshot, not
    // once per consumer.
    val kept = curationPipeline(spark, sfDir, minQuality).localCheckpoint()
    val rep = repetitionIndex(spark, sfDir, n)
      .select("doc_id", "distinct_ratio", "top_token_frac", "dup_gram_frac")
    kept
      .join(rep, Seq("doc_id"))
      .filter(col("dup_gram_frac") <= maxDupGramFrac &&
        col("top_token_frac") <= maxTopTokenFrac &&
        col("distinct_ratio") >= minDistinctRatio)
      .select("doc_id", "quality", "n_tokens", "dup_gram_frac",
        "top_token_frac", "distinct_ratio")
      .orderBy("doc_id")
  }

  /** Token-budget sampling: keep documents per source, in doc_id order,
    * until the running token total exceeds the budget — how pretraining
    * mixtures cap each source's contribution. One shuffle on source;
    * running totals via a frame-bounded window. */
  def tokenBudgetSample(spark: SparkSession, sfDir: String,
      budgetTokens: Long = 800): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docSignalsIndex(spark, sfDir).select("doc_id", "n_tokens")
      .join(Tables.documents(spark, sfDir).select("doc_id", "source"), Seq("doc_id"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w).cast("long"))
      .filter(col("cum_tokens") <= budgetTokens)
      .select("source", "doc_id", "n_tokens", "cum_tokens")
      .orderBy("source", "doc_id")
  }

  /** Sequence-packing manifest (concat-and-split, the GPT-style packing):
    * per source, documents concatenate in doc_id order and the token
    * stream splits every `capacity` tokens; each doc's row says which
    * training sequence its tokens start in (`seq_id`), at what offset,
    * and how many sequences it spans — exactly what a data loader needs
    * to slice sequences without materializing them. All integer
    * arithmetic over a per-source window cumsum (exact, order-fixed, no
    * float drift): one shuffle on source, then map-only. At 100 TB the
    * cumulative count is a long (2⁶³ tokens ≈ 9e18 — no overflow) and
    * the `div`/`%` stay exact where a double floor would not. */
  def packManifest(spark: SparkSession, sfDir: String,
      capacity: Int = 512): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"),
        size(wsTokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("tok_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        expr(s"tok_before div $capacity").as("seq_id"),
        (col("tok_before") % capacity).as("seq_offset"),
        expr(s"""CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
                 ELSE ((tok_before + n_tokens - 1) div $capacity)
                    - (tok_before div $capacity) + 1 END""").as("n_seqs_spanned"))
      .orderBy("source", "doc_id")
  }

  /** Deterministic epoch shuffle: the global pseudorandom training order
    * as a SORT by a seeded content-independent hash key — reproducible
    * (same seed → same permutation, new epoch seed → fresh permutation),
    * unlike `rand()` which differs per run and per partitioning. At
    * scale this is exactly one range-partitioned distributed sort (the
    * cheapest global shuffle Spark knows how to do); the permutation is
    * the order itself — no global row_number window, which would
    * collapse to a single partition. Consumers read the sorted output
    * sequentially; md5 evaluates identically in the DuckDB oracle. */
  def epochShuffle(spark: SparkSession, sfDir: String,
      seed: String = "epoch0"): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        md5(concat(lit(s"$seed|"), col("doc_id").cast("string"))).as("shuffle_key"),
        col("doc_id"), col("source"))
      .orderBy("shuffle_key")

  /** Deterministic source-mixture sampler: keep each document with a
    * per-source probability (the target mixture), decided by comparing
    * an 8-hex-digit prefix of md5(seed|doc_id) against the rate's hex
    * threshold — fixed-width lowercase hex compares lexicographically
    * exactly like the number it spells, in Spark and DuckDB alike.
    *
    * This is how a pretraining mixture is actually drawn at 100 TB:
    * membership is a pure per-row function of (seed, doc_id), so the
    * sample is MAP-ONLY — no shuffle, no window, no per-source rank —
    * and reproducible across runs, engines and partitionings; changing
    * the seed redraws the whole sample. Contrast `tokenBudgetSample`,
    * which caps by running token totals (ordered, window-based) —
    * rate-based and budget-based sampling are both standard, with
    * opposite shuffle costs. */
  def mixtureSample(spark: SparkSession, sfDir: String,
      rates: Seq[(String, Double)] =
        Seq("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.1),
      defaultRate: Double = 0.05, seed: String = "mix0"): DataFrame = {
    def hexThr(r: Double): String =
      if (r >= 1.0) "g" // above any hex digit: keep everything
      else f"${math.max((r * 4294967296L).toLong, 0L)}%08x"
    val thr = rates.foldLeft(lit(hexThr(defaultRate))) { case (acc, (s, r)) =>
      when(col("source") === s, lit(hexThr(r))).otherwise(acc) }
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (s, r)) =>
      when(col("source") === s, lit(r)).otherwise(acc) }
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        substring(md5(concat(lit(s"$seed|"), col("doc_id").cast("string"))), 1, 8)
          .as("sample_key"),
        rate.as("rate"))
      .filter(col("sample_key") < thr)
      .orderBy("doc_id")
  }

  /** Quality-PROPORTIONAL sampling: each doc is kept with probability
    * equal to its quality score — the soft alternative to a hard
    * quality gate, used when the mixture should tilt toward quality
    * without discarding the tail outright (the same device pipelines
    * apply to classifier scores). Membership is a pure per-row function
    * of (seed, doc_id, quality): the seeded-md5 uniform (first 8 hex
    * digits as an integer in [0, 2³²)) is compared against
    * quality·2³² — both sides exact or identically-rounded doubles in
    * either engine, so the draw is reproducible across runs, engines
    * and partitionings. Map-only over the stored signal index: no
    * shuffle, no window. */
  def qualitySample(spark: SparkSession, sfDir: String,
      seed: String = "qs0"): DataFrame = {
    val u = conv(substring(
      md5(concat(lit(s"$seed|"), col("doc_id").cast("string"))), 1, 8),
      16, 10).cast("long")
    docSignalsIndex(spark, sfDir).select("doc_id", "quality")
      .join(Tables.documents(spark, sfDir).select("doc_id", "source"), Seq("doc_id"))
      .filter(u < col("quality") * lit(4294967296.0))
      .select("doc_id", "source", "quality")
      .orderBy("doc_id")
  }

  /** Fixed-size quality-WEIGHTED sample without replacement —
    * Efraimidis–Spirakis A-ES: each doc draws a seeded uniform
    * u ∈ (0, 1] and competes on key = ln(u)/w (the monotone log form of
    * u^{1/w}); the top-K keys are exactly a weight-proportional
    * without-replacement draw. Complements [[qualitySample]]
    * (Bernoulli — random SIZE, per-doc keep prob) with the fixed-BUDGET
    * form a curation pipeline actually ships ("give me the best-biased
    * 300 docs"), and [[samplePerGroup]] (fixed size per group,
    * unweighted).
    *
    * Determinism: u is the md5-digit fold every sampler here uses (+1
    * so u > 0 — pure integer → one IEEE divide), weights clamp to
    * ≥ 0.01 so |key| ≤ ln(2³²)·100 ≈ 2.2e3 and the 10-dp rd stays
    * inside double's exact-integer range (a 1e-6 clamp would push
    * floor(x·1e10) past 2^53 and silently break the rounding device);
    * ranking is on the ROUNDED key with doc_id tiebreak, so the DuckDB
    * oracle replays the draw bit-for-bit.
    *
    * KNOWN ULP ASSUMPTION (unique in the repo): the key contains a
    * natural log, and IEEE 754 does NOT require correctly-rounded
    * transcendentals — JVM `Math.log` (guaranteed ≤ 1 ulp, and in
    * practice correctly rounded via fdlibm/StrictMath tables) and
    * DuckDB's libm `ln` could in principle differ by 1 ulp on some
    * input, and IF that input lands exactly on a 10-dp rounding
    * boundary of es_key the rounded keys diverge and the hash oracle
    * goes red. No transcendental-free monotone equivalent exists:
    * ranking u^(1/w) ACROSS different weights w inherently needs
    * log/pow (unlike [[qualitySample]], whose per-row Bernoulli test
    * compares u against the weight directly and so avoids the issue).
    * The exposure is ~1 in 2^40 per row (P[1-ulp disagreement] ×
    * P[boundary landing]); if this oracle ever mismatches on a data
    * refresh, suspect THIS before the operator — diagnose by comparing
    * unrounded ln values for the boundary doc_id.
    *
    * Scale: map-only key computation over the stored signal index,
    * then `TakeOrderedAndProject` — per-partition K-heaps, no global
    * sort, no shuffle beyond K rows per partition. */
  def weightedSample(spark: SparkSession, sfDir: String,
      k: Int = 300, seed: String = "wks0"): DataFrame = {
    val u = (conv(substring(
      md5(concat(lit(s"$seed|"), col("doc_id").cast("string"))), 1, 8),
      16, 10).cast("double") + lit(1.0)) / lit(4294967296.0)
    docSignalsIndex(spark, sfDir).select(col("doc_id"), col("quality"))
      .withColumn("es_key",
        rd(log(u) / greatest(col("quality"), lit(0.01)), 10))
      .orderBy(desc("es_key"), asc("doc_id"))
      .limit(k)
  }

  /** Deterministic train/val/test split assignment: every doc lands in
    * exactly one split by seeded hash bucket (0–99 → train <90,
    * val <95, test otherwise). A pure per-row function of (seed,
    * doc_id) — map-only, no shuffle — so the split survives re-runs,
    * engine changes, repartitioning, and incremental corpus growth
    * (new docs join a split without disturbing old ones; the property
    * that makes hash-splits the standard at corpus scale). */
  def splitAssign(spark: SparkSession, sfDir: String,
      seed: String = "split0", trainPct: Int = 90,
      valPct: Int = 5): DataFrame = {
    val bucket = (conv(substring(
      md5(concat(lit(s"$seed|"), col("doc_id").cast("string"))), 1, 8),
      16, 10).cast("long") % 100).as("bucket")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), bucket)
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
      .orderBy("doc_id")
  }

  /** Deterministic k-per-group sample: the `k` lowest seeded-hash keys
    * per source — a uniform without-replacement sample of each group,
    * reproducible across runs, engines and partitionings (same seeded
    * md5 device as [[mixtureSample]], which draws by RATE; this draws by
    * exact COUNT). The inspection workhorse: "show me 10 random docs
    * from every source of a 100 TB corpus" must not scan-and-rand.
    * Shape: one map pass computes keys, one per-source window takes the
    * k smallest; group count is small so the window keys are few — for
    * millions of groups the same top-k runs as the heap aggregate
    * ([[graft.functions.TopKAggregate]]), which partial-aggregates
    * map-side instead of shuffling every row to its group's partition. */
  def samplePerGroup(spark: SparkSession, sfDir: String, k: Int = 10,
      seed: String = "smp0"): DataFrame = {
    require(k >= 1, "k must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("sample_key", "doc_id")
    Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"),
        md5(concat(lit(s"$seed|"), col("doc_id").cast("string"))).as("sample_key"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .orderBy("source", "rk")
  }

  /** Cluster-aware curation: collapse near-dup clusters by keeping the
    * HIGHEST-QUALITY member (ties to the lower doc_id) instead of the
    * lowest-id one — the retention policy real pipelines want (the
    * canonical copy of a boilerplate cluster is rarely the best one).
    * Every doc appears in the output with its cluster (its own id when
    * unclustered) and a `kept` verdict.
    *
    * Composition story: near-dup pairs come from the materialized pair
    * table, clusters from [[Dedup.nearDupClusters]], quality from
    * [[qualityScore]] — three already-verified operators joined, then
    * one row_number window per cluster. At scale the window key is
    * ~N distinct clusters (singletons dominate), so no skew. */
  def keepBestPerCluster(spark: SparkSession, sfDir: String): DataFrame =
    keepBestFrom(spark, sfDir, Dedup.nearDupClusters(spark, sfDir))

  /** Char-level variant: clusters built from the WINNOWING pair table
    * ([[Dedup.materializedWinnowingPairs]]) instead of the token-shingle
    * Jaccard pairs — the retention pass that catches near-dups the
    * token-level blocker misses (reformatted text, shifted word
    * boundaries: winnowing fingerprints char k-grams). Same verified
    * building blocks, different pair source. */
  def keepBestPerClusterWinnow(spark: SparkSession, sfDir: String): DataFrame =
    keepBestFrom(spark, sfDir, Dedup.winnowingClusters(spark, sfDir))

  /** Shared retention tail over any (doc_id, cluster_id) cluster frame:
    * every doc joins its cluster (its own id when unclustered), one
    * row_number window per cluster keeps the argmax-quality member. */
  private def keepBestFrom(spark: SparkSession, sfDir: String,
      clusters: DataFrame): DataFrame = {
    val withCluster = Tables.documents(spark, sfDir).select("doc_id")
      .join(clusters, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val quality = docSignalsIndex(spark, sfDir).select("doc_id", "quality")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(desc("quality"), asc("doc_id"))
    withCluster.join(quality, Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .select(col("doc_id"), col("cluster_id"), col("quality"),
        (col("rk") === 1).as("kept"))
      .orderBy("doc_id")
  }

  // --- PII scrubbing ---

  /** Patterns deliberately restricted to constructs RE2 (DuckDB) and
    * java.util.regex (Spark) evaluate identically: char classes, bounded
    * repetition, optional literals — no backrefs, no lookaround. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\(?[0-9]{3}\\)?[- .][0-9]{3}[- .][0-9]{4}"
  val SsnPattern = "[0-9]{3}-[0-9]{2}-[0-9]{4}"

  /** Redact emails, phone numbers, and SSN-shaped ids from a text column
    * — the stock pretraining scrub step. Order matters and is fixed
    * (email → phone → SSN) so digit runs inside an address can't be
    * re-matched as numbers. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, lit(EmailPattern), lit("<EMAIL>")),
        lit(PhonePattern), lit("<PHONE>")),
      lit(SsnPattern), lit("<SSN>"))

  /** PII scrub over any (doc_id, text) frame: redacted text plus match
    * counts per category (counted on the raw text, before any
    * redaction). Map-only — per-row regex work, no shuffle; the scrubbed
    * text column is the one a curation pipeline writes back out. */
  def piiScrubOf(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      scrubPii(col("text")).as("scrubbed"),
      regexp_count(col("text"), lit(EmailPattern)).as("n_emails"),
      regexp_count(col("text"), lit(PhonePattern)).as("n_phones"),
      regexp_count(col("text"), lit(SsnPattern)).as("n_ssn"))
      .orderBy("doc_id")

  /** Driver-contract form over the documents table. */
  def piiScrub(spark: SparkSession, sfDir: String): DataFrame =
    piiScrubOf(Tables.floored(spark, sfDir, "documents"))

  /** Token-bounded overlapping document chunks — the step before
    * tokenize-and-pack in a pretraining pipeline. Chunks start every
    * `chunkSize - overlap` tokens; a chunk is kept iff it is the first
    * (so empty/short docs still yield one chunk) or it contributes at
    * least one token beyond the previous chunk's coverage
    * (start + overlap < n). All row-local: tokens → candidate starts
    * (`sequence` + `filter`) → `posexplode` → `slice` — no shuffle, no
    * UDF, the whole projection stays in codegen; at 100 TB this is a
    * map-only pass whose output is ~n/stride rows per doc. The identical
    * start/slice arithmetic replays in DuckDB list functions, so the
    * oracle is hash-exact. */
  def chunkDocs(spark: SparkSession, sfDir: String,
      chunkSize: Int = 32, overlap: Int = 8): DataFrame =
    chunksOf(Tables.documents(spark, sfDir), chunkSize, overlap)

  /** Library form of [[chunkDocs]] over any (doc_id, text) frame —
    * also the chunk source for [[Dedup.chunkDedupKeepers]]. */
  def chunksOf(docs: DataFrame,
      chunkSize: Int, overlap: Int): DataFrame = {
    val (base, chunksCol) = strideChunkBase(docs, chunkSize, overlap)
    explodeChunkArray(base, chunksCol)
  }

  /** Streaming-legal sibling of [[chunksOf]] (no global sort). */
  private[graft] def chunksOfNoSort(docs: DataFrame,
      chunkSize: Int, overlap: Int): DataFrame = {
    val (base, chunksCol) = strideChunkBase(docs, chunkSize, overlap)
    explodeChunkArrayNoSort(base, chunksCol)
  }

  /** Prepared frame + the chunk-list expression over it — ONE
    * definition consumed two ways: [[chunksOf]] inlines the expression
    * into its posexplode, [[Dedup.chunkDedupScrubOf]] materializes it
    * as an array column for the row-local clean_text re-slice. Sharing
    * the expression is what guarantees the two consumers' chunk_id
    * spaces agree by construction.
    *
    * Slices live INSIDE the row-local transform, so a consumer's
    * Generate emits chunk-sized payloads only. The earlier spelling
    * carried the full `toks` array through the explode to a
    * post-explode slice, and each generated row paid an O(L) array
    * copy — O(L²/stride) per document, measured 62 s for five 1.6 MB
    * docs on the factor-10⁴ longdoc grid (r13). This form builds all
    * chunks in one O(L) pass per row. */
  private[graft] def strideChunkBase(docs: DataFrame,
      chunkSize: Int, overlap: Int): (DataFrame, Column) = {
    require(overlap >= 0 && overlap < chunkSize, "need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    val base = docs
      .select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
    (base, expr(
      s"""transform(filter(sequence(0, greatest(n - 1, 0), $stride),
         |                 s -> s = 0 OR s + $overlap < n),
         |          s -> named_struct('st', s,
         |                            'ctoks', slice(toks, s + 1, $chunkSize)))""".stripMargin))
  }

  /** Exploded (one row per chunk) form — the common tail of
    * [[chunksOf]] and [[cdcChunksOf]]. The chunk expression is inlined
    * INTO the posexplode on purpose: exploding a MATERIALIZED
    * array<struct<st, ctoks>> column instead costs ~40× (measured
    * 0.5 → 21 s at sf0.1, r14) — the nested structure is unsafe-encoded
    * per generated row, where the inline generator iterates the HOF
    * result directly. */
  private def explodeChunkArray(base: DataFrame, chunksCol: Column): DataFrame =
    explodeChunkArrayNoSort(base, chunksCol).orderBy("doc_id", "chunk_id")

  /** Unordered sibling — for consumers that aggregate (the sort would
    * be optimizer-eliminated anyway) and for STREAMING consumers, where
    * a global sort is illegal by construction. */
  private def explodeChunkArrayNoSort(base: DataFrame, chunksCol: Column): DataFrame =
    base
      .select(col("doc_id"), posexplode(chunksCol))
      .select(col("doc_id"), col("pos").as("chunk_id"),
        col("col.st").as("start_tok"),
        size(col("col.ctoks")).as("n_chunk_tokens"),
        array_join(col("col.ctoks"), " ").as("chunk_text"))

  /** Content-defined chunking (CDC): chunk boundaries are declared by
    * the CONTENT — a token whose md5 ends in `hexSuffix` closes the
    * current chunk — so an insertion or deletion only perturbs the one
    * chunk it lands in, and every later boundary REALIGNS. This is the
    * property fixed-stride chunking ([[chunksOf]]) fundamentally lacks:
    * prepend one token and every stride boundary shifts, so two
    * otherwise-identical documents share ZERO stride chunks but all
    * their CDC chunks after the first boundary (the rsync/LBFS
    * gear-hash idea at token grain). One-hex suffix → breakpoint
    * probability 1/16 → ~16-token expected chunks.
    *
    * `maxChunkTokens` is the LBFS max-length FORCED BREAK (r14, closing
    * the r13 documented pathological case): a doc repeating one
    * non-breaking token would otherwise yield one giant chunk — a
    * single-row longdoc straggler and an unbounded chunk payload. An
    * oversized content-defined range [s, e] is split at stride
    * `maxChunkTokens` inside the same row-local pipeline (no stateful
    * reset needed: the forced sub-starts are a per-range `sequence`,
    * flattened). Forced breaks are NOT content-defined, so they don't
    * realign under insertion — but they only exist inside a region the
    * content declared boundary-free, and the 8×-expected default (128
    * vs ~16) makes them rare on natural text; shift-robustness on such
    * text is unaffected (the spec pins this).
    *
    * Entirely row-local: token md5 tests → breakpoint positions →
    * start/end arrays → forced splits → slices, all codegen HOFs, no
    * shuffle, no UDF. md5 is the boundary hash precisely because BOTH
    * engines have it — the DuckDB oracle replays the identical rule
    * hash-for-hash. Output schema matches [[chunksOf]]. */
  def cdcChunksOf(docs: DataFrame, hexSuffix: String = "0",
      maxChunkTokens: Int = 128): DataFrame = {
    val (base, chunksCol) = cdcChunkBase(docs, hexSuffix, maxChunkTokens)
    explodeChunkArray(base, chunksCol)
  }

  /** Prepared frame + chunk-list expression for CDC — see
    * [[strideChunkBase]] for why both consumption forms share one
    * definition.
    *
    * The LBFS forced break and the chunk build happen in ONE pass over
    * the content-defined ranges: an oversized [s, e] splits at stride
    * maxChunkTokens (the e < s branch is the empty-doc degenerate
    * range [0, -1], where sequence() would reject the descending
    * bounds), and each sub-chunk's end is computed INLINE as
    * least(st + max − 1, e). Deriving the split starts as a column and
    * re-deriving ends from them (the first r14 spelling) added two
    * projection layers whose references multiplied the inlined bpos
    * md5-pass subtree ~3× — measured 0.70 → 99 s at sf0.1, fixed back
    * to ~r13 cost by this form. Slices stay inside the lambda (the
    * O(L²)-carry rule): a consumer's explode ships chunk payloads
    * only. */
  private[graft] def cdcChunkBase(docs: DataFrame, hexSuffix: String,
      maxChunkTokens: Int): (DataFrame, Column) = {
    require(hexSuffix.nonEmpty && hexSuffix.forall("0123456789abcdef".contains(_)),
      "hexSuffix must be lowercase hex")
    require(maxChunkTokens >= 1, "need maxChunkTokens >= 1")
    val base = docs
      .select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("bpos", expr(
        s"""filter(sequence(0, greatest(n - 1, 0)),
           |       i -> i < n AND endswith(md5(element_at(toks, i + 1)), '$hexSuffix'))""".stripMargin))
      .withColumn("starts0", expr(
        "filter(concat(array(0), transform(bpos, b -> b + 1)), s -> s = 0 OR s < n)"))
      .withColumn("ends0", expr(
        "concat(transform(slice(starts0, 2, size(starts0) - 1), x -> x - 1), array(n - 1))"))
    (base, expr(
      s"""flatten(zip_with(starts0, ends0,
         |  (s, e) -> transform(
         |    CASE WHEN e < s THEN array(s)
         |         ELSE sequence(s, e, $maxChunkTokens) END,
         |    st -> named_struct('st', st,
         |                       'ctoks', slice(toks, st + 1,
         |                         least(st + ${maxChunkTokens - 1}, e) - st + 1)))))""".stripMargin))
  }


  /** Driver-contract form of [[cdcChunksOf]] over the documents table. */
  def cdcChunkDocs(spark: SparkSession, sfDir: String,
      hexSuffix: String = "0"): DataFrame =
    cdcChunksOf(Tables.floored(spark, sfDir, "documents"), hexSuffix)

  /** Rolling (Karp–Rabin polynomial) fingerprint — the shift-resistant
    * hashing primitive behind winnowing/chunk dedup, as a native codegen
    * expression (graft.functions.RollingHash): one pass over the bytes,
    * no allocation. Oracle replays the identical recurrence in DuckDB
    * via list_reduce. */
  def rollingFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.RollingHash.rolling_hash(col("text")).as("rhash"),
        graft.functions.RollingHash.rolling_hash(normText(col("text"))).as("rhash_norm"))
      .orderBy("doc_id")

  /** Winnowing document sketch (Schleimer–Wilkerson–Aiken, SIGMOD '03 —
    * the MOSS fingerprinting scheme): hash every char `k`-gram of the
    * normalized text with the Karp–Rabin polynomial (the same base-131
    * mod 2³¹−1 recurrence as [[rollingFingerprint]]), then keep the
    * MINIMUM hash of each window of `w` consecutive k-grams — one O(m)
    * codegen'd pass per row via the native
    * [[graft.functions.WinnowingSketch]] expression (incremental roll +
    * monotonic-deque minima; the HOF spelling of the same arithmetic
    * measured ~100× slower and lives on only as the DuckDB oracle). The
    * guarantee: any shared substring of ≥ k + w − 1 chars yields a
    * shared fingerprint, with sketch density ~2/(w+1) — the classic
    * local-document-fingerprint sketch for plagiarism/near-dup search.
    *
    * Output: one row per distinct selected fingerprint per doc —
    * (doc_id, fp, first_win, n_windows). Docs whose normalized text is
    * shorter than k have no k-grams and are absent (both engines agree);
    * 0 < #hashes < w degenerates to one window over all hashes.
    *
    * Scale posture: everything up to the final per-doc distinct-agg is
    * row-local (tokenless char arithmetic, no dictionary, no shuffle of
    * text); the output sketch — ids + 8-byte fingerprints at ~2/(w+1)
    * density — is the join currency for downstream overlap search, the
    * same inverted-index shape as [[Dedup.shingleIndex]]. */
  def winnowingSketch(spark: SparkSession, sfDir: String,
      k: Int = 8, w: Int = 8): DataFrame =
    winnowingSketchOf(Tables.floored(spark, sfDir, "documents"), k, w)
      .orderBy("doc_id", "fp")

  /** Library form over any (doc_id, text) frame — unordered (the
    * driver-contract form adds the total order; pipeline consumers like
    * [[Dedup.winnowingPairsOf]] don't pay for a sort they re-shuffle). */
  def winnowingSketchOf(docs: DataFrame, k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, "need k >= 1 and w >= 1")
    docs
      .select(col("doc_id"), normText(col("text")).as("t"))
      .filter(length(col("t")) >= k)
      .select(col("doc_id"), posexplode(
        graft.functions.WinnowingSketch.winnowing_sketch(col("t"), k, w)))
      .groupBy(col("doc_id"), col("col").as("fp"))
      .agg(min(col("pos")).as("first_win"), count(lit(1)).as("n_windows"))
  }

  /** Pairwise vocabulary overlap between sources — the corpus-audit
    * diagnostic for "how similar are my domains" (near-identical
    * sources inflate effective duplication; disjoint ones justify
    * separate mixture weights). Scale shape: the corpus collapses to
    * distinct (source, token) once (wordcount currency); then each
    * token emits its C(k,2) source pairs ROW-LOCALLY from the sorted
    * per-token source set (k ≤ #sources, so the expansion is bounded
    * by sources² per token — never a token-keyed self-join whose hot
    * tokens replicate the corpus). Output rows ≤ sources². */
  def sourceVocabOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val st = Tables.documents(spark, sfDir)
      .select(col("source"), explode(wsTokens(col("text"))).as("token"))
      .distinct()
    val perTok = st.groupBy("token")
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
    val inter = perTok
      .select(explode(expr(
        """flatten(transform(srcs, (a, i) ->
          |  transform(slice(srcs, i + 2, size(srcs)),
          |            b -> struct(a AS src_a, b AS src_b))))""".stripMargin))
        .as("p"))
      .select(col("p.src_a"), col("p.src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
    val vocab = st.groupBy("source").agg(count(lit(1)).as("vocab"))
    inter
      .join(vocab.select(col("source").as("src_a"), col("vocab").as("vocab_a")),
        Seq("src_a"))
      .join(vocab.select(col("source").as("src_b"), col("vocab").as("vocab_b")),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("vocab_a"), col("vocab_b"),
        col("n_shared"),
        rd(col("n_shared").cast("double") /
          (col("vocab_a") + col("vocab_b") - col("n_shared")), 4).as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** Top-K adjacent-token collocations with pointwise mutual
    * information — the corpus-linguistics bigram report, and exactly
    * the pair-frequency pass a BPE-style tokenizer trainer runs per
    * merge iteration. PMI = log10( p(w1 w2) / (p(w1)·p(w2)) ) with
    * bigram/unigram probabilities over their own totals, rounded 6 dp
    * (the same log-replay device as `text_unigram_logprob`). Scale:
    * bigram pairs are emitted ROW-LOCALLY (no corpus self-join) and
    * aggregated in wordcount currency; top-K runs as
    * TakeOrderedAndProject; the vocabulary-sized unigram join touches
    * only the K winners. */
  def bigramStats(spark: SparkSession, sfDir: String, k: Int = 100): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(wsTokens(col("text")).as("toks"))
    val bg = pairCounts(toks, col("toks"))
    // corpus totals are 1-row scalar reductions, but NEITHER needs the
    // aggregated tables (r17, guide §1.2): Σ n_w is the total token
    // count and Σ n_pair the total bigram count — both pure arithmetic
    // on per-doc token-array sizes, ONE no-explode scan instead of two
    // full tokenize+explode+aggregate passes
    val totals = toks.agg(
      coalesce(sum(size(col("toks")).cast("long")), lit(0L)).as("nu"),
      coalesce(sum(when(size(col("toks")) >= 2,
        (size(col("toks")) - 1).cast("long")).otherwise(0L)), lit(0L)).as("nb"))
      .head()
    val nu = totals.getLong(0).toDouble
    val nb = totals.getLong(1).toDouble
    // the unigram table feeds BOTH winner joins; materialize it once
    // (vocabulary-sized) instead of re-tokenizing the corpus per join
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_w"))
      .localCheckpoint()
    bg.orderBy(col("n_pair").desc, col("w1"), col("w2")).limit(k)
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_w1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_w2")), Seq("w2"))
      .select(col("w1"), col("w2"), col("n_pair"),
        rd(log10((col("n_pair").cast("double") * lit(nu) * lit(nu)) /
          (lit(nb) * col("n_w1") * col("n_w2"))), 6).as("pmi"))
      .orderBy(col("n_pair").desc, col("w1"), col("w2"))
  }

  /** Per-document average CONDITIONAL log-probability under a
    * corpus-trained add-one-smoothed bigram LM:
    * `lp(w2|w1) = log10((c(w1 w2)+1) / (c(w1)+V))` with V the unigram
    * vocabulary size — one rung up the n-gram ladder from
    * [[unigramLogProb]], and a materially better fluency signal (word
    * salad scores high on unigrams but low here). Docs need ≥2 tokens
    * to have a bigram; shorter docs drop (same contract as the
    * oracle). Scale: doc bigrams join the bigram-count table on its
    * natural (w1, w2) key — the scoring IS that join; the unigram side
    * joins on w1; V is a 1-row scalar. Log values quantize at 6 dp and
    * average in exact integer units (the [[unigramLogProb]] device). */
  def bigramLogProb(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), wsTokens(col("text")).as("toks"))
    val docBg = docs.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(adjacentPairs(col("toks"))).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
    val bg = docBg.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
    // materialized once (vocabulary-sized, r17): `uni` feeds the scoring
    // join AND the vocab scalar below — lazily each re-ran the full
    // tokenize+explode+aggregate pass over the corpus
    val uni = docs.select(explode(col("toks")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("n_w1"))
      .localCheckpoint()
    val vocab = uni.count() // 1-row scalar: vocabulary size
    docBg.join(bg, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .select(col("doc_id"),
        rd(log10((col("n_pair") + lit(1L)).cast("double") /
          (col("n_w1") + lit(vocab)).cast("double")), 6).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), rd(qavg(col("lp"), 6), 4).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** Vocabulary growth curve (the Heaps'-law view): new and cumulative
    * distinct token TYPES per tenth of the corpus, read in doc_id
    * order — how fast the vocabulary saturates as ingestion proceeds
    * (a flat tail says more data adds tokens, not words; a steep tail
    * flags noise/OCR). Same first-seen decomposition as
    * [[Events.cumulativeUsers]]: a type counts once, at its minimum
    * doc_id, so the per-bucket agg is token-keyed and the running total
    * is a window over TEN rows. Buckets come from the id range (one
    * max-scalar), not a corpus-wide rank window. */
  def vocabGrowth(spark: SparkSession, sfDir: String, buckets: Int = 10): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val maxId = docs.agg(max("doc_id")).head().getLong(0) // 1-row scalar
    val toks = docs
      .select(expr(s"(doc_id * $buckets) div ${maxId + 1}L").as("bucket"),
        col("doc_id"), explode(wsTokens(col("text"))).as("token"))
    val occ = toks.groupBy("bucket").agg(count(lit(1)).as("n_occurrences"))
    val firstSeen = toks.groupBy("token").agg(min("doc_id").as("first_id"))
      .select(expr(s"(first_id * $buckets) div ${maxId + 1}L").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_types"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    occ.join(firstSeen, Seq("bucket"), "left_outer")
      .select(col("bucket"), col("n_occurrences"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("cum_types", sum("new_types").over(w))
      .orderBy("bucket")
  }

  /** Zipf-law audit: least-squares slope of log10(freq) vs log10(rank)
    * over the `topN` most frequent tokens — natural text sits near −1;
    * a flat slope flags synthetic/templated corpora, a cliff flags
    * boilerplate floods. One summary row. Scale: the vocabulary agg is
    * wordcount currency; `limit(topN)` collapses to a bounded frame
    * BEFORE the rank window, so the unpartitioned window sees ≤topN
    * rows by construction; the regression sums quantize logs at 6 dp
    * and sum exactly (integer units), so both engines fit the same
    * line. */
  def zipfFit(spark: SparkSession, sfDir: String, topN: Int = 1000): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token"))
    val top = Tables.documents(spark, sfDir)
      .select(explode(wsTokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(topN)
      .withColumn("rank", row_number().over(w))
      .select(rd(log10(col("rank").cast("double")), 6).as("x"),
        rd(log10(col("cnt").cast("double")), 6).as("y"))
    top.agg(count(lit(1)).as("n_fit"),
        qsum(col("x"), 6).as("sx"), qsum(col("y"), 6).as("sy"),
        qsum(rd(col("x") * col("y"), 6), 6).as("sxy"),
        qsum(rd(col("x") * col("x"), 6), 6).as("sxx"))
      .select(col("n_fit"),
        rd((col("n_fit") * col("sxy") - col("sx") * col("sy")) /
          (col("n_fit") * col("sxx") - col("sx") * col("sx")), 4).as("slope"),
        rd((col("sy") - ((col("n_fit") * col("sxy") - col("sx") * col("sy")) /
          (col("n_fit") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
          col("n_fit"), 4).as("intercept"))
  }

  /** One BPE-trainer merge step, applied distributively: find the
    * corpus's most frequent adjacent token pair (the [[bigramStats]]
    * currency, tiebroken (count desc, w1, w2)), then replay the
    * trainer's greedy LEFT-TO-RIGHT NON-OVERLAPPING merge against every
    * document — per doc: token count before, merge count, token count
    * after. The fold's skip-after-merge flag makes repeated-token runs
    * exact (`aaa` with pair (a,a) merges once, floor(run/2) in
    * general). Scale: the pair agg is wordcount-currency (row-local
    * emission, partial aggs); the winning pair is a 1-row scalar fetch;
    * the merge replay is a map-only row-local fold — the same
    * one-scan-per-merge-iteration shape a distributed BPE trainer
    * runs. */
  def bpeMergeStep(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), wsTokens(col("text")).as("toks"))
    val top = pairCounts(docs, col("toks"))
      .orderBy(col("n_pair").desc, col("w1"), col("w2")).limit(1).head()
    applyMerge(docs, top.getString(0), top.getString(1))
  }

  /** The merge-application half of [[bpeMergeStep]]: greedy
    * left-to-right non-overlapping (w1, w2) merge counts over a
    * (doc_id, toks) frame. The fold's skip-after-merge flag consumes
    * BOTH tokens on a hit, so a run of a repeated token merges
    * floor(run/2) times — the trainer's exact semantics. */
  def applyMerge(docs: DataFrame, w1: String, w2: String): DataFrame = {
    val zero = struct(lit(null).cast("string").as("prev"),
      lit(false).as("pm"), lit(0L).as("m"))
    val merges = aggregate(col("toks"), zero,
      (acc, t) => {
        val hit = !acc.getField("pm") &&
          (acc.getField("prev") === lit(w1)) && (t === lit(w2))
        when(hit, struct(t.as("prev"), lit(true).as("pm"),
            (acc.getField("m") + lit(1L)).as("m")))
          .otherwise(struct(t.as("prev"), lit(false).as("pm"),
            acc.getField("m").as("m")))
      },
      acc => acc.getField("m"))
    docs.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        lit(w1).as("w1"), lit(w2).as("w2"), merges.as("n_merges"))
      .select(col("doc_id"), col("n_tokens"), col("w1"), col("w2"),
        col("n_merges"), (col("n_tokens") - col("n_merges")).as("n_tokens_after"))
      .orderBy("doc_id")
  }

  /** k-round BPE TRAINER over ws-token symbols — the loop a tokenizer
    * team actually runs, capstoning [[bpeMergeStep]]'s one-round
    * primitive. Per round: count adjacent symbol pairs, pick the winner
    * (count desc, w1, w2), merge it greedily left-to-right
    * non-overlapping in every document, repeat on the REWRITTEN
    * symbols (so later rounds merge previously-merged symbols — real
    * BPE, not k independent steps). Output: one row per round with the
    * winning pair, its pre-merge count, the merges actually applied
    * (≤ count when occurrences overlap), and the corpus symbol count
    * after.
    *
    * REPRESENTATION is the whole trick: every symbol is FULLY
    * delimited — a document is `\u0002tok1\u0002\u0002tok2\u0002…` (each
    * symbol carries its OWN leading and trailing \u0002, so adjacent
    * symbols are separated by a DOUBLE \u0002 and no boundary character
    * is shared between occurrences). The greedy non-overlapping merge
    * of (w1, w2) is then EXACTLY literal
    * `replace(s, \u0002w1\u0002\u0002w2\u0002, \u0002w1\u0001w2\u0002)`: builtin
    * string replace scans left-to-right and resumes after each
    * replacement, which reproduces the trainer's skip-after-merge fold
    * (a run of r repeated tokens merges ⌊r/2⌋ times, leftmost-aligned,
    * because consecutive occurrences share no characters); the full
    * delimiting makes a mid-token false match impossible on BOTH sides
    * (an earlier leading-only spelling could merge w1 with a following
    * symbol that merely STARTED with w2 — e.g. winner (x, y) also
    * rewriting inside `x yz`); and each merge rewrites exactly one
    * \u0002\u0002 into one \u0001, removing exactly one symbol, so symbol
    * counts fall out of \u0002 chars / 2 and a round's merges out of the
    * drop in symbol count (the oracle counts \u0001 chars instead, an
    * independent spelling of the same number). DuckDB's `replace` has
    * the same scan semantics, so the oracle replays all k rounds
    * mechanically. The separators are outside the corpus alphabet
    * (ws-tokens of printable text); production would validate or
    * escape on ingest.
    *
    * Scale: each round is one wordcount-currency pair aggregation
    * (row-local emission, partial aggs), a 1-row winner fetch, and a
    * map-only rewrite, persisted per round with the PREVIOUS round's
    * cache released once the new one materializes — at most two corpus
    * copies live at any time (a localCheckpoint-per-round spelling
    * pinned rounds+1 copies for the query's lifetime). Lineage depth
    * grows one map-only replace per round (bounded by `rounds`), so a
    * lost cached block recomputes from parquet instead of being fatal
    * the way a severed checkpoint chain is; only the FINAL state is
    * checkpointed, making the returned frame self-contained. */
  def bpeTrain(spark: SparkSession, sfDir: String, rounds: Int = 5): DataFrame = {
    import spark.implicits._
    // the batched loop at batch = window = 1 IS the one-merge-per-scan
    // trainer. keepFinal = false: the per-round stats are already
    // collected, so checkpointing the final corpus state would pay a
    // full scan + a block-manager corpus copy for a frame never read
    val (rows, symbols0, _) = bpeTrainBatchedLoop(spark, sfDir, rounds,
      batch = 1, window = 1, keepFinal = false)
    // a round's merges are its drop in the symbol count
    val before = symbols0 :: rows.map(_._7)
    rows.zip(before).map { case ((_, r, _, w1, w2, nPair, after), b) =>
      (r, w1, w2, nPair, b - after, after)
    }.toDF("round", "w1", "w2", "n_pair", "n_merges", "n_tokens_after")
      .orderBy("round")
  }

  /** BPE ENCODE — the consumer half of [[bpeTrain]]: train the k-round
    * merge list, then emit the ENCODED corpus — per document, the
    * original/merged symbol counts plus the encoded symbol string
    * (separators rendered as spaces, merge points as `_`, so
    * `the_quick brown` is one merged symbol followed by a plain one).
    * Training already applies each round's merge to every document as
    * it learns, so the final rewritten state IS the greedy encode of
    * the training corpus under the learned merges in learned order —
    * the equivalence real BPE encoders rely on. n_tokens falls out of
    * the delimited representation (sep chars / 2 + glue chars =
    * original ws-token count), so encode adds NO extra corpus pass
    * beyond the trainer's k scans; the projection is row-local
    * character counting plus a row-local re-join of the symbols. */
  def bpeEncode(spark: SparkSession, sfDir: String, rounds: Int = 5): DataFrame = {
    // stats = false: only the final state is consumed — the trainer
    // skips the per-round observed metric and the trailing aggregate
    val (_, _, finOpt) = bpeTrainBatchedLoop(spark, sfDir, rounds, batch = 1,
      window = 1, keepFinal = true, stats = false)
    bpeEncodeProjection(finOpt.get)
  }

  /** BPE HOLD-OUT ENCODE — the train/apply separation a tokenizer team
    * actually operates: learn the k merges on the TRAIN split (even
    * doc_ids, the same deterministic split as `dedup_incremental`),
    * then encode the UNSEEN odd documents by replaying the learned
    * merges in learned order. Unlike training (k corpus scans — each
    * round must re-count pairs on the rewritten state), encoding new
    * data is ONE map-only pass: the k literal replaces compose into a
    * single projection over the fully-delimited state, no shuffle, no
    * per-round materialization — embarrassingly parallel at 100 TB,
    * which is exactly why vocabularies are trained once and applied
    * everywhere. Same output shape as [[bpeEncode]]. */
  def bpeEncodeHoldout(spark: SparkSession, sfDir: String, rounds: Int = 5): DataFrame = {
    // stats = false: only the merge list's (w1, w2) is consumed — no
    // per-round stats, and the final training-side rewrite is never
    // computed (the ENCODE below replays the merges on the odd half)
    val (learned, _, _) = bpeTrainBatchedLoop(spark, sfDir, rounds,
      batch = 1, window = 1, keepFinal = false,
      docFilter = col("doc_id") % 2 === 0, stats = false)
    val hold = delimitedState(
      Tables.documents(spark, sfDir).filter(col("doc_id") % 2 === 1))
    bpeEncodeProjection(applyMergesChunked(hold,
      learned.map(m => (m._4, m._5)), chunk = 128))
  }

  /** BATCHED BPE trainer — the k≫5 regime the one-merge-per-scan loop
    * ([[bpeTrain]]) cannot reach: real vocabularies need 10³–10⁴
    * merges, and paying one full corpus scan per merge makes training
    * O(k · corpus). Batching learns up to `batch` merges per scan (the
    * standard trick: select a pairwise-DISJOINT top set, whose counts
    * and occurrence sets are provably invariant under one another's
    * application, so one scan's counts justify the whole batch), which
    * cuts corpus scans from k to ~⌈k/batch⌉. On a vocab-rich real
    * corpus a scan keeps the full `batch`; on the synthetic 31-token
    * corpus keeps are DISJOINTNESS-limited early and grow as glued
    * symbols enrich the inventory (measured at sf0.01: 17, 21, 28, 39,
    * 44, 53, 56, 60 per scan — 318 merges in 8 scans, a ~40× scan
    * reduction over the sequential trainer at the same k).
    *
    * SELECTION RULE: rank the scan's pairs by (n_pair DESC, w1, w2),
    * restrict to the top `window` candidates, and walk them greedily —
    * a candidate is KEPT iff its symbol FOOTPRINT — {w1, w2, w1⊔w2}
    * where ⊔ is the glue char, i.e. both operands AND the symbol the
    * merge produces — is disjoint from the footprints of all
    * previously KEPT candidates; stop after `batch` keeps. Including
    * the produced symbol in the footprint is what makes batch
    * application order-independent: without it, a batch could contain
    * (a,b) and (a⊔b, x) — disjoint as operand sets — where applying
    * (a,b) first CREATES occurrences of the second pair that the scan
    * never counted. The rank-1 candidate is always kept, so every scan
    * makes progress. Greedy-vs-kept (not vs every higher rank) matters
    * on Zipfian text, where adjacency chains through hot tokens make
    * the order-free dominance variant keep ~4× fewer pairs per scan
    * (measured: 28 vs 100+ merges over 4 scans at sf0.001); the
    * sequential fold is still exactly replayable — the oracle runs it
    * as a single-row recursive CTE over the ranked window, carrying
    * the used-symbol list as recursion state.
    *
    * vs sequential BPE: the merge SEQUENCE differs from one-at-a-time
    * training (which would recount between merges and could pick a
    * just-created pair next); this is the accepted batched-BPE trade.
    * The exact-sequential trainer ([[bpeTrain]]) is this trainer's loop
    * at batch = window = 1, checked against an independent driver-side
    * BPE in the spec.
    *
    * Output: one row per learned merge — (merge_idx, scan, seq, w1,
    * w2, n_pair) with the scan-end corpus symbol count repeated on the
    * scan's rows. Scale: ⌈k/batch⌉ wordcount-currency pair aggs + one
    * ≤batch-deep map-only rewrite per scan, persist-per-scan with ≤2
    * corpus copies live ([[bpeTrainBatchedLoop]]).
    *
    * WINDOW SIZING (r12, measured by `graft.BpeProbe`): the ranked
    * window is a driver-memory safety valve (a collected (w1, w2,
    * count) tuple per candidate, ~50 B each), and at 4096 it SILENTLY
    * CAPPED keeps once the pair inventory outgrew it — at 25× the
    * window filled from scan 5 and keeps collapsed to ~15/scan (the
    * visible top-4096 is dominated by footprint collisions through hot
    * symbols), 550 merges in 32 scans. At 32768 (the default since
    * r12; ~1.6 MB collected) zero scans cap, keeps climb to the full
    * batch (18, 26, 34, 41, 49, 55, 64, 64 at 25×) and scan time stays
    * flat (~1.7 s/scan at 25×) — the window only bounds the DRIVER
    * copy, never the distributed pair agg, so widening it costs
    * nothing measurable. The probe reports `window_capped_scans` so a
    * corpus that outgrows even this shows up as a number, not a
    * slowdown mystery. */
  def bpeTrainBatched(spark: SparkSession, sfDir: String, scans: Int = 8,
      batch: Int = 64, window: Int = 32768): DataFrame =
    batchedMergeIndex(spark, sfDir, scans, batch, window, evenSplit = false)
      .orderBy("merge_idx")

  /** The learned merge list as a STORED artifact — a vocabulary is
    * trained once per corpus snapshot and applied everywhere, the same
    * write-then-reuse posture as the ANN indexes: the ⌈k/batch⌉ training
    * scans are pay-once corpus preprocessing, and every consumer (the
    * stats view, the hold-out encoder, a future full-corpus encoder)
    * reads back a few-hundred-row parquet. Keyed by every parameter
    * that changes the learned list, including the training split. */
  private def batchedMergeIndex(spark: SparkSession, sfDir: String,
      scans: Int, batch: Int, window: Int, evenSplit: Boolean): DataFrame =
    graft.sources.ArtifactCache.readOrWrite(spark, "bpe-merges",
      s"$sfDir|$scans|$batch|$window|$evenSplit",
      s"$sfDir/documents.parquet") {
      import spark.implicits._
      val filter = if (evenSplit) col("doc_id") % 2 === 0 else lit(true)
      val (rows, _, _) = bpeTrainBatchedLoop(spark, sfDir, scans, batch, window,
        keepFinal = false, docFilter = filter)
      rows.toDF("merge_idx", "scan", "seq", "w1", "w2", "n_pair",
        "n_tokens_after")
    }

  /** Hold-out encode under BATCHED training: learn up to scans×batch
    * merges on the even split with [[bpeTrainBatched]]'s rule, then
    * encode the unseen odd documents by replaying the merges in learned
    * order through [[applyMergesChunked]] — the projection is chunked
    * so a 256-merge vocabulary never builds a 256-deep expression tree
    * (codegen blows up near 10³ nested calls; ≤`chunk` per projection
    * with a materialization between keeps every stage inside
    * whole-stage codegen). Same output shape as [[bpeEncode]]. */
  def bpeEncodeHoldoutBatched(spark: SparkSession, sfDir: String,
      scans: Int = 8, batch: Int = 64, window: Int = 32768,
      chunk: Int = 128): DataFrame = {
    // merges come from the STORED vocabulary (trained on the even split
    // once per corpus snapshot); the steady-state cost of this query is
    // the encode alone — train once, apply everywhere
    val learned = batchedMergeIndex(spark, sfDir, scans, batch, window,
      evenSplit = true)
      .select("merge_idx", "w1", "w2").collect()
      .sortBy(_.getLong(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    val hold = delimitedState(
      Tables.floored(spark, sfDir, "documents")
        .filter(col("doc_id") % 2 === 1))
    bpeEncodeProjection(applyMergesChunked(hold, learned, chunk))
  }

  /** FULL-CORPUS encode under the stored batched vocabulary — the
    * consumer that "tokenizes everything": read the merge artifact
    * (trained on the whole corpus), replay it over every document
    * through the chunked projection. Replay-equivalence to the
    * trainer's final state holds scan by scan: within a scan the kept
    * merges are footprint-disjoint (order-free), and across scans the
    * replay applies scan k's merges to exactly the state scan k was
    * trained on. Same output shape as [[bpeEncode]]. */
  def bpeEncodeBatched(spark: SparkSession, sfDir: String,
      scans: Int = 8, batch: Int = 64, window: Int = 32768,
      chunk: Int = 128): DataFrame = {
    val learned = batchedMergeIndex(spark, sfDir, scans, batch, window,
      evenSplit = false)
      .select("merge_idx", "w1", "w2").collect()
      .sortBy(_.getLong(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    bpeEncodeProjection(applyMergesChunked(
      delimitedState(Tables.floored(spark, sfDir, "documents")),
      learned, chunk))
  }

  /** The greedy disjoint-batch selection shared (by construction — the
    * SQL oracle replays the same sequential fold as a single-row
    * recursive CTE over the ranked window, carrying the used-symbol
    * list as recursion state): walk candidates already ranked by
    * (n_pair DESC, w1, w2); keep a candidate iff its footprint {w1,
    * w2, w1⊔w2} intersects no PREVIOUSLY KEPT candidate's footprint;
    * stop after `batch` keeps. Unit-golden in TextAnalysisSpec
    * (including the produced-symbol collision and the conflicts-with-
    * excluded-rank case that distinguishes greedy from dominance). */
  private[graft] def selectDisjointBatch(
      cands: Seq[(String, String, Long)], batch: Int)
      : Seq[(String, String, Long)] = {
    val glue = "\u0001"
    val used = scala.collection.mutable.Set.empty[String]
    val kept = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val it = cands.iterator
    while (it.hasNext && kept.size < batch) {
      val c = it.next()
      val fp = Seq(c._1, c._2, c._1 + glue + c._2)
      if (!fp.exists(used.contains)) {
        kept += c
        used ++= fp
      }
    }
    kept.toSeq
  }

  /** Apply an ordered merge list to a delimited corpus state in chunks
    * of ≤`chunk` rewrites per projection, materializing between chunks
    * (checkpoint → release predecessor, the trainer-loop discipline) so
    * expression depth — and therefore codegen method size — stays
    * bounded no matter how long the vocabulary is. A single-chunk list
    * stays one lazy map-only projection (the k≈5 path, unchanged); a
    * multi-chunk result is handed back as a self-contained
    * localCheckpoint, the only level still holding blocks. */
  private def applyMergesChunked(df: DataFrame,
      merges: Seq[(String, String)], chunk: Int): DataFrame = {
    require(chunk >= 1, s"chunk must be >= 1, got $chunk")
    val groups = merges.grouped(chunk).toList
    if (groups.lengthCompare(1) <= 0)
      groups.foldLeft(df)(replayMerges)
    else {
      // EAGER localCheckpoint per chunk, not persist+count (r17): the
      // persist chain truncated lineage for EXECUTION but not for the
      // LOGICAL/physical plan, and with an exchange below (the floored
      // corpus source) every cached level wraps an AdaptiveSparkPlan —
      // so level k's per-job plan description re-renders all k nested
      // cached trees. At chunk=1 (64 levels, the boundary-invariance
      // spec) planning + the SQLExecutionStart plan string alone OOM'd
      // an 8 GB heap. Checkpointing truncates the plan itself: every
      // level re-plans from a leaf, O(1) planning and plan-string cost
      // per chunk regardless of vocabulary depth. Blocks are
      // MEMORY_AND_DISK; each level's are freed as soon as the next
      // level has materialized (its lineage starts at its own blocks,
      // so nothing reads the predecessor again) rather than whenever
      // the ContextCleaner gets to them. The returned frame is
      // self-contained.
      groups.foldLeft(df) { (d, grp) =>
        val next = replayMerges(d, grp).localCheckpoint()
        if (d ne df) d.queryExecution.logical match {
          case level: LogicalRDD => level.rdd.unpersist(blocking = false)
          case _ =>
        }
        next
      }
    }
  }

  /** The one BPE trainer loop: per-merge stats rows, the symbol count
    * of the initial state, and (optionally) the final rewritten corpus
    * state. Row tuple: (merge_idx, scan, seq, w1, w2, n_pair,
    * n_tokens_after-of-scan). At batch = window = 1 it is the
    * one-merge-per-scan trainer behind [[bpeTrain]], [[bpeEncode]] and
    * [[bpeEncodeHoldout]].
    *
    * ONE corpus scan per state (r16, guide §1.2): the separator total of
    * a state rides that state's pair-count job as an observed metric
    * (CollectMetrics over the cached state) instead of a dedicated
    * aggregate per scan, so a scan's post-rewrite symbol count arrives
    * one scan later and the last scan settles with a single trailing
    * aggregate. A rewritten state materializes into its persist when
    * the next scan (or the trailing aggregate / final checkpoint) first
    * reads it, and its parent is released then — at most two corpus
    * copies live.
    *
    * `stats = false` (callers that consume only the merge list or the
    * final state): symbol counts are 0 placeholders, no metric is
    * observed, no trailing aggregate runs, and — for keepFinal = false —
    * the last scan's rewrite is never computed (nothing reads it). */
  private[graft] def bpeTrainBatchedLoop(spark: SparkSession, sfDir: String,
      scans: Int, batch: Int, window: Int, keepFinal: Boolean,
      docFilter: Column = lit(true), stats: Boolean = true,
      // probe hook (dev tooling + the keeps-growth spec): called once
      // per completed scan with (scan, candidates-in-window, keeps,
      // scan-seconds) — candidates < window ⇔ the ranked window saw the
      // ENTIRE pair inventory, so keeps are genuinely disjointness- or
      // batch-limited, never window-truncated
      onScan: (Int, Int, Int, Double) => Unit = (_, _, _, _) => ())
      : (List[(Long, Int, Int, String, String, Long, Long)], Long,
        Option[DataFrame]) = {
    val sep = "\u0002"
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // the cached state inherits the source's floored parallelism
    // (Tables.floored): without it a single-row-group corpus plans a
    // 1-task scan and every scan's rewrite + pair aggregation
    // serializes onto one core (measured r16: 0.44 s/round at sf0.1)
    var cur = delimitedState(
      Tables.floored(spark, sfDir, "documents").filter(docFilter))
      .persist(level)
    var prev: Option[DataFrame] = None // cur's parent, released post-scan
    def sepSum = coalesce(
      sum(length(col("s")) - length(translate(col("s"), sep, ""))),
      lit(0L)).as("seps")
    val out = scala.collection.mutable.ListBuffer
      .empty[(Long, Int, Int, String, String, Long, Long)]
    // rows of the scan awaiting its post-rewrite symbol count
    var pendingRows = List.empty[(Long, Int, Int, String, String, Long)]
    def close(symbols: Long): Unit = {
      pendingRows.foreach { case (mi, k, i, w1, w2, nPair) =>
        out += ((mi, k, i, w1, w2, nPair, symbols))
      }
      pendingRows = Nil
    }
    var symbols0 = 0L
    var mergeIdx = 0L
    var done = false
    for (k <- 1 to scans if !done) {
      val scanT0 = System.nanoTime()
      val obs = org.apache.spark.sql.Observation()
      // deterministic candidate window: TakeOrdered under the total
      // order (n_pair DESC, w1, w2) — the same order the oracle ranks.
      // Splitting on a SINGLE sep yields boundary empties; the symbols
      // are the non-empties (ws-tokens and glued merges never are)
      val top = pairCounts(if (stats) cur.observe(obs, sepSum) else cur,
          filter(split(col("s"), sep), x => x =!= lit("")))
        .orderBy(col("n_pair").desc, col("w1"), col("w2")).limit(window)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      // this scan materialized cur's cache; its parent can go now
      prev.foreach(_.unpersist(blocking = false)); prev = None
      val symbols = if (stats) obs.get("seps").asInstanceOf[Long] / 2 else 0L
      if (k == 1) symbols0 = symbols
      close(symbols)
      if (top.isEmpty) done = true
      else {
        val kept = selectDisjointBatch(top, batch)
        val rewritten =
          replayMerges(cur, kept.map(m => (m._1, m._2))).persist(level)
        pendingRows = kept.zipWithIndex.map { case ((w1, w2, nPair), i) =>
          (mergeIdx + i + 1, k, i + 1, w1, w2, nPair)
        }.toList
        mergeIdx += kept.size
        prev = Some(cur)
        cur = rewritten
        onScan(k, top.size, kept.size, (System.nanoTime() - scanT0) / 1e9)
      }
    }
    // the last scan's post-rewrite symbol count: one trailing aggregate
    // over the final state (which also materializes it)
    if (stats && pendingRows.nonEmpty) {
      val st = cur.agg(sepSum).head()
      prev.foreach(_.unpersist(blocking = false)); prev = None
      close(st.getLong(0) / 2)
    }
    close(0L) // stats = false: the last scan's rows keep the placeholder
    val fin = if (keepFinal) Some(cur.localCheckpoint()) else None
    prev.foreach(_.unpersist(blocking = false))
    cur.unpersist(blocking = false)
    (out.toList, symbols0, fin)
  }

  /** One map-only projection applying `merges` in order to a
    * delimited (doc_id, s) state. */
  private def replayMerges(d: DataFrame, merges: Seq[(String, String)]): DataFrame =
    d.select(col("doc_id"),
      merges.foldLeft(col("s"))((c, m) => mergeRewrite(c, m._1, m._2)).as("s"))

  /** Per-doc counts + rendered string off a fully-delimited corpus
    * state: 2 seps per symbol, 1 glue per merge. */
  private def bpeEncodeProjection(fin: DataFrame): DataFrame = {
    val sep = "\u0002"; val glue = "\u0001"
    val sepCnt = length(col("s")) - length(translate(col("s"), sep, ""))
    val glueCnt = length(col("s")) - length(translate(col("s"), glue, ""))
    val after = (sepCnt / 2).cast("long")
    fin.select(col("doc_id"),
        (after + glueCnt.cast("long")).as("n_tokens"),
        glueCnt.cast("long").as("n_merges"),
        after.as("n_tokens_after"),
        translate(array_join(
          filter(split(col("s"), sep), x => x =!= lit("")), " "),
          glue, "_").as("encoded"))
      .orderBy("doc_id")
  }

  /** The one merge-rewrite spelling shared by the trainer loop and the
    * hold-out apply: greedy left-to-right replace of the fully
    * delimited pair. Keeping it single-sourced is what guarantees the
    * train/apply equivalence bpeEncodeHoldout depends on. */
  private def mergeRewrite(s: Column, w1: String, w2: String): Column = {
    val sep = "\u0002"; val glue = "\u0001"
    replace(s,
      concat(lit(sep), lit(w1), lit(sep + sep), lit(w2), lit(sep)),
      concat(lit(sep), lit(w1), lit(glue), lit(w2), lit(sep)))
  }

  /** The adjacent (w1, w2) pairs of an array column, in order, as
    * structs — the one pair spelling behind the bigram reports and the
    * BPE pair counts. Pass a column REFERENCE (the array is read twice
    * per element) with at least 2 elements: `sequence(1, 0)` counts
    * down. */
  private def adjacentPairs(arr: Column): Column =
    transform(sequence(lit(1), size(arr) - 1),
      i => struct(element_at(arr, i).as("w1"), element_at(arr, i + 1).as("w2")))

  /** Adjacent-symbol pair counts (w1, w2, n_pair) over the symbol arrays
    * `syms` of `df` — the per-scan aggregation of the BPE trainer, the
    * merge step's winner and the bigram report's table. Wordcount
    * currency: pair emission is row-local, the agg is a partial+final
    * hash aggregate over the (vocab²-bounded, in practice
    * corpus-bigram-bounded) pair key space — no corpus strings shuffle. */
  private def pairCounts(df: DataFrame, syms: Column): DataFrame =
    df.select(syms.as("syms"))
      .filter(size(col("syms")) >= 2)
      .select(explode(adjacentPairs(col("syms"))).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n_pair"))

  /** Fully-delimited BPE state of a (doc_id, text) frame: every symbol
    * wrapped in its own leading+trailing separator. */
  private def delimitedState(docs: DataFrame): DataFrame = {
    val sep = "\u0002"
    docs.select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .select(col("doc_id"), when(size(col("toks")) === 0, lit(""))
        .otherwise(concat(lit(sep), concat_ws(sep + sep, col("toks")),
          lit(sep))).as("s"))
  }

  /** Document-frequency spectrum: how many vocabulary tokens appear in
    * exactly k documents — the IDF-side companion to [[vocabStats]]'
    * term-frequency view (the k=1 row is cross-doc hapax vocabulary;
    * the high-k tail is the stopword mass a DF-cap filter would drop).
    * Scale: tokens dedup ROW-LOCALLY (`array_distinct` before explode),
    * so the shuffle carries each (doc, token) once; two bounded aggs
    * follow, and output rows are capped by max DF ≤ |docs|. */
  def docFrequencySpectrum(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .select(explode(array_distinct(wsTokens(col("text")))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
      .groupBy("df").agg(count(lit(1)).as("n_tokens"))
      .orderBy("df")
  }

  /** Per-split budget rollup of the [[exportManifest]]: documents,
    * token totals and token share per train/val/test split — the
    * number a training run actually plans against ("how many tokens of
    * train data survived curation?"). Manifest-sized work; the corpus
    * total is a 1-row scalar. */
  def splitBudget(spark: SparkSession, sfDir: String): DataFrame = {
    val manifest = exportManifest(spark, sfDir)
      .select(col("split"), col("n_tokens").cast("long").as("n_tokens"))
    val total = manifest.agg(sum("n_tokens")).head().getLong(0).toDouble
    manifest.groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
      .select(col("split"), col("n_docs"), col("total_tokens"),
        rd(col("total_tokens").cast("double") / lit(total), 4).as("token_share"))
      .orderBy("split")
  }

  /** Per-source boilerplate share: the fraction of each source's
    * non-blank lines that are CROSS-DOCUMENT duplicates (the C4
    * line-dedup currency of [[graft.operators.Dedup.lineDedup]], rolled
    * up to the source grain) — the triage number that decides which
    * feed needs boilerplate stripping before anything else. Only
    * 16-byte line hashes shuffle; two bounded aggs. */
  def boilerplateBySource(spark: SparkSession, sfDir: String,
      minDf: Int = 2): DataFrame = {
    val lines = Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"),
        explode(split(col("text"), "\n")).as("line"))
      .filter(trim(col("line")) =!= "")
      .select(col("source"), col("doc_id"), md5(trim(col("line"))).as("h"))
    val boiler = lines.groupBy("h")
      .agg(countDistinct("doc_id").as("n_docs"))
      .filter(col("n_docs") >= minDf)
      .select("h")
    val boilerCounts = lines.join(boiler, Seq("h"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_boiler"))
    lines.groupBy("source").agg(count(lit(1)).as("n_lines"))
      .join(boilerCounts, Seq("source"), "left_outer")
      .select(col("source"), col("n_lines"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        rd(coalesce(col("n_boiler"), lit(0L)).cast("double") / col("n_lines"), 4)
          .as("boilerplate_frac"))
      .orderBy("source")
  }

  /** Hashing-trick linear classifier INFERENCE — the fastText-style
    * quality-scoring shape: each token hashes into one of `dim` feature
    * buckets (no vocabulary table), the model is a `dim`-row weight
    * table broadcast to every executor, and a document's score is the
    * mean weight of its token features. The weights here are
    * hash-derived (deterministic stand-ins for trained parameters —
    * the PLUMBING is the deliverable, as with the multimodal codec);
    * swapping in real weights changes one DataFrame. Scale: this is
    * exactly how linear-model inference runs at 100 TB — map-side
    * bucket hash, broadcast-join the model, one per-doc agg; no
    * shuffle carries anything wider than (doc_id, weight). */
  def hashClassifier(spark: SparkSession, sfDir: String,
      dim: Int = 1024): DataFrame = {
    // hash-derived weight in [-1, 1] with 3-dp resolution: the md5
    // 8-hex prefix mod 2001, shifted — replayable by the oracle
    val weights = spark.range(dim).select(col("id").as("bucket"),
      (((conv(substring(md5(concat(lit("w|"), col("id").cast("string"))), 1, 8),
          16, 10).cast("long") % 2001L) - lit(1000L)).cast("double") / lit(1000.0))
        .as("w"))
    val feats = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("tok"))
      .select(col("doc_id"),
        (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long") % dim)
          .as("bucket"))
    feats.join(broadcast(weights), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), rd(qavg(col("w"), 6), 4).as("score"))
      .withColumn("flagged", col("score") > 0)
      .orderBy("doc_id")
  }

  // --- Trained quality classifier (distributed logistic regression) ---

  private[graft] val ClsDim = 64
  private[graft] val ClsSteps = 8
  private[graft] val ClsLr = 3.5
  private[graft] val ClsScale = 4.0
  private[graft] val ClsGate = 0.4

  /** Labeled hashed-feature rows for the trained classifier: one row
    * per (doc, feature bucket) with the doc's gate label replicated on.
    * Features are RELATIVE bucket frequencies (token count in bucket /
    * doc token count — length-invariant, so a long doc doesn't dominate
    * the gradient) over [[hashClassifier]]'s md5 bucket device at dim
    * [[ClsDim]], scaled by [[ClsScale]] to put the dominant buckets on
    * the same O(1) footing as the dense features (full-batch GD with a
    * single global lr needs comparable per-coordinate curvature —
    * measured: unscaled, the intercept's gradient is ~100× the
    * features' and the trainer oscillates to the prior), 6-dp
    * quantized; plus per doc an intercept row (bucket −1, x = 1) and
    * two DENSE row-local signal rows — length saturation (bucket −2)
    * and punctuation ratio (bucket −3), the same raw signals
    * [[qualityScore]] derives — because relative token frequencies are
    * length-invariant by construction and therefore cannot see the
    * gate's length term at all (measured ceiling without them: the
    * class prior). Labels come from the STORED signal index
    * ([[docSignalsIndex]]): y = 1 iff the doc clears the [[ClsGate]]
    * quality gate — the deterministic label source the Gopher-style
    * gates provide for free. Map-only feature extraction; the label
    * join keys on doc_id. */
  private def classifierBase(spark: SparkSession, sfDir: String,
      docs: DataFrame): DataFrame = {
    val counts = docs
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("tok"))
      .select(col("doc_id"),
        (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long") % ClsDim)
          .as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
    val ntok = counts.groupBy("doc_id").agg(sum("cnt").as("n_tok"))
    val dense = docs.select(col("doc_id"),
      length(col("text")).cast("double").as("len"),
      regexp_count(col("text"), lit("[^a-zA-Z0-9 \n]")).cast("double")
        .as("n_punct"))
    val feats = counts.join(ntok, Seq("doc_id"))
      .select(col("doc_id"), col("bucket"),
        rd(lit(ClsScale) * (col("cnt").cast("double") / col("n_tok")), 6)
          .as("x"))
      .unionByName(docs.select(col("doc_id"), lit(-1L).as("bucket"),
        lit(1.0).as("x")))
      .unionByName(dense.select(col("doc_id"), lit(-2L).as("bucket"),
        least(col("len") / lit(500.0), lit(1.0)).as("x")))
      .unionByName(dense.select(col("doc_id"), lit(-3L).as("bucket"),
        (col("n_punct") / greatest(col("len"), lit(1.0))).as("x")))
    val labels = docSignalsIndex(spark, sfDir)
      .select(col("doc_id"),
        (col("quality") >= ClsGate).cast("double").as("y"))
    feats.join(labels, Seq("doc_id"))
  }

  /** The k-step full-batch logistic-regression trainer — the one
    * operator that LEARNS from the corpus (the [[bpeTrain]]/k-means
    * iterative-training discipline applied to gradient descent). Each
    * step is two bounded aggregations over the labeled feature rows:
    * (1) per-doc margins m = Σ wⱼ·xⱼ against the broadcast weight map,
    * squashed by the RATIONAL sigmoid p = 0.5 + 0.5·m/(1+|m|) — pure
    * IEEE arithmetic, so the oracle replays it bit-for-bit where
    * exp()-based σ would hinge on libm ulps; (2) per-bucket gradient
    * Σ (p−y)·xⱼ. Both sums are [[Deterministic.qsum]]-quantized
    * (order-independent exact long arithmetic), margins/probabilities/
    * weights are 6-dp [[rd]]-quantized — so the learned weights are a
    * deterministic function of the corpus, replayable step-by-step by
    * the DuckDB oracle exactly as `ann_topk_ivf` replays Lloyd.
    *
    * Scale shape: the feature frame is checkpointed once and reused by
    * all k steps (two shuffles per step: doc-keyed margin agg,
    * bucket-keyed gradient agg, both partial-agg'd map-side); only the
    * dim+1-row gradient vector ever reaches the driver — the k-means
    * centroid pattern. The corpus is scanned once, not per step. */
  private[graft] def classifierTrainFrame(spark: SparkSession, sfDir: String,
      docs: DataFrame, reliableBase: Boolean = false): DataFrame = {
    import spark.implicits._
    // the k steps re-read the feature frame, so it must be pinned. Two
    // postures: localCheckpoint (executor-local blocks — fine on
    // local[32] and fastest, but an executor loss mid-training kills
    // the job) vs a parquet spool (durable storage on a real cluster;
    // a lost executor re-reads the spool — the posture a 1000-executor
    // training job runs, r15 verdict #7). Identical weights either way
    // (spec-asserted): the trainer's arithmetic is order-independent
    // by construction (qsum), so the round-trip cannot perturb it.
    val spoolDir: Option[java.nio.file.Path] =
      if (reliableBase) Some(graft.sources.ArtifactCache.scratchDir(spark, "cls-base-"))
      else None
    val base = spoolDir match {
      case Some(dir) =>
        classifierBase(spark, sfDir, docs).write
          .mode("overwrite").parquet(dir.toString)
        spark.read.parquet(dir.toString)
      case None => classifierBase(spark, sfDir, docs).localCheckpoint()
    }
    val nDocs = docs.count().toDouble
    def rdD(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    var w: Map[Long, Double] =
      (-3L until ClsDim.toLong).map(_ -> 0.0).toMap
    for (_ <- 0 until ClsSteps) {
      val wcol = element_at(typedlit(w), col("bucket"))
      val residuals = base.groupBy("doc_id")
        .agg(qsum(col("x") * wcol, 6).as("m"), min(col("y")).as("y"))
        .select(col("doc_id"),
          (rd(lit(0.5) + lit(0.5) * col("m") / (lit(1.0) + abs(col("m"))), 6)
            - col("y")).as("r"))
      val grads = base.join(residuals, Seq("doc_id"))
        .groupBy("bucket").agg(qsum(col("r") * col("x"), 6).as("g"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      w = w.map { case (b, wv) =>
        b -> rdD(wv - ClsLr * (grads.getOrElse(b, 0.0) / nDocs))
      }
    }
    // the loop is eager (one collect per step) and the result is a
    // driver-held 67-row table, so the spool is dead weight once
    // training finishes — a production job would keep it only until
    // the weights artifact lands
    spoolDir.foreach { dir =>
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    w.toSeq.sortBy(_._1).toDF("bucket", "w")
  }

  /** The learned weight vector as a STORED artifact (dim+1 rows) —
    * trained once per corpus snapshot, read by every scoring consumer;
    * the posture that lets inference run without ever touching the
    * training pass. */
  def classifierWeights(spark: SparkSession, sfDir: String): DataFrame =
    ArtifactCache.readOrWrite(spark, "classifier-weights",
      s"$sfDir|v1|$ClsDim|$ClsSteps|$ClsLr|$ClsScale|$ClsGate|all",
      s"$sfDir/documents.parquet")(
      classifierTrainFrame(spark, sfDir, Tables.documents(spark, sfDir)))

  /** Weights trained on the EVEN half only — the hold-out protocol's
    * training artifact ([[classifierHoldout]]); same trainer, split
    * tag in the artifact key. */
  private def classifierWeightsEven(spark: SparkSession, sfDir: String): DataFrame =
    ArtifactCache.readOrWrite(spark, "classifier-weights",
      s"$sfDir|v1|$ClsDim|$ClsSteps|$ClsLr|$ClsScale|$ClsGate|even",
      s"$sfDir/documents.parquet")(
      classifierTrainFrame(spark, sfDir,
        Tables.documents(spark, sfDir).filter(col("doc_id") % 2 === 0)))

  /** Driver-contract train query: the learned weights, one row per
    * feature bucket (−1 = intercept). */
  def classifierTrain(spark: SparkSession, sfDir: String): DataFrame =
    classifierWeights(spark, sfDir)
      .select(col("bucket"), col("w")).orderBy("bucket")

  /** Shared scoring tail: per-doc rational-sigmoid probability,
    * prediction, and gate label for `docs` under the given weight
    * table. One map-side feature pass + a dim+3-row broadcast join +
    * one doc-keyed agg: the linear-inference ideal, same plan family
    * as [[hashClassifier]]. */
  private[graft] def classifierScoreWith(spark: SparkSession, sfDir: String,
      docs: DataFrame, wtab: DataFrame): DataFrame =
    classifierBase(spark, sfDir, docs)
      .join(broadcast(wtab), Seq("bucket"), "left_outer")
      .groupBy("doc_id")
      .agg(qsum(col("x") * col("w"), 6).as("m"), min(col("y")).as("y"))
      .select(col("doc_id"),
        rd(lit(0.5) + lit(0.5) * col("m") / (lit(1.0) + abs(col("m"))), 6)
          .as("score"),
        (col("m") >= 0).as("predicted"),
        (col("y") === 1.0).as("label"))
      .orderBy("doc_id")

  /** Inference over the stored weights — the recall/precision surface
    * the curation pipeline monitors. */
  def classifierScore(spark: SparkSession, sfDir: String): DataFrame =
    classifierScoreWith(spark, sfDir, Tables.documents(spark, sfDir),
      classifierWeights(spark, sfDir))

  /** HOLD-OUT evaluation — the generalization evidence memorized
    * weights cannot fake ([[bpeEncodeHoldout]]'s discipline applied to
    * the trainer): train on the EVEN half, score the UNSEEN odd half.
    * Same deterministic replay chain, so the oracle re-runs the
    * even-only gradient steps and the odd-only scoring and must
    * hash-match; the spec asserts the unseen-half recall/accuracy. */
  def classifierHoldout(spark: SparkSession, sfDir: String): DataFrame =
    classifierScoreWith(spark, sfDir,
      Tables.documents(spark, sfDir).filter(col("doc_id") % 2 === 1),
      classifierWeightsEven(spark, sfDir))

  /** Bounded-sample training size: a FIXED document count, not a rate —
    * the property that makes the trainer's cold cost flat as the corpus
    * grows (a rate-based sample is still corpus-sized; k docs is k docs
    * at any SF). */
  private[graft] val ClsSampleK = 200

  /** The deterministic k-doc training sample: the k smallest seeded-md5
    * keys over doc_id (the [[weightedSample]]/[[splitAssign]] device) —
    * reproducible across runs, engines and partitionings, and
    * replayable in SQL as ORDER BY md5 LIMIT k. Map pass + per-
    * partition k-heaps (`TakeOrderedAndProject`); no shuffle beyond k
    * rows per partition. */
  private def classifierSampleDocs(spark: SparkSession,
      sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"),
        md5(concat(lit("clss0|"), col("doc_id").cast("string"))).as("skey"))
      .orderBy("skey", "doc_id")
      .limit(ClsSampleK)
      .select("doc_id", "text")

  /** Weights trained on the bounded sample — the posture a 100 TB
    * catalog job actually runs ([[classifierWeights]]'s full-batch
    * trainer costs k×2 corpus-sized shuffles per snapshot; this costs
    * k×2 SAMPLE-sized aggregations after one corpus-order map pass to
    * pick the sample). Stored artifact, same consumer surface. */
  def classifierWeightsSampled(spark: SparkSession, sfDir: String): DataFrame =
    ArtifactCache.readOrWrite(spark, "classifier-weights",
      s"$sfDir|v1|$ClsDim|$ClsSteps|$ClsLr|$ClsScale|$ClsGate|sample$ClsSampleK",
      s"$sfDir/documents.parquet")(
      classifierTrainFrame(spark, sfDir, classifierSampleDocs(spark, sfDir)))

  /** Driver-contract sampled-trainer query: the weight table learned
    * from the k-doc sample (oracle replays sample selection + all 8
    * gradient steps over exactly those docs). */
  def classifierTrainSampled(spark: SparkSession, sfDir: String): DataFrame =
    classifierWeightsSampled(spark, sfDir)
      .select(col("bucket"), col("w")).orderBy("bucket")

  /** Full-corpus inference under the SAMPLE-trained weights — the
    * train-small/score-everything split of a production quality
    * filter. The spec ([[TextAnalysisSpec]]) asserts its hold-out
    * metrics sit within ε of the full-batch trainer's. */
  def classifierScoreSampled(spark: SparkSession, sfDir: String): DataFrame =
    classifierScoreWith(spark, sfDir, Tables.documents(spark, sfDir),
      classifierWeightsSampled(spark, sfDir))

  /** Curation with the LEARNED gate — the FineWeb-Edu pattern: the
    * trained classifier's prediction (margin ≥ 0 under the STORED
    * [[classifierWeights]]) replaces [[curationPipeline]]'s heuristic
    * quality threshold as the keep decision; the language gate and the
    * near-dup anti-join stay. The heuristic `quality` rides along so
    * the two gates are comparable row-by-row — the spec asserts the
    * learned keep set actually DIVERGES from the heuristic one where
    * scores and heuristics disagree (the model is load-bearing, not a
    * re-spelling of `quality >= 0.4`). Plan shape: inference is the
    * linear feature pass + a 67-row broadcast join; the gates are
    * filters over per-doc rows; the anti-join probes the stored pair
    * table — nothing corpus-quadratic. */
  def curationClassifier(spark: SparkSession, sfDir: String): DataFrame = {
    val dupLosers = Dedup.materializedPairs(spark, sfDir)
      .select(col("doc_b").as("doc_id")).distinct()
    val kept = classifierScore(spark, sfDir)
      .filter(col("predicted"))
      .select("doc_id", "score")
    docSignalsIndex(spark, sfDir)
      .filter(col("lang_pred") === "en")
      .join(dupLosers, Seq("doc_id"), "left_anti")
      .join(kept, Seq("doc_id"))
      .select("doc_id", "score", "quality", "n_tokens")
      .orderBy("doc_id")
  }

  /** The end-to-end training-set EXPORT MANIFEST — the artifact a
    * trainer actually consumes: every document that survives the full
    * curation pipeline (quality gate + language gate + near-dup
    * keep-first, [[curationPipeline]]), carrying its train/val/test
    * split ([[splitAssign]]), its deterministic epoch-shuffle key (the
    * [[epochShuffle]] seeded-md5 device) and its token count, ordered
    * (split, shuffle_key) — a reader streams each split in shuffled
    * order with no further sort. Pure composition of verified stages:
    * the pair table and signal index are stored artifacts, the split
    * and shuffle keys are per-row hash functions, the one join keys on
    * doc_id. Nothing here re-reads text. */
  def exportManifest(spark: SparkSession, sfDir: String,
      minQuality: Double = 0.4, seed: String = "epoch0"): DataFrame = {
    val survivors = curationPipeline(spark, sfDir, minQuality)
    val splits = splitAssign(spark, sfDir).select("doc_id", "split")
    survivors.join(splits, Seq("doc_id"))
      .select(col("doc_id"), col("split"),
        md5(concat(lit(s"$seed|"), col("doc_id").cast("string"))).as("shuffle_key"),
        col("n_tokens"), col("quality"))
      .orderBy("split", "shuffle_key", "doc_id")
  }

  /** Cross-split near-duplicate leakage audit: near-dup pairs whose two
    * documents landed in DIFFERENT train/val/test splits — the eval-set
    * contamination a random doc-level split silently creates whenever
    * duplicates exist (the reason dedup-before-split is standard). Pure
    * composition: the stored n-gram Jaccard pair table
    * ([[graft.operators.Dedup.materializedPairs]], computed once per
    * corpus snapshot) joined twice against the deterministic
    * [[splitAssign]] hash — pair-table-sized work, the corpus text is
    * never re-read. At 100 TB both joins key on doc_id against a
    * doc_id-sized split table; nothing quadratic, nothing re-shingled. */
  def splitLeakage(spark: SparkSession, sfDir: String,
      threshold: Double = 0.8): DataFrame = {
    val splits = splitAssign(spark, sfDir).select("doc_id", "split")
    Dedup.materializedPairs(spark, sfDir, threshold)
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
        Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
        Seq("doc_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("split_a"), col("split_b"))
      .orderBy("doc_a", "doc_b")
  }

  /** Split REPAIR — the action [[splitLeakage]]'s audit calls for:
    * every document that near-duplicates a lower-id document in a
    * DIFFERENT split is moved into that document's split (rule: follow
    * the minimum doc_a among a doc's cross-split pairs — deterministic).
    * This is a ONE-PASS repair: in a chain A–B, B–C spanning three
    * splits, C follows B's OLD split while B itself moves, so chained
    * duplicates can leave residual cross-split pairs — re-run the
    * [[splitLeakage]] audit (and this repair) until clean. Output is
    * the corrected rows only (doc, old split, new split, the pair
    * followed). Same inputs as the audit — the stored pair table and
    * the hash split — plus one doc-keyed agg; corpus text never
    * re-read. */
  def splitRepair(spark: SparkSession, sfDir: String,
      threshold: Double = 0.8): DataFrame = {
    val splits = splitAssign(spark, sfDir).select("doc_id", "split")
    val moves = Dedup.materializedPairs(spark, sfDir, threshold)
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
        Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
        Seq("doc_b"))
      .filter(col("split_a") =!= col("split_b"))
      .groupBy(col("doc_b").as("doc_id"))
      .agg(min("doc_a").as("follow_doc"))
    moves
      .join(splits, Seq("doc_id"))
      .join(splits.select(col("doc_id").as("follow_doc"),
        col("split").as("new_split")), Seq("follow_doc"))
      .select(col("doc_id"), col("split").as("old_split"),
        col("new_split"), col("follow_doc"))
      .orderBy("doc_id")
  }

  /** CONVERGED split repair — the FIXPOINT of [[splitRepair]]'s
    * follow-the-minimum rule, computed in one shot instead of by
    * looping repair→audit→repair: under that rule a near-dup chain
    * A–B, B–C is a connected component of the pair graph, its minimum
    * doc can never move (it has no lower-id partner), and every other
    * member ends up in that minimum doc's split — so the fixpoint is
    * exactly "each doc takes the split of its component's min-id doc".
    * The Spark-first formulation is therefore
    * [[graft.operators.Dedup.duplicateClusters]] (hash-min label
    * propagation over the STORED pair table, O(log diameter) shuffle
    * rounds) plus two joins against the deterministic [[splitAssign]]
    * hash — no iteration over the corpus at all. After applying the
    * output, [[splitLeakage]] over the repaired assignment is empty by
    * construction (asserted in TextAnalysisSpec). Pair-table-sized
    * work like the audit; corpus text never re-read. */
  def splitRepairConverged(spark: SparkSession, sfDir: String,
      threshold: Double = 0.8): DataFrame = {
    val splits = splitAssign(spark, sfDir).select("doc_id", "split")
    // cluster structure, not pair rows — the star-edge form stays
    // linear where the member pair table is quadratic in dup-group size
    val clusters = Dedup.nearDupClusters(spark, sfDir, threshold)
    clusters
      .join(splits, Seq("doc_id"))
      .join(splits.select(col("doc_id").as("cluster_id"),
        col("split").as("new_split")), Seq("cluster_id"))
      .filter(col("split") =!= col("new_split"))
      .select(col("doc_id"), col("split").as("old_split"),
        col("new_split"), col("cluster_id"))
      .orderBy("doc_id")
  }

  /** Flesch-style readability per document: words (whitespace tokens),
    * sentences (non-empty `[.!?]` segments, floored at 1), syllables
    * (maximal `[aeiouy]+` vowel groups per lowercased word, floored at
    * 1/word), and reading ease
    * `206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)` — the
    * classic cheap fluency heuristic corpus filters pair with stopword
    * and punctuation ratios (both regexes are RE2-portable, so DuckDB
    * replays them exactly). Map-only row-local HOFs, zero shuffle; the
    * syllable fold references each derived array once (the
    * PushDownPredicates lesson in PERF.md). */
  def readability(spark: SparkSession, sfDir: String): DataFrame = {
    val nSent = greatest(size(filter(
      transform(split(col("text"), "[.!?]"), s => trim(s)), s => s =!= "")), lit(1))
    val sylOf = (w: Column) =>
      greatest(size(filter(split(lower(w), "[^aeiouy]+"), g => g =!= "")), lit(1))
    Tables.floored(spark, sfDir, "documents")
      .select(col("doc_id"), wsTokens(col("text")).as("toks"), nSent.as("n_sentences"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        col("n_sentences").cast("long").as("n_sentences"),
        aggregate(col("toks"), lit(0L), (acc, w) => acc + sylOf(w).cast("long"))
          .as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        rd(lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
          - lit(84.6) * (col("n_syllables").cast("double")
            / greatest(col("n_words"), lit(1L))), 4).as("reading_ease"))
      .orderBy("doc_id")
  }

  /** Per-source document-length histogram (token-count bins of
    * `binWidth`): the length-distribution report every corpus audit
    * includes — a skewed length profile flags boilerplate floods or
    * truncation bugs per source. Reads n_tokens from the stored
    * per-doc signal artifact (no third regex pass over text); one
    * partial-agged shuffle to a sources × bins output. */
  def lengthHistogram(spark: SparkSession, sfDir: String,
      binWidth: Int = 100): DataFrame =
    docSignalsIndex(spark, sfDir).select("doc_id", "n_tokens")
      .join(Tables.documents(spark, sfDir).select("doc_id", "source"),
        Seq("doc_id"))
      .select(col("source"),
        floor(col("n_tokens") / binWidth).cast("long").as("bin"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"))
      .select(col("source"), col("bin"),
        (col("bin") * binWidth).as("bin_low"), col("n_docs"))
      .orderBy("source", "bin")
}
