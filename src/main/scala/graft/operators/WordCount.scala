package graft.operators

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.functions.AzTokens
import graft.plans.{GraftExtensions, TokenCount}
import graft.sources.Tables

/** The reference's entire query surface, Spark-first.
  *
  * Reference pipeline (SURVEY.md §2.1/§3.1):
  *   chunked HDFS text scan (`slave.cc:56-89`)
  *   → tokenize on ' '/'\n' only (`slave.cc:101-116`, delimiter test `slave.cc:103`)
  *   → first-char a-z range partitioning (`master.cc:312-325`, `slave.cc:149-157`)
  *     whose union-of-ranges acts as an implicit `^[a-z]` filter (`slave.cc:196`)
  *   → per-word COUNT hash-agg (`slave.cc:159-210`)
  *   → per-partition lexicographic sort (`slave.cc:219-226`)
  *   → driver merge + sort-by-count + top-K (`master.cc:395-453`).
  *
  * Spark collapses all of that into one declarative plan. The ordered
  * counts ([[full]], [[fullFromTextFile]]) keep the reference's range
  * layout: [[graft.plans.TokenCountStrategy]] plans `orderBy(word)` over
  * [[countsOf]] as one exchange by first-letter range
  * ([[graft.functions.AzRangeId]]) under the graft merge
  * ([[graft.plans.TokenMergeExec]]), which sorts each partition's words
  * in its own table, so each partition is one slice of the global order
  * — no sampling job, no second shuffle, no single-task sort. Crucially the
  * physical plan fixes the reference's two structural scale killers:
  *   - the reference has NO map-side combine — every reducer re-reads ALL
  *     map outputs (`slave.cc:177-210`), so shuffle volume is
  *     R × total-tokens. The fused [[graft.plans.TokenCountExec]] is
  *     that combine: per partition it counts the a-z byte slices of
  *     each row in one open-addressing table (no per-token object or
  *     row) and emits one partial row per distinct word, which
  *     [[graft.plans.TokenMergeExec]] adds into the same kind of table
  *     after the shuffle (the reference's reducer map) — so shuffle
  *     volume is O(distinct words per partition).
  *   - the reference's driver reads every (word,count) to pick top-K
  *     (`master.cc:406-452`). Spark plans `orderBy(...).limit(k)` as
  *     `TakeOrderedAndProject` — per-partition heaps of size k, only
  *     k rows per partition cross to the driver. At 100 TB the driver
  *     sees k×numPartitions rows, not the full dictionary.
  *
  * Semantics kept faithful to the reference (SURVEY.md §7.4): split on
  * ' ' and '\n' only (no `\s`, no lowercasing, punctuation retained),
  * keep only tokens whose first char is in [a-z]. The reference's top-K
  * tie bug (`master.cc:405` — `map[count]=word` drops ties) is NOT
  * replicated; ties break by word ascending.
  */
object WordCount {

  /** O4 + O7 — tokenize and filter in one step: one row per token of
    * `textCol` split on ' '/'\n' whose first char is in [a-z]
    * (`slave.cc:101-116`, keyspace `master.cc:312-313`, discard
    * `slave.cc:196`; `^[a-z]` also drops the reference's empty tokens,
    * `slave.cc:103-104`). The [[AzTokens]] kernel scans each row's
    * UTF-8 bytes once and emits only the kept tokens; `explode` turns
    * them into rows inside the same codegen'd stage. Not `split` +
    * `rlike`: those decode every row to a Java String, compile the
    * `[ \n]` pattern per row, re-encode every token, then decode each
    * token again for the regex. The counting queries do not explode:
    * they go through the fused [[countsOf]]; this one-row-per-token
    * form is the reference that [[countsOf]] is checked against. */
  def wordsOf(texts: DataFrame, textCol: String = "text"): DataFrame =
    texts.select(explode(AzTokens.az_tokens(col(textCol))).as("word"))

  /** Tokenized, filtered word stream from the `documents` corpus.
    * (`documents.text` plays the role of the reference's HDFS file.) */
  def words(spark: SparkSession, sfDir: String): DataFrame =
    wordsOf(Tables.documents(spark, sfDir))

  /** O4 + O7 + O8 fused — `(word, cnt)` for every word of [[wordsOf]]
    * over `texts`, as one [[graft.plans.TokenCount]] node: a per-
    * partition byte-slice counter under a byte-slice merge, with no
    * per-token row; a global `orderBy("word")` right over the result is
    * planned as the first-letter range exchange (O6). Arms the planner
    * strategy on the session (idempotently): the caller may have built
    * a plain session. */
  def countsOf(texts: DataFrame, textCol: String = "text"): DataFrame =
    countsOf(texts, textCol, TokenCount.MaxKeys)

  /** [[countsOf]] with an explicit per-partition table cap, so a spec
    * can force the early-flush and merge-fallback paths. */
  private[graft] def countsOf(texts: DataFrame, textCol: String, maxKeys: Int): DataFrame = {
    // the merge keeps no state across batches, so a stream would count
    // each micro-batch alone
    require(!texts.isStreaming, "word count needs a batch DataFrame, got a stream")
    val spark = texts.sparkSession
    GraftExtensions.registerRuntime(spark)
    val plan = texts.select(col(textCol)).queryExecution.analyzed
    val text = plan.output.head
    require(text.dataType == StringType,
      s"word count needs a string column, '$textCol' is ${text.dataType.catalogString}")
    GraftColumnBridge.ofRows(spark, TokenCount(text, plan, maxKeys))
  }

  /** O8 — word counts of the `documents` corpus ([[countsOf]]). */
  def counts(spark: SparkSession, sfDir: String): DataFrame =
    countsOf(Tables.documents(spark, sfDir))

  /** O11 — top-K by count desc, ties by word asc (deterministic;
    * diverges intentionally from the reference's tie-dropping bug). */
  def topK(spark: SparkSession, sfDir: String, k: Int): DataFrame =
    counts(spark, sfDir).orderBy(desc("cnt"), asc("word")).limit(k)

  /** Full word counts with a total order (oracle-deterministic): the
    * reference's reducer layout, each partition one sorted first-letter
    * range (O6 + O9). */
  def full(spark: SparkSession, sfDir: String): DataFrame =
    counts(spark, sfDir).orderBy(asc("word"))

  /** O6 made first-class — the reference's first-letter range partitioning
    * (`master.cc:314-325`, `slave.cc:149-157`) re-expressed as a bucket
    * column + aggregation: words per first letter and distinct words per
    * letter. In the reference this partitioning was purely physical; as a
    * relational operator it becomes an auditable query. Built on the
    * per-word [[counts]]: each word is one distinct word of its letter
    * and adds its count to the letter's total, so no distinct aggregate
    * is planned. A word's first byte is `a`–`z`, so there are at most 26
    * letter rows: they are sorted in one task (`coalesce(1)`), and the
    * global sort needs no range exchange and no sampling job. */
  def letterBuckets(spark: SparkSession, sfDir: String): DataFrame =
    counts(spark, sfDir)
      .groupBy(substring(col("word"), 1, 1).as("letter"))
      .agg(sum("cnt").as("n_words"), count(lit(1)).as("n_distinct"))
      .coalesce(1)
      .orderBy("letter")

  /** Full word counts over the corpus via the reference's LITERAL input
    * modality (O2/O3 end to end): `documents.text` is spooled once per
    * corpus fingerprint to a newline-delimited `.txt` artifact (one doc
    * per line — the driver corpus is single-line; embedded newlines
    * would merely split a doc across lines, which the ' '/'\n' tokenizer
    * is indifferent to), and the ENTIRE wordcount then runs over
    * `spark.read.text` — chunked scan, split-boundary repair, and line
    * reading all exercised on a real on-disk text file. Oracle-wired:
    * the DuckDB side replays the same counts from the `documents` view,
    * so a hash match proves the text round-trip preserves the token
    * multiset — the evidence the unit-only `countsFromTextFile` path
    * could not give the driver. */
  def fullFromTextFile(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = graft.sources.ArtifactCache.readOrWriteText(
      spark, "wordcount-txt", "v1", s"$sfDir/documents.parquet")(
      Tables.documents(spark, sfDir).select("text"))
    countsOf(corpus, "value").orderBy(asc("word"))
  }

  /** Word counts over an arbitrary newline-delimited text file — the exact
    * ingestion path of the reference (O2/O3: `spark.read.text` replaces
    * the hand-rolled chunked scan + split-boundary repair,
    * `slave.cc:76-134`). Library form behind [[fullFromTextFile]]'s
    * oracle-wired corpus entry; exercised directly by unit tests. */
  def countsFromTextFile(spark: SparkSession, path: String, k: Int): DataFrame =
    countsOf(spark.read.text(path), "value")
      .orderBy(desc("cnt"), asc("word"))
      .limit(k)
}
