package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.AzTokens
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
  * Spark collapses all of that into one declarative plan. Crucially the
  * physical plan fixes the reference's two structural scale killers:
  *   - the reference has NO map-side combine — every reducer re-reads ALL
  *     map outputs (`slave.cc:177-210`), so shuffle volume is
  *     R × total-tokens. `HashAggregateExec` does partial aggregation
  *     before the shuffle, so shuffle volume is O(distinct words).
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
    * token again for the regex. */
  def wordsOf(texts: DataFrame, textCol: String = "text"): DataFrame =
    texts.select(explode(AzTokens.az_tokens(col(textCol))).as("word"))

  /** Tokenized, filtered word stream from the `documents` corpus.
    * (`documents.text` plays the role of the reference's HDFS file.) */
  def words(spark: SparkSession, sfDir: String): DataFrame =
    wordsOf(Tables.documents(spark, sfDir))

  /** O8 — hash-aggregated word counts (partial + final agg). */
  def counts(spark: SparkSession, sfDir: String): DataFrame =
    words(spark, sfDir).groupBy("word").agg(count(lit(1)).as("cnt"))

  /** O11 — top-K by count desc, ties by word asc (deterministic;
    * diverges intentionally from the reference's tie-dropping bug). */
  def topK(spark: SparkSession, sfDir: String, k: Int): DataFrame =
    counts(spark, sfDir).orderBy(desc("cnt"), asc("word")).limit(k)

  /** Full word counts with a total order (oracle-deterministic). */
  def full(spark: SparkSession, sfDir: String): DataFrame =
    counts(spark, sfDir).orderBy(asc("word"))

  /** O6 made first-class — the reference's first-letter range partitioning
    * (`master.cc:314-325`, `slave.cc:149-157`) re-expressed as a bucket
    * column + aggregation: words per first letter and distinct words per
    * letter. In the reference this partitioning was purely physical; as a
    * relational operator it becomes an auditable query. Built on the
    * per-word [[counts]]: each word is one distinct word of its letter
    * and adds its count to the letter's total, so no distinct aggregate
    * is planned. */
  def letterBuckets(spark: SparkSession, sfDir: String): DataFrame =
    counts(spark, sfDir)
      .groupBy(substring(col("word"), 1, 1).as("letter"))
      .agg(sum("cnt").as("n_words"), count(lit(1)).as("n_distinct"))
      .orderBy("letter")

  /** The reference's pipeline in its literal MapReduce shape — RDD
    * `flatMap` (Map, `slave.cc:101-116`) → `reduceByKey` (combiner +
    * Reduce, `slave.cc:159-210`) → `takeOrdered` (top-K,
    * `master.cc:395-453`). Kept as documentation-by-code of the
    * reference↔Spark mapping and as a differential check against the
    * DataFrame plan (which remains the primary path: codegen +
    * Tungsten beat RDD lambdas). `reduceByKey` IS the map-side combine
    * the reference lacks; `takeOrdered` IS the per-partition top-K heap
    * its driver loop lacks. */
  def topKviaRDD(spark: SparkSession, sfDir: String, k: Int): Seq[(String, Long)] = {
    implicit val ord: Ordering[(String, Long)] =
      Ordering.by { case (w, c) => (-c, w) } // count desc, word asc
    Tables.documents(spark, sfDir)
      .select("text").rdd.map(_.getString(0))
      .flatMap(_.split("[ \n]"))                      // Map     (O4)
      .filter(w => w.nonEmpty && w.head >= 'a' && w.head <= 'z') // O7
      .map((_, 1L))
      .reduceByKey(_ + _)                             // Reduce  (O8, with combiner)
      .takeOrdered(k)                                 // top-K   (O11)
      .toSeq
  }

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
    wordsOf(corpus, "value")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(asc("word"))
  }

  /** Word counts over an arbitrary newline-delimited text file — the exact
    * ingestion path of the reference (O2/O3: `spark.read.text` replaces
    * the hand-rolled chunked scan + split-boundary repair,
    * `slave.cc:76-134`). Library form behind [[fullFromTextFile]]'s
    * oracle-wired corpus entry; exercised directly by unit tests. */
  def countsFromTextFile(spark: SparkSession, path: String, k: Int): DataFrame =
    wordsOf(spark.read.text(path), "value")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("word"))
      .limit(k)
}
