package graft

import org.apache.spark.sql.functions._
import graft.operators.WordCount

/** Golden + edge-case tests from FIXTURES.md §2 (tiny_corpus etc.). */
class WordCountSpec extends SparkSpec {
  import spark.implicits._

  private def countsOf(lines: String*): Seq[(String, Long)] =
    WordCount.wordsOf(lines.toDF("text"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("word"))
      .as[(String, Long)].collect().toSeq

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
