package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.apache.spark.sql.functions._
import graft.functions.AzTokens
import graft.operators.WordCount

/** ScalaCheck property tests (SURVEY.md §5.3) — invariants of the
  * word-count pipeline over generated corpora, evaluated through the
  * real Spark plans on the shared local session. */
object WordCountProps extends Properties("WordCount") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10) // each case runs Spark jobs; keep tight

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val word: Gen[String] = Gen.oneOf(
    Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString take 8),
    Gen.oneOf("Zebra", "42", "!bang", "_x", "ébc", "don't", "a,b"))
  private val line: Gen[String] = Gen.listOfN(6, word).map(_.mkString(" "))
  private val corpus: Gen[List[String]] = Gen.listOfN(5, line)

  private def sparkCounts(lines: Seq[String]): Map[String, Long] =
    if (lines.isEmpty) Map.empty
    else WordCount.wordsOf(lines.toDF("text"))
      .groupBy("word").count()
      .as[(String, Long)].collect().toMap

  private def refCounts(lines: Seq[String]): Map[String, Long] =
    lines.flatMap(_.split("[ \n]")).filter(_.matches("^[a-z].*"))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap

  // one text: random pieces between runs of leading/trailing delimiters;
  // '\t'/'\r' are token bytes, not delimiters, and é / 中 / 😀 are 2-, 3-
  // and 4-byte UTF-8 sequences, at a token's start as well as inside it
  private val piece: Gen[String] = Gen.frequency(
    4 -> Gen.alphaLowerChar.map(_.toString),
    3 -> Gen.oneOf(" ", "\n"),
    1 -> Gen.oneOf("\t", "\r"),
    1 -> Gen.oneOf("é", "中", "😀"),
    1 -> Gen.alphaUpperChar.map(_.toString),
    1 -> Gen.numChar.map(_.toString),
    1 -> Gen.oneOf("'", ",", "!", "_"))
  private val delims: Gen[String] = Gen.listOf(Gen.oneOf(" ", "\n")).map(_.mkString)
  private val text: Gen[String] =
    for (pre <- delims; body <- Gen.listOf(piece); post <- delims)
      yield pre + body.mkString + post
  private val texts: Gen[List[String]] = Gen.listOfN(20, text).map("" :: _)

  // reference: String.split on [ \n], then rlike("^[a-z]")'s prefix find
  // (matches("^[a-z].*") would reject a token holding '\r', which `.`
  // does not match)
  private val azPrefix = "[a-z]".r
  private def refTokens(t: String): Seq[String] =
    t.split("[ \n]").toSeq.filter(azPrefix.findPrefixOf(_).isDefined)

  private def kernelTokens(ts: Seq[String]): Seq[Seq[String]] =
    spark.sparkContext.parallelize(ts.zipWithIndex, 2).toDF("text", "i")
      .select(col("i"), AzTokens.az_tokens(col("text")))
      .as[(Int, Seq[String])].collect().sortBy(_._1).map(_._2).toSeq

  property("az_tokens kernel equals the split + regex reference") =
    Prop.forAll(texts) { ts => kernelTokens(ts) == ts.map(refTokens) }

  property("counts equal an independent in-memory oracle") =
    Prop.forAll(corpus) { lines => sparkCounts(lines) == refCounts(lines) }

  property("sum of counts == number of matching tokens") =
    Prop.forAll(corpus) { lines =>
      sparkCounts(lines).values.sum ==
        lines.flatMap(_.split("[ \n]")).count(_.matches("^[a-z].*"))
    }

  property("invariant under line permutation") =
    Prop.forAll(corpus) { lines => sparkCounts(lines) == sparkCounts(lines.reverse) }

  property("tokenize . mkString round-trips a clean word multiset") =
    Prop.forAll(Gen.listOfN(8, Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString take 6))) {
      words =>
        words.isEmpty || sparkCounts(Seq(words.mkString(" "))) ==
          words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    }
}
