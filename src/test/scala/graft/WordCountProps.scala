package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{AzRangeId, AzTokens}
import graft.operators.WordCount
import graft.plans.TokenCount

/** ScalaCheck property tests (SURVEY.md §5.3) — invariants of the
  * word-count pipeline over generated corpora, evaluated through the
  * real Spark plans on the shared local session. */
object WordCountProps extends Properties("WordCount") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10) // each case runs Spark jobs; keep tight

  // properties that run Spark jobs do not shrink: every shrink step
  // runs jobs, so a shrinking failure took many minutes to report

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

  // the fused counter against the one-row-per-token form, over several
  // partitions and a null text; a 2-word cap flushes the per-partition
  // table mid-row, so every repeated word crosses the exchange as
  // several partial rows that the final aggregate must merge
  private def textFrame(ts: Seq[String]) =
    spark.sparkContext.parallelize(ts, 3).toDF("text")
  private def fusedCounts(ts: Seq[String], maxKeys: Int): Seq[(String, Long)] =
    WordCount.countsOf(textFrame(ts), "text", maxKeys)
      .as[(String, Long)].collect().toSeq.sorted
  private def explodedCounts(ts: Seq[String]): Seq[(String, Long)] =
    WordCount.wordsOf(textFrame(ts)).groupBy("word").count()
      .as[(String, Long)].collect().toSeq.sorted
  private val textsWithNull: Gen[List[String]] = texts.map(null :: _)

  property("TokenCount counts equal wordsOf + groupBy counts") =
    Prop.forAllNoShrink(textsWithNull) { ts =>
      fusedCounts(ts, TokenCount.MaxKeys) == explodedCounts(ts)
    }

  property("TokenCount counts equal wordsOf + groupBy counts when the table flushes early") =
    Prop.forAllNoShrink(textsWithNull) { ts => fusedCounts(ts, 2) == explodedCounts(ts) }

  // words for the ordered merge's slot sort: lengths around the 8- and
  // 16-byte packing boundaries, embedded NULs (which tie with the zero
  // padding), multi-byte UTF-8, and words sharing a 16-byte prefix so
  // that only their arena bytes tell them apart
  private val sortByte: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("a", "b", "z"), 2 -> Gen.const("\u0000"), 1 -> Gen.oneOf("é", "中", "😀"))
  private val sortWord: Gen[String] = for {
    prefix <- Gen.oneOf("", "", "abcdefghijklmnop")
    n <- Gen.oneOf(1, 7, 8, 9, 15, 16, 17)
    rest <- Gen.listOfN(n, sortByte)
    first <- Gen.oneOf("a", "b")
  } yield first + prefix + rest.mkString
  private val sortTexts: Gen[List[String]] =
    Gen.listOfN(12, Gen.listOfN(8, sortWord).map(_.mkString(" ")))

  property("ordered TokenCount rows come out in UTF8String byte order, with exact counts") =
    Prop.forAllNoShrink(sortTexts) { ts =>
      val want = explodedCounts(ts).toMap
      Seq(TokenCount.MaxKeys, 3).forall { cap =>
        val got = WordCount.countsOf(textFrame(ts), "text", cap).orderBy("word")
          .as[(String, Long)].collect().toSeq
        val keys = got.map(r => UTF8String.fromString(r._1))
        keys.zip(keys.drop(1)).forall { case (a, b) => a.compareTo(b) < 0 } &&
          got.size == want.size && got.toMap == want
      }
    }

  // words for the range id: one-letter words, second bytes below 'a'
  // and above 'z' (é and 😀 lead bytes among them), first bytes outside
  // a-z, and the empty word
  private val idByte: Gen[String] = Gen.frequency(
    4 -> Gen.alphaLowerChar.map(_.toString),
    1 -> Gen.oneOf("\u0000", " ", "'", "0", "A", "Z", "_", "`"),
    1 -> Gen.oneOf("{", "~", "\u007f", "é", "中", "😀"))
  private val idWord: Gen[UTF8String] =
    Gen.frequency(1 -> Gen.const(0), 4 -> Gen.const(1), 6 -> Gen.choose(2, 6))
      .flatMap(Gen.listOfN(_, idByte)).map(cs => UTF8String.fromString(cs.mkString))
  private val idWidths = Seq(1, 2, 3, 4, 26, 27, 200, 1000)

  property("az_range_id is monotone in byte order and lies in [0, n)") =
    Prop.forAll(Gen.listOfN(200, idWord)) { ws =>
      val sorted = ws.sortWith(_.compareTo(_) < 0)
      idWidths.forall { n =>
        val ids = sorted.map(AzRangeId.of(_, n))
        ids.forall(i => i >= 0 && i < n) && ids.zip(ids.drop(1)).forall { case (a, b) => a <= b }
      }
    }

  property("az_tokens kernel equals the split + regex reference") =
    Prop.forAllNoShrink(texts) { ts => kernelTokens(ts) == ts.map(refTokens) }

  property("counts equal an independent in-memory oracle") =
    Prop.forAllNoShrink(corpus) { lines => sparkCounts(lines) == refCounts(lines) }

  property("sum of counts == number of matching tokens") =
    Prop.forAllNoShrink(corpus) { lines =>
      sparkCounts(lines).values.sum ==
        lines.flatMap(_.split("[ \n]")).count(_.matches("^[a-z].*"))
    }

  property("invariant under line permutation") =
    Prop.forAllNoShrink(corpus) { lines => sparkCounts(lines) == sparkCounts(lines.reverse) }

  property("tokenize . mkString round-trips a clean word multiset") =
    Prop.forAllNoShrink(Gen.listOfN(8, Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString take 6))) {
      words =>
        words.isEmpty || sparkCounts(Seq(words.mkString(" "))) ==
          words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    }
}
