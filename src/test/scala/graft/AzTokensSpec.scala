package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{GenerateExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import graft.functions.AzTokens
import graft.operators.WordCount

/** The word-count tokenizer kernel: nulls, codegen vs interpreted
  * evaluation, and its input type check. */
class AzTokensSpec extends SparkSpec {
  import spark.implicits._

  private val edgeLines = Seq(
    "", " ", "\n\n", "the quick\nbrown  fox ", " lead trail\n",
    "Zebra 9lives _foo ébc é中😀 a😀b", "tab\tinside cr\rinside",
    "don't stop, don't", "中文 emoji😀 x")

  /** A text frame that is not a local relation, so the optimizer cannot
    * fold the kernel away before execution. */
  private def textFrame(lines: Seq[String]): DataFrame =
    spark.sparkContext.parallelize(lines.zipWithIndex, 3).toDF("text", "i")

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a null text row yields zero tokens") {
    val df = Seq[String](null, "a b", null).toDF("text")
    assert(df.select(AzTokens.az_tokens(col("text"))).as[Seq[String]].collect()
      .toSeq === Seq(null, Seq("a", "b"), null))
    assert(WordCount.wordsOf(df).as[String].collect().sorted.toSeq === Seq("a", "b"))
    assert(WordCount.wordsOf(Seq[String](null).toDF("text")).count() === 0)
  }

  test("codegen and interpreted runs give the same tokens") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("text").as[String].collect().toSeq
    val lines = edgeLines ++ docs
    def run(): (Seq[(Int, Seq[String])], Seq[(String, Long)], Boolean) = {
      val perRow = textFrame(lines).select(col("i"), AzTokens.az_tokens(col("text")))
        .as[(Int, Seq[String])].collect().sortBy(_._1).toSeq
      val words = WordCount.wordsOf(textFrame(lines))
      val fused = words.queryExecution.executedPlan.collect {
        case w: WholeStageCodegenExec => w.child.collect { case g: GenerateExec => g }
      }.flatten.nonEmpty
      val counts = words.groupBy("word").count()
        .as[(String, Long)].collect().sorted.toSeq
      (perRow, counts, fused)
    }
    val (codegenRows, codegenCounts, codegenFused) = run()
    val (interpRows, interpCounts, interpFused) = withConf(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
    assert(codegenFused && !interpFused)
    assert(codegenRows.map(_._2.size).sum > 0)
    assert(codegenRows === interpRows)
    assert(codegenCounts === interpCounts)
  }

  test("a non-string input fails the type check, naming the type") {
    AzTokens(Literal(42)).checkInputDataTypes() match {
      case TypeCheckFailure(msg) => assert(msg.contains("int"), msg)
      case other => fail(s"expected a type-check failure, got $other")
    }
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.range(1).select(AzTokens.az_tokens(col("id"))).schema)
    assert(e.getMessage.contains("bigint"), e.getMessage)
  }
}
