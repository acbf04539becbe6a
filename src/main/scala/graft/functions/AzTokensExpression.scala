package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The word-count Map stage as one expression: split on ' ' / '\n' only
  * (`slave.cc:101-116`) and keep the tokens whose first char is in
  * [a-z] (the `master.cc:312-325` keyspace), as `array<string>`.
  *
  * One pass over the UTF8String's bytes — no decode to a Java String,
  * no regex, no per-token re-encode. Each kept token is copied into its
  * own byte array, so no token aliases the input row's buffer.
  *
  * UTF-8 safety: the byte-level split equals the char-level one because
  * every byte of a multi-byte UTF-8 sequence has its high bit set
  * (lead bytes 0xC2–0xF4, continuation bytes 0x80–0xBF), so the bytes
  * 0x20 and 0x0A occur only as the chars ' ' and '\n'. For the same
  * reason a first byte in 0x61–0x7A is exactly a first char in [a-z].
  * (Bytes that are not valid UTF-8 split the same way, but are kept
  * raw where a decoding tokenizer would substitute U+FFFD.)
  */
case class AzTokens(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "az_tokens"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"az_tokens requires a string input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    AzTokens.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.AzTokens.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AzTokens {

  /** The one tokenizer rule, shared by [[compute]] and the fused
    * counter [[graft.plans.TokenCountExec]]: the next kept token of the
    * `n` UTF-8 bytes at (`base`, `off`) that starts at or after byte
    * `from`. Tokens are the maximal runs of bytes other than `0x20` and
    * `0x0A`; a token is kept when its first byte is in `a`–`z`. Returns
    * `start << 32 | end` (end exclusive), or -1 when no kept token
    * remains. The caller resumes at `end`, a delimiter or `n`. */
  def nextToken(base: AnyRef, off: Long, n: Int, from: Int): Long = {
    var i = from
    while (i < n) {
      val first = Platform.getByte(base, off + i)
      if (isDelimiter(first)) i += 1
      else {
        val start = i
        i += 1
        while (i < n && !isDelimiter(Platform.getByte(base, off + i))) i += 1
        if (first >= 'a' && first <= 'z') return (start.toLong << 32) | i
      }
    }
    -1L
  }

  @inline private def isDelimiter(b: Byte): Boolean = b == ' ' || b == '\n'

  /** Static worker shared by interpreted eval and generated code. */
  def compute(text: UTF8String): ArrayData = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes
    var out = new Array[AnyRef](16)
    var count = 0
    var t = nextToken(base, off, n, 0)
    while (t >= 0) {
      val start = (t >>> 32).toInt
      val end = t.toInt
      val word = new Array[Byte](end - start)
      Platform.copyMemory(base, off + start, word, Platform.BYTE_ARRAY_OFFSET, word.length)
      if (count == out.length) out = java.util.Arrays.copyOf(out, count * 2)
      out(count) = UTF8String.fromBytes(word)
      count += 1
      t = nextToken(base, off, n, end)
    }
    new GenericArrayData(
      (if (count == out.length) out else java.util.Arrays.copyOf(out, count)).asInstanceOf[Array[Any]])
  }

  def az_tokens(c: Column): Column =
    GraftColumnBridge.column(AzTokens(GraftColumnBridge.expression(c)))
}

/** The reducer of a word in an ordered word count: the reference's
  * first-letter key ranges (`master.cc:312-325`, `slave.cc:149-157`) as
  * a partition id in `[0, numPartitions)`, monotone in UTF-8 byte order
  * (`x ≤ y` ⇒ `id(x) ≤ id(y)`). Each partition then holds one contiguous
  * range of words, so sorting each one sorts them all, with no sampled
  * range bounds.
  *
  * The key spans the first two bytes, so up to [[AzRangeId.Keys]]
  * partitions each get some keys: `(b0 − 'a') × 28 + c(b1)`, where `c`
  * maps a missing second byte or one below `a` to 0, `a`–`z` to 1–26
  * and one above `z` (a UTF-8 lead byte among them) to 27; a first byte
  * below `a` keys to 0 and one above `z` to the last key. Key `k` goes
  * to partition `k × numPartitions / Keys`. Each partition gets an
  * equal share of keys, not of words: text whose first letters are
  * skewed, as English is, gives unequal partitions.
  * Internal to the word-count planner, which applies it to the string
  * `word` column only.
  */
case class AzRangeId(child: Expression, numPartitions: Int) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def prettyName: String = "az_range_id"

  override def nullSafeEval(input: Any): Any =
    AzRangeId.of(input.asInstanceOf[UTF8String], numPartitions)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.AzRangeId.of($c, $numPartitions)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AzRangeId {
  /** Number of keys: 26 first letters × 28 second-byte classes. */
  val Keys: Int = 26 * 28

  /** The key of `word`, in `[0, Keys)`. */
  def key(word: UTF8String): Int = {
    val n = word.numBytes
    val b0 = if (n > 0) word.getByte(0) & 0xFF else 0
    if (b0 < 'a') 0
    else if (b0 > 'z') Keys - 1
    else {
      val b1 = if (n > 1) word.getByte(1) & 0xFF else 0
      val c = if (b1 < 'a') 0 else if (b1 > 'z') 27 else b1 - 'a' + 1
      (b0 - 'a') * 28 + c
    }
  }

  /** Static worker shared by interpreted eval and generated code. */
  def of(word: UTF8String, numPartitions: Int): Int =
    (key(word).toLong * numPartitions / Keys).toInt
}
