package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
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

  /** Static worker shared by interpreted eval and generated code. */
  def compute(text: UTF8String): ArrayData = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes
    var out = new Array[AnyRef](16)
    var count = 0
    var start = 0 // first byte of the current token
    var i = 0
    while (i <= n) {
      val b = if (i < n) Platform.getByte(base, off + i) else '\n'.toByte
      if (b == ' ' || b == '\n') {
        if (i > start) {
          val first = Platform.getByte(base, off + start)
          if (first >= 'a' && first <= 'z') {
            val word = new Array[Byte](i - start)
            Platform.copyMemory(base, off + start, word, Platform.BYTE_ARRAY_OFFSET, word.length)
            if (count == out.length) out = java.util.Arrays.copyOf(out, count * 2)
            out(count) = UTF8String.fromBytes(word)
            count += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(
      (if (count == out.length) out else java.util.Arrays.copyOf(out, count)).asInstanceOf[Array[Any]])
  }

  def az_tokens(c: Column): Column =
    GraftColumnBridge.column(AzTokens(GraftColumnBridge.expression(c)))
}
