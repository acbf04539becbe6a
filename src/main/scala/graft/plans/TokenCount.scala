package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Ascending, Attribute, AttributeReference, AttributeSet, BindReferences,
  DirectShufflePartitionID, Expression, Literal, SortOrder}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Final}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.ShufflePartitionIdPassThrough
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{AzRangeId, AzTokens}

/** Fused word count — the reference's Map + combine (`slave.cc:159-210`:
  * one hash map per worker, `wordcount[word]++` in place) as a Catalyst
  * operator. Output `(word string, cnt bigint)`: the exact count of
  * every `az_tokens(text)` word over the whole child, so its meaning
  * does not depend on partitioning. A null text yields no tokens.
  *
  * [[TokenCountStrategy]] plans it as a Final-mode count over a
  * [[TokenCountExec]], which counts each partition's tokens as byte
  * slices and emits one partial row per distinct word, with one
  * exchange between them: by hash of the word, or, under a global sort
  * by word, by the word's first-letter range ([[AzRangeId]]). Unlike
  * `explode(az_tokens(text))` + `groupBy`, no token becomes its own
  * `UTF8String`, `Generate` row or `UnsafeRow` key probe.
  *
  * `maxKeys` bounds the per-partition table (see [[TokenCountExec]]);
  * it is a constructor argument, not a conf, so a spec can force the
  * early-flush path. */
case class TokenCount(
    text: Expression, word: Attribute, cnt: Attribute, child: LogicalPlan,
    private[graft] val maxKeys: Int) extends UnaryNode {
  override def output: Seq[Attribute] = Seq(word, cnt)
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(newChild: LogicalPlan): TokenCount =
    copy(child = newChild)
}

object TokenCount {
  /** Distinct words one partition's table holds before it flushes. */
  val MaxKeys: Int = 1 << 18

  def apply(text: Expression, child: LogicalPlan, maxKeys: Int): TokenCount =
    TokenCount(text,
      AttributeReference("word", StringType, nullable = false)(),
      AttributeReference("cnt", LongType, nullable = false)(),
      child, maxKeys)
}

/** Plans [[TokenCount]]; a no-op on every other node. The final
  * aggregate is built here because `AggUtils.createAggregate` is
  * private: it merges the exec's partial counts, which it binds through
  * the `Count` instance's `inputAggBufferAttributes` — so the exec's
  * output carries that very attribute.
  *
  * Two shapes, both with one exchange straight over [[TokenCountExec]]:
  *   - unordered (`topK`, `letterBuckets`, `counts`): a Final count
  *     `HashAggregateExec`, for which `EnsureRequirements` adds
  *     `Exchange hashpartitioning(word)`;
  *   - ordered, a global `Sort(word ASC)` right over the node (`full`,
  *     `fullFromTextFile`): the reference's reducers (`master.cc:312-325`,
  *     `slave.cc:149-157`, `slave.cc:219-226`). The exchange is planned
  *     here, partitioned by [[AzRangeId]] through Spark's pass-through
  *     partitioning, so each of `spark.sql.shuffle.partitions`
  *     partitions, at most [[AzRangeId.Keys]], owns one contiguous
  *     first-letter range; a Final count
  *     `SortAggregateExec`, over the local sort `EnsureRequirements`
  *     adds, then emits each partition in word order, and the
  *     partitions in id order are the global order. No range bounds are
  *     sampled (a job that re-runs the aggregate), no second exchange
  *     and no single-task global sort is planned. AQE does not coalesce
  *     this exchange: a coalesced pass-through read no longer reports
  *     the partitioning the aggregate requires. So its width is the
  *     plain shuffle width, not AQE's initial one (meant to be
  *     coalesced), and no wider than the key count, past which
  *     partitions could only be empty.
  *     Partitions get equal shares of keys, not of words: their sizes
  *     follow the words' first two letters.
  *
  * The ordered shape sorts rather than hashes: a hash aggregate under a
  * local sort holds an aggregation map and sort pages at once in every
  * reduce task. */
object TokenCountStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(Seq(SortOrder(w: Attribute, Ascending, _, _)), true, tc: TokenCount, _)
        if w.exprId == tc.word.exprId =>
      finalCount(tc, ordered = true) :: Nil
    case tc: TokenCount => finalCount(tc, ordered = false) :: Nil
    case _ => Nil
  }

  private def finalCount(tc: TokenCount, ordered: Boolean): SparkPlan = {
    val count = AggregateExpression(Count(Literal(1)), Final, isDistinct = false)
    val partial = count.aggregateFunction.inputAggBufferAttributes.head
    val counter = TokenCountExec(tc.text, tc.word, partial, planLater(tc.child), tc.maxKeys)
    val result = Seq(tc.word, Alias(count.resultAttribute, tc.cnt.name)(tc.cnt.exprId))
    if (!ordered)
      HashAggregateExec(
        requiredChildDistributionExpressions = Some(Seq(tc.word)),
        isStreaming = false,
        numShufflePartitions = None,
        groupingExpressions = Seq(tc.word),
        aggregateExpressions = Seq(count),
        aggregateAttributes = Seq(count.resultAttribute),
        initialInputBufferOffset = 1,
        resultExpressions = result,
        child = counter)
    else {
      val n = math.min(SQLConf.get.defaultNumShufflePartitions, AzRangeId.Keys)
      val id = AzRangeId(tc.word, n)
      SortAggregateExec(
        requiredChildDistributionExpressions = Some(Seq(id)),
        isStreaming = false,
        numShufflePartitions = None,
        groupingExpressions = Seq(tc.word),
        aggregateExpressions = Seq(count),
        aggregateAttributes = Seq(count.resultAttribute),
        initialInputBufferOffset = 1,
        resultExpressions = result,
        child = ShuffleExchangeExec(
          ShufflePartitionIdPassThrough(DirectShufflePartitionID(id), n), counter))
    }
  }
}

/** The map side of [[TokenCount]]. Per partition it scans each row's
  * UTF-8 bytes in place with [[AzTokens.nextToken]] (the same rule as
  * `az_tokens`), hashes each kept slice into an open-addressing table
  * (keys of up to 16 bytes packed into their slot, longer ones copied
  * into one byte arena), and emits one `(word, count)` `UnsafeRow` per
  * distinct word.
  *
  * Bounded memory: once the table holds `maxKeys` words or
  * `32 × maxKeys` arena bytes, it emits its rows and clears, then the
  * scan resumes mid-row — the way partial aggregation falls back. The
  * final aggregate merges the repeated keys. The input row under the
  * scan is not advanced while the table drains, so its bytes stay
  * valid (child iterators reuse their row buffers). */
case class TokenCountExec(
    text: Expression, word: Attribute, partialCount: Attribute, child: SparkPlan,
    private[graft] val maxKeys: Int) extends UnaryExecNode {

  override def output: Seq[Attribute] = Seq(word, partialCount)
  override def producedAttributes: AttributeSet = AttributeSet(output)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numTokens" -> SQLMetrics.createMetric(sparkContext, "number of tokens"),
    "numFlushes" -> SQLMetrics.createMetric(sparkContext, "number of early flushes"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numTokens = longMetric("numTokens")
    val numFlushes = longMetric("numFlushes")
    val textOf = BindReferences.bindReference(text, child.output)
    val cap = maxKeys
    child.execute().mapPartitions { rows =>
      val table = new TokenTable(cap)
      val writer = new UnsafeRowWriter(2, 32)
      new Iterator[InternalRow] {
        // the text under the scan and the next byte to scan in it
        private var base: AnyRef = _
        private var off = 0L
        private var n = 0
        private var pos = -1 // -1: no text under the scan
        private var cursor = -1 // next slot to emit; -1: not draining

        /** Next non-null text; false at the end of the input. */
        private def advance(): Boolean = {
          while (rows.hasNext) {
            val s = textOf.eval(rows.next()).asInstanceOf[UTF8String]
            if (s != null) {
              base = s.getBaseObject; off = s.getBaseOffset; n = s.numBytes; pos = 0
              return true
            }
          }
          false
        }

        /** Counts tokens until the table is full or the input ends. */
        private def fill(): Unit = {
          var tokens = 0L
          while (!table.full && (pos >= 0 || advance())) {
            val t = AzTokens.nextToken(base, off, n, pos)
            if (t < 0) pos = -1
            else {
              val start = (t >>> 32).toInt
              pos = t.toInt
              table.add(base, off + start, pos - start, n - start)
              tokens += 1
            }
          }
          numTokens += tokens
          if (table.full) numFlushes += 1
        }

        override def hasNext: Boolean = {
          if (cursor >= 0) {
            cursor = table.nextSlot(cursor)
            if (cursor >= 0) return true
            table.clear()
          }
          fill()
          cursor = if (table.size > 0) table.nextSlot(0) else -1
          cursor >= 0
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          writer.reset()
          table.write(cursor, writer)
          cursor += 1
          numOutputRows += 1
          writer.getRow
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TokenCountExec =
    copy(child = newChild)
}

/** Open-addressing (linear probing) map from byte slices to counts,
  * laid out so a lookup touches one 32-byte slot: slot `s` is the four
  * longs at `4 * s` of `slots` — `hash << 32 | length` (0: empty, as a
  * token is never empty), then the key's first 8 bytes, then its next
  * 8 bytes or, for a key longer than 16 bytes, its offset in `arena`,
  * then the count. Keys of up to 16 bytes (nearly every word) are
  * compared and emitted without touching the arena. */
private final class TokenTable(maxKeys: Int) {
  private val maxArenaBytes = math.min(32L * maxKeys, Int.MaxValue - 16L).toInt
  private var slots = new Array[Long](4 * 1024)
  private var mask = 1024 - 1
  private var arena = new Array[Byte](1 << 12)
  private var used = 0
  private val key = new Array[Byte](16)
  var size = 0

  def full: Boolean = size >= maxKeys || used >= maxArenaBytes

  /** Counts the `len`-byte key at (`base`, `off`); `avail` bytes from
    * `off` are readable, so whole longs are read where 16 fit. */
  def add(base: AnyRef, off: Long, len: Int, avail: Int): Unit = {
    // little-endian packing of the first 16 bytes, zero past the key
    var k0 = 0L
    var k1 = 0L
    if (TokenTable.littleEndian && avail >= 16) {
      k0 = Platform.getLong(base, off)
      k1 = Platform.getLong(base, off + 8)
      if (len < 8) { k0 &= (1L << (len << 3)) - 1; k1 = 0L }
      else if (len < 16) k1 &= (1L << ((len - 8) << 3)) - 1
    } else {
      var j = 0
      val m = math.min(len, 16)
      while (j < m) {
        val b = (Platform.getByte(base, off + j) & 0xFFL) << ((j & 7) << 3)
        if (j < 8) k0 |= b else k1 |= b
        j += 1
      }
    }
    val h = if (len <= 16) mix(k0, k1, len) else Murmur3_x86_32.hashUnsafeBytes2(base, off, len, 42)
    val head = (h.toLong << 32) | len
    var s = h & mask
    var at = s << 2
    while (slots(at) != 0) {
      if (slots(at) == head && slots(at + 1) == k0 &&
          (if (len <= 16) slots(at + 2) == k1
           else ByteArrayMethods.arrayEquals(
             arena, Platform.BYTE_ARRAY_OFFSET + slots(at + 2), base, off, len))) {
        slots(at + 3) += 1
        return
      }
      s = (s + 1) & mask
      at = s << 2
    }
    slots(at) = head
    slots(at + 1) = k0
    if (len <= 16) slots(at + 2) = k1
    else {
      if (used + len > arena.length)
        arena = java.util.Arrays.copyOf(arena, math.max(arena.length * 2, used + len))
      Platform.copyMemory(base, off, arena, Platform.BYTE_ARRAY_OFFSET + used, len)
      slots(at + 2) = used
      used += len
    }
    slots(at + 3) = 1
    size += 1
    if (size * 2 > mask + 1) grow()
  }

  /** splitmix64's finalizer over the packed key. */
  private def mix(k0: Long, k1: Long, len: Int): Int = {
    var z = k0 * 0x9E3779B97F4A7C15L + k1 * 0xC2B2AE3D27D4EB4FL + len
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)).toInt
  }

  private def grow(): Unit = {
    val old = slots
    slots = new Array[Long](old.length * 2)
    mask = (slots.length >> 2) - 1
    var at = 0
    while (at < old.length) {
      if (old(at) != 0) {
        var s = (old(at) >>> 32).toInt & mask
        while (slots(s << 2) != 0) s = (s + 1) & mask
        System.arraycopy(old, at, slots, s << 2, 4)
      }
      at += 4
    }
  }

  /** First occupied slot at or after `from`, or -1. */
  def nextSlot(from: Int): Int = {
    var s = from
    while (s <= mask && slots(s << 2) == 0) s += 1
    if (s <= mask) s else -1
  }

  /** Writes slot `s`'s key as field 0 and its count as field 1. */
  def write(s: Int, writer: UnsafeRowWriter): Unit = {
    val at = s << 2
    val len = slots(at).toInt
    if (len <= 16) {
      var j = 0
      while (j < len) {
        key(j) = (slots(at + 1 + (j >> 3)) >>> ((j & 7) << 3)).toByte
        j += 1
      }
      writer.write(0, key, 0, len)
    } else writer.write(0, arena, slots(at + 2).toInt, len)
    writer.write(1, slots(at + 3))
  }

  def clear(): Unit = {
    java.util.Arrays.fill(slots, 0L)
    size = 0
    used = 0
  }
}

private object TokenTable {
  private val littleEndian = java.nio.ByteOrder.nativeOrder == java.nio.ByteOrder.LITTLE_ENDIAN
}
