package graft.plans

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeReference, AttributeSet, BindReferences,
  DirectShufflePartitionID, Expression, RowOrdering, SortOrder, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning, ShufflePartitionIdPassThrough,
  UnspecifiedDistribution}
import org.apache.spark.sql.execution.{
  SortPrefixUtils, SparkPlan, SparkStrategy, UnaryExecNode, UnsafeExternalRowSorter}
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
  * [[TokenCountStrategy]] plans it as a [[TokenMergeExec]] over a
  * [[TokenCountExec]], which counts each partition's tokens as byte
  * slices and emits one partial row per distinct word, with one
  * exchange between them: by hash of the word, or, under a global sort
  * by word, by the word's first-letter range ([[AzRangeId]]). Unlike
  * `explode(az_tokens(text))` + `groupBy`, no token becomes its own
  * `UTF8String`, `Generate` row or `UnsafeRow` key probe, and the
  * partial rows are merged in the same table, not in a Tungsten
  * aggregate or sort.
  *
  * `maxKeys` bounds the table of either side (see [[TokenCountExec]]
  * and [[TokenMergeExec]]); it is a constructor argument, not a conf,
  * so a spec can force the early-flush and fallback paths. */
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

/** Plans [[TokenCount]]; a no-op on every other node. Two shapes, both
  * a [[TokenMergeExec]] over one exchange straight over
  * [[TokenCountExec]]:
  *   - unordered (`topK`, `letterBuckets`, `counts`): the merge requires
  *     its input clustered by word, for which `EnsureRequirements` adds
  *     `Exchange hashpartitioning(word)` (coalesced by AQE as usual);
  *   - ordered, a global `Sort(word ASC)` right over the node (`full`,
  *     `fullFromTextFile`): the reference's reducers (`master.cc:312-325`,
  *     `slave.cc:149-157`, `slave.cc:219-226`). The exchange is planned
  *     here, partitioned by [[AzRangeId]] through Spark's pass-through
  *     partitioning, so each of `spark.sql.shuffle.partitions`
  *     partitions, at most [[AzRangeId.Keys]], owns one contiguous
  *     first-letter range; the merge sorts each partition's words, and
  *     the partitions in id order are the global order. The merge
  *     requires no distribution of its own, so AQE may coalesce the
  *     exchange: it only merges adjacent reducer ids, and a run of
  *     adjacent ranges is again one contiguous range. No range bounds
  *     are sampled (a job that re-runs the count), no second exchange
  *     and no single-task global sort is planned. The width is capped
  *     at the key count, past which partitions could only be empty.
  *     Partitions get equal shares of keys, not of words: their sizes
  *     follow the words' first two letters. */
object TokenCountStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(Seq(SortOrder(w: Attribute, Ascending, _, _)), true, tc: TokenCount, _)
        if w.exprId == tc.word.exprId =>
      merge(tc, ordered = true) :: Nil
    case tc: TokenCount => merge(tc, ordered = false) :: Nil
    case _ => Nil
  }

  private def merge(tc: TokenCount, ordered: Boolean): SparkPlan = {
    val counter = TokenCountExec(tc.text, tc.word, tc.cnt, planLater(tc.child), tc.maxKeys)
    val input =
      if (!ordered) counter
      else {
        val n = math.min(SQLConf.get.defaultNumShufflePartitions, AzRangeId.Keys)
        ShuffleExchangeExec(
          ShufflePartitionIdPassThrough(DirectShufflePartitionID(AzRangeId(tc.word, n)), n),
          counter)
      }
    TokenMergeExec(tc.word, tc.cnt, ordered, input, tc.maxKeys)
  }
}

/** The map side of [[TokenCount]]. Per partition it scans each row's
  * UTF-8 bytes in place with [[AzTokens.nextToken]] (the same rule as
  * `az_tokens`), hashes each kept slice into a [[TokenTable]], and
  * emits one `(word, count)` `UnsafeRow` per distinct word.
  *
  * Bounded memory: once the table is full (`maxKeys` words or
  * `32 × maxKeys` arena bytes), it emits its rows and clears, then the
  * scan resumes mid-row — the way partial aggregation falls back. The
  * merge adds up the repeated keys. The input row under the scan is
  * not advanced while the table drains, so its bytes stay valid (child
  * iterators reuse their row buffers). */
case class TokenCountExec(
    text: Expression, word: Attribute, cnt: Attribute, child: SparkPlan,
    private[graft] val maxKeys: Int) extends UnaryExecNode {

  override def output: Seq[Attribute] = Seq(word, cnt)
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
        private var drain: Iterator[UnsafeRow] = Iterator.empty

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
              table.add(base, off + start, pos - start, n - start, 1L)
              tokens += 1
            }
          }
          numTokens += tokens
          if (table.full) numFlushes += 1
        }

        override def hasNext: Boolean = drain.hasNext || {
          table.clear()
          fill()
          drain = table.rows(writer)
          drain.hasNext
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          numOutputRows += 1
          drain.next()
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TokenCountExec =
    copy(child = newChild)
}

/** The reduce side of [[TokenCount]]: the reference's reducer map
  * (`slave.cc:159-210`). Per partition it adds the partial
  * `(word, count)` rows of the exchange into one [[TokenTable]], the
  * map side's own, and emits one row per word: in slot order, or, when
  * `ordered`, sorted in place in unsigned byte order (`UTF8String`'s),
  * so each partition comes out in word order. No Tungsten page, codegen
  * class or sort is used on this path; the table is sized by the
  * partition's own words.
  *
  * Bounded memory: a partition whose words fill the table (`maxKeys`
  * words or `32 × maxKeys` arena bytes) falls back to a spill-capable
  * external sort of the table's rows and the rest of its input
  * (`UnsafeExternalRowSorter`, as `SortExec` builds one), whose sorted
  * output is summed per word — ordered in either shape.
  *
  * Metrics: output rows, sort fallbacks, and the sum over tasks of each
  * task's peak table bytes (slot and arena arrays). */
case class TokenMergeExec(
    word: Attribute, cnt: Attribute, ordered: Boolean, child: SparkPlan,
    private[graft] val maxKeys: Int) extends UnaryExecNode {

  override def output: Seq[Attribute] = Seq(word, cnt)

  // the ordered input comes from the strategy's own range exchange
  override def requiredChildDistribution: Seq[Distribution] =
    (if (ordered) UnspecifiedDistribution else ClusteredDistribution(Seq(word))) :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    if (ordered) Seq(SortOrder(word, Ascending)) else Nil

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numFallbacks" -> SQLMetrics.createMetric(sparkContext, "number of sort fallbacks"),
    "peakTableBytes" -> SQLMetrics.createSizeMetric(sparkContext, "peak table bytes"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numFallbacks = longMetric("numFallbacks")
    val peakTableBytes = longMetric("peakTableBytes")
    val cap = maxKeys
    val sortsSlots = ordered
    val rowSchema = schema
    val byWord = Seq(SortOrder(word, Ascending))
    val attrs = output
    child.execute().mapPartitions { iter =>
      val rows = iter.asInstanceOf[Iterator[UnsafeRow]]
      val table = new TokenTable(cap)
      while (!table.full && rows.hasNext) {
        val row = rows.next()
        val w = row.getUTF8String(0)
        table.add(w.getBaseObject, w.getBaseOffset, w.numBytes,
          (row.getBaseOffset + row.getSizeInBytes - w.getBaseOffset).toInt, row.getLong(1))
      }
      peakTableBytes += table.bytes
      val merged =
        if (!rows.hasNext) {
          if (sortsSlots) table.sortSlots()
          table.rows(new UnsafeRowWriter(2, 32))
        } else {
          numFallbacks += 1
          val sorter = UnsafeExternalRowSorter.create(rowSchema, RowOrdering.create(byWord, attrs),
            SortPrefixUtils.getPrefixComparator(rowSchema),
            SortPrefixUtils.createPrefixGenerator(rowSchema),
            SparkEnv.get.memoryManager.pageSizeBytes, false)
          TokenMergeExec.sumRuns(
            sorter.sort(table.rows(new UnsafeRowWriter(2, 32)) ++ rows))
        }
      merged.map { r => numOutputRows += 1; r }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TokenMergeExec =
    copy(child = newChild)
}

object TokenMergeExec {
  /** One `(word, count)` row per run of equal words in `sorted`, with
    * the run's counts summed. */
  private def sumRuns(sorted: Iterator[InternalRow]): Iterator[InternalRow] = new Iterator[InternalRow] {
    private val writer = new UnsafeRowWriter(2, 32)
    // the next run's first row, copied: the sorter reuses its row and
    // frees its pages once drained
    private var head: InternalRow = if (sorted.hasNext) sorted.next().copy() else null

    override def hasNext: Boolean = head != null

    override def next(): InternalRow = {
      if (head == null) throw new NoSuchElementException
      val w = head.getUTF8String(0)
      var c = head.getLong(1)
      head = null
      while (head == null && sorted.hasNext) {
        val r = sorted.next()
        if (r.getUTF8String(0) == w) c += r.getLong(1) else head = r.copy()
      }
      writer.reset()
      writer.write(0, w)
      writer.write(1, c)
      writer.getRow
    }
  }
}

/** Open-addressing (linear probing) map from byte slices to counts,
  * laid out so a lookup touches one 32-byte slot: slot `s` is the four
  * longs at `4 * s` of `slots` — `hash << 32 | length` (0: empty, as a
  * token is never empty), then the key's first 8 bytes, then its next
  * 8 bytes or, for a key longer than 16 bytes, its offset in `arena`,
  * then the count. Keys are packed little-endian, zero past the key.
  * Keys of up to 16 bytes (nearly every word) are compared, sorted and
  * emitted without touching the arena. */
private final class TokenTable(maxKeys: Int) {
  private val maxArenaBytes = math.min(32L * maxKeys, Int.MaxValue - 16L).toInt
  private var slots = new Array[Long](4 * 1024)
  private var mask = 1024 - 1
  private var arena = new Array[Byte](1 << 12)
  private var used = 0
  private val key = new Array[Byte](16)
  var size = 0

  def full: Boolean = size >= maxKeys || used >= maxArenaBytes

  /** Bytes held by the slot and arena arrays. */
  def bytes: Long = 8L * slots.length + arena.length

  /** Adds `delta` to the count of the `len`-byte key at (`base`, `off`);
    * `avail` bytes from `off` are readable, so whole longs are read
    * where 16 fit. */
  def add(base: AnyRef, off: Long, len: Int, avail: Int, delta: Long): Unit = {
    var k0 = 0L
    var k1 = 0L
    if (TokenTable.littleEndian && avail >= 16) {
      k0 = Platform.getLong(base, off)
      k1 = Platform.getLong(base, off + 8)
      if (len < 8) { k0 &= (1L << (len << 3)) - 1; k1 = 0L }
      else if (len < 16) k1 &= (1L << ((len - 8) << 3)) - 1
    } else {
      k0 = TokenTable.pack(base, off, math.min(len, 8))
      if (len > 8) k1 = TokenTable.pack(base, off + 8, math.min(len, 16) - 8)
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
        slots(at + 3) += delta
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
    slots(at + 3) = delta
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
  private def nextSlot(from: Int): Int = {
    var s = from
    while (s <= mask && slots(s << 2) == 0) s += 1
    if (s <= mask) s else -1
  }

  /** The occupied slots' `(word, count)` rows in slot order, each
    * written by `writer` and valid until the next. */
  def rows(writer: UnsafeRowWriter): Iterator[UnsafeRow] = new Iterator[UnsafeRow] {
    private var s = nextSlot(0)
    override def hasNext: Boolean = s >= 0
    override def next(): UnsafeRow = {
      if (s < 0) throw new NoSuchElementException
      writer.reset()
      write(s, writer)
      s = nextSlot(s + 1)
      writer.getRow
    }
  }

  /** Writes slot `s`'s key as field 0 and its count as field 1. */
  private def write(s: Int, writer: UnsafeRowWriter): Unit = {
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

  def clear(): Unit = if (size > 0) {
    java.util.Arrays.fill(slots, 0L)
    size = 0
    used = 0
  }

  /** Moves the occupied slots to the front and sorts them by key in
    * unsigned byte order, so [[rows]] emits the words in order. The
    * table takes no more keys afterwards. Slot order follows the hash,
    * so the quicksort's input is in effectively random order. */
  def sortSlots(): Unit = {
    var to = 0
    var at = 0
    while (at < slots.length) {
      if (slots(at) != 0) {
        if (at != to) {
          System.arraycopy(slots, at, slots, to, 4)
          java.util.Arrays.fill(slots, at, at + 4, 0L)
        }
        to += 4
      }
      at += 4
    }
    sortRange(0, size - 1)
  }

  /** Key order of slots `a` and `b`: the first 16 bytes as byte-reversed
    * unsigned longs (zero padding sorts below every byte and ties only
    * a prefix), then bytes from 16 on, then the length. */
  private def compare(a: Int, b: Int): Int = {
    val x = a << 2
    val y = b << 2
    var c = java.lang.Long.compareUnsigned(
      java.lang.Long.reverseBytes(slots(x + 1)), java.lang.Long.reverseBytes(slots(y + 1)))
    if (c != 0) return c
    c = java.lang.Long.compareUnsigned(
      java.lang.Long.reverseBytes(second(x)), java.lang.Long.reverseBytes(second(y)))
    if (c != 0) return c
    val lx = slots(x).toInt
    val ly = slots(y).toInt
    if (lx > 16 && ly > 16) {
      val ox = slots(x + 2).toInt
      val oy = slots(y + 2).toInt
      var j = 16
      val m = math.min(lx, ly)
      while (j < m) {
        c = (arena(ox + j) & 0xFF) - (arena(oy + j) & 0xFF)
        if (c != 0) return c
        j += 1
      }
    }
    Integer.compare(lx, ly)
  }

  /** Bytes 8–15 of slot `at`'s key, packed. */
  private def second(at: Int): Long =
    if (slots(at).toInt <= 16) slots(at + 2)
    else TokenTable.pack(arena, Platform.BYTE_ARRAY_OFFSET + slots(at + 2) + 8, 8)

  private def swap(a: Int, b: Int): Unit = {
    var j = 0
    while (j < 4) {
      val t = slots((a << 2) + j)
      slots((a << 2) + j) = slots((b << 2) + j)
      slots((b << 2) + j) = t
      j += 1
    }
  }

  /** Quicksort of slots `lo`–`hi` (keys are distinct): median-of-three
    * pivots, insertion sort below 16 slots, recursion on the smaller
    * side only. */
  private def sortRange(lo0: Int, hi0: Int): Unit = {
    var lo = lo0
    var hi = hi0
    while (hi - lo >= 16) {
      val mid = (lo + hi) >>> 1
      if (compare(mid, lo) < 0) swap(mid, lo)
      if (compare(hi, lo) < 0) swap(hi, lo)
      if (compare(hi, mid) < 0) swap(hi, mid)
      // lo <= pivot <= hi: both scans stop inside the range
      val p = hi - 1
      swap(mid, p)
      var i = lo
      var j = p
      var crossed = false
      while (!crossed) {
        i += 1
        while (compare(i, p) < 0) i += 1
        j -= 1
        while (compare(j, p) > 0) j -= 1
        if (i < j) swap(i, j) else crossed = true
      }
      swap(i, p)
      if (i - lo < hi - i) { sortRange(lo, i - 1); lo = i + 1 }
      else { sortRange(i + 1, hi); hi = i - 1 }
    }
    var i = lo + 1
    while (i <= hi) {
      var j = i
      while (j > lo && compare(j, j - 1) < 0) { swap(j, j - 1); j -= 1 }
      i += 1
    }
  }
}

private object TokenTable {
  private val littleEndian = java.nio.ByteOrder.nativeOrder == java.nio.ByteOrder.LITTLE_ENDIAN

  /** The `n` (≤ 8) bytes at (`base`, `off`), little-endian. */
  private def pack(base: AnyRef, off: Long, n: Int): Long = {
    var k = 0L
    var j = 0
    while (j < n) {
      k |= (Platform.getByte(base, off + j) & 0xFFL) << (j << 3)
      j += 1
    }
    k
  }
}
