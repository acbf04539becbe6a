package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: the chunk-scrub plans raced on their TARGET workload — a
  * boilerplate-hot corpus where ONE chunk fingerprint (a license
  * header) is shared by EVERY document. This is the distribution
  * `Dedup.chunkDedupScrubOf` exists for, and exactly where the r13
  * window plan (VERDICT r13 weak #1) degenerates: `row_number().over(
  * partitionBy("chunk_fp"))` with chunk_text riding lands ALL N header
  * occurrences — text included — in ONE window partition: an unguarded
  * single-task straggler that no uniform or Zipf grid produced
  * (clone grids hash clones across fps). The r14 plan elects in hash
  * currency with a partial-aggregable `min(struct)` — the hot fp
  * combines map-side to one candidate per task — and rebuilds
  * clean_text row-locally, so the hot key never carries text.
  *
  * The probe generates the corpus row-locally (N docs = 32-token
  * shared header + 32 unique tail tokens), runs BOTH spellings (each
  * once untimed, then once timed), checks they agree on (n_chunks,
  * n_kept) totals, and prints one JSON line with the two timings. The
  * r13 spelling lives ONLY here, as the measured-against baseline.
  *
  * Usage: runMain graft.Tool scrub-probe [nDocs] [alsoOld]
  * (alsoOld=false skips the straggler plan when only the shipped
  * number is wanted.)
  */
object ScrubProbe {
  def run(spark: SparkSession, args: Array[String]): Int = {
    val n = if (args.length > 0) args(0).toLong else 1000000L
    val alsoOld = if (args.length > 1) args(1).toBoolean else true
    val header = (0 until 32).map(i => s"lic$i").mkString(" ")
    // header chunk shared by ALL docs; tail chunk unique per doc
    // materialized like a real table read: without the checkpoint the
    // generator re-runs per scan and the timing compares generation
    // counts, not scrub plans
    val docs = spark.range(n).select(col("id").as("doc_id"),
      concat(lit(header + " "), expr(
        "concat_ws(' ', transform(sequence(0, 31), i -> concat('u', id, 'x', i)))"))
        .as("text"))
      .localCheckpoint()
    // sum(length(clean_text)) keeps clean_text ALIVE through the
    // timed plan — a bare counts-only aggregate would let Catalyst
    // prune the text column out of the old spelling's window shuffle,
    // which is precisely the cost under measurement
    def time(f: => DataFrame): (Double, (Long, Long, Long)) = {
      def totals(): (Long, Long, Long) = {
        val agg = f.agg(sum("n_chunks"), sum("n_kept"),
          sum(length(col("clean_text")))).head()
        (agg.getLong(0), agg.getLong(1), agg.getLong(2))
      }
      // one untimed run first: the JVM's first-action cost (class
      // loading, codegen) would otherwise land on the plan timed first
      totals(): Unit
      val t0 = System.nanoTime()
      val result = totals()
      ((System.nanoTime() - t0) / 1e9, result)
    }
    val (newSec, newTotals) = time(graft.operators.Dedup.chunkDedupScrubOf(docs))
    // every doc: 2 chunks; kept: doc 0 keeps both, others keep the tail
    require((newTotals._1, newTotals._2) == ((2 * n, n + 1)),
      s"shipped scrub totals wrong: $newTotals")
    val oldSec = if (alsoOld) {
      val (s, oldTotals) = time(r13WindowScrub(docs))
      require(oldTotals == newTotals, s"plans disagree: $oldTotals vs $newTotals")
      s
    } else -1.0
    println(s"""{"probe":"scrub-boilerplate","n_docs":$n,""" +
      s""""hot_fp_occupancy":$n,"new_sec":${math.round(newSec * 100) / 100.0},""" +
      s""""old_window_sec":${math.round(oldSec * 100) / 100.0}}""")
    0
  }

  /** The r13 spelling, verbatim shape (Dedup.scala:1012-1030 at commit
    * b25a35e): text-carrying row_number window over chunk_fp — kept
    * here ONLY as the probe's baseline. */
  private def r13WindowScrub(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = graft.operators.TextAnalysis.chunksOf(docs, 32, overlap = 0)
      .select(col("doc_id"), col("chunk_id"), col("chunk_text"),
        md5(col("chunk_text")).as("chunk_fp"))
    val elected = chunks.withColumn("rn",
      row_number().over(Window.partitionBy("chunk_fp")
        .orderBy("doc_id", "chunk_id")))
    elected
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN rn = 1 THEN " +
            "named_struct('chunk_id', chunk_id, 'chunk_text', chunk_text) END)), " +
            "x -> x.chunk_text)"), " ").as("clean_text"))
      .orderBy("doc_id")
  }
}
