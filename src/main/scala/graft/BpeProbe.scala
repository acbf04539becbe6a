package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: batched-BPE training probed at REAL vocabulary scale —
  * the k≫batch regime (scans=32 ⇒ ≈2k merges at batch 64) on a scaled
  * corpus, reporting the per-scan curve the PERF.md entry needs:
  * candidates in the ranked window, keeps, and scan seconds.
  *
  * Two things this makes observable that the registered queries don't:
  *   - the SCAN-TIME curve as the vocabulary (and therefore the
  *     per-scan rewrite depth and symbol inventory) grows — training
  *     cost is scans × (pair-count agg + ≤batch-deep rewrite), and the
  *     probe shows whether scan time stays flat or creeps with k;
  *   - whether the ranked candidate WINDOW (the safety valve bounding
  *     driver-side selection) ever binds: a scan with candidates ==
  *     window AND keeps < batch might have kept more with a wider
  *     window — `window_capped_scans` counts exactly those scans, so a
  *     silent cap is a reported number, not a guess (the spec pins the
  *     same invariant at fixture scale).
  *
  * Bypasses the vocabulary artifact cache on purpose: the probe
  * measures TRAINING cost (pay-once by contract), not the steady-state
  * artifact read the registered queries measure.
  *
  * Usage: runMain graft.Tool bpe-probe <sfDir> [scans] [batch] [window]
  * Prints one JSON line with the per-scan curve.
  */
object BpeProbe {
  def run(spark: SparkSession, args: Array[String]): Int = {
    val sfDir = args(0)
    val scans = if (args.length > 1) args(1).toInt else 32
    val batch = if (args.length > 2) args(2).toInt else 64
    val window = if (args.length > 3) args(3).toInt else 32768
    val t0 = System.nanoTime()
    val perScan = scala.collection.mutable.ListBuffer
      .empty[(Int, Int, Int, Double)]
    var capped = 0
    val (rows, _, _) = graft.operators.TextAnalysis.bpeTrainBatchedLoop(
      spark, sfDir, scans, batch, window, keepFinal = false,
      onScan = (k, cands, keeps, sec) => {
        if (cands >= window && keeps < batch) capped += 1
        System.err.println(f"[bpe-probe] scan $k%3d: candidates=$cands%6d " +
          f"keeps=$keeps%3d sec=$sec%7.2f")
        perScan += ((k, cands, keeps, sec))
      })
    val sec = (System.nanoTime() - t0) / 1e9
    def r2(v: Double) = math.round(v * 100) / 100.0
    val curve = perScan.map { case (k, c, kp, s) =>
      s"""{"scan":$k,"cands":$c,"keeps":$kp,"sec":${r2(s)}}"""
    }.mkString("[", ",", "]")
    println(s"""{"probe":"bpe_train_batched","sf":"$sfDir","scans":$scans,""" +
      s""""batch":$batch,"window":$window,"merges":${rows.size},""" +
      s""""window_capped_scans":$capped,"sec":${r2(sec)},"per_scan":$curve}""")
    0
  }
}
