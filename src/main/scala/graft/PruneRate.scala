package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: print [[graft.operators.Dedup.embeddingBlockPruningReport]]
  * for a data directory — the measured block-pair pruning rate of the
  * exact embedding threshold join (PERF.md records it per scale).
  *
  * Usage: runMain graft.Tool prune-rate <dataDir> [threshold] [numBlocks]
  */
object PruneRate {
  def run(spark: SparkSession, args: Array[String]): Int = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val threshold = if (args.length > 1) args(1).toDouble else 0.35
    val numBlocks = if (args.length > 2) args(2).toInt else 8
    val r = graft.operators.Dedup
      .embeddingBlockPruningReport(spark, dir, threshold, numBlocks).head()
    println(s"[prune-rate] dir=$dir theta=$threshold blocks=${r.getInt(0)} " +
      s"pairs=${r.getLong(1)} surviving=${r.getLong(2)} pruned_frac=${r.getDouble(3)}")
    0
  }
}
