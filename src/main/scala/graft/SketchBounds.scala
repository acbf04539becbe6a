package graft

import org.apache.spark.sql.SparkSession
import graft.operators.{Events, Stats}

/** The four sketch error-bound contracts (the [[QuerySpec.Bound]] checks
  * of the `no_oracle` queries — StatsSpec's HLL <10% and GK rank guarantee,
  * AsOfJoinSpec's rollup <5%), runnable against an ARBITRARY data
  * directory. The sketch rows are the only registry entries whose
  * justification is an error bound rather than a DuckDB hash; this
  * makes that justification scale with the rest of the evidence
  * (25×/100× via `Tool sketch-bounds`) AND machine-checkable per round (r14:
  * [[Verify]] emits `sketch_bounds.json` next to the oracle dump and
  * [[Bench]] carries a `bounds` field in its JSON line, so the round
  * artifacts record measured-vs-bound instead of spec-trusting it).
  *
  * Usage: runMain graft.Tool sketch-bounds [dataDir]
  * Prints one line per check with the measured max relative error /
  * max rank drift and the bound; exits nonzero if any bound is broken.
  */
object SketchBounds {

  /** Every [[QuerySpec.Bound]] spec's outcome, in registry order:
    * (query name, measured error, bound, human detail).
    * `measured <= bound` is the pass condition. */
  def measure(spark: SparkSession, dir: String): Seq[(String, Double, Double, String)] =
    SparkEntry.specs.collect { case QuerySpec(name, _, QuerySpec.Bound(check), _) =>
      val (measured, bound, detail) = check(spark, dir)
      (name, measured, bound, detail)
    }

  /** events_approx_distinct: HLL++ (rsd=0.05) per event_type vs the
    * inline exact witness — the StatsSpec 10% contract. */
  def approxDistinct(spark: SparkSession, dir: String): (Double, Double, String) = {
    val ad = Events.approxDistinctUsers(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val adErr = ad.map { case (_, a, e) => math.abs(a - e).toDouble / e }.max
    (adErr, 0.10, s"${ad.length} event types, exact up to ${ad.map(_._3).max}")
  }

  /** events_distinct_rollup: union-of-daily HLL sketches vs exact — the
    * AsOfJoinSpec 5% contract (mergeability must not cost accuracy
    * beyond the sketch's own error). */
  def distinctRollup(spark: SparkSession, dir: String): (Double, Double, String) = {
    val dr = Events.distinctUsersViaSketchRollup(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    val drErr = dr.map { case (_, a, e) => math.abs(a - e).toDouble / e }.max
    (drErr, 0.05, s"${dr.length} event types, exact up to ${dr.map(_._3).max}")
  }

  /** stats_lineitem_columns_approx: per-column HLL n_distinct vs the
    * exact explode twin — StatsSpec's 10% (with its max(1, ·) floor
    * folded in by using the relative form only when exact > 10). */
  def lineitemColumnsApprox(spark: SparkSession, dir: String): (Double, Double, String) = {
    val exact = Stats.lineitemColumnStats(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val approx = Stats.lineitemColumnStatsApprox(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(3)))
    val colErr = approx.map { case (c, a) =>
      val e = exact(c).toDouble
      math.abs(a - e) / math.max(e, 10.0)
    }.max
    (colErr, 0.10, s"${approx.length} columns, max exact distinct ${exact.values.max}")
  }

  /** stats_equidepth_histogram_approx: GK (accuracy=10000) bucket
    * depths vs ideal n/10 — StatsSpec's rank guarantee with the same 4x
    * boundary-tie slack, expressed as a fraction of n so one number
    * reads across scales. */
  def equidepthApprox(spark: SparkSession, dir: String): (Double, Double, String) = {
    val eq = Stats.orderValueEquidepthApprox(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val n = eq.map(_._2).sum
    val drift = eq.map { case (_, cnt) => math.abs(cnt - n / 10).toDouble / n }.max
    (drift, 8.0 / 10000.0 + 10.0 / n,
      s"n=$n, depths ${eq.map(_._2).min}..${eq.map(_._2).max}")
  }

  /** Compact JSON object for the round artifacts:
    * {"name":{"measured":…,"bound":…,"ok":…},…} — Locale.ROOT so a
    * comma-decimal host locale can't emit invalid JSON. */
  def boundsJson(rows: Seq[(String, Double, Double, String)]): String =
    rows.map { case (name, measured, bound, _) =>
      val m = String.format(java.util.Locale.ROOT, "%.5f", Double.box(measured))
      val b = String.format(java.util.Locale.ROOT, "%.5f", Double.box(bound))
      s""""$name":{"measured":$m,"bound":$b,"ok":${measured <= bound}}"""
    }.mkString("{", ",", "}")

  def run(spark: SparkSession, args: Array[String]): Int = {
    val dir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val rows = measure(spark, dir)
    rows.foreach { case (name, measured, bound, detail) =>
      println(f"[sketch-bounds] $name%-34s measured=$measured%.5f bound=$bound%.5f ${if (measured <= bound) "OK" else "BROKEN"} ($detail)")
    }
    if (rows.exists { case (_, m, b, _) => m > b }) 1 else 0
  }
}
