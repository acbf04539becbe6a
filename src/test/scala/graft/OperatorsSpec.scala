package graft

import org.apache.spark.sql.functions._
import graft.operators.{Events, Similarity}

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("readOrWritePair: both halves cut from ONE forced computation, read back thereafter") {
    import graft.sources.ArtifactCache
    val dir = java.nio.file.Files.createTempDirectory("graft-pairart-").toString
    try {
      Seq((1L, "x")).toDF("id", "v").write.mode("overwrite")
        .parquet(s"$dir/t.parquet")
      var forced = 0
      def halves = {
        forced += 1
        (Seq((1L, 10L)).toDF("k", "a"), Seq((1L, "canon")).toDF("k", "c"))
      }
      // params carries the corpus dir, as every corpus-keyed caller's does
      val (a1, b1) = ArtifactCache.readOrWritePair(spark, "spec-pair",
        dir, s"$dir/t.parquet")(halves)
      assert(forced === 1, "one forcing writes BOTH halves")
      assert(a1.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 10L)))
      assert(b1.collect().map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "canon")))
      val (a2, b2) = ArtifactCache.readOrWritePair(spark, "spec-pair",
        dir, s"$dir/t.parquet")(halves)
      assert(forced === 1, "a second call reads the stored halves back")
      assert(a2.count() === 1 && b2.count() === 1)
    } finally ArtifactCache.deleteRecursively(new java.io.File(dir))
  }

  test("Memo.once: one compute per key, shared by racers, retry after failure, re-entrant-safe") {
    import graft.sources.Memo
    val cache = Memo.newCache[String]
    val computes = new java.util.concurrent.atomic.AtomicInteger(0)
    // 8 racers on one key: exactly one compute runs, all see its value
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map(_ => pool.submit(
        new java.util.concurrent.Callable[Long] {
          def call(): Long = Memo.once(cache, "k") {
            computes.incrementAndGet(); Thread.sleep(50); 42L
          }
        }))
      assert(results.map(_.get()).toSet === Set(42L))
      assert(computes.get() === 1, "racers share the one in-flight compute")
    } finally pool.shutdown()
    // re-entrant compute on the SAME map (the computeIfAbsent hazard —
    // IllegalStateException "recursive update") must work
    val nested = Memo.once(cache, "outer") { Memo.once(cache, "inner")(7L) + 1L }
    assert(nested === 8L)
    // SAME-KEY re-entrancy must throw, not deadlock on its own future
    // (ADVICE r13): the inner call sees the caller's incomplete slot
    val selfCall = intercept[IllegalStateException] {
      Memo.once(cache, "self") { Memo.once(cache, "self")(1L) }
    }
    assert(selfCall.getMessage.contains("re-entrant"))
    // ...and the failed outer compute cleared the slot, so a retry works
    assert(Memo.once(cache, "self")(9L) === 9L)
    // a failed compute clears the slot so a retry recomputes
    intercept[RuntimeException] {
      Memo.once(cache, "flaky") { throw new RuntimeException("boom") }
    }
    assert(Memo.once(cache, "flaky")(5L) === 5L)
    assert(Memo.peek(cache, "flaky") === Some(5L))
    assert(Memo.peek(cache, "absent") === None)
    // a racer waiting on a FAILED compute gets the ORIGINAL exception,
    // not join()'s CompletionException wrapper (ADVICE r13): a guard's
    // domain refusal must be catchable as itself in the racing session.
    // Pre-install the failed slot another thread would have left the
    // racer joining on — deterministic, no sleep-window flake.
    final class DomainBoom extends RuntimeException("domain refusal")
    val failedFut = new java.util.concurrent.CompletableFuture[java.lang.Long]()
    failedFut.completeExceptionally(new DomainBoom)
    cache.put("dboom", new Memo.Slot(failedFut, new Thread()))
    intercept[DomainBoom] { Memo.once(cache, "dboom")(0L) }: Unit
  }

  test("range join: bucketed formulation equals naive quadratic join") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"))
    val a = ev.select($"user_id", $"event_id".as("ea"), $"us".as("ua"))
    val b = ev.select($"user_id", $"event_id".as("eb"), $"us".as("ub"))
    val naive = a.join(b, Seq("user_id"))
      .filter($"ea" < $"eb" && abs($"ub" - $"ua") <= 300000000L)
      .select($"ea", $"eb").as[(Long, Long)].collect().toSet
    val bucketed = Events.nearbyEventPairs(spark, sf)
      .select($"event_a", $"event_b").as[(Long, Long)].collect().toSet
    assert(bucketed === naive)
    assert(bucketed.nonEmpty)
  }

  test("range-join candidate guard: tiny budget refuses before the join, default admits") {
    val admitted = Events.nearbyEventPairs(spark, sf).count()
    assert(admitted > 0)
    val e = intercept[graft.operators.PairExplosionException] {
      Events.nearbyEventPairs(spark, sf, maxCandidatePairs = 0L).count()
    }
    assert(e.getMessage.contains("candidate"))
    assert(e.getMessage.contains("interarrival"))
    // the refusal names the BOUNDED pair sibling (r14): skewed corpora
    // get pairs without raising the budget
    assert(e.getMessage.contains("nearbyEventTopM"))
  }

  test("bounded range join (top-m): exact |dt| top-m where timestamps are distinct, <= m everywhere, no budget needed") {
    val m = 3
    val gapUs = 300000000L
    val got = Events.nearbyEventTopM(spark, sf, gapMinutes = 5, m = m)
      .select($"user_id", $"event_a", $"event_b", $"diff_us")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    // bound: <= m neighbors per event, every pair same-user within gap
    val ev = graft.sources.Tables.events(spark, sf)
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"))
      .as[(Long, Long, Long)].collect().toSeq
    val usOf = ev.map(e => e._2 -> e._3).toMap
    val userOf = ev.map(e => e._2 -> e._1).toMap
    got.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.size <= m, s"event with ${rows.size} > $m neighbors")
    }
    got.foreach { case (u, a, b, d) =>
      assert(userOf(a) === u && userOf(b) === u, "cross-user pair")
      assert(d === usOf(b) - usOf(a), "diff_us must be signed us_b - us_a")
      assert(math.abs(d) <= gapUs, "pair outside the gap")
    }
    // exactness on distinct-timestamp users: the positional-window
    // candidates contain the true |dt| top-m (the j-th nearest neighbor
    // is among the j nearest predecessors or successors)
    val distinctTsUsers = ev.groupBy(_._1)
      .filter { case (_, rows) => rows.map(_._3).distinct.size == rows.size }
      .keySet
    assert(distinctTsUsers.nonEmpty, "fixture needs distinct-ts users")
    val brute = ev.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      rows.flatMap { case (_, a, ua) =>
        rows.filter(r => r._2 != a && math.abs(r._3 - ua) <= gapUs)
          .map { case (_, b, ub) => (u, a, b, ub - ua) }
          .sortBy { case (_, _, b, d) => (math.abs(d), b) }
          .take(m)
      }
    }.toSet
    val gotD = got.filter(r => distinctTsUsers(r._1)).toSet
    val bruteD = brute.filter(r => distinctTsUsers(r._1))
    assert(gotD === bruteD,
      "top-m must equal the brute-force |dt| ranking on distinct-ts users")
  }

  test("stratified sample: deterministic and proportionally correct") {
    val s1 = Events.stratifiedSample(spark, sf).collect().map(_.toString).toSeq
    val s2 = Events.stratifiedSample(spark, sf).collect().map(_.toString).toSeq
    assert(s1 === s2, "fixed seed must reproduce exactly")
    val counts = Events.stratifiedSample(spark, sf)
      .groupBy("event_type").count().as[(String, Long)].collect().toMap
    val totals = graft.sources.Tables.events(spark, sf)
      .groupBy("event_type").count().as[(String, Long)].collect().toMap
    assert(counts("purchase") === totals("purchase"), "fraction 1.0 keeps all")
    assert(!counts.contains("signup"), "fraction 0.0 keeps none")
    val clickFrac = counts("click").toDouble / totals("click")
    assert(clickFrac > 0.35 && clickFrac < 0.65, s"click fraction ~0.5, got $clickFrac")
  }

  test("IVF recall beats LSH on this corpus and respects nprobe structure") {
    val brute = Similarity.bruteForceTopK(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.6, s"IVF recall collapsed: $recall") // measured ~0.8
  }

  test("unpivot emits one row per (flag, metric) with matching values") {
    val rows = Events.lineitemUnpivot(spark, sf).collect()
    val flags = graft.sources.Tables.lineitem(spark, sf)
      .select("l_returnflag").distinct().count()
    assert(rows.length === flags * 3)
    assert(rows.map(_.getString(1)).distinct.sorted ===
      Array("mean_discount", "total_price", "total_qty"))
  }

  test("funnel: stage counts replay the per-user min-chain and never increase") {
    val out = Events.funnel(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.map(_._1).toSeq === Seq(1, 2, 3))
    assert(out.map(_._2).toSeq === Seq("view", "click", "purchase"))
    // brute-force replay on the raw rows
    val ev = graft.sources.Tables.events(spark, sf)
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
      .as[(Long, String, Long)].collect().groupBy(_._1)
    val hourUs = 3600L * 1000000L
    var (s1, s2, s3) = (0L, 0L, 0L)
    ev.values.foreach { rows =>
      val views = rows.filter(_._2 == "view").map(_._3)
      if (views.nonEmpty) {
        s1 += 1
        val t1 = views.min
        val clicks = rows.filter(r => r._2 == "click" && r._3 > t1 && r._3 <= t1 + hourUs).map(_._3)
        if (clicks.nonEmpty) {
          s2 += 1
          val t2 = clicks.min
          if (rows.exists(r => r._2 == "purchase" && r._3 > t2 && r._3 <= t2 + hourUs)) s3 += 1
        }
      }
    }
    assert(out.map(_._3).toSeq === Seq(s1, s2, s3))
    assert(s1 >= s2 && s2 >= s3, "funnel must be monotone")
    assert(s1 > 0, "stage 1 empty — degenerate fixture")
  }

  test("rolling active users: interval-delta gap boundaries (gap = W, W-1, 1)") {
    // the merge rule's exact edges: a gap of W days means two disjoint
    // coverage intervals (no merge needed, no double count); W-1 means
    // overlap (MUST merge or the user double-counts); plus single-day
    // users and an interleaved second user
    import java.sql.Timestamp
    val dir = java.nio.file.Files.createTempDirectory("graft-rau").toString
    def ev(id: Long, u: Long, day: Int) =
      (id, Timestamp.valueOf(f"2024-03-$day%02d 12:00:00"), u, "click", 1.0, "{}")
    Seq(
      ev(1, 1, 1), ev(2, 1, 8),            // gap exactly W=7: disjoint
      ev(3, 2, 1), ev(4, 2, 7),            // gap W-1=6: overlapping, must merge
      ev(5, 3, 4),                         // singleton
      ev(6, 4, 1), ev(7, 4, 2), ev(8, 4, 3)) // dense run
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    try {
      val out = Events.rollingActiveUsers(spark, dir, windowDays = 7).collect()
        .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2)))
      val ud = Seq((1L, 1), (1L, 8), (2L, 1), (2L, 7), (3L, 4),
        (4L, 1), (4L, 2), (4L, 3))
        .map { case (u, d) => (u, java.time.LocalDate.of(2024, 3, d)) }
      val days = ud.map(_._2).distinct.sorted
      assert(out.map(_._1).toSeq === days)
      out.foreach { case (day, dau, rolling) =>
        val expectRoll = ud.filter { case (_, d) =>
          !d.isBefore(day.minusDays(6)) && !d.isAfter(day) }
          .map(_._1).distinct.length.toLong
        assert(rolling === expectRoll, s"$day rolling")
        assert(dau === ud.count(_._2 == day).toLong, s"$day dau")
      }
    } finally graft.sources.ArtifactCache.deleteRecursively(new java.io.File(dir))
  }

  test("rolling active users: interval-delta rewrite equals the direct range count") {
    val out = Events.rollingActiveUsers(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2)))
    val ud = graft.sources.Tables.events(spark, sf)
      .select($"user_id", to_date($"ts").as("day")).distinct()
      .as[(Long, java.sql.Date)].collect()
      .map { case (u, d) => (u, d.toLocalDate) }
    val days = ud.map(_._2).distinct.sorted
    assert(out.map(_._1).toSeq === days.toSeq, "one row per observed day, ordered")
    out.foreach { case (day, dau, rolling) =>
      val expectDau = ud.count(_._2 == day).toLong
      val expectRoll = ud.filter { case (_, d) =>
        !d.isBefore(day.minusDays(6)) && !d.isAfter(day) }.map(_._1).distinct.length.toLong
      assert(dau === expectDau, s"$day dau")
      assert(rolling === expectRoll, s"$day rolling")
      assert(dau <= rolling, s"$day dau must not exceed the rolling count")
    }
  }

  test("stickiness: ratio of dau to the 30-day rolling distinct") {
    val out = Events.stickiness(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2), r.getDouble(3)))
    val ud = graft.sources.Tables.events(spark, sf)
      .select($"user_id", to_date($"ts").as("day")).distinct()
      .as[(Long, java.sql.Date)].collect()
      .map { case (u, d) => (u, d.toLocalDate) }
    assert(out.nonEmpty)
    out.foreach { case (day, dau, mau, st) =>
      val expMau = ud.filter { case (_, d) =>
        !d.isBefore(day.minusDays(29)) && !d.isAfter(day) }
        .map(_._1).distinct.length.toLong
      assert(dau === ud.count(_._2 == day).toLong, s"$day dau")
      assert(mau === expMau, s"$day mau")
      assert(st === math.floor(dau.toDouble / mau * 1e4 + 0.5) / 1e4, s"$day ratio")
      assert(st > 0.0 && st <= 1.0, s"$day bounds")
    }
  }

  test("value outliers: fence replays quartiles; counts and mass agree") {
    val out = Events.valueOutliers(spark, sf).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    val ev = graft.sources.Tables.events(spark, sf)
      .select("event_type", "value").as[(String, Double)].collect()
    def pct(vs: Seq[Double], p: Double): Double = {
      val s = vs.sorted; val h = (s.length - 1) * p
      val lo = s(h.toInt)
      if (h == h.toInt) lo else lo + (h - h.toInt) * (s(h.toInt + 1) - lo)
    }
    ev.groupBy(_._1).foreach { case (t, rs) =>
      val vs = rs.map(_._2).toSeq
      val (p25, p75) = (pct(vs, 0.25), pct(vs, 0.75))
      val (lo, hi) = (p25 - 1.5 * (p75 - p25), p75 + 1.5 * (p75 - p25))
      val outliers = vs.filter(v => v < lo || v > hi)
      val (n, nOut, frac, mass) = out(t)
      assert(n === vs.length.toLong, s"$t count")
      assert(nOut === outliers.length.toLong, s"$t outliers")
      assert(frac === math.floor(outliers.length.toDouble / vs.length * 1e4 + 0.5) / 1e4)
      val expMass = math.floor(outliers.map(v =>
        math.floor(v * 1e6 + 0.5).toLong).sum.toDouble / 1e6 * 1e2 + 0.5) / 1e2
      assert(mass === expMass, s"$t mass")
    }
  }

  test("cumulative users: growth curve replays first-seen accounting") {
    val out = Events.cumulativeUsers(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2), r.getLong(3)))
    val ud = graft.sources.Tables.events(spark, sf)
      .select($"user_id", to_date($"ts").as("day")).distinct()
      .as[(Long, java.sql.Date)].collect()
      .map { case (u, d) => (u, d.toLocalDate) }
    val first = ud.groupBy(_._1).map { case (u, rs) =>
      u -> rs.map(_._2).minBy(_.toEpochDay) }
    val days = ud.map(_._2).distinct.sortBy(_.toEpochDay)
    assert(out.map(_._1).toSeq === days.toSeq)
    var cum = 0L
    days.zip(out).foreach { case (day, (_, dau, newU, cumU)) =>
      val expNew = first.values.count(_ == day).toLong
      cum += expNew
      assert(dau === ud.count(_._2 == day).toLong, s"$day dau")
      assert(newU === expNew, s"$day new users")
      assert(cumU === cum, s"$day cumulative")
    }
    assert(out.last._4 === first.size.toLong, "final total = distinct users")
  }

  test("interarrival stats: percentiles replay the brute-force gap distribution") {
    val Seq(row) = Events.interarrivalStats(spark, sf).collect().toSeq
    val ev = graft.sources.Tables.events(spark, sf)
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"))
      .as[(Long, Long, Long)].collect()
    val gaps = ev.groupBy(_._1).values.flatMap { rs =>
      val sorted = rs.sortBy(r => (r._3, r._2)).map(_._3)
      sorted.zip(sorted.drop(1)).map { case (a, b) => b - a }
    }.toSeq.sorted
    def pct(p: Double): Double = {
      val h = (gaps.length - 1) * p
      val lo = gaps(h.toInt).toDouble
      if (h == h.toInt) lo else lo + (h - h.toInt) * (gaps(h.toInt + 1) - gaps(h.toInt))
    }
    assert(row.getLong(0) === gaps.length.toLong)
    assert(row.getDouble(1) === pct(0.25), "p25")
    assert(row.getDouble(2) === pct(0.5), "p50")
    assert(row.getDouble(3) === pct(0.75), "p75")
    assert(row.getDouble(4) === pct(0.9), "p90")
    assert(row.getLong(5) === gaps.max)
  }

  test("rfm segments: counts replay the brute-force median cuts") {
    val out = Events.rfmSegments(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ev = graft.sources.Tables.events(spark, sf)
      .select($"user_id", to_date($"ts").as("day"), $"value")
      .as[(Long, java.sql.Date, Double)].collect()
    val maxDay = ev.map(_._2.toLocalDate.toEpochDay).max
    val users = ev.groupBy(_._1).map { case (u, rs) =>
      val recency = (maxDay - rs.map(_._2.toLocalDate.toEpochDay).max).toDouble
      val freq = rs.length.toDouble
      val mon = math.floor(rs.map(r => math.floor(r._3 * 1e6 + 0.5).toLong).sum
        .toDouble / 1e6 * 1e2 + 0.5) / 1e2
      (u, recency, freq, mon)
    }.toSeq
    def median(vs: Seq[Double]): Double = {
      val s = vs.sorted; val h = (s.length - 1) * 0.5
      val lo = s(h.toInt)
      if (h == h.toInt) lo else lo + (h - h.toInt) * (s(h.toInt + 1) - lo)
    }
    val (rm, fm, mm) =
      (median(users.map(_._2)), median(users.map(_._3)), median(users.map(_._4)))
    val expect = users.groupBy { case (_, r, f, m) =>
        (if (r <= rm) "R+" else "R-") + (if (f > fm) "F+" else "F-") +
          (if (m > mm) "M+" else "M-") }
      .map { case (s, us) => s -> us.size.toLong }
    assert(out === expect)
    assert(out.values.sum === users.length.toLong, "segments partition the users")
  }

  test("retention cohorts: matrix replays the brute-force cohort pass") {
    val out = Events.retentionCohorts(spark, sf).collect()
      .map(r => ((r.getDate(0).toLocalDate, r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4))))
    val ud = graft.sources.Tables.events(spark, sf)
      .select($"user_id", to_date($"ts").as("day")).distinct()
      .as[(Long, java.sql.Date)].collect()
      .map { case (u, d) => (u, d.toLocalDate) }
    val cohortOf = ud.groupBy(_._1).map { case (u, rs) =>
      u -> rs.map(_._2).minBy(_.toEpochDay) }
    val expect = ud.map { case (u, d) =>
        val c = cohortOf(u)
        ((c, java.time.temporal.ChronoUnit.DAYS.between(c, d).toInt), u) }
      .filter(_._1._2 <= 7)
      .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).distinct.length.toLong }
    val sizes = cohortOf.values.groupBy(identity).map { case (c, cs) => c -> cs.size.toLong }
    assert(out.map(_._1).toSeq ===
      expect.keys.toSeq.sortBy { case (c, o) => (c.toEpochDay, o) })
    out.foreach { case ((c, o), (nActive, nCohort, ret)) =>
      assert(nActive === expect((c, o)), s"cohort $c offset $o active")
      assert(nCohort === sizes(c), s"cohort $c size")
      assert(ret === math.floor(nActive.toDouble / nCohort * 1e4 + 0.5) / 1e4)
    }
    // offset 0 is the cohort itself: retention exactly 1.0
    out.filter(_._1._2 == 0).foreach { case ((c, _), (nA, nC, ret)) =>
      assert(nA === nC && ret === 1.0, s"cohort $c day-0")
    }
  }
}
