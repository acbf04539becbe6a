package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import graft.plans.{AsOfJoinStrategy, GraftExtensions, TokenCountStrategy}

/** Drives the SparkSessionExtensions surface: the DotProduct optimizer
  * rewrite and the SQL-registered native functions. Uses its own session
  * (extensions bind at build time). */
class ExtensionsSpec extends SparkSpec {

  // getOrCreate on an existing session ignores withExtensions — use an
  // isolated newSession (own SessionState/registry, shared context) and
  // the runtime registration path
  private lazy val extSpark: SparkSession = {
    val s = TestSpark.spark.newSession()
    GraftExtensions.registerRuntime(s)
    s
  }

  test("registerRuntime is idempotent: a second call replaces nothing") {
    val registry = extSpark.sessionState.functionRegistry
    // a non-capturing builder lambda is one JVM-wide instance, so a
    // replaced registration shows in its fresh ExpressionInfo
    def entries = Seq("graft_dot", "graft_rolling_hash").map(FunctionIdentifier(_))
      .flatMap(id => Seq(registry.lookupFunctionBuilder(id).get, registry.lookupFunction(id).get))
    val (rules, strategies, before) = (extSpark.experimental.extraOptimizations,
      extSpark.experimental.extraStrategies, entries)
    assert(Seq(AsOfJoinStrategy, TokenCountStrategy).forall(strategies.contains))
    GraftExtensions.registerRuntime(extSpark)
    assert(extSpark.experimental.extraOptimizations eq rules)
    assert(extSpark.experimental.extraStrategies eq strategies)
    entries.zip(before).foreach { case (now, was) => assert(now eq was) }
  }

  test("optimizer rule rewrites HOF dot product to native DotProduct") {
    // parquet source: a literal input would be constant-folded away
    // before the plan is observable
    val emb = graft.sources.Tables.embeddings(extSpark, sf)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
    val df = emb.select(col("vec_id"),
      aggregate(zip_with(col("e"), col("e"), (x, y) => x * y),
        lit(0.0d), (acc, v) => acc + v).as("sq_norm"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.toLowerCase.contains("dotproduct"),
      s"HOF form should be rewritten:\n$optimized")
    // and it computes the same thing the HOF would
    val viaNative = df.orderBy("vec_id").limit(3).collect().map(_.getDouble(1))
    val viaHof = emb.select(col("vec_id"),
        expr("aggregate(zip_with(e, e, (x, y) -> double(x) * y), cast(0.1 as double), (acc, v) -> acc + v) - 0.1"))
      .orderBy("vec_id").limit(3).collect().map(_.getDouble(1))
    viaNative.zip(viaHof).foreach { case (n, h) => assert(math.abs(n - h) < 1e-9) }
  }

  test("SQL-registered graft_dot and graft_rolling_hash work end-to-end") {
    import extSpark.implicits._
    Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f), "abc"))
      .toDF("a", "b", "s").createOrReplaceTempView("ext_t")
    val row = extSpark.sql(
      "SELECT graft_dot(a, b) AS d, graft_rolling_hash(s) AS h FROM ext_t").head()
    assert(row.getDouble(0) === 11.0)
    // h("abc") = ((97*131 + 98)*131 + 99) % (2^31-1)
    val expected = ((97L * 131 + 98) * 131 + 99) % 2147483647L
    assert(row.getLong(1) === expected)
  }

  test("rolling hash: empty string hashes to 0, single char to its code") {
    import extSpark.implicits._
    val rows = Seq("", "a").toDF("s")
      .select(graft.functions.RollingHash.rolling_hash(col("s")))
      .as[Long].collect()
    assert(rows(0) === 0L)
    assert(rows(1) === 97L)
  }

  test("winnowing sketch golden: hand-computed Karp-Rabin window minima") {
    // The DuckDB oracle REPLAYS the same k-gram/window-min algorithm, so
    // a shared semantic bug would pass the replay — these literals pin
    // the semantics by hand. Base 131, mod 2^31-1, k=2, w=2:
    //   h("ab") = 97*131 + 98 = 12805
    //   h("ba") = 98*131 + 97 = 12935
    //   h("cb") = 99*131 + 98 = 13067
    import extSpark.implicits._
    val out = Seq("aba", "abab", "cba", "ab").toDF("s")
      .select(graft.functions.WinnowingSketch
        .winnowing_sketch(col("s"), 2, 2).as("v"))
      .as[Seq[Long]].collect()
    assert(out(0) === Seq(12805L), "one window over [ab, ba] -> min 12805")
    assert(out(1) === Seq(12805L, 12805L), "[ab,ba],[ba,ab] both min at ab")
    assert(out(2) === Seq(12935L), "[cb, ba] -> min is the later gram")
    assert(out(3) === Seq(12805L), "fewer grams than the window: one spanning window")
  }
}
