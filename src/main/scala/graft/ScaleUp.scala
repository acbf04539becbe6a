package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Dev tool: amplify a test-data directory, two modes.
  *
  * UNIFORM (default): key-offset self-union — copy i lives in its own
  * key universe (keys += i·10⁹), so joins stay referentially intact
  * while every table grows by the factor. Bounded dims (region, nation)
  * are NOT amplified, matching their real-world scaling. This is the
  * clone-amplification grid every 25×/100× capstone uses.
  *
  * SKEW (`skew` as 4th arg): Zipf-style HOT-KEY amplification — the 1%
  * of entities whose key ≡ 0 (mod 100) are amplified ×factor while the
  * rest of the corpus stays at 1 copy, and — crucially — the ENTITY key
  * of every copy stays IDENTICAL (only the row-identity key is
  * offset), so the result is a few keys owning most of the data rather
  * than more keys. factor=1000 puts ~91% of rows on 1% of keys. This
  * is the adversarial distribution the uniform grid cannot produce:
  * uniform cloning keeps every group the same relative size, so a plan
  * can pass 100× uniform and still die on one hot user/doc/supplier at
  * cluster scale. Per table:
  *   - events:     hot user_id → ×factor rows, fresh event_id, SAME
  *                 user (hot groupBy/session/state keys);
  *   - documents:  hot doc_id → ×factor clones, fresh doc_id, SAME
  *                 text (hot shingles + giant exact-dup groups);
  *   - embeddings: hot vec_id → ×factor clones, fresh vec_id, SAME
  *                 vector (giant vector groups);
  *   - orders:     orders of hot custkeys → ×factor, fresh o_orderkey,
  *                 SAME o_custkey (hot customer join key);
  *   - lineitem:   lines of those hot orders follow their order copies
  *                 (l_orderkey tracks the copied order; l_suppkey /
  *                 l_partkey stay, so supplier/part join keys skew by
  *                 the same factor);
  *   - dims (region, nation, customer, supplier, part): unchanged.
  *
  * LONGDOC (`longdoc` as 4th arg): per-ROW length amplification — the
  * third hazard axis, which neither clone grids nor key skew can
  * produce: the 1% hot documents keep their doc_id and row count but
  * their TEXT grows ×factor. Each hot doc becomes factor segments of
  * its thousand-block HEAD's text (marker tokens keep segments near-
  * but not exactly identical) plus ONE trailing edition marker — so
  * the ~10 hot docs per thousand-block are book-length NEAR-DUPLICATE
  * EDITIONS of each other (shingle jaccard ~0.999), the shape that
  * drives long×long pairs through any similarity blocker into
  * verification. At factor=1000 a ~300-char snippet becomes a
  * ~530 KB book-sized row.
  * What it stresses that the other grids cannot:
  *   - row-local quadratics (edit-distance DP is O(L²) PER PAIR — a
  *     50k-token doc is 2.5G cells, where 100× cloning never leaves
  *     ~60-token rows);
  *   - single-row stragglers (a row cannot be split across tasks, so
  *     one giant doc pins one core regardless of parallelism);
  *   - per-doc array materialization (shingle/token/position arrays
  *     built with transform(...) live in ONE row's memory);
  *   - within-doc repetition (factor near-identical segments inside
  *     one doc → position-level dup-span and winnowing occupancy).
  * Only documents change; every other table copies through unchanged,
  * so the full registry runs against the output dir. n_chars is
  * recomputed to stay consistent with the grown text.
  *
  * Usage: runMain graft.Tool scale-up <srcSfDir> <outDir> <factor> [skew|longdoc]
  */
object ScaleUp {
  private val KeyOffset = 1000000000L

  /** 1% hot-entity predicate — key ≡ 0 (mod 100). Deterministic and
    * oracle-replayable (the driver keys are dense sequential ids). */
  private def hot(key: Column): Column = key % 100 === 0

  def run(spark: SparkSession, args: Array[String]): Int = {
    val (src, out, factor, mode) = args match {
      case Array(s, o, f)            => (s, o, f.toInt, "uniform")
      case Array(s, o, f, "skew")    => (s, o, f.toInt, "skew")
      case Array(s, o, f, "longdoc") => (s, o, f.toInt, "longdoc")
      case _ => sys.error("usage: scale-up <srcSfDir> <outDir> <factor> [skew|longdoc]")
    }
    val skewMode = mode == "skew"

    def guardUniverse(df: DataFrame, keyCols: Seq[String]): Unit = {
      // universes must not overlap: a source key >= KeyOffset would
      // silently cross-link copies and corrupt every join downstream
      val maxCols = keyCols.map(max)
      val maxKey = df.agg(
        if (maxCols.size == 1) maxCols.head else greatest(maxCols: _*))
        .head().getLong(0)
      require(maxKey < KeyOffset,
        s"source keys reach $maxKey >= offset $KeyOffset; raise KeyOffset")
    }

    def amplify(df: DataFrame, keyCols: Seq[String]): DataFrame = {
      guardUniverse(df, keyCols)
      (0 until factor).map { i =>
        keyCols.foldLeft(df) { (d, k) =>
          d.withColumn(k, col(k) + lit(i * KeyOffset))
        }
      }.reduce(_ unionByName _)
    }

    /** Hot rows explode to `factor` copies (copy i offsets ONLY the
      * row-identity keys by i·10⁹; the entity key is untouched), cold
      * rows stay single — one pass, no factor-way union. */
    def skewAmplify(df: DataFrame, hotOn: Column,
        rowKeys: Seq[String]): DataFrame = {
      guardUniverse(df, rowKeys)
      df.withColumn("__n", when(hotOn, lit(factor.toLong)).otherwise(lit(1L)))
        .select(col("*"), explode(sequence(lit(0L), col("__n") - 1)).as("__i"))
        .drop("__n")
        .pipe { d =>
          rowKeys.foldLeft(d)((dd, k) =>
            dd.withColumn(k, col(k) + col("__i") * lit(KeyOffset)))
        }
        .drop("__i")
    }

    /** Hot docs grow ×factor in LENGTH (not count): factor segments of
      * a BASE text plus marker tokens. The base is the thousand-block
      * head's text (doc_id rounded down to a multiple of 1000), so the
      * ~10 hot docs of each thousand-block become book-length NEAR-
      * duplicates of each other — identical segments except a per-doc
      * ` d<offset>` marker — the "two editions of the same book" shape
      * that makes candidate blocking admit long×long pairs (a long×
      * short pair never passes a Jaccard blocker; two long editions
      * always do, and THEY are where per-pair O(L²) verification
      * detonates). Built with one broadcast join against the ≤|docs|/1000
      * block-head table; segments are near- but not exactly identical
      * both within a doc (s<i> varies) and across editions (d<off>
      * varies), so exact-dedup collapses nothing. */
    def longdocDocuments(docs: DataFrame): DataFrame = {
      val heads = docs.filter(col("doc_id") % 1000 === 0)
        .select(col("doc_id").as("base_id"), col("text").as("base_text"))
      docs
        .withColumn("base_id", col("doc_id") - (col("doc_id") % 1000))
        .join(broadcast(heads), Seq("base_id"), "left")
        .withColumn("text",
          when(hot(col("doc_id")) && col("base_text").isNotNull,
            concat(
              concat_ws(" ", transform(sequence(lit(0), lit(factor - 1)),
                i => concat(col("base_text"), lit(" s"), i))),
              // the edition marker lives in ONE trailing region, not in
              // every segment: editions must stay shingle-similar
              // (jaccard ~0.999, well past any blocking threshold) so
              // the long×long pair actually reaches verification —
              // per-segment markers would dilute jaccard below the
              // blocker and hide the hazard
              lit(" edition d"), col("doc_id") % 1000))
            .otherwise(col("text")))
        .drop("base_id", "base_text")
        .withColumn("n_chars", length(col("text")).cast("long"))
    }

    val plans: Seq[(String, DataFrame)] =
      if (mode == "longdoc") Seq(
        "region" -> Tables.region(spark, src),
        "nation" -> Tables.nation(spark, src),
        "customer" -> Tables.customer(spark, src),
        "supplier" -> Tables.supplier(spark, src),
        "part" -> Tables.part(spark, src),
        "orders" -> Tables.orders(spark, src),
        "lineitem" -> Tables.lineitem(spark, src),
        "events" -> Tables.events(spark, src),
        "documents" -> longdocDocuments(Tables.documents(spark, src)),
        "embeddings" -> Tables.embeddings(spark, src))
      else if (!skewMode) Seq(
        "region" -> Tables.region(spark, src),                       // bounded dim
        "nation" -> Tables.nation(spark, src),                       // bounded dim
        "customer" -> amplify(Tables.customer(spark, src), Seq("c_custkey")),
        "supplier" -> amplify(Tables.supplier(spark, src), Seq("s_suppkey")),
        "part" -> amplify(Tables.part(spark, src), Seq("p_partkey")),
        "orders" -> amplify(Tables.orders(spark, src), Seq("o_orderkey", "o_custkey")),
        "lineitem" -> amplify(Tables.lineitem(spark, src),
          Seq("l_orderkey", "l_partkey", "l_suppkey")),
        "events" -> amplify(Tables.events(spark, src), Seq("event_id", "user_id")),
        "documents" -> amplify(Tables.documents(spark, src), Seq("doc_id")),
        "embeddings" -> amplify(Tables.embeddings(spark, src), Seq("vec_id")))
      else {
        // lineitem copies must track their order's copied key: tag each
        // line with its order's custkey (broadcast of the orders keys),
        // then explode hot lines in lockstep with the order copies
        val orderKeys = Tables.orders(spark, src)
          .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
        val lineWithCust = Tables.lineitem(spark, src)
          .join(broadcast(orderKeys), Seq("l_orderkey"))
        Seq(
          "region" -> Tables.region(spark, src),
          "nation" -> Tables.nation(spark, src),
          "customer" -> Tables.customer(spark, src),
          "supplier" -> Tables.supplier(spark, src),
          "part" -> Tables.part(spark, src),
          "orders" -> skewAmplify(Tables.orders(spark, src),
            hot(col("o_custkey")), Seq("o_orderkey")),
          "lineitem" -> skewAmplify(lineWithCust,
            hot(col("o_custkey")), Seq("l_orderkey")).drop("o_custkey"),
          "events" -> skewAmplify(Tables.events(spark, src),
            hot(col("user_id")), Seq("event_id")),
          "documents" -> skewAmplify(Tables.documents(spark, src),
            hot(col("doc_id")), Seq("doc_id")),
          "embeddings" -> skewAmplify(Tables.embeddings(spark, src),
            hot(col("vec_id")), Seq("vec_id")))
      }

    plans.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }
    0
  }

  /** Tiny pipe helper (Dataset.transform with nicer call-site syntax
    * inside the one-pass skew explode). */
  private implicit class Piped(private val df: DataFrame) extends AnyVal {
    def pipe(f: DataFrame => DataFrame): DataFrame = f(df)
  }
}
