package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.QuerySpec.{Bound, Oracle}
import graft.operators._
import graft.streaming.EventStream

/** One registered query: its name, its builder over (session, data
  * directory), how its rows are checked, and whether it drains a
  * Structured Streaming query to completion. */
final case class QuerySpec(name: String,
    build: (SparkSession, String) => DataFrame, check: QuerySpec.Check,
    drain: Boolean = false)

object QuerySpec {
  /** How a query's rows are checked: every query has exactly one. */
  sealed trait Check

  /** The rows equal what DuckDB returns for `sql` on the same tables. */
  final case class Oracle(sql: String) extends Check

  /** An engine-specific sketch no SQL can replay: `measure(spark, dir)`
    * gives (measured error, bound, detail) and passes when the measured
    * error is at most the bound. */
  final case class Bound(
      measure: (SparkSession, String) => (Double, Double, String)) extends Check
}

/** Driver contract — see SURVEY.md §7.
  *
  * Every implemented operator from SURVEY.md §2 (and the training-data
  * pipeline extensions) registers once in [[specs]]: its Spark builder
  * and either a DuckDB oracle or a sketch bound. [[queries]] and
  * [[oracleSql]] are projections of that list. Column names are aliased
  * identically on both sides (the driver's compare sorts columns by name
  * before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's entire job — word-count + top-K (SURVEY.md §3.1). */
  def entry(spark: SparkSession): DataFrame =
    WordCount.topK(spark, "/root/testdata/sf0.001", 100)

  /** Builders by name, projected from [[specs]]. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(s => s.name -> s.build).toMap

  /** DuckDB oracle SQL by name, projected from the [[Oracle]] specs. */
  lazy val oracleSql: Map[String, String] =
    specs.collect { case QuerySpec(name, _, Oracle(sql), _) => name -> sql }.toMap

  /** Shared CTE prefix (quality, langid, token counts, 3-gram-Jaccard
    * near-dup losers) for the curation_pipeline / curation_gated
    * oracles — one definition so the two stay in lockstep. */
  /** Classifier-oracle CTE generator: labeled hashed features (the
    * text_hash_classifier bucket device at dim 64 + intercept bucket
    * −1, dense length-saturation/punct-ratio signals at buckets −2/−3,
    * relative frequencies ×4 scaled and 6-dp quantized) over the
    * documents subset selected by `where`, prefixed so the hold-out
    * oracle can build TWO feature sets (train + unseen) in one query.
    * The quality-gate label rides every feature row. */
  private def classifierFeatureCtes(p: String, where: String): String =
    s"""${p}toks AS (SELECT doc_id,
      |    unnest(list_filter(string_split_regex(text, '[ \\n]'), t -> t != '')) AS tok
      |  FROM documents WHERE $where),
      |${p}bk AS (SELECT doc_id, CAST(list_sum(list_transform(range(1, 9),
      |        i -> (strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1)
      |             * pow(16, 8 - i))) AS BIGINT) % 64 AS bucket
      |      FROM ${p}toks),
      |${p}cnt AS (SELECT doc_id, bucket, count(*) AS cnt FROM ${p}bk GROUP BY doc_id, bucket),
      |${p}nt AS (SELECT doc_id, sum(cnt) AS n_tok FROM ${p}cnt GROUP BY doc_id),
      |${p}q AS (SELECT doc_id,
      |  floor((0.5 * (n_stop / greatest(n_tok, 1.0))
      |      + 0.3 * least(len / 500.0, 1.0)
      |      + 0.2 * (1.0 - n_punct / greatest(len, 1.0))) * 1e4 + 0.5) / 1e4 AS quality
      |  FROM (SELECT doc_id,
      |          CAST(len(list_filter(string_split_regex(text, '[ \\n]'), t -> t != '')) AS DOUBLE) AS n_tok,
      |          CAST(len(regexp_extract_all(text, '\\b(the|a|of|and|to|in|is)\\b')) AS DOUBLE) AS n_stop,
      |          CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \\n]')) AS DOUBLE) AS n_punct,
      |          CAST(length(text) AS DOUBLE) AS len
      |        FROM documents WHERE $where)),
      |${p}y AS (SELECT doc_id, CASE WHEN quality >= 0.4 THEN 1.0 ELSE 0.0 END AS y FROM ${p}q),
      |${p}feat AS (SELECT c.doc_id, c.bucket,
      |            floor(4.0 * (CAST(c.cnt AS DOUBLE) / CAST(n.n_tok AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS x
      |          FROM ${p}cnt c JOIN ${p}nt n ON c.doc_id = n.doc_id
      |          UNION ALL SELECT doc_id, CAST(-1 AS BIGINT) AS bucket, 1.0 AS x FROM documents WHERE $where
      |          UNION ALL SELECT doc_id, CAST(-2 AS BIGINT) AS bucket,
      |            least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS x FROM documents WHERE $where
      |          UNION ALL SELECT doc_id, CAST(-3 AS BIGINT) AS bucket,
      |            CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \\n]')) AS DOUBLE)
      |              / greatest(CAST(length(text) AS DOUBLE), 1.0) AS x FROM documents WHERE $where),
      |${p}base AS (SELECT f.doc_id, f.bucket, f.x, y.y FROM ${p}feat f JOIN ${p}y y ON f.doc_id = y.doc_id)""".stripMargin

  /** The EIGHT unrolled full-batch gradient steps over `cbase`,
    * replaying TextAnalysis.classifierTrainFrame exactly — rational
    * sigmoid (pure IEEE, no libm), qsum-quantized margin/gradient sums,
    * 6-dp weight rounding, lr 3.5 — the way ann_topk_ivf's oracle
    * replays Lloyd. `nd` counts the TRAIN set; w8 is the learned
    * weight table. */
  private def classifierStepCtes(trainWhere: String): String =
    s"""nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents WHERE $trainWhere),
      |w0 AS (SELECT CAST(unnest(range(-3, 64)) AS BIGINT) AS bucket, 0.0 AS w),
      |""".stripMargin +
    (1 to 8).map { i =>
      val prev = s"w${i - 1}"
      s"""m$i AS (SELECT b.doc_id,
         |  CAST(sum(CAST(floor(b.x * pw.w * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS m,
         |  min(b.y) AS y
         |  FROM cbase b JOIN $prev pw ON b.bucket = pw.bucket GROUP BY b.doc_id),
         |r$i AS (SELECT doc_id,
         |  floor((0.5 + 0.5 * m / (1.0 + abs(m))) * 1e6 + 0.5) / 1e6 - y AS r FROM m$i),
         |g$i AS (SELECT b.bucket,
         |  CAST(sum(CAST(floor(r.r * b.x * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS g
         |  FROM cbase b JOIN r$i r ON b.doc_id = r.doc_id GROUP BY b.bucket),
         |w$i AS (SELECT pw.bucket,
         |  floor((pw.w - 3.5 * (coalesce(g.g, 0.0) / (SELECT n FROM nd))) * 1e6 + 0.5) / 1e6 AS w
         |  FROM $prev pw LEFT JOIN g$i g ON pw.bucket = g.bucket)""".stripMargin
    }.mkString(",\n")

  /** Full-corpus train/score chain (train == score set). */
  private val classifierCtes: String =
    "WITH " + classifierFeatureCtes("c", "TRUE") + ",\n" +
      classifierStepCtes("TRUE")

  /** Hold-out chain: train CTEs over the even half, a second feature
    * set (prefix s) over the unseen odd half for scoring. */
  private val classifierHoldoutCtes: String =
    "WITH " + classifierFeatureCtes("c", "doc_id % 2 = 0") + ",\n" +
      classifierFeatureCtes("s", "doc_id % 2 = 1") + ",\n" +
      classifierStepCtes("doc_id % 2 = 0")

  /** The deterministic k-doc training sample: k smallest seeded-md5
    * keys (ties by doc_id) — replaying
    * TextAnalysis.classifierSampleDocs' TakeOrderedAndProject. */
  private val clsSampleCte: String =
    "smp AS (SELECT doc_id FROM documents\n" +
      "  ORDER BY md5('clss0|' || CAST(doc_id AS VARCHAR)), doc_id LIMIT " +
      s"${graft.operators.TextAnalysis.ClsSampleK})"
  private val clsSampleWhere = "doc_id IN (SELECT doc_id FROM smp)"

  /** Sampled-trainer chain: gradient steps over the k sampled docs
    * only (nd counts the sample — the trainer's batch size). */
  private val classifierSampledCtes: String =
    "WITH " + clsSampleCte + ",\n" +
      classifierFeatureCtes("c", clsSampleWhere) + ",\n" +
      classifierStepCtes(clsSampleWhere)

  /** Sampled-train / full-corpus-score chain: a second feature set
    * (prefix s) over ALL documents, scored against the sampled w8. */
  private val classifierSampledScoreCtes: String =
    "WITH " + clsSampleCte + ",\n" +
      classifierFeatureCtes("c", clsSampleWhere) + ",\n" +
      classifierFeatureCtes("s", "TRUE") + ",\n" +
      classifierStepCtes(clsSampleWhere)

  /** Body form (no WITH) so consumers can prepend other CTE chains —
    * the learned-gate oracle chains the classifier replay in front. */
  private val curationCtesBody: String =
    """q AS (SELECT doc_id,
      |  floor((0.5 * (n_stop / greatest(n_tok, 1.0))
      |      + 0.3 * least(len / 500.0, 1.0)
      |      + 0.2 * (1.0 - n_punct / greatest(len, 1.0))) * 1e4 + 0.5) / 1e4 AS quality
      |  FROM (SELECT doc_id,
      |          CAST(len(list_filter(string_split_regex(text, '[ \n]'), t -> t != '')) AS DOUBLE) AS n_tok,
      |          CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is)\b')) AS DOUBLE) AS n_stop,
      |          CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \n]')) AS DOUBLE) AS n_punct,
      |          CAST(length(text) AS DOUBLE) AS len
      |        FROM documents)),
      |l AS (SELECT doc_id,
      |  CASE WHEN hd > greatest(he, hs, hf) THEN 'de'
      |       WHEN hf > greatest(he, hs) THEN 'fr'
      |       WHEN hs > he THEN 'es'
      |       WHEN he > 0 THEN 'en'
      |       ELSE 'und' END AS lang_pred
      |  FROM (SELECT doc_id,
      |          len(regexp_extract_all(text, '\b(the|and|of|to|is|that|it)\b')) AS he,
      |          len(regexp_extract_all(text, '\b(el|la|de|que|y|los|las)\b')) AS hs,
      |          len(regexp_extract_all(text, '\b(le|la|les|de|et|est|une)\b')) AS hf,
      |          len(regexp_extract_all(text, '\b(der|die|das|und|ist|nicht)\b')) AS hd
      |        FROM documents)),
      |t AS (SELECT doc_id,
      |  CAST(len(list_filter(string_split_regex(text, '[ \n]'), x -> x != '')) AS INT) AS n_tokens
      |  FROM documents),
      |""".stripMargin +
    """w AS (SELECT doc_id,
      |  list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS words FROM documents),
      |sh AS (SELECT DISTINCT doc_id, shingle
      |       FROM (SELECT doc_id,
      |               unnest([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
      |                       for i in range(1, greatest(len(words) - 1, 1))]) AS shingle
      |             FROM w)),
      |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |losers AS (
      |  SELECT DISTINCT b.doc_id AS doc_id
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |    JOIN sz sa ON sa.doc_id = a.doc_id
      |    JOIN sz sb ON sb.doc_id = b.doc_id
      |  GROUP BY a.doc_id, b.doc_id, sa.sz, sb.sz
      |  HAVING floor((count(*) * 1.0 / (sa.sz + sb.sz - count(*))) * 1e4 + 0.5) / 1e4 >= 0.8)""".stripMargin

  private val curationCtes: String = "WITH " + curationCtesBody

  /** Dup-span machinery as DuckDB CTEs (n=5 grams over the `w` words
    * CTE the caller provides): duplicated positional grams → merged
    * maximal spans → covered-position expansion → cleaned text. Shared
    * by text_scrub_dup_spans and curation_scrubbed. */
  private val scrubSpanCtes: String =
    """g AS (SELECT doc_id, u.pos AS pos, u.gram AS gram
      |      FROM (SELECT doc_id,
      |              unnest([{'pos': i - 1,
      |                       'gram': words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' ' || words[i+3] || ' ' || words[i+4]}
      |                      for i in range(1, greatest(len(words) - 3, 1))]) AS u
      |            FROM w)),
      |shared AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
      |           GROUP BY gram HAVING count(*) > 1),
      |dupg AS (SELECT g.doc_id, g.pos, g.pos + 4 AS e
      |         FROM g JOIN shared ON g.gram = shared.gram),
      |marked AS (SELECT doc_id, pos, e,
      |    CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY pos
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |           OR pos > max(e) OVER (PARTITION BY doc_id ORDER BY pos
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
      |         THEN 1 ELSE 0 END AS new_span
      |  FROM dupg),
      |numbered AS (SELECT doc_id, pos, e,
      |    sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      |  FROM marked),
      |spans AS (SELECT doc_id, span_id, min(pos) AS s, max(e) AS ee
      |          FROM numbered GROUP BY doc_id, span_id),
      |perdoc AS (SELECT doc_id, sum(ee - s + 1) AS dup_tok
      |           FROM spans GROUP BY doc_id),
      |cov AS (SELECT doc_id, unnest(range(s, ee + 1)) AS p FROM spans),
      |posn AS (SELECT doc_id, unnest(range(0, len(words))) AS p FROM w),
      |kept AS (SELECT posn.doc_id, posn.p FROM posn
      |         LEFT JOIN cov ON posn.doc_id = cov.doc_id AND posn.p = cov.p
      |         WHERE cov.p IS NULL),
      |clean AS (SELECT k.doc_id,
      |            string_agg(w.words[k.p + 1], ' ' ORDER BY k.p) AS clean_text
      |          FROM kept k JOIN w ON w.doc_id = k.doc_id GROUP BY k.doc_id)""".stripMargin

  /** Shared DuckDB replay of the 5-round BPE trainer (CTEs w,
    * s0..s5, t1..t5, r1..r5): text_bpe_train reads the per-round
    * stats, text_bpe_apply the final encoded corpus state s5. */
  private val bpeReplayCtes: String = bpeReplayCtesOver("")

  /** The 5-round trainer replay with the training corpus restricted by
    * `wWhere` (empty = all documents) — shared by the full-corpus
    * trainer/encoder oracles and the hold-out encoder's train chain.
    * The predicate is spliced via a placeholder so the SQL template
    * stays a plain (escape-free) triple-quoted string. */
  /** Delimited-state SQL shared by the train chain (s0) and the
    * hold-out chain (h0): tokenize, then wrap every symbol in its own
    * leading+trailing chr(2). Single-sourced so a tokenizer-parity fix
    * cannot diverge the two chains. `src` must yield (doc_id, words). */
  private def delimitedStateSql(name: String, src: String,
      materialized: Boolean = false): String = {
    val as = if (materialized) "AS MATERIALIZED" else "AS"
    (s"$name $as (SELECT doc_id, CASE WHEN len(words) = 0 THEN ''\n" +
      """         ELSE chr(2) || array_to_string(words, chr(2) || chr(2)) || chr(2) END AS s
        |       FROM """.stripMargin + src + ")")
  }

  /** Pair-count CTE over a delimited state — shared by the sequential
    * replay (p1..p5) and the batched replay's per-scan ranking, so the
    * two trainers' count semantics can never drift. */
  private def pairCountsSql(name: String, prev: String): String =
    s"""$name AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS n_pair
       |  FROM (SELECT unnest([{'w1': syms[i], 'w2': syms[i+1]}
       |                       for i in range(1, len(syms))]) AS p
       |        FROM (SELECT list_filter(string_split(s, chr(2)), x -> x != '') AS syms FROM $prev))
       |  GROUP BY 1, 2)""".stripMargin

  /** Sentinel-guarded merge replay shared by the train chain (s$k) and
    * the hold-out chain (h$k): a NULL winner replays identity. */
  private def guardedReplaceSql(name: String, prev: String, k: Int,
      materialized: Boolean = false): String = {
    val as = if (materialized) "AS MATERIALIZED" else "AS"
    s"""$name $as (SELECT doc_id, CASE WHEN g.w1 IS NULL THEN s
       |          ELSE replace(s,
       |            chr(2) || g.w1 || chr(2) || chr(2) || g.w2 || chr(2),
       |            chr(2) || g.w1 || chr(1) || g.w2 || chr(2)) END AS s
       |        FROM $prev CROSS JOIN g$k g)""".stripMargin
  }

  private def bpeReplayCtesOver(wWhere: String): String = {
    // fully-delimited state (chr(2)||sym||chr(2) per symbol, so inner
    // boundaries are DOUBLE chr(2)) — mirrors bpeTrainBatchedLoop at
    // batch = window = 1, including the left-to-right non-overlapping
    // replace() semantics.
    // Each round guards the exhausted case: an empty t_k replays the
    // identity instead of CROSS JOINing the state away to zero rows
    // (the Spark loop stops via its `done` flag and keeps the last
    // state; the one-row sentinel join below is the SQL spelling).
    val head =
      """WITH w AS (SELECT doc_id,
        |             list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS words
        |           FROM documents __WWHERE__),
        |""".stripMargin.replace("__WWHERE__", wWhere) +
        delimitedStateSql("s0", "w", materialized = true)
    // g$k always holds exactly one row (the winner, or a NULL sentinel
    // when pairs are exhausted), so the state chain stays a cheap
    // 1-row CROSS JOIN — scalar-subquery spellings of the guard made
    // DuckDB re-evaluate the whole upstream chain per reference.
    // States are MATERIALIZED: each is read by p(k+1), s(k+1) and r$k.
    val rounds = (1 to 5).map { k =>
      val prev = s"s${k - 1}"
      s"""${pairCountsSql(s"p$k", prev)},
         |t$k AS (SELECT w1, w2, n_pair FROM p$k ORDER BY n_pair DESC, w1, w2 LIMIT 1),
         |g$k AS MATERIALIZED (SELECT w1, w2 FROM t$k
         |        UNION ALL
         |        SELECT CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
         |        WHERE NOT EXISTS (SELECT 1 FROM t$k)),
         |${guardedReplaceSql(s"s$k", prev, k, materialized = true)},
         |r$k AS (SELECT $k AS round, t.w1, t.w2, t.n_pair,
         |        (SELECT CAST(sum(length(s) - length(replace(s, chr(1), ''))) AS BIGINT) FROM s$k) AS glued,
         |        (SELECT CAST(sum(length(s) - length(replace(s, chr(2), ''))) // 2 AS BIGINT) FROM s$k) AS n_tokens_after
         |       FROM t$k t)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** Hold-out encoder replay: train t1..t5/g1..g5 on the EVEN split,
    * then h0..h5 apply the learned merges (same sentinel guards) to the
    * odd documents — the SQL mirror of TextAnalysis.bpeEncodeHoldout. */
  private val bpeHoldoutCtes: String = {
    val train = bpeReplayCtesOver("WHERE doc_id % 2 = 0")
    val oddWords =
      """(SELECT doc_id,
        |               list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS words
        |             FROM documents WHERE doc_id % 2 = 1)""".stripMargin
    val h0 = delimitedStateSql("h0", oddWords)
    val hs = (1 to 5).map(k => guardedReplaceSql(s"h$k", s"h${k - 1}", k))
    (train +: h0 +: hs).mkString(",\n")
  }

  /** Apply an ORDERED merge list to a delimited state in ONE pass: the
    * scan's kept merges aggregate into a list (each encoded w1·chr(3)·w2
    * — chr(3) is outside both the corpus alphabet and the glue/sep
    * chars, and w1/w2 contain no chr(3), so the split is unambiguous
    * even for glued operands) and list_reduce folds the SAME
    * fully-delimited literal replace as guardedReplaceSql /
    * TextAnalysis.mergeRewrite over the doc string, merge by merge in
    * seq order. One corpus pass per scan instead of one per merge; an
    * exhausted scan (empty merge list) folds the identity via the
    * coalesce-to-[] guard. */
  private def listReduceApplySql(name: String, prev: String,
      sel: String): String =
    s"""$name AS MATERIALIZED (SELECT doc_id,
       |  list_reduce(list_prepend(s, ml.merges), (acc, m) -> replace(acc,
       |      chr(2) || split_part(m, chr(3), 1) || chr(2) || chr(2) || split_part(m, chr(3), 2) || chr(2),
       |      chr(2) || split_part(m, chr(3), 1) || chr(1) || split_part(m, chr(3), 2) || chr(2))) AS s
       |  FROM $prev CROSS JOIN (SELECT coalesce(list(w1 || chr(3) || w2 ORDER BY seq),
       |                                         CAST([] AS VARCHAR[])) AS merges
       |                         FROM $sel) ml)""".stripMargin

  /** One BATCHED-trainer scan: rank the pair counts, replay the greedy
    * disjoint selection (TextAnalysis.selectDisjointBatch) as a
    * single-row recursive CTE whose state is the used-symbol list —
    * candidate rnk+1 is kept iff its footprint [w1, w2, w1⊔w2] (the
    * produced symbol included, so a batch can never contain a pair an
    * earlier batch member would create) misses the state list; the
    * recursion halts at `batch` keeps or window exhaustion — then fold
    * the kept merges over the corpus state in one list_reduce pass. */
  private def bpeBatchedScanSql(k: Int, batch: Int, window: Int): String = {
    val prev = s"s${k - 1}"
    s"""${pairCountsSql(s"bp$k", prev)},
       |bc$k AS MATERIALIZED (SELECT w1, w2, n_pair,
       |        row_number() OVER (ORDER BY n_pair DESC, w1, w2) AS rnk
       |      FROM bp$k QUALIFY rnk <= $window),
       |bg$k AS (
       |  SELECT 0 AS rnk, CAST([] AS VARCHAR[]) AS used, 0 AS n_kept,
       |         CAST(NULL AS VARCHAR) AS w1, CAST(NULL AS VARCHAR) AS w2,
       |         CAST(NULL AS BIGINT) AS n_pair, FALSE AS kept
       |  UNION ALL
       |  SELECT c.rnk,
       |    CASE WHEN x.ok THEN list_concat(g.used, [c.w1, c.w2, c.w1 || chr(1) || c.w2]) ELSE g.used END,
       |    CASE WHEN x.ok THEN g.n_kept + 1 ELSE g.n_kept END,
       |    c.w1, c.w2, c.n_pair, x.ok
       |  FROM bg$k g JOIN bc$k c ON c.rnk = g.rnk + 1 AND g.n_kept < $batch,
       |  LATERAL (SELECT NOT list_has_any(g.used, [c.w1, c.w2, c.w1 || chr(1) || c.w2]) AS ok) x),
       |bs$k AS MATERIALIZED (SELECT w1, w2, n_pair,
       |        CAST(row_number() OVER (ORDER BY rnk) AS INT) AS seq
       |      FROM bg$k WHERE kept),
       |${listReduceApplySql(s"s$k", prev, s"bs$k")},
       |bt$k AS MATERIALIZED (SELECT CAST(sum(length(s) - length(replace(s, chr(2), ''))) // 2 AS BIGINT) AS n_tokens_after FROM s$k)""".stripMargin
  }

  /** Full batched-trainer replay over `scans` scans (WITH RECURSIVE
    * head — the greedy-selection CTEs need it; everything else is
    * ordinary). Shares w/s0 with the sequential replay via
    * delimitedStateSql and the pair counts via pairCountsSql. */
  private def bpeBatchedCtesOver(wWhere: String, scans: Int, batch: Int,
      window: Int): String = {
    val head =
      """WITH RECURSIVE w AS (SELECT doc_id,
        |             list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS words
        |           FROM documents __WWHERE__),
        |""".stripMargin.replace("__WWHERE__", wWhere) +
        delimitedStateSql("s0", "w", materialized = true)
    (head +: (1 to scans).map(bpeBatchedScanSql(_, batch, window))).mkString(",\n")
  }

  /** Batched-trainer output: one row per learned merge with its scan,
    * in-scan seq, selection-time pair count, and the scan-end symbol
    * count. */
  private def bpeBatchedTrainSql(scans: Int, batch: Int, window: Int): String =
    bpeBatchedCtesOver("", scans, batch, window) + "\n" +
      (1 to scans).map { k =>
        s"""SELECT CAST($k AS INT) AS scan, seq, w1, w2, n_pair, bt$k.n_tokens_after
           |FROM bs$k CROSS JOIN bt$k""".stripMargin
      }.mkString(
        "SELECT CAST(row_number() OVER (ORDER BY scan, seq) AS BIGINT) AS merge_idx,\n" +
          "       scan, seq, w1, w2, n_pair, n_tokens_after\nFROM (\n",
        "\nUNION ALL\n", "\n)\nORDER BY merge_idx")

  /** Batched hold-out encode replay: batched training on the even
    * split, then per scan one list_reduce fold of that scan's kept
    * merges over the odd documents' state — the SQL mirror of
    * TextAnalysis.bpeEncodeHoldoutBatched (whose chunked projection
    * applies the same merges in the same order). */
  private def bpeBatchedHoldoutSql(scans: Int, batch: Int,
      window: Int): String = {
    val train = bpeBatchedCtesOver("WHERE doc_id % 2 = 0", scans, batch, window)
    val oddWords =
      """(SELECT doc_id,
        |               list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS words
        |             FROM documents WHERE doc_id % 2 = 1)""".stripMargin
    val h0 = delimitedStateSql("h0", oddWords)
    val hs = (1 to scans).map(k => listReduceApplySql(s"h$k", s"h${k - 1}", s"bs$k"))
    (train +: h0 +: hs).mkString(",\n") +
      s"""
         |SELECT doc_id,
         |  CAST((length(s) - length(replace(s, chr(1), '')))
         |     + (length(s) - length(replace(s, chr(2), ''))) // 2 AS BIGINT) AS n_tokens,
         |  CAST(length(s) - length(replace(s, chr(1), '')) AS BIGINT) AS n_merges,
         |  CAST((length(s) - length(replace(s, chr(2), ''))) // 2 AS BIGINT) AS n_tokens_after,
         |  replace(array_to_string(list_filter(string_split(s, chr(2)), x -> x != ''), ' '),
         |          chr(1), '_') AS encoded
         |FROM h$scans
         |ORDER BY doc_id""".stripMargin
  }

  /** Exact all-pairs embedding threshold join replay — shared by the
    * dedup_embedding oracle and the pair-budgets count so the two can
    * never drift. */
  private val embeddingPairsOracleSql: String =
    """SELECT vec_a, vec_b, cosine FROM (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    floor((list_sum(list_transform(range(1, 65),
      |            i -> CAST(list_extract(a.embedding, i) AS DOUBLE)
      |               * CAST(list_extract(b.embedding, i) AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * x)))
      |       * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * x))))) * 1e4 + 0.5) / 1e4 AS cosine
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
      |WHERE cosine >= 0.35 ORDER BY vec_a, vec_b""".stripMargin

  /** The query registry: every implemented operator from SURVEY.md §2
    * (and the training-data pipeline extensions), each listed once with
    * its builder and its check. An [[Oracle]] is ANSI SQL that DuckDB
    * runs on the same parquet tables; a [[Bound]] measures an
    * engine-specific sketch's error against its bound, for the rows no
    * SQL can replay. `drain = true` marks the Structured Streaming
    * queries that run to completion. Lazy, because the entries read the
    * private SQL helpers defined around it. */
  lazy val specs: Seq[QuerySpec] = Seq(
    // --- reference surface (SURVEY.md §2.1, O1-O12) ---
    QuerySpec("wordcount_topk", WordCount.topK(_, _, 100), Oracle(
      """SELECT word, COUNT(*) AS cnt
        |FROM (SELECT unnest(string_split_regex(text, '[ \n]')) AS word FROM documents)
        |WHERE regexp_matches(word, '^[a-z]')
        |GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 100""".stripMargin)),
    QuerySpec("wordcount_full", WordCount.full(_, _), Oracle(
      """SELECT word, COUNT(*) AS cnt
        |FROM (SELECT unnest(string_split_regex(text, '[ \n]')) AS word FROM documents)
        |WHERE regexp_matches(word, '^[a-z]')
        |GROUP BY word ORDER BY word ASC""".stripMargin)),
    // O2/O3 end-to-end: same counts, but ingested through a real
    // on-disk newline-delimited text file via spark.read.text
    // fullFromTextFile: the Spark side counts over the .txt spool of
    // documents.text read back via spark.read.text; the oracle counts
    // from the documents view directly — a hash match proves the text
    // file round-trip preserved the token multiset (O2/O3 evidence)
    QuerySpec("wordcount_textfile", WordCount.fullFromTextFile(_, _), Oracle(
      """SELECT word, COUNT(*) AS cnt
        |FROM (SELECT unnest(string_split_regex(text, '[ \n]')) AS word FROM documents)
        |WHERE regexp_matches(word, '^[a-z]')
        |GROUP BY word ORDER BY word ASC""".stripMargin)),
    // CMS guard is semantics-free (no false negatives + exact re-count),
    // so the oracle is the PLAIN groupBy+HAVING over the same threshold
    QuerySpec("events_heavy_users", SkewTools.heavyUsers(_, _), Oracle(
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
        |t AS (SELECT greatest(1, CAST(ceil(
        |        (1.2 * (SELECT count(user_id) FROM events))
        |        / (SELECT count(DISTINCT user_id) FROM events)) AS BIGINT)) AS thr)
        |SELECT user_id, cnt FROM c
        |WHERE cnt >= (SELECT thr FROM t)
        |ORDER BY cnt DESC, user_id ASC""".stripMargin)),
    QuerySpec("letter_buckets", WordCount.letterBuckets(_, _), Oracle(
      """SELECT substr(word, 1, 1) AS letter, COUNT(*) AS n_words,
        |       COUNT(DISTINCT word) AS n_distinct
        |FROM (SELECT unnest(string_split_regex(text, '[ \n]')) AS word FROM documents)
        |WHERE regexp_matches(word, '^[a-z]')
        |GROUP BY 1 ORDER BY letter ASC""".stripMargin)),
    // --- relational surface (SURVEY.md §7.2 PR3; absent in reference §2.3) ---
    QuerySpec("q1_pricing_summary", Relational.q1PricingSummary(_, _), Oracle(
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(floor((l_extendedprice) * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2 AS sum_base_price,
        |  floor((CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6) * 1e2 + 0.5) / 1e2 AS sum_disc_price,
        |  floor((CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6) * 1e2 + 0.5) / 1e2 AS sum_charge,
        |  floor((CAST(sum(CAST(floor((l_quantity) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / (count(l_quantity) * 1e6)) * 1e4 + 0.5) / 1e4 AS avg_qty,
        |  floor((CAST(sum(CAST(floor((l_discount) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / (count(l_discount) * 1e6)) * 1e4 + 0.5) / 1e4 AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-12-31'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    QuerySpec("q3_shipping_priority", Relational.q3ShippingPriority(_, _), Oracle(
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  floor((CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6) * 1e2 + 0.5) / 1e2 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin)),
    QuerySpec("q5_region_revenue", Relational.q5RegionRevenue(_, _), Oracle(
      """SELECT n_name, floor((CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6) * 1e2 + 0.5) / 1e2 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name ASC""".stripMargin)),
    QuerySpec("top_customers", Relational.topCustomers(_, _), Oracle(
      """SELECT c_custkey, c_name, floor((CAST(sum(CAST(floor((o_totalprice) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4) * 1e2 + 0.5) / 1e2 AS total_spend,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY total_spend DESC, c_custkey ASC LIMIT 20""".stripMargin)),
    QuerySpec("order_priority_exists", Relational.orderPriorityExists(_, _), Oracle(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    QuerySpec("customers_no_orders", Relational.customersNoOrders(_, _), Oracle(
      """SELECT n_name, count(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate < TIMESTAMP '1996-01-01')
        |GROUP BY n_name ORDER BY n_name""".stripMargin)),
    QuerySpec("nation_customer_stats", Relational.nationCustomerStats(_, _), Oracle(
      """SELECT n_name, count(DISTINCT c_mktsegment) AS n_segments,
        |  count(*) AS n_customers, floor((CAST(sum(CAST(floor((c_acctbal) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / (count(c_acctbal) * 1e6)) * 1e4 + 0.5) / 1e4 AS avg_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)),
    QuerySpec("window_top_orders", Relational.windowTopOrders(_, _), Oracle(windowTopOrdersOracle)),
    // same results, heap-aggregated (TopKAggregate) instead of windowed
    QuerySpec("window_top_orders_heap", graft.functions.TopKAggregate.topOrdersPerCustomer(_, _),
      Oracle(windowTopOrdersOracle)),
    QuerySpec("rollup_lineitem", Relational.rollupLineitem(_, _), Oracle(
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin)),
    // CUBE lattice; grouping id must use the same bit order (first key
    // = MSB) in both engines — DuckDB GROUPING(a, b) matches Spark's
    // grouping_id() for cube(a, b)
    QuerySpec("cube_orders", Relational.cubeOrders(_, _), Oracle(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor((o_totalprice) * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2 AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gid, status, priority""".stripMargin)),
    // explicit GROUPING SETS: same bitmask convention as the cube oracle
    QuerySpec("grouping_sets_orders", Relational.groupingSetsOrders(_, _), Oracle(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2 AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY gid, status, priority""".stripMargin)),
    // analytic windows: every function over the same (custkey, date,
    // orderkey) order; the running sum is frame-ordered in both engines
    QuerySpec("window_analytics_orders", Relational.windowAnalyticsOrders(_, _), Oracle(
      """SELECT o_custkey, o_orderkey,
        |  coalesce(lag(o_totalprice, 1) OVER w, 0.0) AS prev_price,
        |  coalesce(lead(o_totalprice, 1) OVER w, 0.0) AS next_price,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  floor((percent_rank() OVER w) * 1e4 + 0.5) / 1e4 AS pct_rank,
        |  floor((cume_dist() OVER w) * 1e4 + 0.5) / 1e4 AS cum_dist,
        |  floor((sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |                                 ROWS UNBOUNDED PRECEDING)) * 1e2 + 0.5) / 1e2 AS running_total
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),
    // Q8 market share: the ratio divides the UNROUNDED 1e-6 quantized
    // sums (the 2-dp columns are display rounding only)
    QuerySpec("q8_market_share", Relational.q8MarketShare(_, _), Oracle(
      """WITH vol AS (
        |  SELECT year(o.o_orderdate) AS o_year, ns.n_name AS supp_nation,
        |    l.l_extendedprice * (1 - l.l_discount) AS volume
        |  FROM lineitem l
        |    JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
        |    JOIN orders o ON l.l_orderkey = o.o_orderkey
        |    JOIN customer c ON o.o_custkey = c.c_custkey
        |    JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |    JOIN nation nc ON c.c_nationkey = nc.n_nationkey
        |    JOIN region r ON nc.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
        |    JOIN nation ns ON s.s_nationkey = ns.n_nationkey),
        |agg AS (
        |  SELECT o_year,
        |    CAST(sum(CAST(floor((CASE WHEN supp_nation = 'NATION_7' THEN volume ELSE 0.0 END) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS nv,
        |    CAST(sum(CAST(floor((volume) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS tv
        |  FROM vol GROUP BY o_year)
        |SELECT o_year,
        |  floor(nv * 1e2 + 0.5) / 1e2 AS nation_volume,
        |  floor(tv * 1e2 + 0.5) / 1e2 AS total_volume,
        |  floor((nv / tv) * 1e4 + 0.5) / 1e4 AS mkt_share
        |FROM agg ORDER BY o_year""".stripMargin)),
    // Q6: one filtered agg; revenue via the exact 1e-6 quantized sum
    QuerySpec("q6_forecast_revenue", Relational.q6ForecastRevenue(_, _), Oracle(
      """SELECT count(*) AS n_items,
        |  floor((CAST(sum(CAST(floor(l_extendedprice * l_discount * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6)
        |        * 1e2 + 0.5) / 1e2 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)),
    // Q10: top 20 by the QUANTIZED revenue, c_custkey tiebreak
    QuerySpec("q10_returned_items", Relational.q10ReturnedItems(_, _), Oracle(
      """SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
        |  floor((CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6)
        |        * 1e2 + 0.5) / 1e2 AS revenue
        |FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        |ORDER BY revenue DESC, c.c_custkey LIMIT 20""".stripMargin)),
    // Q14: share of the UNROUNDED quantized sums (q8's device), month grain
    QuerySpec("q14_promo_share", Relational.q14PromoShare(_, _), Oracle(
      """WITH v AS (SELECT strftime(l.l_shipdate, '%Y-%m') AS month,
        |    l.l_extendedprice * (1 - l.l_discount) AS rev, p.p_type
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |agg AS (SELECT month,
        |    CAST(sum(CAST(floor((CASE WHEN p_type = 'PROMO' THEN rev ELSE 0.0 END) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS pv,
        |    CAST(sum(CAST(floor(rev * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS tv
        |  FROM v GROUP BY month)
        |SELECT month,
        |  floor(pv * 1e2 + 0.5) / 1e2 AS promo_revenue,
        |  floor(tv * 1e2 + 0.5) / 1e2 AS total_revenue,
        |  floor((pv * 100.0 / tv) * 1e4 + 0.5) / 1e4 AS promo_share
        |FROM agg ORDER BY month""".stripMargin)),
    // interarrival: lag over (user, ts, event_id); integer-microsecond
    // gaps so quantile_cont interpolates exactly like Spark percentile
    QuerySpec("events_interarrival", Events.interarrivalStats(_, _), Oracle(
      """WITH g AS (SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
        |           FROM events
        |           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT count(*) AS n_gaps,
        |  quantile_cont(gap_us, 0.25) AS p25_us,
        |  quantile_cont(gap_us, 0.5) AS p50_us,
        |  quantile_cont(gap_us, 0.75) AS p75_us,
        |  quantile_cont(gap_us, 0.9) AS p90_us,
        |  max(gap_us) AS max_us
        |FROM g WHERE gap_us IS NOT NULL""".stripMargin)),
    // Q19: OR of brand/size/quantity conjunctions over the common-
    // conjunct prefilters
    QuerySpec("q19_disjunctive_revenue", Relational.q19DisjunctiveRevenue(_, _), Oracle(
      """SELECT p.p_brand, count(*) AS n_items,
        |  floor((CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6)
        |        * 1e2 + 0.5) / 1e2 AS revenue
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE l.l_quantity BETWEEN 1 AND 30 AND p.p_size >= 1
        |  AND ((p.p_brand = 'Brand#12' AND p.p_size <= 5 AND l.l_quantity <= 11)
        |    OR (p.p_brand = 'Brand#23' AND p.p_size <= 10 AND l.l_quantity BETWEEN 10 AND 20)
        |    OR (p.p_brand = 'Brand#34' AND p.p_size <= 15 AND l.l_quantity >= 20))
        |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin)),
    // Q2: per-part min unit price (4-dp-quantized per row, so the
    // equality join-back is engine-stable), DISTINCT offer rows
    QuerySpec("q2_min_cost_supplier", Relational.q2MinCostSupplier(_, _), Oracle(
      """WITH offers AS (
        |  SELECT DISTINCT p.p_partkey, p.p_name, l.l_suppkey,
        |    floor(l.l_extendedprice / l.l_quantity * 1e4 + 0.5) / 1e4 AS unit_price
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_type = 'SMALL' AND p.p_size = 15),
        |best AS (SELECT p_partkey, min(unit_price) AS min_price
        |         FROM offers GROUP BY 1)
        |SELECT s.s_acctbal, s.s_name, n.n_name, o.p_partkey, o.p_name, o.unit_price
        |FROM offers o
        |  JOIN best b ON o.p_partkey = b.p_partkey AND o.unit_price = b.min_price
        |  JOIN supplier s ON o.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |ORDER BY s.s_acctbal DESC, s.s_name, o.p_partkey""".stripMargin)),
    // Q7: bilateral nation trade by ship year
    QuerySpec("q7_nation_trade", Relational.q7VolumeShipping(_, _), Oracle(
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l.l_shipdate) AS INT) AS l_year,
        |  floor((CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6)
        |        * 1e2 + 0.5) / 1e2 AS revenue
        |FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |WHERE (cn.n_name = 'NATION_3' AND sn.n_name = 'NATION_8')
        |   OR (cn.n_name = 'NATION_8' AND sn.n_name = 'NATION_3')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),
    // Q9: profit under the documented 0.5×retail cost model; per-row
    // profit (possibly negative) quantized at 4 dp — floor is
    // toward -inf in both engines, so negatives round identically
    QuerySpec("q9_product_profit", Relational.q9ProductProfit(_, _), Oracle(
      """SELECT sn.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
        |  floor((CAST(sum(CAST(floor((l.l_extendedprice * (1 - l.l_discount)
        |                              - 0.5 * p.p_retailprice * l.l_quantity) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4)
        |        * 1e2 + 0.5) / 1e2 AS sum_profit
        |FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |WHERE p.p_name LIKE '%widget%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin)),
    // Q11: fraction-of-total threshold off the same integer-unit agg
    QuerySpec("q11_important_parts", Relational.q11ImportantParts(_, _), Oracle(
      """WITH v AS (
        |  SELECT l.l_partkey,
        |    sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e6 + 0.5) AS BIGINT)) AS units
        |  FROM lineitem l
        |    JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |    JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  WHERE n.n_name = 'NATION_3'
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(CAST(floor((CAST(units AS DOUBLE) / 1e6) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS total
        |      FROM v)
        |SELECT l_partkey,
        |  floor((CAST(units AS DOUBLE) / 1e6) * 1e2 + 0.5) / 1e2 AS part_value
        |FROM v
        |WHERE CAST(units AS DOUBLE) / 1e6 > (SELECT total FROM t) * 0.002
        |ORDER BY part_value DESC, l_partkey""".stripMargin)),
    // Q12: delay buckets from exact integer day arithmetic
    QuerySpec("q12_delay_classes", Relational.q12DelayClasses(_, _), Oracle(
      """SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 30 THEN '1_FAST'
        |            WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 90 THEN '2_MEDIUM'
        |            ELSE '3_SLOW' END AS delay_class,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Q13: zero-including histogram — exclusion predicate lives in the
    // LEFT JOIN condition, never a WHERE
    QuerySpec("q13_order_distribution", Relational.q13OrderCountDistribution(_, _), Oracle(
      """WITH pc AS (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o
        |    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist
        |FROM pc GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin)),
    // Q16: NOT IN subquery over negative-balance suppliers
    QuerySpec("q16_supplier_variety", Relational.q16SupplierVariety(_, _), Oracle(
      """SELECT p.p_brand, p.p_type, p.p_size,
        |  count(DISTINCT l.l_suppkey) AS supplier_cnt
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_brand <> 'Brand#1' AND p.p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
        |  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),
    // Q20: mean-relative threshold; quantities are integral doubles so
    // the BIGINT cast is exact
    QuerySpec("q20_dominant_suppliers", Relational.q20DominantSuppliers(_, _), Oracle(
      """WITH ps AS (
        |  SELECT l.l_suppkey, CAST(sum(l.l_quantity) AS BIGINT) AS red_qty
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_name LIKE 'red %'
        |  GROUP BY 1),
        |m AS (SELECT CAST(sum(red_qty) AS DOUBLE) / count(*) AS mean FROM ps)
        |SELECT s.s_name, n.n_name, ps.red_qty
        |FROM ps
        |  JOIN supplier s ON ps.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE CAST(ps.red_qty AS DOUBLE) > 1.1 * (SELECT mean FROM m)
        |ORDER BY ps.red_qty DESC, s.s_name""".stripMargin)),
    // Q21: per-order (n_supp, n_late) profile replays EXISTS/NOT EXISTS;
    // each qualifying (order, supplier) pair counts once
    QuerySpec("q21_waiting_suppliers", Relational.q21WaitingSuppliers(_, _), Oracle(
      """WITH li AS (
        |  SELECT l.l_orderkey, l.l_suppkey,
        |    date_diff('day', o.o_orderdate, l.l_shipdate) > 60 AS late
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F'),
        |prof AS (
        |  SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp,
        |    count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
        |  FROM li GROUP BY 1),
        |w AS (
        |  SELECT DISTINCT li.l_orderkey, li.l_suppkey
        |  FROM li JOIN prof ON li.l_orderkey = prof.l_orderkey
        |  WHERE li.late AND prof.n_supp > 1 AND prof.n_late = 1)
        |SELECT s.s_name, count(*) AS numwait
        |FROM w JOIN supplier s ON w.l_suppkey = s.s_suppkey
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)),
    // Q22: exact quantized mean threshold + NOT EXISTS on recent orders
    QuerySpec("q22_dormant_customers", Relational.q22DormantCustomers(_, _), Oracle(
      """WITH thr AS (
        |  SELECT CAST(sum(CAST(floor(c_acctbal * 1e2 + 0.5) AS BIGINT)) AS DOUBLE)
        |         / (count(c_acctbal) * 1e2) AS t
        |  FROM customer WHERE c_acctbal > 0),
        |d AS (
        |  SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
        |  FROM customer c
        |  WHERE c.c_acctbal > (SELECT t FROM thr)
        |    AND NOT EXISTS (SELECT 1 FROM orders o
        |                    WHERE o.o_custkey = c.c_custkey
        |                      AND o.o_orderdate >= TIMESTAMP '2000-01-01'))
        |SELECT n.n_name AS nation, count(*) AS numcust,
        |  floor((CAST(sum(CAST(floor(d.c_acctbal * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2)
        |        * 1e2 + 0.5) / 1e2 AS totacctbal
        |FROM d JOIN nation n ON d.c_nationkey = n.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // vocabGrowth(buckets=10): first-seen decomposition; integer-div
    // buckets from the id range
    QuerySpec("corpus_vocab_growth", TextAnalysis.vocabGrowth(_, _), Oracle(
      """WITH mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
        |toks AS (SELECT (doc_id * 10) // (SELECT m FROM mx) AS bucket, doc_id,
        |           unnest(list_filter(string_split_regex(text, '[ \n]'), t -> t != '')) AS token
        |         FROM documents),
        |occ AS (SELECT bucket, count(*) AS n_occurrences FROM toks GROUP BY bucket),
        |fs AS (SELECT (first_id * 10) // (SELECT m FROM mx) AS bucket,
        |         count(*) AS new_types
        |       FROM (SELECT token, min(doc_id) AS first_id FROM toks GROUP BY token)
        |       GROUP BY 1)
        |SELECT o.bucket, o.n_occurrences, coalesce(f.new_types, 0) AS new_types,
        |  CAST(sum(coalesce(f.new_types, 0)) OVER (ORDER BY o.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_types
        |FROM occ o LEFT JOIN fs f ON f.bucket = o.bucket
        |ORDER BY o.bucket""".stripMargin)),
    // Q17: the correlated threshold decorrelated to a per-part agg; the
    // predicate 5·q·c < S is the exact-integer form of q < 0.2·S/c
    QuerySpec("q17_small_quantity", Relational.q17SmallQuantityRevenue(_, _), Oracle(
      """WITH pa AS (SELECT l_partkey, CAST(sum(l_quantity) AS BIGINT) AS s_qty,
        |              count(*) AS n_li
        |            FROM lineitem GROUP BY l_partkey)
        |SELECT p.p_brand, count(*) AS n_small,
        |  floor((CAST(sum(CAST(floor(l.l_extendedprice * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6)
        |        * 1e2 + 0.5) / 1e2 AS revenue
        |FROM lineitem l
        |  JOIN pa ON pa.l_partkey = l.l_partkey
        |  JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE 5 * CAST(l.l_quantity AS BIGINT) * pa.n_li < pa.s_qty
        |GROUP BY p.p_brand
        |ORDER BY p.p_brand""".stripMargin)),
    // Q18(minQty=250): group-HAVING semi-join; quantities are integral
    // doubles so the sum and threshold compare exactly
    QuerySpec("q18_large_orders", Relational.q18LargeVolumeOrders(_, _), Oracle(
      """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS total_qty
        |             FROM lineitem GROUP BY l_orderkey
        |             HAVING sum(l_quantity) > 250)
        |SELECT c.c_custkey, o.o_orderkey, o.o_orderdate, b.total_qty
        |FROM orders o
        |  JOIN big b ON o.o_orderkey = b.l_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_orderkey""".stripMargin)),
    // salted-join path: the oracle is the PLAIN join+agg — the driver
    // hash-check proves salting is semantics-free
    QuerySpec("events_salted_enrich", SkewTools.saltedUserEnrich(_, _), Oracle(
      """WITH dim AS (SELECT user_id, count(*) AS user_events FROM events GROUP BY user_id)
        |SELECT e.event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN d.user_events >= 70 THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy_events,
        |  count(DISTINCT CASE WHEN d.user_events >= 70 THEN e.user_id END) AS n_heavy_users
        |FROM events e JOIN dim d ON e.user_id = d.user_id
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)),
    QuerySpec("set_ops_active_customers", Relational.setOpsActiveCustomers(_, _), Oracle(
      """SELECT o_custkey FROM (
        |  (SELECT o_custkey FROM orders
        |   WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |   INTERSECT
        |   SELECT o_custkey FROM orders
        |   WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |ORDER BY o_custkey""".stripMargin)),
    QuerySpec("scalar_functions", Relational.scalarFunctions(_, _), Oracle(
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(month(o_orderdate) AS INT) AS o_month,
        |  substr(o_orderpriority, 1, 1) AS prio_code,
        |  concat_ws('#', o_orderstatus, o_orderpriority) AS status_prio,
        |  CASE WHEN o_totalprice >= 300000 THEN 'high'
        |       WHEN o_totalprice >= 100000 THEN 'mid'
        |       ELSE 'low' END AS price_band,
        |  floor((sqrt(o_totalprice)) * 1e4 + 0.5) / 1e4 AS sqrt_price,
        |  floor((ln(o_totalprice + 1)) * 1e4 + 0.5) / 1e4 AS log_price
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    QuerySpec("brand_top_parts", Relational.brandTopParts(_, _), Oracle(
      """SELECT p_brand, p_partkey, p_name, part_revenue, CAST(rn AS INT) AS rn
        |FROM (SELECT p_brand, p_partkey, p_name, part_revenue,
        |        row_number() OVER (PARTITION BY p_brand
        |                           ORDER BY part_revenue DESC, p_partkey ASC) AS rn
        |      FROM (SELECT l_partkey, floor((CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6) * 1e2 + 0.5) / 1e2 AS part_revenue
        |            FROM lineitem GROUP BY l_partkey)
        |        JOIN part ON l_partkey = p_partkey)
        |WHERE rn <= 3 ORDER BY p_brand, rn""".stripMargin)),
    // --- text analysis (training-data pipeline ops) ---
    QuerySpec("text_token_stats", TextAnalysis.tokenStats(_, _), Oracle(
      """SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \n]')) AS INT) AS n_bpe_tokens,
        |  floor((CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
        |        / greatest(len(toks), 1)) * 1e4 + 0.5) / 1e4 AS avg_token_len,
        |  CAST(length(text) AS INT) AS n_chars
        |FROM (SELECT doc_id, text,
        |        list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS toks
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin)),
    QuerySpec("text_quality", TextAnalysis.qualityScore(_, _), Oracle(
      """WITH base AS (SELECT doc_id,
        |        list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS toks,
        |        CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is)\b')) AS DOUBLE) AS n_stop,
        |        CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \n]')) AS DOUBLE) AS n_punct,
        |        CAST(length(text) AS DOUBLE) AS len,
        |        list_filter(string_split(text, chr(10)), x -> x != '') AS lines
        |      FROM documents),
        |t2 AS (SELECT doc_id, max(cnt) AS top2
        |       FROM (SELECT doc_id, gram, count(*) AS cnt
        |             FROM (SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1]
        |                                          for i in range(1, greatest(len(toks), 1))]) AS gram
        |                   FROM base)
        |             GROUP BY doc_id, gram)
        |       GROUP BY doc_id)
        |SELECT b.doc_id,
        |  floor((n_stop / greatest(CAST(len(b.toks) AS DOUBLE), 1.0)) * 1e4 + 0.5) / 1e4 AS stopword_ratio,
        |  floor((n_punct / greatest(len, 1.0)) * 1e4 + 0.5) / 1e4 AS punct_ratio,
        |  floor((least(len / 500.0, 1.0)) * 1e4 + 0.5) / 1e4 AS len_saturation,
        |  floor(((CAST(len(b.lines) AS DOUBLE) - CAST(len(list_distinct(b.lines)) AS DOUBLE))
        |        / greatest(CAST(len(b.lines) AS DOUBLE), 1.0)) * 1e4 + 0.5) / 1e4 AS dup_line_frac,
        |  floor((CAST(coalesce(t2.top2, 0) AS DOUBLE)
        |        / greatest(CAST(len(b.toks) AS DOUBLE) - 1.0, 1.0)) * 1e4 + 0.5) / 1e4 AS top_2gram_frac,
        |  floor((0.5 * (n_stop / greatest(CAST(len(b.toks) AS DOUBLE), 1.0))
        |      + 0.3 * least(len / 500.0, 1.0)
        |      + 0.2 * (1.0 - n_punct / greatest(len, 1.0))) * 1e4 + 0.5) / 1e4 AS quality
        |FROM base b LEFT JOIN t2 ON b.doc_id = t2.doc_id
        |ORDER BY b.doc_id""".stripMargin)),
    QuerySpec("text_pii_scrub", TextAnalysis.piiScrub(_, _), Oracle(
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\(?[0-9]{3}\)?[- .][0-9]{3}[- .][0-9]{4}', '<PHONE>', 'g'),
        |      '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g') AS scrubbed,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\(?[0-9]{3}\)?[- .][0-9]{3}[- .][0-9]{4}')) AS INT) AS n_phones,
        |  CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS INT) AS n_ssn
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // chunkDocs(chunkSize=32, overlap=8, stride=24): identical candidate
    // starts (multiples of 24 below n, kept iff first or adding tokens)
    // and list-slice arithmetic as the Spark side
    QuerySpec("text_chunks", TextAnalysis.chunkDocs(_, _), Oracle(
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \n]'), x -> x != '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, toks,
        |    unnest(list_filter(range(0, greatest(len(toks), 1), 24),
        |                       s -> s = 0 OR s + 8 < len(toks))) AS start
        |  FROM t),
        |c AS (
        |  SELECT doc_id, CAST(start // 24 AS INT) AS chunk_id,
        |    CAST(start AS INT) AS start_tok,
        |    list_slice(toks, start + 1, start + 32) AS ctoks
        |  FROM s)
        |SELECT doc_id, chunk_id, start_tok,
        |  CAST(len(ctoks) AS INT) AS n_chunk_tokens,
        |  array_to_string(ctoks, ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),
    // packManifest(capacity=512): concat-and-split packing — per-source
    // window cumsum then exact integer div/mod
    QuerySpec("text_pack", TextAnalysis.packManifest(_, _), Oracle(
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '[ \n]'), x -> x != '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
        |  FROM t)
        |SELECT source, doc_id, n_tokens,
        |  CAST(tok_before // 512 AS BIGINT) AS seq_id,
        |  CAST(tok_before % 512 AS BIGINT) AS seq_offset,
        |  CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST(((tok_before + n_tokens - 1) // 512) - (tok_before // 512) + 1 AS BIGINT) END AS n_seqs_spanned
        |FROM c ORDER BY source, doc_id""".stripMargin)),
    // epochShuffle(seed=epoch0): md5 evaluates identically in both engines
    QuerySpec("corpus_shuffle", TextAnalysis.epochShuffle(_, _), Oracle(
      """SELECT md5('epoch0|' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
        |  doc_id, source
        |FROM documents ORDER BY shuffle_key""".stripMargin)),
    // mixtureSample(rates src0=0.5 src1=0.25 src2=0.1, default 0.05,
    // seed=mix0): keep iff the 8-hex md5 prefix is below the rate's hex
    // threshold — fixed-width lowercase hex compares like the number
    QuerySpec("corpus_mixture", TextAnalysis.mixtureSample(_, _), Oracle(
      """SELECT doc_id, source,
        |  substr(md5('mix0|' || CAST(doc_id AS VARCHAR)), 1, 8) AS sample_key,
        |  CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.25
        |    WHEN 'src2' THEN 0.1 ELSE 0.05 END AS rate
        |FROM documents
        |WHERE substr(md5('mix0|' || CAST(doc_id AS VARCHAR)), 1, 8) <
        |  CASE source WHEN 'src0' THEN '80000000' WHEN 'src1' THEN '40000000'
        |    WHEN 'src2' THEN '19999999' ELSE '0ccccccc' END
        |ORDER BY doc_id""".stripMargin)),
    // winnowingPairs(threshold=0.5, k=8, w=8): sketch-set Jaccard over
    // the winnowing fingerprints (naive spelling; the Spark side's
    // canonical collapse is output-equivalent, as with the ngram path)
    QuerySpec("dedup_winnowing", Dedup.winnowingPairsMaterialized(_, _), Oracle(
      """WITH t AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    list_transform(range(0, length(t) - 7),
        |      i -> list_reduce(list_transform(string_split(substr(t, CAST(i + 1 AS INT), 8), ''), c -> CAST(ord(c) AS BIGINT)),
        |                       (acc, x) -> (acc * 131 + x) % 2147483647)) AS hs
        |  FROM t WHERE length(t) >= 8),
        |m AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, greatest(len(hs) - 8, 0) + 1),
        |      j -> list_min(list_slice(hs, CAST(j + 1 AS INT), CAST(j + 8 AS INT))))) AS fp
        |  FROM h),
        |sk0 AS (SELECT DISTINCT doc_id, fp FROM m),
        |hot AS (SELECT fp FROM sk0 GROUP BY fp HAVING count(*) > 64),
        |sk AS (SELECT doc_id, fp FROM sk0 WHERE fp NOT IN (SELECT fp FROM hot)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sk GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  floor((count(*) * 1.0 / (sa.sz + sb.sz - count(*))) * 1e4 + 0.5) / 1e4 AS sketch_jaccard
        |FROM sk a JOIN sk b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  JOIN sz sa ON sa.doc_id = a.doc_id
        |  JOIN sz sb ON sb.doc_id = b.doc_id
        |GROUP BY a.doc_id, b.doc_id, sa.sz, sb.sz
        |HAVING floor((count(*) * 1.0 / (sa.sz + sb.sz - count(*))) * 1e4 + 0.5) / 1e4 >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin)),
    // tfidfTopTerms(topK=5): rank on the ROUNDED score in both engines
    QuerySpec("text_tfidf", TextAnalysis.tfidfTopTerms(_, _), Oracle(
      """WITH toks AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(text, '[ \n]'), t -> t != '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, term, tf, df, tfidf, rank FROM (
        |  SELECT doc_id, term, tf, df,
        |    floor((tf * ln(CAST(n_docs AS DOUBLE) / df)) * 1e4 + 0.5) / 1e4 AS tfidf,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY floor((tf * ln(CAST(n_docs AS DOUBLE) / df)) * 1e4 + 0.5) / 1e4 DESC, term ASC) AS INT) AS rank
        |  FROM tf JOIN df USING (term) CROSS JOIN n)
        |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin)),
    // unigramLogProb: per-token log10 rounded to 6 dp BEFORE the exact
    // integer-unit mean — the rounded values are integers in 1e-6 units,
    // so the average is add-order-free and replays exactly
    QuerySpec("text_unigram_logprob", TextAnalysis.unigramLogProb(_, _), Oracle(
      """WITH toks AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(text, '[ \n]'), t -> t != '')) AS tok
        |  FROM documents),
        |freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
        |tot AS (SELECT count(*) AS n FROM toks),
        |lp AS (SELECT doc_id,
        |         floor(log10(CAST(cnt AS DOUBLE) / n) * 1e6 + 0.5) / 1e6 AS lp
        |       FROM toks JOIN freq USING (tok) CROSS JOIN tot)
        |SELECT doc_id, count(*) AS n_tokens,
        |  floor((CAST(sum(CAST(floor(lp * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
        |         / (count(*) * 1e6)) * 1e4 + 0.5) / 1e4 AS avg_logprob
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // dsirSelect(target=en, topK=200): per-token LLR rounded to 6 dp,
    // exact integer-unit mean, rank on (rounded score, doc_id)
    QuerySpec("corpus_dsir_select", TextAnalysis.dsirSelect(_, _), Oracle(
      """WITH toks AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(text, '[ \n]'), t -> t != '')) AS tok
        |  FROM documents),
        |cf AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
        |tf AS (SELECT t.tok, count(*) AS cnt_t
        |       FROM toks t JOIN documents d ON t.doc_id = d.doc_id
        |       WHERE d.lang = 'en' GROUP BY t.tok),
        |scal AS (SELECT (SELECT count(*) FROM cf) AS v,
        |                (SELECT sum(cnt) FROM cf) AS tc,
        |                (SELECT sum(cnt_t) FROM tf) AS tt),
        |lr AS (SELECT cf.tok,
        |         floor((log10((coalesce(tf.cnt_t, 0) + 0.5) / (tt + 0.5 * v))
        |                - log10(CAST(cf.cnt AS DOUBLE) / tc)) * 1e6 + 0.5) / 1e6 AS llr
        |       FROM cf LEFT JOIN tf USING (tok) CROSS JOIN scal),
        |sc AS (SELECT doc_id, count(*) AS n_tokens,
        |         floor((CAST(sum(CAST(floor(llr * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
        |                / (count(*) * 1e6)) * 1e4 + 0.5) / 1e4 AS avg_llr
        |       FROM toks JOIN lr USING (tok) GROUP BY doc_id)
        |SELECT doc_id, n_tokens, avg_llr, rank FROM (
        |  SELECT doc_id, n_tokens, avg_llr,
        |    CAST(row_number() OVER (ORDER BY avg_llr DESC, doc_id) AS INT) AS rank
        |  FROM sc)
        |WHERE rank <= 200 ORDER BY rank""".stripMargin)),
    // corpusProfile(minQuality=0.4): quality replayed per doc (same
    // formula as text_quality's oracle), exact integer-unit mean
    QuerySpec("corpus_profile", TextAnalysis.corpusProfile(_, _), Oracle(
      """WITH q AS (SELECT doc_id,
        |  floor((0.5 * (n_stop / greatest(n_tok, 1.0))
        |      + 0.3 * least(len / 500.0, 1.0)
        |      + 0.2 * (1.0 - n_punct / greatest(len, 1.0))) * 1e4 + 0.5) / 1e4 AS quality
        |  FROM (SELECT doc_id,
        |          CAST(len(list_filter(string_split_regex(text, '[ \n]'), t -> t != '')) AS DOUBLE) AS n_tok,
        |          CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is)\b')) AS DOUBLE) AS n_stop,
        |          CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \n]')) AS DOUBLE) AS n_punct,
        |          CAST(length(text) AS DOUBLE) AS len
        |        FROM documents)),
        |t AS (SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '[ \n]'), x -> x != '')) AS INT) AS n_tokens
        |  FROM documents)
        |SELECT d.source, d.lang, count(*) AS n_docs,
        |  CAST(sum(t.n_tokens) AS BIGINT) AS total_tokens,
        |  floor((CAST(sum(CAST(floor(q.quality * 1e4 + 0.5) AS BIGINT)) AS DOUBLE)
        |         / (count(*) * 1e4)) * 1e4 + 0.5) / 1e4 AS avg_quality,
        |  CAST(sum(CASE WHEN q.quality >= 0.4 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        |FROM documents d JOIN q USING (doc_id) JOIN t USING (doc_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // ccnetBuckets: unigram logprob replay (same CTE as
    // text_unigram_logprob), bin counts per (source, score), tertile
    // cuts via window cumsum over the bin table, greedy bin-granular
    // prefix exactly as the engine computes it
    QuerySpec("corpus_ccnet_buckets", TextAnalysis.ccnetBuckets(_, _), Oracle(
      """WITH toks AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(text, '[ \n]'), t -> t != '')) AS tok
        |  FROM documents),
        |freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
        |tot AS (SELECT count(*) AS n FROM toks),
        |lp AS (SELECT doc_id,
        |         floor(log10(CAST(cnt AS DOUBLE) / n) * 1e6 + 0.5) / 1e6 AS lp
        |       FROM toks JOIN freq USING (tok) CROSS JOIN tot),
        |scored AS (SELECT doc_id,
        |             floor((CAST(sum(CAST(floor(lp * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
        |                    / (count(*) * 1e6)) * 1e4 + 0.5) / 1e4 AS avg_logprob
        |           FROM lp GROUP BY doc_id),
        |sc AS (SELECT s.doc_id, d.source, s.avg_logprob
        |       FROM scored s JOIN documents d USING (doc_id)),
        |bins AS (SELECT source, avg_logprob, count(*) AS n FROM sc GROUP BY 1, 2),
        |lab AS (SELECT source, avg_logprob,
        |          CASE WHEN cum - n < ceil(total / 3.0) THEN 'head'
        |               WHEN cum - n < ceil(total * 2 / 3.0) THEN 'middle'
        |               ELSE 'tail' END AS bucket
        |        FROM (SELECT source, avg_logprob, n,
        |                sum(n) OVER (PARTITION BY source ORDER BY avg_logprob DESC
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |                sum(n) OVER (PARTITION BY source) AS total
        |              FROM bins))
        |SELECT sc.doc_id, sc.source, sc.avg_logprob, lab.bucket
        |FROM sc JOIN lab USING (source, avg_logprob) ORDER BY sc.doc_id""".stripMargin)),
    // softDedupWeights(threshold=0.8): clusters replayed by the same
    // recursive CTE as dedup_clusters; singletons weight 1
    QuerySpec("dedup_soft_weights", Dedup.softDedupWeights(_, _), Oracle(
      """WITH RECURSIVE pairs AS (
        |  WITH w AS (SELECT doc_id,
        |               list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS words
        |             FROM documents),
        |  sh AS (SELECT DISTINCT doc_id, shingle
        |         FROM (SELECT doc_id,
        |                 unnest([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
        |                         for i in range(1, greatest(len(words) - 1, 1))]) AS shingle
        |               FROM w)),
        |  sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    JOIN sz sa ON sa.doc_id = a.doc_id
        |    JOIN sz sb ON sb.doc_id = b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, sa.sz, sb.sz
        |  HAVING floor((count(*) * 1.0 / (sa.sz + sb.sz - count(*))) * 1e4 + 0.5) / 1e4 >= 0.8),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |rt(a, b) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT rt.a, e.dst FROM rt JOIN edges e ON rt.b = e.src),
        |cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM rt GROUP BY a),
        |allc AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
        |         FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
        |sz2 AS (SELECT cluster_id, count(*) AS cluster_size FROM allc GROUP BY 1)
        |SELECT a.doc_id, a.cluster_id, s.cluster_size,
        |  floor((1.0 / s.cluster_size) * 1e4 + 0.5) / 1e4 AS weight
        |FROM allc a JOIN sz2 s USING (cluster_id) ORDER BY a.doc_id""".stripMargin)),
    // clusterSizeHistogram(threshold=0.8): same recursive-CTE clusters
    // as dedup_soft_weights, rolled up twice
    QuerySpec("dedup_cluster_histogram", Dedup.clusterSizeHistogram(_, _), Oracle(
      """WITH RECURSIVE pairs AS (
        |  WITH w AS (SELECT doc_id,
        |               list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS words
        |             FROM documents),
        |  sh AS (SELECT DISTINCT doc_id, shingle
        |         FROM (SELECT doc_id,
        |                 unnest([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
        |                         for i in range(1, greatest(len(words) - 1, 1))]) AS shingle
        |               FROM w)),
        |  sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    JOIN sz sa ON sa.doc_id = a.doc_id
        |    JOIN sz sb ON sb.doc_id = b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, sa.sz, sb.sz
        |  HAVING floor((count(*) * 1.0 / (sa.sz + sb.sz - count(*))) * 1e4 + 0.5) / 1e4 >= 0.8),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |rt(a, b) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT rt.a, e.dst FROM rt JOIN edges e ON rt.b = e.src),
        |cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM rt GROUP BY a),
        |allc AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
        |         FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
        |sz2 AS (SELECT cluster_id, count(*) AS cluster_size FROM allc GROUP BY 1)
        |SELECT cluster_size, count(*) AS n_clusters,
        |  CAST(sum(cluster_size) AS BIGINT) AS n_docs
        |FROM sz2 GROUP BY 1 ORDER BY cluster_size""".stripMargin)),
    // qualitySample(seed=qs0): u = first 8 md5 hex digits as an integer
    // (digit fold with exact powers of 16 — every intermediate is exact
    // in a double); kept iff u < quality * 2^32, both engines computing
    // the identical IEEE product
    QuerySpec("corpus_quality_sample", TextAnalysis.qualitySample(_, _), Oracle(
      """WITH q AS (SELECT doc_id,
        |  floor((0.5 * (n_stop / greatest(n_tok, 1.0))
        |      + 0.3 * least(len / 500.0, 1.0)
        |      + 0.2 * (1.0 - n_punct / greatest(len, 1.0))) * 1e4 + 0.5) / 1e4 AS quality
        |  FROM (SELECT doc_id,
        |          CAST(len(list_filter(string_split_regex(text, '[ \n]'), t -> t != '')) AS DOUBLE) AS n_tok,
        |          CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is)\b')) AS DOUBLE) AS n_stop,
        |          CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \n]')) AS DOUBLE) AS n_punct,
        |          CAST(length(text) AS DOUBLE) AS len
        |        FROM documents)),
        |u AS (SELECT doc_id, list_sum(list_transform(range(1, 9),
        |        i -> (strpos('0123456789abcdef',
        |                substr(md5('qs0|' || CAST(doc_id AS VARCHAR)), i, 1)) - 1)
        |             * pow(16, 8 - i))) AS uval
        |      FROM documents)
        |SELECT d.doc_id, d.source, q.quality
        |FROM documents d JOIN q USING (doc_id) JOIN u USING (doc_id)
        |WHERE u.uval < q.quality * 4294967296.0
        |ORDER BY d.doc_id""".stripMargin)),
    // weightedSample(k=300, seed=wks0): Efraimidis–Spirakis replayed —
    // same quality CTE, same digit-fold uniform (+1 so u > 0), ranked
    // on the 10-dp rounded ln(u)/max(quality, 0.01) key.
    // ULP CAVEAT (see weightedSample's scaladoc): this is the one
    // hash-compared query containing a transcendental (ln is not
    // IEEE-correctly-rounded; JVM Math.log vs DuckDB libm could differ
    // by 1 ulp exactly on a 10-dp boundary of es_key). A red hash here
    // after a data refresh means "find the boundary doc_id and compare
    // unrounded ln values", not "the operator broke".
    QuerySpec("corpus_weighted_sample", TextAnalysis.weightedSample(_, _), Oracle(
      """WITH q AS (SELECT doc_id,
        |  floor((0.5 * (n_stop / greatest(n_tok, 1.0))
        |      + 0.3 * least(len / 500.0, 1.0)
        |      + 0.2 * (1.0 - n_punct / greatest(len, 1.0))) * 1e4 + 0.5) / 1e4 AS quality
        |  FROM (SELECT doc_id,
        |          CAST(len(list_filter(string_split_regex(text, '[ \n]'), t -> t != '')) AS DOUBLE) AS n_tok,
        |          CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is)\b')) AS DOUBLE) AS n_stop,
        |          CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \n]')) AS DOUBLE) AS n_punct,
        |          CAST(length(text) AS DOUBLE) AS len
        |        FROM documents)),
        |u AS (SELECT doc_id, list_sum(list_transform(range(1, 9),
        |        i -> (strpos('0123456789abcdef',
        |                substr(md5('wks0|' || CAST(doc_id AS VARCHAR)), i, 1)) - 1)
        |             * pow(16, 8 - i))) AS uval
        |      FROM documents)
        |SELECT q.doc_id, q.quality,
        |  floor((ln((u.uval + 1.0) / 4294967296.0)
        |         / greatest(q.quality, 0.01)) * 1e10 + 0.5) / 1e10 AS es_key
        |FROM q JOIN u USING (doc_id)
        |ORDER BY es_key DESC, doc_id ASC LIMIT 300""".stripMargin)),
    // splitAssign(seed=split0, 90/5/5): same digit-fold uniform, bucket
    // by mod 100
    QuerySpec("corpus_split_assign", TextAnalysis.splitAssign(_, _), Oracle(
      """WITH u AS (SELECT doc_id, CAST(list_sum(list_transform(range(1, 9),
        |        i -> (strpos('0123456789abcdef',
        |                substr(md5('split0|' || CAST(doc_id AS VARCHAR)), i, 1)) - 1)
        |             * pow(16, 8 - i))) AS BIGINT) % 100 AS bucket
        |      FROM documents)
        |SELECT d.doc_id, d.source, u.bucket,
        |  CASE WHEN u.bucket < 90 THEN 'train'
        |       WHEN u.bucket < 95 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents d JOIN u USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),
    // sourceVocabOverlap: the oracle states the intersection as the
    // token-keyed self-join the engine deliberately avoids (its
    // row-local pair expansion must reproduce it exactly)
    QuerySpec("corpus_source_overlap", TextAnalysis.sourceVocabOverlap(_, _), Oracle(
      """WITH st AS (SELECT DISTINCT source, token FROM
        |       (SELECT source,
        |          unnest(list_filter(string_split_regex(text, '[ \n]'), t -> t != '')) AS token
        |        FROM documents)),
        |v AS (SELECT source, count(*) AS vocab FROM st GROUP BY 1),
        |i AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
        |      FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT i.src_a, i.src_b, va.vocab AS vocab_a, vb.vocab AS vocab_b,
        |  i.n_shared,
        |  floor((CAST(i.n_shared AS DOUBLE) / (va.vocab + vb.vocab - i.n_shared)) * 1e4 + 0.5) / 1e4 AS jaccard
        |FROM i JOIN v va ON va.source = i.src_a JOIN v vb ON vb.source = i.src_b
        |ORDER BY i.src_a, i.src_b""".stripMargin)),
    // bigramStats(k=100): row-local adjacent pairs, top-K by count with
    // (w1, w2) tiebreak, PMI via the same 6-dp log10 replay as
    // text_unigram_logprob
    QuerySpec("corpus_bigrams", TextAnalysis.bigramStats(_, _), Oracle(
      """WITH w AS (SELECT list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS words
        |           FROM documents),
        |bgp AS (SELECT unnest([{'w1': words[i], 'w2': words[i+1]}
        |                       for i in range(1, len(words))]) AS p FROM w),
        |bg AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS n_pair FROM bgp GROUP BY 1, 2),
        |u AS (SELECT w, count(*) AS n_w
        |      FROM (SELECT unnest(words) AS w FROM w) GROUP BY 1),
        |tot AS (SELECT (SELECT sum(n_w) FROM u) AS nu,
        |               (SELECT sum(n_pair) FROM bg) AS nb),
        |topk AS (SELECT * FROM bg ORDER BY n_pair DESC, w1, w2 LIMIT 100)
        |SELECT t.w1, t.w2, t.n_pair,
        |  floor(log10((CAST(t.n_pair AS DOUBLE) * tot.nu * tot.nu) /
        |              (CAST(tot.nb AS DOUBLE) * u1.n_w * u2.n_w)) * 1e6 + 0.5) / 1e6 AS pmi
        |FROM topk t JOIN u u1 ON u1.w = t.w1 JOIN u u2 ON u2.w = t.w2, tot
        |ORDER BY t.n_pair DESC, t.w1, t.w2""".stripMargin)),
    // bigramLogProb: add-one-smoothed conditional lp at 6 dp, exact
    // integer-unit mean (the text_unigram_logprob device, one n-gram up)
    QuerySpec("text_bigram_logprob", TextAnalysis.bigramLogProb(_, _), Oracle(
      """WITH w AS (SELECT doc_id,
        |             list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS words
        |           FROM documents),
        |d AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2
        |      FROM (SELECT doc_id, unnest([{'w1': words[i], 'w2': words[i+1]}
        |                                   for i in range(1, len(words))]) AS p
        |            FROM w)),
        |bg AS (SELECT w1, w2, count(*) AS n_pair FROM d GROUP BY 1, 2),
        |uni AS (SELECT t AS w1, count(*) AS n_w1
        |        FROM (SELECT unnest(words) AS t FROM w) GROUP BY 1),
        |v AS (SELECT count(*) AS vocab FROM uni),
        |lp AS (SELECT d.doc_id,
        |         floor(log10(CAST(n_pair + 1 AS DOUBLE) /
        |                     CAST(n_w1 + vocab AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS lp
        |       FROM d JOIN bg USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  floor((CAST(sum(CAST(floor(lp * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
        |         / (count(*) * 1e6)) * 1e4 + 0.5) / 1e4 AS avg_logprob
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // zipfFit(topN=1000): logs quantized at 6 dp, exact integer-unit
    // sums, identical IEEE least-squares arithmetic in both engines
    QuerySpec("corpus_zipf", TextAnalysis.zipfFit(_, _), Oracle(
      """WITH f AS (SELECT t AS token, count(*) AS cnt
        |           FROM (SELECT unnest(list_filter(string_split_regex(text, '[ \n]'),
        |                                           x -> x != '')) AS t
        |                 FROM documents) GROUP BY 1),
        |top AS (SELECT token, cnt FROM f ORDER BY cnt DESC, token LIMIT 1000),
        |rk AS (SELECT row_number() OVER (ORDER BY cnt DESC, token) AS rank, cnt FROM top),
        |xy AS (SELECT floor(log10(CAST(rank AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS x,
        |              floor(log10(CAST(cnt AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS y
        |       FROM rk),
        |s AS (SELECT count(*) AS n,
        |        CAST(sum(CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS sx,
        |        CAST(sum(CAST(floor(y * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS sy,
        |        CAST(sum(CAST(floor((floor(x * y * 1e6 + 0.5) / 1e6) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS sxy,
        |        CAST(sum(CAST(floor((floor(x * x * 1e6 + 0.5) / 1e6) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS sxx
        |      FROM xy)
        |SELECT n AS n_fit,
        |  floor(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 1e4 + 0.5) / 1e4 AS slope,
        |  floor(((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n) * 1e4 + 0.5) / 1e4 AS intercept
        |FROM s""".stripMargin)),
    // bpeMergeStep: top pair replays the bigram CTE; greedy non-overlap
    // merge count = plain adjacent-match count when w1 != w2 (overlap
    // impossible), floor(run/2) over w1-runs (gaps-and-islands) when
    // w1 = w2
    QuerySpec("text_bpe_merge", TextAnalysis.bpeMergeStep(_, _), Oracle(
      """WITH w AS (SELECT doc_id,
        |             list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS words
        |           FROM documents),
        |bg AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS n
        |       FROM (SELECT unnest([{'w1': words[i], 'w2': words[i+1]}
        |                            for i in range(1, len(words))]) AS p FROM w)
        |       GROUP BY 1, 2),
        |top AS (SELECT w1, w2 FROM bg ORDER BY n DESC, w1, w2 LIMIT 1),
        |tok AS (SELECT doc_id, t.i AS i, t.w AS w
        |        FROM (SELECT doc_id, unnest([{'i': i, 'w': words[i]}
        |                                     for i in range(1, len(words) + 1)]) AS t
        |              FROM w)),
        |c1 AS (SELECT a.doc_id, count(*) AS m
        |       FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1
        |         CROSS JOIN top
        |       WHERE a.w = top.w1 AND b.w = top.w2 GROUP BY a.doc_id),
        |r AS (SELECT tok.doc_id, tok.i,
        |        tok.i - row_number() OVER (PARTITION BY tok.doc_id ORDER BY tok.i) AS grp
        |      FROM tok CROSS JOIN top WHERE tok.w = top.w1 AND top.w1 = top.w2),
        |c2 AS (SELECT doc_id, CAST(sum(L // 2) AS BIGINT) AS m
        |       FROM (SELECT doc_id, count(*) AS L FROM r GROUP BY doc_id, grp)
        |       GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(d.words) AS BIGINT) AS n_tokens, top.w1, top.w2,
        |  CAST(CASE WHEN top.w1 = top.w2 THEN coalesce(c2.m, 0)
        |       ELSE coalesce(c1.m, 0) END AS BIGINT) AS n_merges,
        |  CAST(len(d.words) - (CASE WHEN top.w1 = top.w2 THEN coalesce(c2.m, 0)
        |                       ELSE coalesce(c1.m, 0) END) AS BIGINT) AS n_tokens_after
        |FROM w d CROSS JOIN top
        |  LEFT JOIN c1 ON c1.doc_id = d.doc_id
        |  LEFT JOIN c2 ON c2.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin)),
    // bpeTrain(rounds=5): the k-round trainer replayed literally — each
    // round re-splits the chr(2)-delimited symbol strings for the pair
    // count, picks the (count desc, w1, w2) winner, and applies the
    // same literal replace() the Spark side runs (identical left-to-
    // right non-overlapping scan semantics in both engines); merges
    // fall out of chr(1) counts, symbols out of chr(2) counts
    QuerySpec("text_bpe_train", TextAnalysis.bpeTrain(_, _), Oracle((bpeReplayCtes +
      """
        |SELECT round, w1, w2, n_pair,
        |  glued - lag(glued, 1, 0) OVER (ORDER BY round) AS n_merges,
        |  n_tokens_after
        |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
        |      UNION ALL SELECT * FROM r4 UNION ALL SELECT * FROM r5)
        |ORDER BY round""".stripMargin))),
    // the k>>5 regime: 8 scans x up-to-64 disjoint merges (~318 learned
    // on this corpus) instead of one corpus scan per merge
    // bpeTrainBatched(scans=8, batch=64, window=32768): per scan, rank
    // the pair counts, replay the greedy disjoint selection as a
    // recursive CTE (state = used-symbol list), fold the kept merges
    // over the corpus in one list_reduce pass
    QuerySpec("text_bpe_train_batched", TextAnalysis.bpeTrainBatched(_, _),
      Oracle(bpeBatchedTrainSql(8, 64, 32768))),
    // bpeEncodeHoldoutBatched: batched training on even doc_ids, then
    // each scan's kept merges fold over the odd split in learned order
    QuerySpec("text_bpe_holdout_batched", TextAnalysis.bpeEncodeHoldoutBatched(_, _),
      Oracle(bpeBatchedHoldoutSql(8, 64, 32768))),
    // bpeEncodeBatched: the full-corpus encode equals the batched
    // trainer's final rewritten state s8 (replay-equivalence: scan k's
    // merges apply to exactly the state scan k trained on)
    QuerySpec("text_bpe_apply_batched", TextAnalysis.bpeEncodeBatched(_, _),
      Oracle((bpeBatchedCtesOver("", 8, 64, 32768) +
      """
        |SELECT doc_id,
        |  CAST((length(s) - length(replace(s, chr(1), '')))
        |     + (length(s) - length(replace(s, chr(2), ''))) // 2 AS BIGINT) AS n_tokens,
        |  CAST(length(s) - length(replace(s, chr(1), '')) AS BIGINT) AS n_merges,
        |  CAST((length(s) - length(replace(s, chr(2), ''))) // 2 AS BIGINT) AS n_tokens_after,
        |  replace(array_to_string(list_filter(string_split(s, chr(2)), x -> x != ''), ' '),
        |          chr(1), '_') AS encoded
        |FROM s8
        |ORDER BY doc_id""".stripMargin))),
    // bpeEncode(rounds=5): the SAME 5-round replay as text_bpe_train
    // (identical s0..s5 chain), but the final projection reads the
    // ENCODED corpus state s5 per document — counts off the delimited
    // chr(1)/chr(2) representation (2 seps per symbol, 1 glue per
    // merge), encoded string by re-joining the symbols with spaces
    QuerySpec("text_bpe_apply", TextAnalysis.bpeEncode(_, _), Oracle((bpeReplayCtes +
      """
        |SELECT doc_id,
        |  CAST((length(s) - length(replace(s, chr(1), '')))
        |     + (length(s) - length(replace(s, chr(2), ''))) // 2 AS BIGINT) AS n_tokens,
        |  CAST(length(s) - length(replace(s, chr(1), '')) AS BIGINT) AS n_merges,
        |  CAST((length(s) - length(replace(s, chr(2), ''))) // 2 AS BIGINT) AS n_tokens_after,
        |  replace(array_to_string(list_filter(string_split(s, chr(2)), x -> x != ''), ' '),
        |          chr(1), '_') AS encoded
        |FROM s5
        |ORDER BY doc_id""".stripMargin))),
    // bpeEncodeHoldout(rounds=5): train t/g on even doc_ids, replay the
    // learned merges over the odd split (h0..h5), project per doc —
    // the train/apply separation a tokenizer team operates
    QuerySpec("text_bpe_encode_holdout", TextAnalysis.bpeEncodeHoldout(_, _),
      Oracle((bpeHoldoutCtes +
      """
        |SELECT doc_id,
        |  CAST((length(s) - length(replace(s, chr(1), '')))
        |     + (length(s) - length(replace(s, chr(2), ''))) // 2 AS BIGINT) AS n_tokens,
        |  CAST(length(s) - length(replace(s, chr(1), '')) AS BIGINT) AS n_merges,
        |  CAST((length(s) - length(replace(s, chr(2), ''))) // 2 AS BIGINT) AS n_tokens_after,
        |  replace(array_to_string(list_filter(string_split(s, chr(2)), x -> x != ''), ' '),
        |          chr(1), '_') AS encoded
        |FROM h5
        |ORDER BY doc_id""".stripMargin))),
    // docFrequencySpectrum: distinct (doc, token) then two bounded aggs
    QuerySpec("corpus_df_spectrum", TextAnalysis.docFrequencySpectrum(_, _), Oracle(
      """WITH dt AS (SELECT DISTINCT doc_id, t AS token
        |            FROM (SELECT doc_id,
        |                    unnest(list_filter(string_split_regex(text, '[ \n]'),
        |                                       x -> x != '')) AS t
        |                  FROM documents)),
        |df AS (SELECT token, count(*) AS df FROM dt GROUP BY token)
        |SELECT df, count(*) AS n_tokens FROM df GROUP BY df ORDER BY df""".stripMargin)),
    // splitLeakage(threshold=0.8): the ngram-jaccard pair CTE (same body
    // as ngramJaccardOracle) joined twice against the split-bucket
    // replay (same md5 device as corpus_split_assign)
    QuerySpec("corpus_split_leakage", TextAnalysis.splitLeakage(_, _), Oracle(
      """WITH w AS (SELECT doc_id,
        |             list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS words
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id, shingle
        |       FROM (SELECT doc_id,
        |               unnest([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
        |                       for i in range(1, greatest(len(words) - 1, 1))]) AS shingle
        |             FROM w)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         floor((count(*) * 1.0 / (sa.sz + sb.sz - count(*))) * 1e4 + 0.5) / 1e4 AS jaccard
        |       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |         JOIN sz sa ON sa.doc_id = a.doc_id
        |         JOIN sz sb ON sb.doc_id = b.doc_id
        |       GROUP BY a.doc_id, b.doc_id, sa.sz, sb.sz
        |       HAVING floor((count(*) * 1.0 / (sa.sz + sb.sz - count(*))) * 1e4 + 0.5) / 1e4 >= 0.8),
        |sp AS (SELECT doc_id,
        |         CASE WHEN bucket < 90 THEN 'train'
        |              WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
        |       FROM (SELECT doc_id, CAST(list_sum(list_transform(range(1, 9),
        |               i -> (strpos('0123456789abcdef',
        |                       substr(md5('split0|' || CAST(doc_id AS VARCHAR)), i, 1)) - 1)
        |                    * pow(16, 8 - i))) AS BIGINT) % 100 AS bucket
        |             FROM documents))
        |SELECT p.doc_a, p.doc_b, p.jaccard, sa.split AS split_a, sb.split AS split_b
        |FROM pr p JOIN sp sa ON sa.doc_id = p.doc_a JOIN sp sb ON sb.doc_id = p.doc_b
        |WHERE sa.split != sb.split
        |ORDER BY p.doc_a, p.doc_b""".stripMargin)),
    // splitRepair: the leakage CTEs + follow-the-minimum-doc_a rule
    QuerySpec("corpus_split_repair", TextAnalysis.splitRepair(_, _), Oracle(
      """WITH w AS (SELECT doc_id,
        |             list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS words
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id, shingle
        |       FROM (SELECT doc_id,
        |               unnest([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
        |                       for i in range(1, greatest(len(words) - 1, 1))]) AS shingle
        |             FROM w)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |         JOIN sz sa ON sa.doc_id = a.doc_id
        |         JOIN sz sb ON sb.doc_id = b.doc_id
        |       GROUP BY a.doc_id, b.doc_id, sa.sz, sb.sz
        |       HAVING floor((count(*) * 1.0 / (sa.sz + sb.sz - count(*))) * 1e4 + 0.5) / 1e4 >= 0.8),
        |sp AS (SELECT doc_id,
        |         CASE WHEN bucket < 90 THEN 'train'
        |              WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
        |       FROM (SELECT doc_id, CAST(list_sum(list_transform(range(1, 9),
        |               i -> (strpos('0123456789abcdef',
        |                       substr(md5('split0|' || CAST(doc_id AS VARCHAR)), i, 1)) - 1)
        |                    * pow(16, 8 - i))) AS BIGINT) % 100 AS bucket
        |             FROM documents)),
        |mv AS (SELECT p.doc_b AS doc_id, min(p.doc_a) AS follow_doc
        |       FROM pr p JOIN sp sa ON sa.doc_id = p.doc_a
        |         JOIN sp sb ON sb.doc_id = p.doc_b
        |       WHERE sa.split != sb.split GROUP BY p.doc_b)
        |SELECT m.doc_id, so.split AS old_split, sn.split AS new_split, m.follow_doc
        |FROM mv m JOIN sp so ON so.doc_id = m.doc_id
        |  JOIN sp sn ON sn.doc_id = m.follow_doc
        |ORDER BY m.doc_id""".stripMargin)),
    // splitRepairConverged: the fixpoint is "every doc in a near-dup
    // connected component takes the split of the component's min-id
    // doc" — the oracle states the components as the same recursive
    // transitive closure dedup_clusters uses, over the same 3-gram
    // jaccard ≥ 0.8 pair set, then replays the split hash
    QuerySpec("corpus_split_repair_converged", TextAnalysis.splitRepairConverged(_, _), Oracle(
      """WITH RECURSIVE pairs AS (
        |  WITH w AS (SELECT doc_id,
        |               list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS words
        |             FROM documents),
        |  sh AS (SELECT DISTINCT doc_id, shingle
        |         FROM (SELECT doc_id,
        |                 unnest([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
        |                         for i in range(1, greatest(len(words) - 1, 1))]) AS shingle
        |               FROM w)),
        |  sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    JOIN sz sa ON sa.doc_id = a.doc_id
        |    JOIN sz sb ON sb.doc_id = b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, sa.sz, sb.sz
        |  HAVING floor((count(*) * 1.0 / (sa.sz + sb.sz - count(*))) * 1e4 + 0.5) / 1e4 >= 0.8),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |rt(a, b) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT rt.a, e.dst FROM rt JOIN edges e ON rt.b = e.src),
        |cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM rt GROUP BY a),
        |sp AS (SELECT doc_id,
        |         CASE WHEN bucket < 90 THEN 'train'
        |              WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
        |       FROM (SELECT doc_id, CAST(list_sum(list_transform(range(1, 9),
        |               i -> (strpos('0123456789abcdef',
        |                       substr(md5('split0|' || CAST(doc_id AS VARCHAR)), i, 1)) - 1)
        |                    * pow(16, 8 - i))) AS BIGINT) % 100 AS bucket
        |             FROM documents))
        |SELECT c.doc_id, so.split AS old_split, sn.split AS new_split, c.cluster_id
        |FROM cl c JOIN sp so ON so.doc_id = c.doc_id
        |  JOIN sp sn ON sn.doc_id = c.cluster_id
        |WHERE so.split != sn.split
        |ORDER BY c.doc_id""".stripMargin)),
    // readability: sentence segments on [.!?] (trimmed non-empty, min
    // 1), vowel-group syllables (min 1/word), 4-dp Flesch replay
    QuerySpec("text_readability", TextAnalysis.readability(_, _), Oracle(
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \n]'), x -> x != '') AS words,
        |    greatest(len(list_filter(list_transform(string_split_regex(text, '[.!?]'),
        |      s -> trim(s)), s -> s != '')), 1) AS n_sentences
        |  FROM documents),
        |s AS (SELECT doc_id,
        |    CAST(len(words) AS BIGINT) AS n_words,
        |    CAST(n_sentences AS BIGINT) AS n_sentences,
        |    CAST(coalesce(list_sum(list_transform(words,
        |        w -> greatest(len(list_filter(string_split_regex(lower(w), '[^aeiouy]+'),
        |                          g -> g != '')), 1))), 0) AS BIGINT) AS n_syllables
        |  FROM t)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  floor((206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
        |         - 84.6 * (CAST(n_syllables AS DOUBLE) / greatest(n_words, 1)))
        |        * 1e4 + 0.5) / 1e4 AS reading_ease
        |FROM s ORDER BY doc_id""".stripMargin)),
    // lengthHistogram(binWidth=100): integer bins over the same
    // whitespace-token count the signal index stores
    QuerySpec("text_length_histogram", TextAnalysis.lengthHistogram(_, _), Oracle(
      """WITH n AS (SELECT source,
        |             len(list_filter(string_split_regex(text, '[ \n]'), t -> t != '')) AS n_tok
        |           FROM documents)
        |SELECT source, CAST(floor(n_tok / 100.0) AS BIGINT) AS bin,
        |  CAST(floor(n_tok / 100.0) AS BIGINT) * 100 AS bin_low,
        |  count(*) AS n_docs
        |FROM n GROUP BY 1, 2, 3 ORDER BY source, bin""".stripMargin)),
    // embeddingDecontaminate(eval=src9, tau=0.4): per-pair 4-dp rounding
    // inside the max, exactly as the engine aggregates
    QuerySpec("embedding_decontamination", Similarity.embeddingDecontaminate(_, _), Oracle(
      """WITH n AS (SELECT vec_id, embedding,
        |             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
        |           FROM embeddings),
        |ev AS (SELECT n.vec_id, n.embedding, n.nrm FROM n
        |       JOIN documents d ON n.vec_id = d.doc_id WHERE d.source = 'src9'),
        |tr AS (SELECT n.vec_id, n.embedding, n.nrm FROM n
        |       JOIN documents d ON n.vec_id = d.doc_id WHERE d.source != 'src9'),
        |m AS (SELECT t.vec_id AS doc_id,
        |        max(floor((list_sum(list_transform(range(1, 65),
        |              i -> CAST(list_extract(t.embedding, i) AS DOUBLE)
        |                 * CAST(list_extract(e.embedding, i) AS DOUBLE)))
        |            / (t.nrm * e.nrm)) * 1e4 + 0.5) / 1e4) AS max_eval_cosine
        |      FROM tr t, ev e GROUP BY 1)
        |SELECT doc_id, max_eval_cosine, max_eval_cosine >= 0.4 AS contaminated
        |FROM m ORDER BY doc_id""".stripMargin)),
    // qualityBudgetCalibration(budget=20000): quality replayed per doc,
    // binned at its own 4-dp grid, window cumsum over the tiny bin table
    QuerySpec("curation_quality_threshold", TextAnalysis.qualityBudgetCalibration(_, _), Oracle(
      """WITH q AS (SELECT doc_id,
        |  floor((0.5 * (n_stop / greatest(n_tok, 1.0))
        |      + 0.3 * least(len / 500.0, 1.0)
        |      + 0.2 * (1.0 - n_punct / greatest(len, 1.0))) * 1e4 + 0.5) / 1e4 AS quality
        |  FROM (SELECT doc_id,
        |          CAST(len(list_filter(string_split_regex(text, '[ \n]'), t -> t != '')) AS DOUBLE) AS n_tok,
        |          CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is)\b')) AS DOUBLE) AS n_stop,
        |          CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \n]')) AS DOUBLE) AS n_punct,
        |          CAST(length(text) AS DOUBLE) AS len
        |        FROM documents)),
        |t AS (SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '[ \n]'), x -> x != '')) AS INT) AS n_tokens
        |  FROM documents),
        |bins AS (SELECT q.quality, count(*) AS n_docs,
        |           CAST(sum(t.n_tokens) AS BIGINT) AS bin_tokens
        |         FROM q JOIN t USING (doc_id) GROUP BY 1),
        |c AS (SELECT quality, n_docs, bin_tokens,
        |        CAST(sum(bin_tokens) OVER (ORDER BY quality DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |      FROM bins)
        |SELECT quality, n_docs, bin_tokens, cum_tokens,
        |  (cum_tokens - bin_tokens) < 20000 AS kept
        |FROM c ORDER BY quality DESC""".stripMargin)),
    // vocabStats: wordcount-currency counts per (source, token); hapax =
    // count-1 tokens; top token tiebreaks lexicographically
    QuerySpec("corpus_vocab_stats", TextAnalysis.vocabStats(_, _), Oracle(
      """WITH tok AS (SELECT source,
        |               unnest(list_filter(string_split_regex(text, '[ \n]'), t -> t != '')) AS token
        |             FROM documents),
        |counts AS (SELECT source, token, count(*) AS cnt FROM tok GROUP BY 1, 2),
        |top AS (SELECT source, token AS top_token, cnt AS top_token_count
        |        FROM (SELECT source, token, cnt,
        |                row_number() OVER (PARTITION BY source ORDER BY cnt DESC, token) AS rk
        |              FROM counts) WHERE rk = 1),
        |agg AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS total_tokens,
        |          count(*) AS vocab_size,
        |          CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count
        |        FROM counts GROUP BY 1)
        |SELECT a.source, a.total_tokens, a.vocab_size, a.hapax_count,
        |  floor((CAST(a.vocab_size AS DOUBLE) / a.total_tokens) * 1e4 + 0.5) / 1e4 AS type_token_ratio,
        |  t.top_token, t.top_token_count
        |FROM agg a JOIN top t USING (source) ORDER BY a.source""".stripMargin)),
    // applyDiff: MERGE INTO replayed as full-outer join + filter; the
    // change-set is the same %11/%7/%13 scheme snapshotDiff diffs against
    QuerySpec("corpus_apply_diff", TextAnalysis.applyDiff(_, _), Oracle(
      """WITH base AS (SELECT doc_id, text FROM documents),
        |ch AS (
        |  SELECT doc_id, 'delete' AS op, CAST(NULL AS VARCHAR) AS text_new
        |  FROM base WHERE doc_id % 11 = 0
        |  UNION ALL
        |  SELECT doc_id, 'upsert', text || ' [edited]'
        |  FROM base WHERE doc_id % 7 = 0 AND doc_id % 11 != 0
        |  UNION ALL
        |  SELECT doc_id + 1000000000, 'upsert', text
        |  FROM base WHERE doc_id % 13 = 0),
        |m AS (SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
        |        CASE WHEN c.op = 'upsert' THEN c.text_new ELSE b.text END AS text,
        |        c.op
        |      FROM base b FULL OUTER JOIN ch c ON b.doc_id = c.doc_id)
        |SELECT doc_id, md5(text) AS fp FROM m
        |WHERE op IS NULL OR op != 'delete' ORDER BY doc_id""".stripMargin)),
    // snapshotDiff: synthetic next snapshot (%11 dropped, %7 edited,
    // %13 re-added under a shifted id), md5 compare
    QuerySpec("corpus_diff", TextAnalysis.snapshotDiff(_, _), Oracle(
      """WITH oldd AS (SELECT doc_id, md5(text) AS old_fp FROM documents),
        |nextd AS (
        |  SELECT doc_id, md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [edited]' ELSE text END) AS new_fp
        |  FROM documents WHERE doc_id % 11 != 0
        |  UNION ALL
        |  SELECT doc_id + 1000000000, md5(text) FROM documents WHERE doc_id % 13 = 0)
        |SELECT doc_id, old_fp, new_fp,
        |  CASE WHEN old_fp IS NULL THEN 'added'
        |       WHEN new_fp IS NULL THEN 'removed'
        |       WHEN old_fp != new_fp THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM oldd FULL OUTER JOIN nextd USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),
    // chunk-grain churn accounting over the same synthetic refresh —
    // both snapshots' fp sets are stored artifacts
    // chunkSnapshotDiff: the same synthetic refresh as corpus_diff, at
    // chunk grain — replay stride-32 chunking on both snapshots, take
    // per-source distinct fps, full-outer diff, source-bounded rollup
    QuerySpec("corpus_chunk_diff", TextAnalysis.chunkSnapshotDiff(_, _), Oracle(
      """WITH t AS (SELECT doc_id, source, text FROM documents),
        |nx AS (SELECT doc_id, source,
        |         CASE WHEN doc_id % 7 = 0 THEN text || ' [edited]' ELSE text END AS text
        |       FROM t WHERE doc_id % 11 != 0
        |       UNION ALL
        |       SELECT doc_id + 1000000000, source, text FROM t WHERE doc_id % 13 = 0),
        |ofp AS (SELECT DISTINCT source,
        |          md5(array_to_string(list_slice(toks, start + 1, start + 32), ' ')) AS chunk_fp
        |        FROM (SELECT source, toks,
        |                unnest(range(0, greatest(len(toks), 1), 32)) AS start
        |              FROM (SELECT source,
        |                      list_filter(string_split_regex(text, '[ \n]'), x -> x != '') AS toks
        |                    FROM t))),
        |nfp AS (SELECT DISTINCT source,
        |          md5(array_to_string(list_slice(toks, start + 1, start + 32), ' ')) AS chunk_fp
        |        FROM (SELECT source, toks,
        |                unnest(range(0, greatest(len(toks), 1), 32)) AS start
        |              FROM (SELECT source,
        |                      list_filter(string_split_regex(text, '[ \n]'), x -> x != '') AS toks
        |                    FROM nx))),
        |j AS (SELECT coalesce(o.source, n.source) AS source,
        |        o.chunk_fp AS o_fp, n.chunk_fp AS n_fp
        |      FROM ofp o FULL OUTER JOIN nfp n
        |        ON o.source = n.source AND o.chunk_fp = n.chunk_fp)
        |SELECT source, n_old, n_new, n_added, n_removed,
        |  n_old - n_removed AS n_common,
        |  floor((CAST(n_added + n_removed AS DOUBLE) / greatest(n_old, 1)) * 1e4 + 0.5) / 1e4 AS churn
        |FROM (SELECT source,
        |        CAST(sum(CASE WHEN o_fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
        |        CAST(sum(CASE WHEN n_fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |        CAST(sum(CASE WHEN o_fp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |        CAST(sum(CASE WHEN n_fp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
        |      FROM j GROUP BY source)
        |ORDER BY source""".stripMargin)),
    // keepBestPerCluster: near-dup clusters (recursive closure over the
    // exact-jaccard pairs, as dedup_clusters) + quality (as text_quality),
    // keep the argmax-quality member per cluster, ties to lower doc_id
    QuerySpec("curation_keep_best", TextAnalysis.keepBestPerCluster(_, _), Oracle(
      """WITH RECURSIVE pairs AS (
        |  WITH w AS (SELECT doc_id,
        |               list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS words
        |             FROM documents),
        |  sh AS (SELECT DISTINCT doc_id, shingle
        |         FROM (SELECT doc_id,
        |                 unnest([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
        |                         for i in range(1, greatest(len(words) - 1, 1))]) AS shingle
        |               FROM w)),
        |  sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    JOIN sz sa ON sa.doc_id = a.doc_id
        |    JOIN sz sb ON sb.doc_id = b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, sa.sz, sb.sz
        |  HAVING floor((count(*) * 1.0 / (sa.sz + sb.sz - count(*))) * 1e4 + 0.5) / 1e4 >= 0.8),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |rt(a, b) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT rt.a, e.dst FROM rt JOIN edges e ON rt.b = e.src),
        |cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM rt GROUP BY a),
        |q AS (SELECT doc_id,
        |  floor((0.5 * (n_stop / greatest(n_tok, 1.0))
        |      + 0.3 * least(len / 500.0, 1.0)
        |      + 0.2 * (1.0 - n_punct / greatest(len, 1.0))) * 1e4 + 0.5) / 1e4 AS quality
        |  FROM (SELECT doc_id,
        |          CAST(len(list_filter(string_split_regex(text, '[ \n]'), t -> t != '')) AS DOUBLE) AS n_tok,
        |          CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is)\b')) AS DOUBLE) AS n_stop,
        |          CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \n]')) AS DOUBLE) AS n_punct,
        |          CAST(length(text) AS DOUBLE) AS len
        |        FROM documents)),
        |withc AS (
        |  SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id, q.quality
        |  FROM documents d JOIN q ON q.doc_id = d.doc_id
        |    LEFT JOIN cl ON cl.doc_id = d.doc_id)
        |SELECT doc_id, cluster_id, quality,
        |  (row_number() OVER (PARTITION BY cluster_id
        |                      ORDER BY quality DESC, doc_id ASC)) = 1 AS kept
        |FROM withc ORDER BY doc_id""".stripMargin)),
    // keepBestPerClusterWinnow: same retention tail as curation_keep_best
    // (recursive closure -> min-label clusters -> argmax quality), but
    // the pairs are the CHAR-LEVEL winnowing pairs (as the green
    // dedup_winnowing oracle: rolling 8-gram hash, window-min sketch,
    // >64-doc fingerprint guard, sketch-Jaccard >= 0.5)
    QuerySpec("curation_keep_best_winnow", TextAnalysis.keepBestPerClusterWinnow(_, _), Oracle(
      """WITH RECURSIVE pairs AS (
        |  WITH t AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
        |  h AS (
        |    SELECT doc_id,
        |      list_transform(range(0, length(t) - 7),
        |        i -> list_reduce(list_transform(string_split(substr(t, CAST(i + 1 AS INT), 8), ''), c -> CAST(ord(c) AS BIGINT)),
        |                         (acc, x) -> (acc * 131 + x) % 2147483647)) AS hs
        |    FROM t WHERE length(t) >= 8),
        |  m AS (
        |    SELECT doc_id,
        |      unnest(list_transform(range(0, greatest(len(hs) - 8, 0) + 1),
        |        j -> list_min(list_slice(hs, CAST(j + 1 AS INT), CAST(j + 8 AS INT))))) AS fp
        |    FROM h),
        |  sk0 AS (SELECT DISTINCT doc_id, fp FROM m),
        |  hot AS (SELECT fp FROM sk0 GROUP BY fp HAVING count(*) > 64),
        |  sk AS (SELECT doc_id, fp FROM sk0 WHERE fp NOT IN (SELECT fp FROM hot)),
        |  sz AS (SELECT doc_id, count(*) AS sz FROM sk GROUP BY doc_id)
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sk a JOIN sk b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |    JOIN sz sa ON sa.doc_id = a.doc_id
        |    JOIN sz sb ON sb.doc_id = b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, sa.sz, sb.sz
        |  HAVING floor((count(*) * 1.0 / (sa.sz + sb.sz - count(*))) * 1e4 + 0.5) / 1e4 >= 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |rt(a, b) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT rt.a, e.dst FROM rt JOIN edges e ON rt.b = e.src),
        |cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM rt GROUP BY a),
        |q AS (SELECT doc_id,
        |  floor((0.5 * (n_stop / greatest(n_tok, 1.0))
        |      + 0.3 * least(len / 500.0, 1.0)
        |      + 0.2 * (1.0 - n_punct / greatest(len, 1.0))) * 1e4 + 0.5) / 1e4 AS quality
        |  FROM (SELECT doc_id,
        |          CAST(len(list_filter(string_split_regex(text, '[ \n]'), t -> t != '')) AS DOUBLE) AS n_tok,
        |          CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is)\b')) AS DOUBLE) AS n_stop,
        |          CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \n]')) AS DOUBLE) AS n_punct,
        |          CAST(length(text) AS DOUBLE) AS len
        |        FROM documents)),
        |withc AS (
        |  SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id, q.quality
        |  FROM documents d JOIN q ON q.doc_id = d.doc_id
        |    LEFT JOIN cl ON cl.doc_id = d.doc_id)
        |SELECT doc_id, cluster_id, quality,
        |  (row_number() OVER (PARTITION BY cluster_id
        |                      ORDER BY quality DESC, doc_id ASC)) = 1 AS kept
        |FROM withc ORDER BY doc_id""".stripMargin)),
    QuerySpec("text_lang_id", TextAnalysis.langId(_, _), Oracle(
      """SELECT doc_id, lang AS lang_label,
        |  CASE WHEN hd > greatest(he, hs, hf) THEN 'de'
        |       WHEN hf > greatest(he, hs) THEN 'fr'
        |       WHEN hs > he THEN 'es'
        |       WHEN he > 0 THEN 'en'
        |       ELSE 'und' END AS lang_pred,
        |  CAST(greatest(he, hs, hf, hd) AS INT) AS lang_hits
        |FROM (SELECT doc_id, lang,
        |        len(regexp_extract_all(text, '\b(the|and|of|to|is|that|it)\b')) AS he,
        |        len(regexp_extract_all(text, '\b(el|la|de|que|y|los|las)\b')) AS hs,
        |        len(regexp_extract_all(text, '\b(le|la|les|de|et|est|une)\b')) AS hf,
        |        len(regexp_extract_all(text, '\b(der|die|das|und|ist|nicht)\b')) AS hd
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin)),
    // mixedLanguage: the langid CASE per LINE, doc pred from the same
    // CASE over the whole text; detected = any profile hit
    QuerySpec("text_mixed_language", TextAnalysis.mixedLanguage(_, _), Oracle(
      """WITH dp AS (SELECT doc_id,
        |    CASE WHEN hd > greatest(he, hs, hf) THEN 'de'
        |         WHEN hf > greatest(he, hs) THEN 'fr'
        |         WHEN hs > he THEN 'es'
        |         WHEN he > 0 THEN 'en'
        |         ELSE 'und' END AS doc_lang
        |  FROM (SELECT doc_id,
        |          len(regexp_extract_all(text, '\b(the|and|of|to|is|that|it)\b')) AS he,
        |          len(regexp_extract_all(text, '\b(el|la|de|que|y|los|las)\b')) AS hs,
        |          len(regexp_extract_all(text, '\b(le|la|les|de|et|est|une)\b')) AS hf,
        |          len(regexp_extract_all(text, '\b(der|die|das|und|ist|nicht)\b')) AS hd
        |        FROM documents)),
        |ln AS (SELECT doc_id, l AS line
        |       FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l
        |             FROM documents) WHERE l != ''),
        |ll AS (SELECT doc_id,
        |    CASE WHEN hd > greatest(he, hs, hf) THEN 'de'
        |         WHEN hf > greatest(he, hs) THEN 'fr'
        |         WHEN hs > he THEN 'es'
        |         WHEN he > 0 THEN 'en'
        |         ELSE 'und' END AS line_lang
        |  FROM (SELECT doc_id,
        |          len(regexp_extract_all(line, '\b(the|and|of|to|is|that|it)\b')) AS he,
        |          len(regexp_extract_all(line, '\b(el|la|de|que|y|los|las)\b')) AS hs,
        |          len(regexp_extract_all(line, '\b(le|la|les|de|et|est|une)\b')) AS hf,
        |          len(regexp_extract_all(line, '\b(der|die|das|und|ist|nicht)\b')) AS hd
        |        FROM ln))
        |SELECT l.doc_id, d.doc_lang, count(*) AS n_lines,
        |  CAST(sum(CASE WHEN l.line_lang != 'und' THEN 1 ELSE 0 END) AS BIGINT) AS n_detected,
        |  CAST(sum(CASE WHEN l.line_lang != 'und' AND l.line_lang != d.doc_lang
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_foreign,
        |  floor((CAST(sum(CASE WHEN l.line_lang != 'und' AND l.line_lang != d.doc_lang
        |                       THEN 1 ELSE 0 END) AS DOUBLE)
        |        / greatest(sum(CASE WHEN l.line_lang != 'und' THEN 1 ELSE 0 END), 1))
        |        * 1e4 + 0.5) / 1e4 AS mixed_frac
        |FROM ll l JOIN dp d ON d.doc_id = l.doc_id
        |GROUP BY l.doc_id, d.doc_lang
        |ORDER BY l.doc_id""".stripMargin)),
    QuerySpec("text_fingerprint", TextAnalysis.fingerprint(_, _), Oracle(
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
        |  sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint_sha256
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // --- deduplication ---
    QuerySpec("dedup_exact", Dedup.exact(_, _), Oracle(
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
        |  min(doc_id) AS canonical_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY canonical_id""".stripMargin)),
    QuerySpec("text_fingerprint_rolling", TextAnalysis.rollingFingerprint(_, _), Oracle(
      """SELECT doc_id,
        |  CASE WHEN length(text) = 0 THEN 0 ELSE
        |    list_reduce(list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT)),
        |                (acc, x) -> (acc * 131 + x) % 2147483647) END AS rhash,
        |  CASE WHEN length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) = 0 THEN 0 ELSE
        |    list_reduce(list_transform(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ''),
        |                               c -> CAST(ord(c) AS BIGINT)),
        |                (acc, x) -> (acc * 131 + x) % 2147483647) END AS rhash_norm
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // winnowingSketch(k=8, w=8): per-position Karp-Rabin k-gram hashes
    // (same base-131 mod 2^31-1 recurrence as text_fingerprint_rolling),
    // window-min selection, distinct per doc
    QuerySpec("text_winnowing", TextAnalysis.winnowingSketch(_, _), Oracle(
      """WITH t AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    list_transform(range(0, length(t) - 7),
        |      i -> list_reduce(list_transform(string_split(substr(t, CAST(i + 1 AS INT), 8), ''), c -> CAST(ord(c) AS BIGINT)),
        |                       (acc, x) -> (acc * 131 + x) % 2147483647)) AS hs
        |  FROM t
        |  WHERE length(t) >= 8),
        |m AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, greatest(len(hs) - 8, 0) + 1),
        |      j -> {'win': j, 'fp': list_min(list_slice(hs, CAST(j + 1 AS INT), CAST(j + 8 AS INT)))})) AS u
        |  FROM h)
        |SELECT doc_id, u.fp AS fp, CAST(min(u.win) AS INT) AS first_win,
        |  count(*) AS n_windows
        |FROM m GROUP BY doc_id, u.fp ORDER BY doc_id, fp""".stripMargin)),
    QuerySpec("events_pivot", Events.userTypePivot(_, _), Oracle(
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    QuerySpec("quantity_percentiles", Events.quantityPercentiles(_, _), Oracle(
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS p50_qty,
        |  quantile_cont(l_quantity, 0.25) AS p25_qty,
        |  quantile_cont(l_quantity, 0.75) AS p75_qty,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    // ANALYZE-style per-column stats: one UNION branch per lineitem
    // column; numeric min/max rounded 4 dp like the engine, non-numeric
    // min/max NULL; distinct counts are exact (NULLs excluded by both
    // engines' count(DISTINCT ...))
    QuerySpec("stats_lineitem_columns", Stats.lineitemColumnStats(_, _), Oracle({
      val numeric = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val other = Seq("l_returnflag", "l_linestatus", "l_shipdate")
      val branches =
        numeric.map { c =>
          s"""SELECT '$c' AS col_name, count(*) AS n_rows,
             |  count(*) - count($c) AS n_nulls, count(DISTINCT $c) AS n_distinct,
             |  floor(CAST(min($c) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS min_num,
             |  floor(CAST(max($c) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS max_num
             |FROM lineitem""".stripMargin
        } ++ other.map { c =>
          s"""SELECT '$c' AS col_name, count(*) AS n_rows,
             |  count(*) - count($c) AS n_nulls, count(DISTINCT $c) AS n_distinct,
             |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num
             |FROM lineitem""".stripMargin
        }
      branches.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    })),
    QuerySpec("stats_lineitem_columns_approx", Stats.lineitemColumnStatsApprox(_, _),
      Bound(SketchBounds.lineitemColumnsApprox)),
    // equi-depth histogram: 4-dp-rounded quantile_cont boundaries (the
    // same percentile<->quantile_cont equivalence quantity_percentiles
    // relies on), bucket = number of boundaries strictly below the value
    QuerySpec("stats_equidepth_histogram", Stats.orderValueEquidepth(_, _), Oracle(
      """WITH b AS (SELECT list_transform(
        |    quantile_cont(o_totalprice, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
        |    q -> floor(q * 1e4 + 0.5) / 1e4) AS bs FROM orders),
        |a AS (SELECT o_totalprice AS v,
        |        len(list_filter(bs, x -> x < o_totalprice)) AS bucket
        |      FROM orders, b)
        |SELECT CAST(bucket AS INT) AS bucket, count(*) AS n_orders,
        |  min(v) AS lo, max(v) AS hi
        |FROM a GROUP BY bucket ORDER BY bucket""".stripMargin)),
    // no oracle: GK-sketch boundaries are engine-specific; StatsSpec
    // bounds the bucket depths against the exact form
    QuerySpec("stats_equidepth_histogram_approx", Stats.orderValueEquidepthApprox(_, _),
      Bound(SketchBounds.equidepthApprox)),
    QuerySpec("curation_pipeline", TextAnalysis.curationPipeline(_, _), Oracle(
      (curationCtes + "\n" +
       """SELECT d.doc_id, q.quality, t.n_tokens
        |FROM documents d
        |  JOIN q ON q.doc_id = d.doc_id
        |  JOIN l ON l.doc_id = d.doc_id
        |  JOIN t ON t.doc_id = d.doc_id
        |WHERE q.quality >= 0.4 AND l.lang_pred = 'en'
        |  AND NOT EXISTS (SELECT 1 FROM losers x WHERE x.doc_id = d.doc_id)
        |ORDER BY d.doc_id""".stripMargin))),
    // splitBudget: the manifest CTEs rolled to split grain; share over
    // the manifest total
    QuerySpec("corpus_split_budget", TextAnalysis.splitBudget(_, _), Oracle(
      (curationCtes + ",\n" +
       """sp AS (SELECT doc_id,
        |         CASE WHEN bucket < 90 THEN 'train'
        |              WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
        |       FROM (SELECT doc_id, CAST(list_sum(list_transform(range(1, 9),
        |               i -> (strpos('0123456789abcdef',
        |                       substr(md5('split0|' || CAST(doc_id AS VARCHAR)), i, 1)) - 1)
        |                    * pow(16, 8 - i))) AS BIGINT) % 100 AS bucket
        |             FROM documents)),
        |m AS (SELECT sp.split, t.n_tokens
        |      FROM documents d
        |        JOIN q ON q.doc_id = d.doc_id
        |        JOIN l ON l.doc_id = d.doc_id
        |        JOIN t ON t.doc_id = d.doc_id
        |        JOIN sp ON sp.doc_id = d.doc_id
        |      WHERE q.quality >= 0.4 AND l.lang_pred = 'en'
        |        AND NOT EXISTS (SELECT 1 FROM losers x WHERE x.doc_id = d.doc_id)),
        |tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS t FROM m)
        |SELECT split, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  floor((CAST(sum(n_tokens) AS DOUBLE) / (SELECT t FROM tot)) * 1e4 + 0.5) / 1e4 AS token_share
        |FROM m GROUP BY split ORDER BY split""".stripMargin))),
    // boilerplateBySource(minDf=2): the line-dedup hash currency at
    // source grain
    QuerySpec("text_boilerplate_by_source", TextAnalysis.boilerplateBySource(_, _), Oracle(
      """WITH pl AS (SELECT source, doc_id, md5(trim(l)) AS h
        |            FROM (SELECT source, doc_id, unnest(string_split(text, chr(10))) AS l
        |                  FROM documents)
        |            WHERE trim(l) != ''),
        |bo AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS n FROM pl GROUP BY h)
        |       WHERE n >= 2),
        |nb AS (SELECT source, count(*) AS n_boiler
        |       FROM pl WHERE h IN (SELECT h FROM bo) GROUP BY source),
        |nl AS (SELECT source, count(*) AS n_lines FROM pl GROUP BY source)
        |SELECT nl.source, nl.n_lines, coalesce(nb.n_boiler, 0) AS n_boiler,
        |  floor((CAST(coalesce(nb.n_boiler, 0) AS DOUBLE) / nl.n_lines) * 1e4 + 0.5) / 1e4 AS boilerplate_frac
        |FROM nl LEFT JOIN nb ON nb.source = nl.source
        |ORDER BY nl.source""".stripMargin)),
    // hashClassifier(dim=1024): md5-bucket features, md5-derived weight
    // table (range join), qavg mean, flag on the ROUNDED score
    QuerySpec("text_hash_classifier", TextAnalysis.hashClassifier(_, _), Oracle(
      """WITH toks AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '[ \n]'), t -> t != '')) AS tok
        |  FROM documents),
        |f AS (SELECT doc_id, CAST(list_sum(list_transform(range(1, 9),
        |        i -> (strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1)
        |             * pow(16, 8 - i))) AS BIGINT) % 1024 AS bucket
        |      FROM toks),
        |wt AS (SELECT b AS bucket,
        |        CAST((CAST(list_sum(list_transform(range(1, 9),
        |          i -> (strpos('0123456789abcdef',
        |                  substr(md5('w|' || CAST(b AS VARCHAR)), i, 1)) - 1)
        |               * pow(16, 8 - i))) AS BIGINT) % 2001) - 1000 AS DOUBLE) / 1000.0 AS w
        |       FROM (SELECT unnest(range(0, 1024)) AS b)),
        |sc AS (SELECT doc_id, count(*) AS n_tokens,
        |         floor((CAST(sum(CAST(floor(w * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
        |                / (count(*) * 1e6)) * 1e4 + 0.5) / 1e4 AS score
        |       FROM f JOIN wt USING (bucket) GROUP BY doc_id)
        |SELECT doc_id, n_tokens, score, score > 0 AS flagged
        |FROM sc ORDER BY doc_id""".stripMargin)),
    // the trained quality classifier: k-step deterministic logistic
    // regression over hashed features, gate-labeled; weights stored
    // classifierTrain: the full k-step gradient-descent replay lives in
    // classifierCtes; the query is the final weight table
    QuerySpec("text_classifier_train", TextAnalysis.classifierTrain(_, _), Oracle(
      (classifierCtes + "\n" +
       """SELECT bucket, w FROM w8 ORDER BY bucket""".stripMargin))),
    // classifierScore: margins against the replayed final-step (w8)
    // weights, rational
    // sigmoid, prediction, and the gate label the trainer learned from
    QuerySpec("text_classifier_score", TextAnalysis.classifierScore(_, _), Oracle(
      (classifierCtes + "\n" +
       """SELECT doc_id,
        |  floor((0.5 + 0.5 * m / (1.0 + abs(m))) * 1e6 + 0.5) / 1e6 AS score,
        |  m >= 0 AS predicted, y = 1.0 AS label
        |FROM (SELECT b.doc_id,
        |        CAST(sum(CAST(floor(b.x * pw.w * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS m,
        |        min(b.y) AS y
        |      FROM cbase b JOIN w8 pw ON b.bucket = pw.bucket GROUP BY b.doc_id)
        |ORDER BY doc_id""".stripMargin))),
    // generalization evidence: train on even docs, score the unseen odd
    // classifierHoldout: even-half gradient replay (classifierHoldoutCtes
    // trains on doc_id % 2 = 0), scored over the UNSEEN odd-half feature
    // set (prefix s)
    QuerySpec("text_classifier_holdout", TextAnalysis.classifierHoldout(_, _), Oracle(
      (classifierHoldoutCtes + "\n" +
       """SELECT doc_id,
        |  floor((0.5 + 0.5 * m / (1.0 + abs(m))) * 1e6 + 0.5) / 1e6 AS score,
        |  m >= 0 AS predicted, y = 1.0 AS label
        |FROM (SELECT b.doc_id,
        |        CAST(sum(CAST(floor(b.x * pw.w * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS m,
        |        min(b.y) AS y
        |      FROM sbase b JOIN w8 pw ON b.bucket = pw.bucket GROUP BY b.doc_id)
        |ORDER BY doc_id""".stripMargin))),
    // bounded-sample trainer (r16): k-doc deterministic sample, same
    // 8-step replay — the flat-cold-cost posture of a 100 TB catalog
    // sampled trainer: sample selection (ORDER BY seeded md5 LIMIT k)
    // + the same 8 gradient steps, over the sampled docs only
    QuerySpec("text_classifier_train_sampled", TextAnalysis.classifierTrainSampled(_, _), Oracle(
      (classifierSampledCtes + "\n" +
       """SELECT bucket, w FROM w8 ORDER BY bucket""".stripMargin))),
    // full-corpus inference under the sample-trained weights
    // sampled-train / full-corpus-score: margins of EVERY doc (feature
    // prefix s) against the sample-trained w8
    QuerySpec("text_classifier_score_sampled", TextAnalysis.classifierScoreSampled(_, _), Oracle(
      (classifierSampledScoreCtes + "\n" +
       """SELECT doc_id,
        |  floor((0.5 + 0.5 * m / (1.0 + abs(m))) * 1e6 + 0.5) / 1e6 AS score,
        |  m >= 0 AS predicted, y = 1.0 AS label
        |FROM (SELECT b.doc_id,
        |        CAST(sum(CAST(floor(b.x * pw.w * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS m,
        |        min(b.y) AS y
        |      FROM sbase b JOIN w8 pw ON b.bucket = pw.bucket GROUP BY b.doc_id)
        |ORDER BY doc_id""".stripMargin))),
    // streaming classifier inference (r16): stream-static scoring
    // against the stored weight artifact, rollup in foreachBatch
    // streaming inference twin: same stored full-corpus weights, same
    // scorer code path, restricted to the arriving odd half — the
    // batch oracle with the arrival filter
    QuerySpec("stream_classifier_score", EventStream.classifierScoreViaStream(_, _), Oracle(
      (classifierCtes + "\n" +
       """SELECT doc_id,
        |  floor((0.5 + 0.5 * m / (1.0 + abs(m))) * 1e6 + 0.5) / 1e6 AS score,
        |  m >= 0 AS predicted, y = 1.0 AS label
        |FROM (SELECT b.doc_id,
        |        CAST(sum(CAST(floor(b.x * pw.w * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS m,
        |        min(b.y) AS y
        |      FROM cbase b JOIN w8 pw ON b.bucket = pw.bucket GROUP BY b.doc_id)
        |WHERE doc_id % 2 = 1
        |ORDER BY doc_id""".stripMargin)), drain = true),
    // the LEARNED curation gate (r16): classifier prediction replaces
    // the heuristic quality threshold in the pipeline keep set
    // the LEARNED curation gate: classifier replay (cbase/w8) chained
    // in front of the curation CTEs; keep = predicted ∧ lang gate ∧
    // not a near-dup loser, with the heuristic quality riding along
    QuerySpec("curation_classifier", TextAnalysis.curationClassifier(_, _), Oracle(
      (classifierCtes + ",\n" + curationCtesBody + "\n" +
       """SELECT s.doc_id,
        |  floor((0.5 + 0.5 * s.m / (1.0 + abs(s.m))) * 1e6 + 0.5) / 1e6 AS score,
        |  q.quality, t.n_tokens
        |FROM (SELECT b.doc_id,
        |        CAST(sum(CAST(floor(b.x * pw.w * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS m
        |      FROM cbase b JOIN w8 pw ON b.bucket = pw.bucket GROUP BY b.doc_id) s
        |JOIN q ON q.doc_id = s.doc_id
        |JOIN l ON l.doc_id = s.doc_id
        |JOIN t ON t.doc_id = s.doc_id
        |WHERE s.m >= 0 AND l.lang_pred = 'en'
        |  AND s.doc_id NOT IN (SELECT doc_id FROM losers)
        |ORDER BY s.doc_id""".stripMargin))),
    // exportManifest: the curation_pipeline survivors × split hash ×
    // epoch-shuffle key — every piece replays an already-green oracle
    QuerySpec("corpus_export_manifest", TextAnalysis.exportManifest(_, _), Oracle(
      (curationCtes + ",\n" +
       """sp AS (SELECT doc_id,
        |         CASE WHEN bucket < 90 THEN 'train'
        |              WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
        |       FROM (SELECT doc_id, CAST(list_sum(list_transform(range(1, 9),
        |               i -> (strpos('0123456789abcdef',
        |                       substr(md5('split0|' || CAST(doc_id AS VARCHAR)), i, 1)) - 1)
        |                    * pow(16, 8 - i))) AS BIGINT) % 100 AS bucket
        |             FROM documents))
        |SELECT d.doc_id, sp.split,
        |  md5('epoch0|' || CAST(d.doc_id AS VARCHAR)) AS shuffle_key,
        |  t.n_tokens, q.quality
        |FROM documents d
        |  JOIN q ON q.doc_id = d.doc_id
        |  JOIN l ON l.doc_id = d.doc_id
        |  JOIN t ON t.doc_id = d.doc_id
        |  JOIN sp ON sp.doc_id = d.doc_id
        |WHERE q.quality >= 0.4 AND l.lang_pred = 'en'
        |  AND NOT EXISTS (SELECT 1 FROM losers x WHERE x.doc_id = d.doc_id)
        |ORDER BY sp.split, shuffle_key, d.doc_id""".stripMargin))),
    QuerySpec("curation_gated", TextAnalysis.curationGated(_, _), Oracle(
      (curationCtes + ",\n" +
       """rb AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS toks FROM documents),
        |rg AS (SELECT doc_id,
        |        unnest([toks[i] || ' ' || toks[i+1]
        |                for i in range(1, greatest(len(toks), 1))]) AS gram
        |      FROM rb),
        |rtop AS (SELECT doc_id, max(cnt) AS top_cnt
        |         FROM (SELECT doc_id, tok, count(*) AS cnt
        |               FROM (SELECT doc_id, unnest(toks) AS tok FROM rb)
        |               GROUP BY doc_id, tok)
        |         GROUP BY doc_id),
        |rdup AS (SELECT doc_id, sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_occ
        |         FROM (SELECT doc_id, gram, count(*) AS cnt FROM rg GROUP BY doc_id, gram)
        |         GROUP BY doc_id),
        |rep AS (SELECT b.doc_id,
        |  floor((CAST(len(list_distinct(b.toks)) AS DOUBLE)
        |        / greatest(len(b.toks), 1)) * 1e4 + 0.5) / 1e4 AS distinct_ratio,
        |  floor((CAST(coalesce(tt.top_cnt, 0) AS DOUBLE)
        |        / greatest(len(b.toks), 1)) * 1e4 + 0.5) / 1e4 AS top_token_frac,
        |  floor((CAST(coalesce(dd.dup_occ, 0) AS DOUBLE)
        |        / greatest(greatest(len(b.toks) - 1, 0), 1)) * 1e4 + 0.5) / 1e4 AS dup_gram_frac
        |  FROM rb b LEFT JOIN rtop tt ON b.doc_id = tt.doc_id
        |    LEFT JOIN rdup dd ON b.doc_id = dd.doc_id)
        |SELECT d.doc_id, q.quality, t.n_tokens,
        |  r.dup_gram_frac, r.top_token_frac, r.distinct_ratio
        |FROM documents d
        |  JOIN q ON q.doc_id = d.doc_id
        |  JOIN l ON l.doc_id = d.doc_id
        |  JOIN t ON t.doc_id = d.doc_id
        |  JOIN rep r ON r.doc_id = d.doc_id
        |WHERE q.quality >= 0.4 AND l.lang_pred = 'en'
        |  AND NOT EXISTS (SELECT 1 FROM losers x WHERE x.doc_id = d.doc_id)
        |  AND r.dup_gram_frac <= 0.12 AND r.top_token_frac <= 0.14
        |  AND r.distinct_ratio >= 0.35
        |ORDER BY d.doc_id""".stripMargin))),
    QuerySpec("events_range_join", Events.nearbyEventPairs(_, _), Oracle(
      """SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
        |  epoch_us(b.ts) - epoch_us(a.ts) AS diff_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        |  AND abs(epoch_us(b.ts) - epoch_us(a.ts)) <= 300000000
        |ORDER BY a.user_id, event_a, event_b""".stripMargin)),
    // bounded sibling (r14): per-event top-m nearest-in-time neighbors
    // — ≤ N·m output at any skew, the interface the range-join guard's
    // refusal points skewed corpora at
    // nearbyEventTopM(gap=5m, m=3): candidates are the 3 positional
    // predecessors/successors in per-user (us, event_id) order (the
    // seq-distance join replays Spark's lag/lead window exactly),
    // filtered to the gap, ranked by (|Δt|, event_b), top 3 kept
    QuerySpec("events_nearby_topm", Events.nearbyEventTopM(_, _), Oracle(
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY epoch_us(ts), event_id) AS seq
        |  FROM events),
        |c AS (
        |  SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
        |    b.us - a.us AS diff_us, abs(b.us - a.us) AS adiff
        |  FROM e a JOIN e b ON a.user_id = b.user_id
        |    AND b.seq BETWEEN a.seq - 3 AND a.seq + 3 AND b.seq != a.seq
        |  WHERE abs(b.us - a.us) <= 300000000),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_a
        |                               ORDER BY adiff, event_b) AS rn
        |  FROM c)
        |SELECT user_id, event_a, event_b, diff_us
        |FROM r WHERE rn <= 3 ORDER BY user_id, event_a, event_b""".stripMargin)),
    QuerySpec("lineitem_unpivot", Events.lineitemUnpivot(_, _), Oracle(
      """SELECT l_returnflag, 'mean_discount' AS metric, floor((CAST(sum(CAST(floor((l_discount) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / (count(l_discount) * 1e6)) * 1e4 + 0.5) / 1e4 AS value
        |FROM lineitem GROUP BY l_returnflag
        |UNION ALL
        |SELECT l_returnflag, 'total_price' AS metric, CAST(sum(CAST(floor((l_extendedprice) * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2 AS value
        |FROM lineitem GROUP BY l_returnflag
        |UNION ALL
        |SELECT l_returnflag, 'total_qty' AS metric, sum(l_quantity) AS value
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag, metric""".stripMargin)),
    // stratifiedSample(seed=ss0): the seeded-md5 uniform (digit fold,
    // exact in a double) against each stratum's fraction * 2^32 — the
    // qualitySample device, so membership replays exactly
    QuerySpec("stratified_sample", Events.stratifiedSample(_, _), Oracle(
      """WITH u AS (SELECT event_id, list_sum(list_transform(range(1, 9),
        |        i -> (strpos('0123456789abcdef',
        |                substr(md5('ss0|' || CAST(event_id AS VARCHAR)), i, 1)) - 1)
        |             * pow(16, 8 - i))) AS uval
        |      FROM events)
        |SELECT e.event_id, e.event_type, e.user_id
        |FROM events e JOIN u USING (event_id)
        |WHERE u.uval < (CASE e.event_type
        |                  WHEN 'click' THEN 0.5 WHEN 'view' THEN 0.25
        |                  WHEN 'purchase' THEN 1.0 WHEN 'error' THEN 0.1
        |                  ELSE 0.0 END) * 4294967296.0
        |ORDER BY e.event_id""".stripMargin)),
    QuerySpec("ann_topk_ivf", Similarity.ivfTopK(_, _), Oracle(ivfTrainedOracle(2))),
    QuerySpec("ann_knn_join", Similarity.knnJoin(_, _), Oracle(knnJoinOracle(2, 3))),
    // the heap form: top-k as a mergeable bounded aggregation, so the
    // exchange carries ≤k rows per vector instead of the full
    // nprobe·N·√N candidate relation the window form sorts — the
    // measured 100× bottleneck (same scoring, same oracle as the
    // window form)
    // identical semantics to the window form — only the physical top-k
    // strategy differs, so the SAME oracle pins both
    QuerySpec("ann_knn_join_heap", Similarity.knnJoinHeap(_, _), Oracle(knnJoinOracle(2, 3))),
    QuerySpec("events_distinct_rollup", Events.distinctUsersViaSketchRollup(_, _),
      Bound(SketchBounds.distinctRollup)),
    // the code-currency form: candidates scored via symmetric PQ (SDC
    // table lookups over the stored code index, ~6× less join payload
    // than float vectors), exact rerank on each vector's shortlist only
    QuerySpec("ann_knn_join_pq", Similarity.knnJoinPq(_, _), Oracle(knnJoinPqOracle(2, 3, 6, 96))),
    // events_distinct_rollup: HLL sketch estimates differ per engine ->
    // rows-only check; AsOfJoinSpec bounds error <5% and asserts the
    // union-of-daily-sketches estimate equals the direct sketch (the
    // mergeability contract)
    QuerySpec("ann_incremental_assign", Similarity.incrementalAssign(_, _),
      Oracle(ivfIncrementalOracle(2))),
    // quantizer drift trigger (r16): arrival-batch quantization error
    // vs the training-time profile — the retrain signal completing
    // ANN continuous-ingest
    // drift trigger: the incremental chain extended by the two
    // error-profile aggregations and the relative-excess verdict
    QuerySpec("ann_index_drift", Similarity.indexDrift(_, _), Oracle(annDriftOracle(2, 0.2))),
    QuerySpec("ann_index_health", Similarity.indexHealth(_, _), Oracle(indexHealthOracle(2))),
    QuerySpec("ann_recall_curve", Similarity.recallCurve(_, _), Oracle(recallCurveOracle(2))),
    // Q15: correlated max decorrelated onto ONE supplier agg; the cut
    // compares 2-dp quantized revenues
    QuerySpec("q15_top_supplier", Relational.q15TopSupplier(_, _), Oracle(
      """WITH rev AS (SELECT l_suppkey,
        |    floor((CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6)
        |          * 1e2 + 0.5) / 1e2 AS total_revenue
        |  FROM lineitem GROUP BY l_suppkey)
        |SELECT s.s_suppkey, s.s_name, r.total_revenue
        |FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
        |WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s.s_suppkey""".stripMargin)),
    // brandSupplierHhi: share² at 8 dp, integer-unit sums, 4-dp display
    QuerySpec("brand_supplier_hhi", Relational.brandSupplierHhi(_, _), Oracle(
      """WITH bs AS (SELECT p.p_brand, l.l_suppkey,
        |    CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS supp_rev
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY p.p_brand, l.l_suppkey),
        |tot AS (SELECT p_brand,
        |    CAST(sum(CAST(floor(supp_rev * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS brand_rev
        |  FROM bs GROUP BY p_brand)
        |SELECT b.p_brand, count(*) AS n_suppliers,
        |  floor((CAST(sum(CAST(floor((floor(pow(b.supp_rev / t.brand_rev, 2) * 1e8 + 0.5) / 1e8) * 1e8 + 0.5) AS BIGINT)) AS DOUBLE) / 1e8)
        |        * 1e4 + 0.5) / 1e4 AS hhi
        |FROM bs b JOIN tot t ON t.p_brand = b.p_brand
        |GROUP BY b.p_brand ORDER BY b.p_brand""".stripMargin)),
    // stickiness: the rolling_active correlated-count oracle at 30 days
    // plus the 4-dp ratio
    QuerySpec("events_stickiness", Events.stickiness(_, _), Oracle(
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |days AS (SELECT DISTINCT day FROM ud),
        |r AS (SELECT d.day,
        |        (SELECT count(*) FROM ud WHERE ud.day = d.day) AS dau,
        |        (SELECT count(DISTINCT user_id) FROM ud
        |         WHERE ud.day BETWEEN d.day - 29 AND d.day) AS mau
        |      FROM days d)
        |SELECT day, dau, mau,
        |  floor((CAST(dau AS DOUBLE) / mau) * 1e4 + 0.5) / 1e4 AS stickiness
        |FROM r ORDER BY day""".stripMargin)),
    // effectiveSize: soft-weight CTEs + 4-dp integer-unit sums
    QuerySpec("corpus_effective_size", Dedup.effectiveSize(_, _), Oracle(
      """WITH RECURSIVE pairs AS (
        |  WITH w AS (SELECT doc_id,
        |               list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS words
        |             FROM documents),
        |  sh AS (SELECT DISTINCT doc_id, shingle
        |         FROM (SELECT doc_id,
        |                 unnest([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
        |                         for i in range(1, greatest(len(words) - 1, 1))]) AS shingle
        |               FROM w)),
        |  sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    JOIN sz sa ON sa.doc_id = a.doc_id
        |    JOIN sz sb ON sb.doc_id = b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, sa.sz, sb.sz
        |  HAVING floor((count(*) * 1.0 / (sa.sz + sb.sz - count(*))) * 1e4 + 0.5) / 1e4 >= 0.8),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |rt(a, b) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT rt.a, e.dst FROM rt JOIN edges e ON rt.b = e.src),
        |cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM rt GROUP BY a),
        |allc AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
        |         FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
        |sz2 AS (SELECT cluster_id, count(*) AS cluster_size FROM allc GROUP BY 1),
        |wt AS (SELECT a.doc_id,
        |         floor((1.0 / s.cluster_size) * 1e4 + 0.5) / 1e4 AS weight
        |       FROM allc a JOIN sz2 s USING (cluster_id)),
        |tk AS (SELECT doc_id,
        |         CAST(len(list_filter(string_split_regex(text, '[ \n]'), t -> t != '')) AS BIGINT) AS n_tokens
        |       FROM documents)
        |SELECT count(*) AS n_docs,
        |  CAST(sum(tk.n_tokens) AS BIGINT) AS n_tokens_raw,
        |  floor((CAST(sum(CAST(floor(wt.weight * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4) * 1e2 + 0.5) / 1e2 AS effective_docs,
        |  floor((CAST(sum(CAST(floor(wt.weight * tk.n_tokens * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4) * 1e2 + 0.5) / 1e2 AS effective_tokens,
        |  floor((1.0 - (CAST(sum(CAST(floor(wt.weight * tk.n_tokens * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4)
        |        / CAST(sum(tk.n_tokens) AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS dedup_savings_frac
        |FROM wt JOIN tk USING (doc_id)""".stripMargin)),
    // valueOutliers: Tukey fence from quantile_cont quartiles (the
    // percentile-parity device); mass via the quantized sum
    QuerySpec("events_value_outliers", Events.valueOutliers(_, _), Oracle(
      """WITH f AS (SELECT event_type,
        |    quantile_cont(value, 0.25) AS p25, quantile_cont(value, 0.75) AS p75
        |  FROM events GROUP BY event_type),
        |fe AS (SELECT event_type, p25 - 1.5 * (p75 - p25) AS lo,
        |         p75 + 1.5 * (p75 - p25) AS hi FROM f)
        |SELECT e.event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN e.value < fe.lo OR e.value > fe.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  floor((CAST(sum(CASE WHEN e.value < fe.lo OR e.value > fe.hi THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*)) * 1e4 + 0.5) / 1e4 AS outlier_frac,
        |  floor((CAST(sum(CAST(floor((CASE WHEN e.value < fe.lo OR e.value > fe.hi THEN e.value ELSE 0.0 END) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6)
        |        * 1e2 + 0.5) / 1e2 AS outlier_mass
        |FROM events e JOIN fe ON fe.event_type = e.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)),
    // orderStatusAging: ages vs the max-order-date anchor; integer-day
    // percentiles interpolate identically
    QuerySpec("orders_status_aging", Relational.orderStatusAging(_, _), Oracle(
      """WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS as_of FROM orders)
        |SELECT o_orderstatus, count(*) AS n_orders,
        |  floor((CAST(sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2) * 1e2 + 0.5) / 1e2 AS total_value,
        |  quantile_cont(datediff('day', CAST(o_orderdate AS DATE), (SELECT as_of FROM mx)), 0.5) AS p50_age,
        |  quantile_cont(datediff('day', CAST(o_orderdate AS DATE), (SELECT as_of FROM mx)), 0.9) AS p90_age,
        |  max(datediff('day', CAST(o_orderdate AS DATE), (SELECT as_of FROM mx))) AS max_age
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    // dedupRateBySource: the exact-dedup fingerprint currency per source
    QuerySpec("dedup_rate_by_source", Dedup.dedupRateBySource(_, _), Oracle(
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS n_unique,
        |  floor((CAST(count(*) - count(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS DOUBLE)
        |        / count(*)) * 1e4 + 0.5) / 1e4 AS dup_rate
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)),
    QuerySpec("dedup_semantic", Dedup.semanticDedupPairs(_, _),
      Oracle(semanticDedupOracle(2, 0.3))),
    // the prune-list form: one keeper verdict per vector, output LINEAR
    // in the corpus at any duplication level (the all-pairs view above
    // owes k²/2 rows per k-clone group — both contracts ship)
    QuerySpec("dedup_semantic_keepers", Dedup.semanticDedupKeepers(_, _),
      Oracle(semanticKeepersOracle(2, 0.3))),
    // the BOUNDED pair form: top-m same-cell neighbors per vector —
    // ≤ N·m output rows at any duplication, so 100×+ corpora get pairs
    // without raising the budget (candidates cut to m+1 lowest ids per
    // partner group at canonical level; never expands member pairs)
    QuerySpec("dedup_semantic_topm", Dedup.semanticDedupTopM(_, _),
      Oracle(semanticTopMOracle(2, 0.3, 5))),
    QuerySpec("embedding_prototypicality", Similarity.prototypicality(_, _),
      Oracle(prototypicalityOracle(2))),
    // PQ: per-subspace k-means + encoding + ADC replayed end-to-end;
    // every subspace-ordered double sum is list_sum(list(x ORDER BY m))
    QuerySpec("ann_topk_pq_adc", Similarity.pqTopK(_, _), Oracle(pqAdcOracle(2, 10))),
    QuerySpec("ann_topk_pq", Similarity.pqRerankTopK(_, _), Oracle(pqRerankOracle(2, 50, 10))),
    QuerySpec("ann_topk_ivfpq", Similarity.ivfPqTopK(_, _), Oracle(ivfPqOracle(2, 10))),
    QuerySpec("ann_topk_ivfpq_rerank", Similarity.ivfPqRerankTopK(_, _),
      Oracle(ivfPqRerankOracle(2, 50, 10))),
    // cluster-balanced sample: replay IVF training+assignment, then the
    // same seeded-md5 draw as corpus_sample_per_group, per cell
    QuerySpec("corpus_cluster_sample", Similarity.clusterBalancedSample(_, _),
      Oracle(clusterSampleOracle(2, 20))),
    // samplePerGroup(k=10, seed=smp0): same seeded-md5 device as
    // corpus_mixture; row_number ties broken by doc_id in both engines
    QuerySpec("corpus_sample_per_group", TextAnalysis.samplePerGroup(_, _), Oracle(
      """SELECT source, doc_id, sample_key, CAST(rk AS INT) AS rk
        |FROM (SELECT source, doc_id,
        |        md5('smp0|' || CAST(doc_id AS VARCHAR)) AS sample_key,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY md5('smp0|' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |      FROM documents)
        |WHERE rk <= 10 ORDER BY source, rk""".stripMargin)),
    // incrementalDedup: odd-id batch vs even-id prior; md5-of-normalized
    // fingerprints; within-batch copies resolve to the batch-min doc_id
    QuerySpec("dedup_incremental", Dedup.incrementalDedup(_, _), Oracle(
      """WITH f AS (SELECT doc_id,
        |             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        |           FROM documents),
        |prior AS (SELECT fingerprint, min(doc_id) AS dup_of
        |          FROM f WHERE doc_id % 2 = 0 GROUP BY fingerprint),
        |bm AS (SELECT fingerprint, min(doc_id) AS batch_min
        |       FROM f WHERE doc_id % 2 = 1 GROUP BY fingerprint)
        |SELECT b.doc_id, b.fingerprint,
        |  coalesce(p.dup_of,
        |    CASE WHEN bm.batch_min < b.doc_id THEN bm.batch_min END) AS dup_of,
        |  (p.dup_of IS NULL AND bm.batch_min = b.doc_id) AS is_new
        |FROM f b JOIN bm ON b.fingerprint = bm.fingerprint
        |  LEFT JOIN prior p ON b.fingerprint = p.fingerprint
        |WHERE b.doc_id % 2 = 1
        |ORDER BY b.doc_id""".stripMargin)),
    // editDistancePairs(sim=0.8, cand=0.3, n=3): replay the 0.3-threshold
    // shingle blocker (as the green jaccard oracle at 0.8), union the
    // exact-match fallback for sub-3-token docs, verify with DuckDB's
    // built-in levenshtein over the same normalized text
    QuerySpec("dedup_edit_distance", Dedup.editDistancePairs(_, _), Oracle(
      """WITH w AS (SELECT doc_id,
        |             list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS words
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id, shingle
        |       FROM (SELECT doc_id,
        |               unnest([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
        |                       for i in range(1, greatest(len(words) - 1, 1))]) AS shingle
        |             FROM w)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    JOIN sz sa ON sa.doc_id = a.doc_id
        |    JOIN sz sb ON sb.doc_id = b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, sa.sz, sb.sz
        |  HAVING floor((count(*) * 1.0 / (sa.sz + sb.sz - count(*))) * 1e4 + 0.5) / 1e4 >= 0.3),
        |t AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t,
        |        len(list_filter(string_split_regex(text, '[ \n]'), x -> x != '')) AS n_tok
        |      FROM documents),
        |shortp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM t a JOIN t b ON a.t = b.t AND a.doc_id < b.doc_id
        |  WHERE a.n_tok < 3 OR b.n_tok < 3),
        |allc AS (SELECT DISTINCT doc_a, doc_b
        |         FROM (SELECT * FROM cand UNION ALL SELECT * FROM shortp))
        |SELECT doc_a, doc_b, edit_dist, edit_sim FROM (
        |  SELECT c.doc_a, c.doc_b,
        |    CAST(levenshtein(ta.t, tb.t) AS INT) AS edit_dist,
        |    floor((1.0 - CAST(levenshtein(ta.t, tb.t) AS DOUBLE)
        |          / greatest(length(ta.t), length(tb.t), 1)) * 1e4 + 0.5) / 1e4 AS edit_sim
        |  FROM allc c JOIN t ta ON ta.doc_id = c.doc_a
        |    JOIN t tb ON tb.doc_id = c.doc_b)
        |WHERE edit_sim >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin)),
    // rangeSearch(tau=0.3, numQueries=20): identical cosine arithmetic to
    // the green ann_topk_brute oracle, membership filter instead of rank
    QuerySpec("ann_range_search", Similarity.rangeSearch(_, _), Oracle(
      """WITH n AS (SELECT vec_id, embedding,
        |             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
        |           FROM embeddings)
        |SELECT query_id, neighbor_id, cosine FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    floor((list_sum(list_transform(range(1, 65),
        |            i -> CAST(list_extract(q.embedding, i) AS DOUBLE)
        |               * CAST(list_extract(c.embedding, i) AS DOUBLE)))
        |      / (q.nrm * c.nrm)) * 1e4 + 0.5) / 1e4 AS cosine
        |  FROM n q JOIN n c ON q.vec_id != c.vec_id
        |  WHERE q.vec_id < 20)
        |WHERE cosine >= 0.3 ORDER BY query_id, neighbor_id""".stripMargin)),
    // bucketed-layout join: the oracle is the PLAIN join+agg — bucketing
    // (like salting) must be invisible in the result; the driver
    // hash-check proves the exchange-free plan returns the same rows
    QuerySpec("layout_bucketed_join", Layout.bucketedOrderRevenue(_, _), Oracle(
      """SELECT o_orderpriority, count(*) AS n_items,
        |  count(DISTINCT o.o_orderkey) AS n_orders,
        |  CAST(sum(CAST(floor((l.l_extendedprice * (1 - l.l_discount)) * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2 AS revenue
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    // zorderLayout(bits=16, bucketBits=8): pure `& << >>` bit arithmetic
    // replayed exactly (bit positions are disjoint, so sum == bitwise OR)
    QuerySpec("layout_zorder", Layout.zorderLayout(_, _), Oracle(
      """WITH z AS (SELECT l_orderkey, l_partkey,
        |  CAST(list_sum(list_transform(range(0, 16), i ->
        |      (((l_orderkey & 65535) >> i) & 1) * (CAST(1 AS BIGINT) << CAST(2 * i + 1 AS INT))
        |    + (((l_partkey & 65535) >> i) & 1) * (CAST(1 AS BIGINT) << CAST(2 * i AS INT)))) AS BIGINT) AS zval
        |  FROM lineitem)
        |SELECT zval >> 24 AS bucket, count(*) AS n_rows,
        |  min(l_orderkey) AS min_orderkey, max(l_orderkey) AS max_orderkey,
        |  min(l_partkey) AS min_partkey, max(l_partkey) AS max_partkey
        |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin)),
    // chunk-grain dedup (r13): the linear interface the DP guard's
    // refusal names for book-length near-duplicate editions
    // dupSpans(n=5): positional 5-grams joined as STRINGS where Spark
    // joins xxhash64 keys — same accepted-collision equivalence as the
    // decontamination oracle
    // chunkDedupKeepers(chunkSize=32, overlap=0): stride-32 chunk cut
    // (overlap 0 → every start below n is kept; an empty doc still
    // yields its start-0 chunk), md5 chunk fingerprints, one row per
    // DISTINCT chunk with occurrence count / doc spread / keeper
    QuerySpec("dedup_chunk_keepers", Dedup.chunkDedupKeepers(_, _), Oracle(
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \n]'), x -> x != '') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_slice(toks, start + 1, start + 32), ' ')) AS chunk_fp
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(0, greatest(len(toks), 1), 32)) AS start
        |        FROM t))
        |SELECT chunk_fp, count(*) AS n_copies,
        |  count(DISTINCT doc_id) AS n_docs, min(doc_id) AS keeper_doc
        |FROM c GROUP BY chunk_fp ORDER BY chunk_fp""".stripMargin)),
    // catalog refresh closing the continuous-ingest loop: merge the
    // odd-id batch into the stored even-id keeper index (mergeable
    // aggregates; must equal the from-scratch index over the corpus)
    // chunkIndexRefresh: merge-equals-recompute — absorbing the odd batch
    // into the stored even index must equal the from-scratch keeper
    // table over the WHOLE corpus, so the oracle is exactly that
    QuerySpec("dedup_chunk_index_refresh", Dedup.chunkIndexRefresh(_, _), Oracle(
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \n]'), x -> x != '') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_slice(toks, start + 1, start + 32), ' ')) AS chunk_fp
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(0, greatest(len(toks), 1), 32)) AS start
        |        FROM t))
        |SELECT chunk_fp, count(*) AS n_copies,
        |  count(DISTINCT doc_id) AS n_docs, min(doc_id) AS keeper_doc
        |FROM c GROUP BY chunk_fp ORDER BY chunk_fp""".stripMargin)),
    // content-defined chunking: boundaries declared by token content
    // (md5 suffix rule), so insertions REALIGN instead of shifting
    // every boundary — the shift-robust sibling of text_chunks
    // cdcChunksOf(hexSuffix='0', maxChunkTokens=128): a token whose md5
    // ends in '0' closes the chunk; an oversized content-defined range
    // splits at stride 128 (the LBFS forced break, r14). starts/ends
    // arithmetic replayed with list HOFs + parallel unnest; the split
    // replays as per-range range(s, e+1, 128) with en=min(st+127, e0),
    // and chunk_id as the per-doc rank of st (st strictly increases).
    QuerySpec("text_cdc_chunks", TextAnalysis.cdcChunkDocs(_, _), Oracle(
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \n]'), x -> x != '') AS toks
        |  FROM documents),
        |x AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |b AS (
        |  SELECT doc_id, toks, n,
        |    list_filter(range(0, greatest(n, 1)),
        |                i -> i < n AND right(md5(toks[i + 1]), 1) = '0') AS bpos
        |  FROM x),
        |s AS (
        |  SELECT doc_id, toks, n,
        |    list_filter(list_concat([0], list_transform(bpos, b -> b + 1)),
        |                s -> s = 0 OR s < n) AS starts0
        |  FROM b),
        |e AS (
        |  SELECT doc_id, toks, starts0,
        |    list_concat(list_transform(starts0[2:], x -> x - 1), [n - 1]) AS ends0
        |  FROM s),
        |r AS (SELECT doc_id, toks, unnest(starts0) AS s0, unnest(ends0) AS e0 FROM e),
        |sp AS (
        |  SELECT doc_id, toks, e0,
        |    unnest(CASE WHEN e0 < s0 THEN [s0]
        |                ELSE range(s0, e0 + 1, 128) END) AS st
        |  FROM r),
        |c AS (SELECT doc_id, toks, st, least(st + 127, e0) AS en FROM sp)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY st) - 1 AS INT) AS chunk_id,
        |  CAST(st AS INT) AS start_tok,
        |  CAST(len(list_slice(toks, st + 1, en + 1)) AS INT) AS n_chunk_tokens,
        |  array_to_string(list_slice(toks, st + 1, en + 1), ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),
    // cdcDedupKeepers: keeper agg over the CDC chunk stream (same
    // boundary + forced-split rule as text_cdc_chunks)
    QuerySpec("dedup_cdc_keepers", Dedup.cdcDedupKeepers(_, _), Oracle(
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \n]'), x -> x != '') AS toks
        |  FROM documents),
        |x AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |b AS (
        |  SELECT doc_id, toks, n,
        |    list_filter(range(0, greatest(n, 1)),
        |                i -> i < n AND right(md5(toks[i + 1]), 1) = '0') AS bpos
        |  FROM x),
        |s AS (
        |  SELECT doc_id, toks, n,
        |    list_filter(list_concat([0], list_transform(bpos, b -> b + 1)),
        |                s -> s = 0 OR s < n) AS starts0
        |  FROM b),
        |e AS (
        |  SELECT doc_id, toks, starts0,
        |    list_concat(list_transform(starts0[2:], x -> x - 1), [n - 1]) AS ends0
        |  FROM s),
        |r AS (SELECT doc_id, toks, unnest(starts0) AS s0, unnest(ends0) AS e0 FROM e),
        |sp AS (
        |  SELECT doc_id, toks, e0,
        |    unnest(CASE WHEN e0 < s0 THEN [s0]
        |                ELSE range(s0, e0 + 1, 128) END) AS st
        |  FROM r),
        |c AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_slice(toks, st + 1, least(st + 127, e0) + 1), ' ')) AS chunk_fp
        |  FROM sp)
        |SELECT chunk_fp, count(*) AS n_copies,
        |  count(DISTINCT doc_id) AS n_docs, min(doc_id) AS keeper_doc
        |FROM c GROUP BY chunk_fp ORDER BY chunk_fp""".stripMargin)),
    // CDC-grain writeback (r14): the same first-occurrence scrub over
    // content-defined chunks — completes the CDC family symmetrically
    // cdcDedupScrub: CDC chunking (boundary + forced-split rule above),
    // first-occurrence election per fingerprint, per-doc re-concat of
    // surviving chunks in chunk order — same tail as dedup_chunk_scrub
    QuerySpec("dedup_cdc_scrub", Dedup.cdcDedupScrub(_, _), Oracle(
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \n]'), x -> x != '') AS toks
        |  FROM documents),
        |x AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |b AS (
        |  SELECT doc_id, toks, n,
        |    list_filter(range(0, greatest(n, 1)),
        |                i -> i < n AND right(md5(toks[i + 1]), 1) = '0') AS bpos
        |  FROM x),
        |s AS (
        |  SELECT doc_id, toks, n,
        |    list_filter(list_concat([0], list_transform(bpos, b -> b + 1)),
        |                s -> s = 0 OR s < n) AS starts0
        |  FROM b),
        |e AS (
        |  SELECT doc_id, toks, starts0,
        |    list_concat(list_transform(starts0[2:], x -> x - 1), [n - 1]) AS ends0
        |  FROM s),
        |r AS (SELECT doc_id, toks, unnest(starts0) AS s0, unnest(ends0) AS e0 FROM e),
        |sp AS (
        |  SELECT doc_id, toks, e0,
        |    unnest(CASE WHEN e0 < s0 THEN [s0]
        |                ELSE range(s0, e0 + 1, 128) END) AS st
        |  FROM r),
        |ch AS (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY st) - 1 AS INT) AS chunk_id,
        |    array_to_string(list_slice(toks, st + 1, least(st + 127, e0) + 1), ' ') AS chunk_text
        |  FROM sp),
        |f AS (
        |  SELECT doc_id, chunk_id, chunk_text,
        |    row_number() OVER (PARTITION BY md5(chunk_text)
        |                       ORDER BY doc_id, chunk_id) AS rn
        |  FROM ch)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' '
        |                      ORDER BY chunk_id), '') AS clean_text
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // chunk-dedup writeback: every duplicated chunk survives ONCE, at
    // its first occurrence; per-doc cleaned text in chunk order
    // chunkDedupScrub: first-occurrence election per chunk fingerprint
    // (row_number over (fp; doc_id, chunk_id)), per-doc re-concat of
    // surviving chunks in chunk order
    QuerySpec("dedup_chunk_scrub", Dedup.chunkDedupScrub(_, _), Oracle(
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \n]'), x -> x != '') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, CAST(start // 32 AS INT) AS chunk_id,
        |    array_to_string(list_slice(toks, start + 1, start + 32), ' ') AS chunk_text
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(0, greatest(len(toks), 1), 32)) AS start
        |        FROM t)),
        |f AS (
        |  SELECT doc_id, chunk_id, chunk_text,
        |    row_number() OVER (PARTITION BY md5(chunk_text)
        |                       ORDER BY doc_id, chunk_id) AS rn
        |  FROM c)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' '
        |                      ORDER BY chunk_id), '') AS clean_text
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // chunk-grain incremental dedup (r14): arrivals' per-doc novelty
    // vs the prior corpus's distinct-chunk index
    // chunkDedupIncremental: odd-id arrivals' chunks probed against the
    // even-id prior's DISTINCT chunk fingerprints; per-arrival novelty
    QuerySpec("dedup_chunk_incremental", Dedup.chunkDedupIncremental(_, _), Oracle(
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \n]'), x -> x != '') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_slice(toks, start + 1, start + 32), ' ')) AS chunk_fp
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(0, greatest(len(toks), 1), 32)) AS start
        |        FROM t)),
        |p AS (SELECT DISTINCT chunk_fp FROM c WHERE doc_id % 2 = 0),
        |b AS (SELECT doc_id, chunk_fp FROM c WHERE doc_id % 2 = 1)
        |SELECT b.doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN p.chunk_fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_known_chunks,
        |  floor((CAST(count(*) - sum(CASE WHEN p.chunk_fp IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |         / count(*)) * 1e4 + 0.5) / 1e4 AS novel_frac,
        |  sum(CASE WHEN p.chunk_fp IS NOT NULL THEN 1 ELSE 0 END) = count(*)
        |    AS fully_covered
        |FROM b LEFT JOIN p ON b.chunk_fp = p.chunk_fp
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin)),
    // chunkDedupRate: per-doc fraction of chunks shared with >= 1 OTHER
    // doc (distinct-doc df, same semantics as text_dup_spans at chunk
    // grain)
    QuerySpec("dedup_chunk_rate", Dedup.chunkDedupRate(_, _), Oracle(
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \n]'), x -> x != '') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_slice(toks, start + 1, start + 32), ' ')) AS chunk_fp
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(0, greatest(len(toks), 1), 32)) AS start
        |        FROM t)),
        |tot AS (SELECT doc_id, count(*) AS n_chunks FROM c GROUP BY doc_id),
        |shared AS (SELECT chunk_fp FROM (SELECT DISTINCT doc_id, chunk_fp FROM c)
        |           GROUP BY chunk_fp HAVING count(*) > 1),
        |dup AS (SELECT doc_id, count(*) AS n_shared_chunks FROM c
        |        WHERE chunk_fp IN (SELECT chunk_fp FROM shared) GROUP BY doc_id)
        |SELECT tot.doc_id, tot.n_chunks,
        |  CAST(coalesce(d.n_shared_chunks, 0) AS BIGINT) AS n_shared_chunks,
        |  floor((CAST(coalesce(d.n_shared_chunks, 0) AS DOUBLE) / tot.n_chunks) * 1e4 + 0.5) / 1e4 AS shared_frac
        |FROM tot LEFT JOIN dup d ON tot.doc_id = d.doc_id
        |ORDER BY tot.doc_id""".stripMargin)),
    QuerySpec("text_dup_spans", Dedup.dupSpans(_, _), Oracle(
      """WITH w AS (SELECT doc_id,
        |             list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS words
        |           FROM documents),
        |g AS (SELECT doc_id,
        |        unnest([words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' ' || words[i+3] || ' ' || words[i+4]
        |                for i in range(1, greatest(len(words) - 3, 1))]) AS gram
        |      FROM w),
        |shared AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
        |           GROUP BY gram HAVING count(*) > 1),
        |sizes AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
        |dup AS (SELECT g.doc_id, count(*) AS n_dup_grams
        |        FROM g JOIN shared ON g.gram = shared.gram GROUP BY g.doc_id)
        |SELECT s.doc_id, s.n_grams,
        |  CAST(coalesce(d.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
        |  floor((CAST(coalesce(d.n_dup_grams, 0) AS DOUBLE) / s.n_grams) * 1e4 + 0.5) / 1e4 AS dup_frac
        |FROM sizes s LEFT JOIN dup d ON s.doc_id = d.doc_id
        |ORDER BY s.doc_id""".stripMargin)),
    // line dedup: df counts DISTINCT docs per trimmed-line hash; lines
    // at df >= 2 are dropped from every doc; clean_text re-concatenates
    // the surviving non-blank lines in position order
    QuerySpec("text_line_dedup", Dedup.lineDedup(_, _), Oracle(
      """WITH base AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM documents),
        |pl AS (SELECT doc_id, u.pos AS pos, u.line AS line
        |       FROM (SELECT doc_id,
        |               unnest([{'pos': i - 1, 'line': arr[i]}
        |                       for i in range(1, len(arr) + 1)]) AS u
        |             FROM base)),
        |l AS (SELECT doc_id, pos, line, md5(trim(line)) AS h
        |      FROM pl WHERE trim(line) != ''),
        |df AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS n
        |                      FROM l GROUP BY h) WHERE n >= 2),
        |dup AS (SELECT l.doc_id, l.pos FROM l JOIN df USING (h)),
        |nd AS (SELECT doc_id, count(*) AS n_dup FROM dup GROUP BY doc_id),
        |nl AS (SELECT doc_id, count(*) AS n_lines FROM l GROUP BY doc_id),
        |clean AS (SELECT l.doc_id, string_agg(l.line, chr(10) ORDER BY l.pos) AS t
        |          FROM l LEFT JOIN dup d ON l.doc_id = d.doc_id AND l.pos = d.pos
        |          WHERE d.pos IS NULL GROUP BY l.doc_id)
        |SELECT b.doc_id,
        |  CAST(coalesce(nl.n_lines, 0) AS INT) AS n_lines,
        |  CAST(coalesce(nd.n_dup, 0) AS INT) AS n_dup_lines,
        |  floor((CAST(coalesce(nd.n_dup, 0) AS DOUBLE)
        |        / greatest(coalesce(nl.n_lines, 0), 1)) * 1e4 + 0.5) / 1e4 AS dup_line_frac,
        |  coalesce(c.t, '') AS clean_text
        |FROM base b
        |  LEFT JOIN nl ON nl.doc_id = b.doc_id
        |  LEFT JOIN nd ON nd.doc_id = b.doc_id
        |  LEFT JOIN clean c ON c.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin)),
    // dupSpanMerge(n=5): same cross-doc gram currency as text_dup_spans
    // (grams joined as STRINGS where Spark joins xxhash64 keys), then the
    // interval merge replayed as the standard window cumsum: a gram
    // starts a new span iff pos > max(prior ends) + 1
    QuerySpec("text_dup_span_merge", Dedup.dupSpanMerge(_, _), Oracle(
      """WITH w AS (SELECT doc_id,
        |             list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS words
        |           FROM documents),
        |g AS (SELECT doc_id, u.pos AS pos, u.gram AS gram
        |      FROM (SELECT doc_id,
        |              unnest([{'pos': i - 1,
        |                       'gram': words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' ' || words[i+3] || ' ' || words[i+4]}
        |                      for i in range(1, greatest(len(words) - 3, 1))]) AS u
        |            FROM w)),
        |shared AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
        |           GROUP BY gram HAVING count(*) > 1),
        |dupg AS (SELECT g.doc_id, g.pos, g.pos + 4 AS e
        |         FROM g JOIN shared ON g.gram = shared.gram),
        |marked AS (SELECT doc_id, pos, e,
        |    CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY pos
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |           OR pos > max(e) OVER (PARTITION BY doc_id ORDER BY pos
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
        |         THEN 1 ELSE 0 END AS new_span
        |  FROM dupg),
        |numbered AS (SELECT doc_id, pos, e,
        |    sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
        |  FROM marked),
        |spans AS (SELECT doc_id, span_id, min(pos) AS s, max(e) AS ee
        |          FROM numbered GROUP BY doc_id, span_id),
        |perdoc AS (SELECT doc_id, count(*) AS n_spans, sum(ee - s + 1) AS dup_tok
        |           FROM spans GROUP BY doc_id)
        |SELECT w.doc_id, CAST(len(w.words) AS INT) AS n_tok,
        |  CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(p.dup_tok, 0) AS BIGINT) AS dup_tok,
        |  floor((CAST(coalesce(p.dup_tok, 0) AS DOUBLE)
        |        / greatest(len(w.words), 1)) * 1e4 + 0.5) / 1e4 AS dup_tok_frac
        |FROM w LEFT JOIN perdoc p ON w.doc_id = p.doc_id
        |ORDER BY w.doc_id""".stripMargin)),
    // dupSpanScrub(n=5): same span CTEs as text_dup_span_merge, then the
    // covered positions expand (spans are disjoint by construction) and
    // survivors re-join on single spaces; Spark's row-local filter HOF
    // must reproduce the position-set subtraction exactly
    QuerySpec("text_scrub_dup_spans", Dedup.dupSpanScrub(_, _), Oracle(
      ("""WITH w AS (SELECT doc_id,
        |             list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS words
        |           FROM documents),
        |""".stripMargin + scrubSpanCtes + "\n" +
       """SELECT w.doc_id, CAST(len(w.words) AS INT) AS n_tok,
        |  CAST(coalesce(p.dup_tok, 0) AS INT) AS n_removed,
        |  coalesce(c.clean_text, '') AS clean_text
        |FROM w LEFT JOIN perdoc p ON w.doc_id = p.doc_id
        |  LEFT JOIN clean c ON w.doc_id = c.doc_id
        |ORDER BY w.doc_id""".stripMargin))),
    // curationScrubbed: the pipeline's keep set (quality + langid +
    // dup-loser anti-join CTEs) intersected with the scrub CTEs — both
    // families read the same w words CTE, so the statement shares it
    QuerySpec("curation_scrubbed", TextAnalysis.curationScrubbed(_, _), Oracle(
      (curationCtes + ",\n" + scrubSpanCtes + "\n" +
       """SELECT d.doc_id, q.quality,
        |  CAST(coalesce(p.dup_tok, 0) AS INT) AS n_removed,
        |  CAST(len(wd.words) - coalesce(p.dup_tok, 0) AS INT) AS clean_tokens,
        |  coalesce(c.clean_text, '') AS clean_text
        |FROM documents d
        |  JOIN q ON q.doc_id = d.doc_id
        |  JOIN l ON l.doc_id = d.doc_id
        |  JOIN w wd ON wd.doc_id = d.doc_id
        |  LEFT JOIN perdoc p ON p.doc_id = d.doc_id
        |  LEFT JOIN clean c ON c.doc_id = d.doc_id
        |WHERE q.quality >= 0.4 AND l.lang_pred = 'en'
        |  AND NOT EXISTS (SELECT 1 FROM losers x WHERE x.doc_id = d.doc_id)
        |ORDER BY d.doc_id""".stripMargin))),
    // repetitionSignals(n=5): Spark computes every signal row-locally
    // with sorted-array HOFs; the oracle replays each as the equivalent
    // unnest + GROUP BY multiplicity query (top-token multiplicity = the
    // longest equal run in the sorted token array; duplicated-gram
    // occupancy = occurrences of grams with within-doc multiplicity > 1)
    QuerySpec("text_repetition", TextAnalysis.repetitionSignals(_, _), Oracle(
      """WITH base AS (SELECT doc_id,
        |                list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS toks
        |              FROM documents),
        |g AS (SELECT doc_id,
        |        unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]
        |                for i in range(1, greatest(len(toks) - 3, 1))]) AS gram
        |      FROM base),
        |toptok AS (SELECT doc_id, max(cnt) AS top_cnt
        |           FROM (SELECT doc_id, tok, count(*) AS cnt
        |                 FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
        |                 GROUP BY doc_id, tok)
        |           GROUP BY doc_id),
        |dupg AS (SELECT doc_id, sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_occ
        |         FROM (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram)
        |         GROUP BY doc_id)
        |SELECT b.doc_id,
        |  CAST(len(b.toks) AS INT) AS n_tok,
        |  floor((CAST(len(list_distinct(b.toks)) AS DOUBLE)
        |        / greatest(len(b.toks), 1)) * 1e4 + 0.5) / 1e4 AS distinct_ratio,
        |  floor((CAST(coalesce(t.top_cnt, 0) AS DOUBLE)
        |        / greatest(len(b.toks), 1)) * 1e4 + 0.5) / 1e4 AS top_token_frac,
        |  CAST(greatest(len(b.toks) - 4, 0) AS INT) AS n_grams,
        |  floor((CAST(coalesce(d.dup_occ, 0) AS DOUBLE)
        |        / greatest(greatest(len(b.toks) - 4, 0), 1)) * 1e4 + 0.5) / 1e4 AS dup_gram_frac
        |FROM base b LEFT JOIN toptok t ON b.doc_id = t.doc_id
        |  LEFT JOIN dupg d ON b.doc_id = d.doc_id
        |ORDER BY b.doc_id""".stripMargin)),
    QuerySpec("parts_left_revenue", Relational.partsLeftRevenue(_, _), Oracle(
      """SELECT p_partkey, p_brand, coalesce(rev, 0.0) AS revenue_1996,
        |  rev IS NULL AS unsold_1996
        |FROM part LEFT JOIN (
        |  SELECT l_partkey, floor((CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6) * 1e2 + 0.5) / 1e2 AS rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY l_partkey) r ON p_partkey = l_partkey
        |ORDER BY p_partkey""".stripMargin)),
    QuerySpec("customer_activity_transition", Relational.customerActivityTransition(_, _), Oracle(
      """WITH a AS (SELECT DISTINCT o_custkey AS c96 FROM orders
        |           WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |             AND o_orderdate < TIMESTAMP '1997-01-01'),
        |b AS (SELECT DISTINCT o_custkey AS c97 FROM orders
        |      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |        AND o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT CASE WHEN c96 IS NOT NULL THEN 'active' ELSE 'inactive' END AS y1996,
        |  CASE WHEN c97 IS NOT NULL THEN 'active' ELSE 'inactive' END AS y1997,
        |  count(*) AS n_customers
        |FROM a FULL OUTER JOIN b ON c96 = c97
        |GROUP BY y1996, y1997 ORDER BY y1996, y1997""".stripMargin)),
    // --- SQL front door (correlated subqueries, decorrelated by Catalyst) ---
    QuerySpec("sql_brand_floor_parts", Relational.sqlBrandFloorParts(_, _), Oracle(
      """SELECT p_partkey, p_brand, p_retailprice
        |FROM part p
        |WHERE p_retailprice = (SELECT min(p_retailprice) FROM part
        |                       WHERE p_brand = p.p_brand)
        |ORDER BY p_brand, p_partkey""".stripMargin)),
    QuerySpec("sql_priority_customers", Relational.sqlPriorityCustomers(_, _), Oracle(
      """SELECT c_custkey, c_mktsegment
        |FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders
        |                    WHERE o_orderpriority = '1-URGENT')
        |  AND c_custkey NOT IN (SELECT o_custkey FROM orders
        |                        WHERE o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin)),
    // --- analytics: running-total caps, second moments, binning ---
    QuerySpec("curation_token_budget", TextAnalysis.tokenBudgetSample(_, _), Oracle(
      """SELECT source, doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM (SELECT source, doc_id, n_tokens,
        |        sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |                            ROWS UNBOUNDED PRECEDING) AS cum_tokens
        |      FROM (SELECT d.source, d.doc_id,
        |              CAST(len(list_filter(string_split_regex(d.text, '[ 
]'), t -> t != '')) AS INT) AS n_tokens
        |            FROM documents d))
        |WHERE cum_tokens <= 800
        |ORDER BY source, doc_id""".stripMargin)),
    QuerySpec("events_hourly_anomaly", Events.hourlyAnomalies(_, _), Oracle(
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type,
        |    CAST(sum(n) AS DOUBLE) / count(*) AS mean_n,
        |    sqrt((CAST(count(*) AS DOUBLE) * CAST(sum(n * n) AS DOUBLE) -
        |          CAST(sum(n) AS DOUBLE) * CAST(sum(n) AS DOUBLE)) /
        |         (CAST(count(*) AS DOUBLE) * CAST(count(*) - 1 AS DOUBLE))) AS std_n
        |  FROM hourly GROUP BY event_type)
        |SELECT h.event_type, h.hour, h.n,
        |  floor(((h.n - m.mean_n) / m.std_n) * 1e4 + 0.5) / 1e4 AS z
        |FROM hourly h JOIN m ON h.event_type = m.event_type
        |WHERE abs(floor(((h.n - m.mean_n) / m.std_n) * 1e4 + 0.5) / 1e4) >= 2.0
        |ORDER BY h.event_type, h.hour""".stripMargin)),
    QuerySpec("order_value_histogram", Events.orderValueHistogram(_, _), Oracle(
      """SELECT bin, bin * 25000.0 AS bin_low, count(*) AS n
        |FROM (SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin FROM orders)
        |GROUP BY bin ORDER BY bin""".stripMargin)),
    QuerySpec("events_dense_hourly", Events.denseHourlyCounts(_, _), Oracle(
      """WITH ev AS (SELECT event_type, date_trunc('hour', ts) AS hour FROM events),
        |b AS (SELECT min(hour) AS mn, max(hour) AS mx FROM ev),
        |hours AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour FROM b),
        |types AS (SELECT DISTINCT event_type FROM ev),
        |counts AS (SELECT event_type, hour, count(*) AS cnt FROM ev GROUP BY 1, 2)
        |SELECT t.event_type, h.hour, coalesce(c.cnt, 0) AS n
        |FROM hours h CROSS JOIN types t
        |  LEFT JOIN counts c ON c.event_type = t.event_type AND c.hour = h.hour
        |ORDER BY t.event_type, h.hour""".stripMargin)),
    QuerySpec("dedup_clusters", Dedup.nearDupClusters(_, _), Oracle(
      """WITH RECURSIVE pairs AS (
        |  WITH w AS (SELECT doc_id,
        |               list_filter(string_split_regex(text, '[ 
]'), t -> t != '') AS words
        |             FROM documents),
        |  sh AS (SELECT DISTINCT doc_id, shingle
        |         FROM (SELECT doc_id,
        |                 unnest([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
        |                         for i in range(1, greatest(len(words) - 1, 1))]) AS shingle
        |               FROM w)),
        |  sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    JOIN sz sa ON sa.doc_id = a.doc_id
        |    JOIN sz sb ON sb.doc_id = b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, sa.sz, sb.sz
        |  HAVING floor((count(*) * 1.0 / (sa.sz + sb.sz - count(*))) * 1e4 + 0.5) / 1e4 >= 0.8),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |rt(a, b) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT rt.a, e.dst FROM rt JOIN edges e ON rt.b = e.src)
        |SELECT a AS doc_id, min(b) AS cluster_id FROM rt GROUP BY a ORDER BY doc_id""".stripMargin)),
    QuerySpec("dedup_ngram_jaccard", Dedup.ngramJaccardPairsMaterialized(_, _),
      Oracle(ngramJaccardOracle)),
    // decontaminate(n=3, evalSource=src9, threshold=0.2): the oracle
    // joins on shingle STRINGS where Spark joins 64-bit xxhash64 keys —
    // same set barring astronomically unlikely collisions (the same
    // equivalence the jaccard oracle relies on)
    QuerySpec("text_decontamination", Dedup.decontaminate(_, _), Oracle(
      """WITH w AS (SELECT doc_id, source,
        |             list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS words
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id, source, shingle
        |       FROM (SELECT doc_id, source,
        |               unnest([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
        |                       for i in range(1, greatest(len(words) - 1, 1))]) AS shingle
        |             FROM w)),
        |evs AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src9'),
        |tr AS (SELECT doc_id, shingle FROM sh WHERE source != 'src9'),
        |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY doc_id),
        |hits AS (SELECT doc_id, count(*) AS n_overlap
        |         FROM tr JOIN evs USING (shingle) GROUP BY doc_id)
        |SELECT s.doc_id, s.n_shingles,
        |  coalesce(h.n_overlap, 0) AS n_overlap,
        |  floor((CAST(coalesce(h.n_overlap, 0) AS DOUBLE) / s.n_shingles) * 1e4 + 0.5) / 1e4 AS contamination,
        |  floor((CAST(coalesce(h.n_overlap, 0) AS DOUBLE) / s.n_shingles) * 1e4 + 0.5) / 1e4 >= 0.2 AS contaminated
        |FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
        |ORDER BY s.doc_id""".stripMargin)),
    // bloomDecontaminate(n=4, threshold=0.15): the Bloom guard is
    // semantics-free (no false negatives; verify join kills false
    // positives), so the oracle is the exact 4-gram overlap
    QuerySpec("text_bloom_decontamination", Dedup.bloomDecontaminate(_, _), Oracle(
      """WITH w AS (SELECT doc_id, source,
        |             list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS words
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id, source, shingle
        |       FROM (SELECT doc_id, source,
        |               unnest([words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]
        |                       for i in range(1, greatest(len(words) - 2, 1))]) AS shingle
        |             FROM w)),
        |evs AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src9'),
        |tr AS (SELECT doc_id, shingle FROM sh WHERE source != 'src9'),
        |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY doc_id),
        |hits AS (SELECT doc_id, count(*) AS n_overlap
        |         FROM tr JOIN evs USING (shingle) GROUP BY doc_id)
        |SELECT s.doc_id, s.n_shingles,
        |  coalesce(h.n_overlap, 0) AS n_overlap,
        |  floor((CAST(coalesce(h.n_overlap, 0) AS DOUBLE) / s.n_shingles) * 1e4 + 0.5) / 1e4 AS contamination,
        |  floor((CAST(coalesce(h.n_overlap, 0) AS DOUBLE) / s.n_shingles) * 1e4 + 0.5) / 1e4 >= 0.15 AS contaminated
        |FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
        |ORDER BY s.doc_id""".stripMargin)),
    // minhash+LSH verifies candidates with exact Jaccard; at 16 bands x 4
    // rows recall at j>=0.8 is ~0.9998 (and 1.0 measured on this corpus),
    // so the exact-Jaccard oracle applies
    QuerySpec("dedup_minhash_lsh", Dedup.minhashLshPairs(_, _), Oracle(ngramJaccardOracle)),
    // merge-refreshed shingle+minhash indexes, asserted END-TO-END:
    // the LSH pair query served from the refreshed artifacts must
    // equal the from-scratch exact-Jaccard pairs — shared oracle
    QuerySpec("dedup_minhash_index_refresh", Dedup.minhashLshPairsRefreshed(_, _),
      Oracle(ngramJaccardOracle)),
    // sketch-index refresh by merge (r16): the shingle/minhash/simhash
    // indexes absorb the odd-id arrivals against the stored even-id
    // artifacts; shingle emits the SQL-replayable canonical profile,
    // the signature families are asserted END-TO-END (pair queries
    // served from the refreshed indexes share the from-scratch oracles)
    // merge-refreshed shingle index, canonical profile: full-corpus
    // exact-dup groups (min doc_id, group size) + distinct 3-gram
    // shingle counts of each canonical text
    QuerySpec("dedup_shingle_index_refresh", Dedup.shingleIndexRefresh(_, _), Oracle(
      """WITH grp AS (SELECT min(doc_id) AS doc_id, count(*) AS w
        |             FROM documents GROUP BY text),
        |w AS (SELECT doc_id,
        |        list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS words
        |      FROM documents WHERE doc_id IN (SELECT doc_id FROM grp)),
        |sh AS (SELECT DISTINCT doc_id, shingle
        |       FROM (SELECT doc_id,
        |               unnest([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
        |                       for i in range(1, greatest(len(words) - 1, 1))]) AS shingle
        |             FROM w)),
        |cnt AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id)
        |SELECT g.doc_id, g.w, c.n_shingles
        |FROM grp g JOIN cnt c ON c.doc_id = g.doc_id
        |ORDER BY g.doc_id""".stripMargin)),
    // dedup_simhash: md5-derived signature bits replayed vote-for-vote;
    // the oracle blocks by the same 16-bit chunks (pigeonhole-lossless,
    // so candidates = exact hd<=3 pairs) and expands canonical groups
    QuerySpec("dedup_simhash", Dedup.simhashPairs(_, _), Oracle(simhashOracle)),
    // merge-refreshed simhash index, asserted END-TO-END: the hamming
    // pair query served from the refreshed index must equal the
    // from-scratch query — shared oracle
    QuerySpec("dedup_simhash_index_refresh", Dedup.simhashPairsRefreshed(_, _),
      Oracle(simhashOracle)),
    // ROUTING: this is the EXACT cosine threshold join — inherently
    // Ω(N²) compares (measured p=1.96 to 25×; the θ=0.35 continuum on
    // this corpus defeats banding, see the operator scaladoc). The r10
    // centroid+residual block-pair bound prunes provably-empty block
    // pairs without changing a row, but on near-uniform data the right
    // tool is a different operator: θ high / top-k → the ANN paths
    // (ann_topk_lsh / ann_topk_ivf / ann_knn_join); bounded compare
    // budget with accepted recall → dedup_semantic (within-cell
    // SemDeDup). Keep this query for when exactness is the contract.
    QuerySpec("dedup_embedding", Dedup.embeddingNearDupPairsBlocked(_, _),
      Oracle(embeddingPairsOracleSql)),
    // the guard's pricing made observable: exact would-be expansion of
    // both all-pairs views, no expansion executed (oracle counts the
    // replayed member-level pair tables independently)
    // the guard's pricing formula hash-verified: DuckDB counts BOTH
    // replayed member-level pair tables independently; the Spark side
    // prices them from canonical survivors x group histogram without
    // expanding a single pair
    QuerySpec("dedup_pair_budgets", Dedup.pairExpansionReport(_, _), Oracle(
      (s"""SELECT 'embedding' AS view, CAST(count(*) AS BIGINT) AS expanded_pairs
         |FROM ($embeddingPairsOracleSql)
         |UNION ALL
         |SELECT 'semantic' AS view, CAST(count(*) AS BIGINT) AS expanded_pairs
         |FROM (${semanticDedupOracle(2, 0.3)})
         |ORDER BY view""".stripMargin))),
    // lshTopK: full replay of the SRP signature path — plane entries
    // are the seeded-md5 uniform shifted to [-0.5, 0.5) (exact multiples
    // of 2^-32), each signature bit the sign of the QUANTIZED integer
    // dot (per-term floor to 1e-9 units, BIGINT sum — order-independent,
    // so both engines compute identical bits), bands of 4 bits, and
    // exact cosine ranking over the DISTINCT band-collision candidates.
    // Approximate vs brute force by construction (recall spec in
    // SimilaritySpec), but exactly reproducible engine-to-engine.
    QuerySpec("ann_topk_lsh", Similarity.lshTopK(_, _), Oracle(
      """WITH pl AS (SELECT pi.plane_id, dj.dim_id,
        |        list_sum(list_transform(range(1, 9),
        |          k -> (strpos('0123456789abcdef',
        |                  substr(md5('srp8|' || CAST(pi.plane_id AS VARCHAR)
        |                             || '|' || CAST(dj.dim_id AS VARCHAR)), k, 1)) - 1)
        |               * pow(16, 8 - k))) / 4294967296.0 - 0.5 AS v
        |      FROM range(0, 64) AS pi(plane_id), range(0, 64) AS dj(dim_id)),
        |bits AS (SELECT e.vec_id, p.plane_id,
        |        CASE WHEN sum(CAST(floor(CAST(list_extract(e.embedding, p.dim_id + 1) AS DOUBLE)
        |                                 * p.v * 1e9 + 0.5) AS BIGINT)) > 0
        |             THEN 1 ELSE 0 END AS bit
        |      FROM embeddings e CROSS JOIN pl p
        |      GROUP BY e.vec_id, p.plane_id),
        |bands AS (SELECT vec_id, plane_id // 4 AS band,
        |        CAST(sum(bit * (CAST(1 AS BIGINT) << CAST(plane_id % 4 AS INT))) AS BIGINT) AS band_val
        |      FROM bits GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |      FROM bands q JOIN bands c ON q.band = c.band AND q.band_val = c.band_val
        |      WHERE q.vec_id < 20 AND q.vec_id != c.vec_id),
        |n AS (SELECT vec_id, embedding,
        |        sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
        |      FROM embeddings),
        |p AS (SELECT cand.query_id, cand.neighbor_id,
        |        floor((list_sum(list_transform(range(1, 65),
        |                i -> CAST(list_extract(q.embedding, i) AS DOUBLE)
        |                   * CAST(list_extract(c.embedding, i) AS DOUBLE)))
        |          / (q.nrm * c.nrm)) * 1e4 + 0.5) / 1e4 AS cosine
        |      FROM cand JOIN n q ON cand.query_id = q.vec_id
        |                JOIN n c ON cand.neighbor_id = c.vec_id)
        |SELECT query_id, neighbor_id, cosine, rank FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |                            ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
        |  FROM p)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),
    // --- similarity search ---
    QuerySpec("ann_topk_brute", Similarity.bruteForceTopK(_, _), Oracle(
      """WITH n AS (SELECT vec_id, embedding,
        |             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
        |           FROM embeddings),
        |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |        floor((list_sum(list_transform(range(1, 65),
        |                i -> CAST(list_extract(q.embedding, i) AS DOUBLE)
        |                   * CAST(list_extract(c.embedding, i) AS DOUBLE)))
        |          / (q.nrm * c.nrm)) * 1e4 + 0.5) / 1e4 AS cosine
        |      FROM n q JOIN n c ON q.vec_id != c.vec_id
        |      WHERE q.vec_id < 20)
        |SELECT query_id, neighbor_id, cosine, rank FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |                            ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
        |  FROM p)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),
    // --- events: JSON, event-time windows, sessionization ---
    QuerySpec("events_json_stats", Events.jsonStats(_, _), Oracle(
      """SELECT event_type, count(*) AS n, floor((CAST(sum(CAST(floor((value) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / (count(value) * 1e6)) * 1e4 + 0.5) / 1e4 AS avg_value,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QuerySpec("events_tumbling", Events.tumblingHourly(_, _), Oracle(
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n, floor((CAST(sum(CAST(floor((value) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6) * 1e4 + 0.5) / 1e4 AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // identical to events_tumbling BY DESIGN: the streaming path must
    // reproduce the batch aggregation exactly
    // stream-static enrichment: the static side is a batch agg over the
    // same events table, so the batch join+agg replays it exactly
    QuerySpec("stream_static_enrich", EventStream.staticEnrichViaStream(_, _), Oracle(
      """WITH dim AS (SELECT user_id, count(*) AS user_events FROM events GROUP BY user_id)
        |SELECT e.event_type,
        |  CASE WHEN d.user_events >= 70 THEN 'heavy' ELSE 'light' END AS band,
        |  count(*) AS n,
        |  floor((CAST(sum(CAST(floor((e.value) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6) * 1e4 + 0.5) / 1e4 AS sum_value
        |FROM events e JOIN dim d ON e.user_id = d.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin), drain = true),
    // stream-static doc dedup is STATELESS by design: each arriving odd
    // doc is scored only against the even-id prior index, so the oracle
    // is the plain probe (within-batch resolution is dedup_incremental's
    // batch concern, deliberately excluded)
    QuerySpec("stream_doc_dedup", EventStream.docDedupViaStream(_, _), Oracle(
      """WITH prior AS (SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
        |                      min(doc_id) AS dup_of
        |               FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
        |batch AS (SELECT doc_id,
        |            md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        |          FROM documents WHERE doc_id % 2 = 1)
        |SELECT b.doc_id, b.fingerprint, p.dup_of, p.dup_of IS NULL AS is_new
        |FROM batch b LEFT JOIN prior p USING (fingerprint)
        |ORDER BY b.doc_id""".stripMargin), drain = true),
    // chunk-grain continuous-ingest twin: stateless chunk+probe against
    // the STORED chunk-keeper index, per-doc rollup in foreachBatch
    // stream-static chunk dedup mirrors the batch probe exactly (same
    // stored index, same rollup, docs never span micro-batches), so it
    // SHARES dedup_chunk_incremental's oracle
    QuerySpec("stream_chunk_dedup", EventStream.chunkDedupViaStream(_, _), Oracle(
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \n]'), x -> x != '') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_slice(toks, start + 1, start + 32), ' ')) AS chunk_fp
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(0, greatest(len(toks), 1), 32)) AS start
        |        FROM t)),
        |p AS (SELECT DISTINCT chunk_fp FROM c WHERE doc_id % 2 = 0),
        |b AS (SELECT doc_id, chunk_fp FROM c WHERE doc_id % 2 = 1)
        |SELECT b.doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN p.chunk_fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_known_chunks,
        |  floor((CAST(count(*) - sum(CASE WHEN p.chunk_fp IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |         / count(*)) * 1e4 + 0.5) / 1e4 AS novel_frac,
        |  sum(CASE WHEN p.chunk_fp IS NOT NULL THEN 1 ELSE 0 END) = count(*)
        |    AS fully_covered
        |FROM b LEFT JOIN p ON b.chunk_fp = p.chunk_fp
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin), drain = true),
    // streaming dedup emits each distinct key once on first arrival —
    // the key SET equals the batch DISTINCT, independent of arrival order
    QuerySpec("stream_dedup", EventStream.dedupViaStream(_, _), Oracle(
      """SELECT DISTINCT user_id, event_type,
        |  date_trunc('hour', ts) AS hour_start
        |FROM events ORDER BY user_id, event_type, hour_start""".stripMargin), drain = true),
    // the file-source Structured Streaming path, run to completion —
    // shares events_tumbling's oracle, so stream/batch parity is a
    // driver-checked fact, not only an sbt-test one
    QuerySpec("stream_tumbling", EventStream.tumblingViaStream(_, _), Oracle(
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n, floor((CAST(sum(CAST(floor((value) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6) * 1e4 + 0.5) / 1e4 AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin), drain = true),
    QuerySpec("events_sliding", Events.slidingHourly(_, _), Oracle(slidingOracle)),
    // identical to events_sliding BY DESIGN: the streaming sliding
    // window must reproduce the batch overlap exactly
    QuerySpec("stream_sliding", EventStream.slidingViaStream(_, _),
      Oracle(slidingOracle), drain = true),
    // compactionPlan(target=2 MiB): pure integer ceil arithmetic
    QuerySpec("layout_compaction_plan", Layout.compactionPlan(_, _), Oracle(
      """WITH s AS (SELECT source, count(*) AS n_docs,
        |             CAST(sum(n_chars) AS BIGINT) AS total_bytes
        |           FROM documents GROUP BY source)
        |SELECT source, n_docs, total_bytes,
        |  greatest(1, (total_bytes + 2097151) // 2097152) AS n_files,
        |  (n_docs + greatest(1, (total_bytes + 2097151) // 2097152) - 1)
        |    // greatest(1, (total_bytes + 2097151) // 2097152) AS rows_per_file
        |FROM s ORDER BY source""".stripMargin)),
    QuerySpec("events_sessionize", Events.sessionize(_, _), Oracle(sessionizeOracle)),
    // identical to events_sessionize BY DESIGN: the stateful streaming
    // session_window must reproduce the batch sessionization exactly
    QuerySpec("stream_sessionize", EventStream.sessionizeViaStream(_, _),
      Oracle(sessionizeOracle), drain = true),
    // stream-stream inner join: every purchase within the hour BEFORE
    // each click by the same user — the batch join the streaming
    // two-sided state must reproduce exactly
    QuerySpec("stream_click_attribution", EventStream.clickAttributionViaStream(_, _), Oracle(
      """SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
        |  p.event_id AS purchase_id, p.ts AS purchase_ts,
        |  floor((p.value) * 1e4 + 0.5) / 1e4 AS purchase_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        |JOIN (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        |  AND p.ts >= c.ts - INTERVAL 1 HOUR AND p.ts <= c.ts
        |ORDER BY click_id, purchase_id""".stripMargin), drain = true),
    // the LINEAR attribution interface: one latest-click state row per
    // user, one output row per attributed purchase — skew-safe where
    // the all-pairs join above is quadratic on a hot user
    // last-click attribution: each purchase's LATEST click at-or-before
    // it within the hour (ts ties -> largest click_id) — the linear
    // batch answer the streaming one-click-per-user state reproduces
    QuerySpec("stream_last_click", EventStream.lastClickViaStream(_, _), Oracle(
      """WITH j AS (
        |  SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
        |    floor((p.value) * 1e4 + 0.5) / 1e4 AS purchase_value,
        |    c.event_id AS click_id, c.ts AS click_ts,
        |    row_number() OVER (PARTITION BY p.event_id
        |                       ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |  FROM (SELECT event_id, user_id, ts, value FROM events
        |        WHERE event_type = 'purchase') p
        |  JOIN (SELECT event_id, user_id, ts FROM events
        |        WHERE event_type = 'click') c
        |    ON c.user_id = p.user_id
        |    AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR)
        |SELECT purchase_id, user_id, purchase_ts, purchase_value,
        |       click_id, click_ts
        |FROM j WHERE rn = 1
        |ORDER BY purchase_id""".stripMargin), drain = true),
    QuerySpec("events_user_stats", Events.userStats(_, _), Oracle(
      """SELECT user_id, count(*) AS n_events,
        |  count(DISTINCT event_type) AS n_types,
        |  min(ts) AS first_ts, max(ts) AS last_ts,
        |  floor((CAST(sum(CAST(floor((value) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / (count(value) * 1e6)) * 1e4 + 0.5) / 1e4 AS avg_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    QuerySpec("events_top_user_hours", Events.topUserHours(_, _), Oracle(
      """SELECT user_id, date_trunc('hour', ts) AS hour, count(*) AS n
        |FROM events GROUP BY 1, 2
        |ORDER BY n DESC, user_id ASC, hour ASC LIMIT 50""".stripMargin)),
    // funnel(windowHours=1): stage minima chain through strict-after /
    // within-window joins; timestamps are exact microseconds in both
    // engines so the window comparisons agree bit-for-bit
    QuerySpec("events_funnel", Events.funnel(_, _), Oracle(
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts > v.t1
        |        AND e.ts <= v.t1 + INTERVAL 1 HOUR GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t2
        |        AND e.ts <= c.t2 + INTERVAL 1 HOUR GROUP BY 1)
        |SELECT 1 AS stage, 'view' AS event_type, count(*) AS n_users FROM v
        |UNION ALL SELECT 2, 'click', count(*) FROM c
        |UNION ALL SELECT 3, 'purchase', count(*) FROM p
        |ORDER BY stage""".stripMargin)),
    // rollingActiveUsers(windowDays=7): the oracle states the rolling
    // distinct directly as a correlated range count over the distinct
    // (user, day) table — the engine's bounded-replication rewrite must
    // reproduce it exactly
    QuerySpec("events_rolling_active", Events.rollingActiveUsers(_, _), Oracle(
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |days AS (SELECT DISTINCT day FROM ud)
        |SELECT d.day,
        |  (SELECT count(*) FROM ud WHERE ud.day = d.day) AS dau,
        |  (SELECT count(DISTINCT user_id) FROM ud
        |   WHERE ud.day BETWEEN d.day - 6 AND d.day) AS rolling_users
        |FROM days d ORDER BY day""".stripMargin)),
    // rfmSegments: medians over the per-user frame (quantile_cont =
    // Spark exact percentile over quantized inputs, the
    // quantity_percentiles parity); boundary users land in the − half
    QuerySpec("events_rfm_segments", Events.rfmSegments(_, _), Oracle(
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day, value FROM events),
        |mx AS (SELECT max(day) AS max_day FROM ev),
        |u AS (SELECT user_id,
        |        datediff('day', max(day), (SELECT max_day FROM mx)) AS recency,
        |        count(*) AS frequency,
        |        floor((CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6)
        |              * 1e2 + 0.5) / 1e2 AS monetary
        |      FROM ev GROUP BY user_id),
        |med AS (SELECT quantile_cont(recency, 0.5) AS rm,
        |               quantile_cont(frequency, 0.5) AS fm,
        |               quantile_cont(monetary, 0.5) AS mm FROM u)
        |SELECT concat(CASE WHEN recency <= rm THEN 'R+' ELSE 'R-' END,
        |              CASE WHEN frequency > fm THEN 'F+' ELSE 'F-' END,
        |              CASE WHEN monetary > mm THEN 'M+' ELSE 'M-' END) AS segment,
        |  count(*) AS n_users
        |FROM u, med GROUP BY 1 ORDER BY 1""".stripMargin)),
    // retentionCohorts(maxOffset=7): cohort = per-user min active day;
    // (user, day) is distinct so count(*) per (cohort, offset) counts users
    QuerySpec("events_retention_cohorts", Events.retentionCohorts(_, _), Oracle(
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |co AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY user_id),
        |sz AS (SELECT cohort_day, count(*) AS n_cohort FROM co GROUP BY cohort_day),
        |act AS (SELECT co.cohort_day,
        |          datediff('day', co.cohort_day, ud.day) AS day_offset,
        |          count(*) AS n_active
        |        FROM ud JOIN co USING (user_id)
        |        WHERE datediff('day', co.cohort_day, ud.day) <= 7
        |        GROUP BY 1, 2)
        |SELECT a.cohort_day, a.day_offset, a.n_active, s.n_cohort,
        |  floor((CAST(a.n_active AS DOUBLE) / s.n_cohort) * 1e4 + 0.5) / 1e4 AS retention
        |FROM act a JOIN sz s USING (cohort_day)
        |ORDER BY a.cohort_day, a.day_offset""".stripMargin)),
    // containerAudit: the Spark side parses payload length and magic from
    // the GRFT container BYTES; the oracle replays the accounting from the
    // source text (payload = utf8 bytes, container = payload + 26B header
    // + 16B md5 trailer, magic always valid by construction)
    QuerySpec("multimodal_container_audit", Multimodal.containerAudit(_, _), Oracle(
      """WITH b AS (SELECT
        |             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |                  WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |             CAST(octet_length(encode(text)) AS BIGINT) AS pbytes
        |           FROM documents)
        |SELECT modality, count(*) AS n_blobs,
        |  CAST(sum(pbytes + 42) AS BIGINT) AS total_container_bytes,
        |  CAST(sum(pbytes) AS BIGINT) AS total_payload_bytes,
        |  CAST(count(*) * 42 AS BIGINT) AS total_overhead_bytes,
        |  count(*) AS n_valid_magic,
        |  max(pbytes) AS max_payload_bytes
        |FROM b GROUP BY modality ORDER BY modality""".stripMargin)),
    // dataQualityReport: every constraint is exact arithmetic over the
    // tables, so the oracle is a UNION ALL of scalar-subquery rows
    QuerySpec("data_quality_report", Stats.dataQualityReport(_, _), Oracle(
      """WITH c AS (
        |  SELECT 'enum_lineitem_returnflag' AS check_name, 'lineitem' AS table_name,
        |    (SELECT count(*) FROM lineitem) AS n_rows,
        |    (SELECT count(*) FROM lineitem WHERE l_returnflag NOT IN ('A','N','R')) AS n_violations
        |  UNION ALL SELECT 'fk_lineitem_orderkey', 'lineitem',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |     WHERE o.o_orderkey IS NULL)
        |  UNION ALL SELECT 'fk_orders_custkey', 'orders',
        |    (SELECT count(*) FROM orders),
        |    (SELECT count(*) FROM orders od LEFT JOIN customer cu ON od.o_custkey = cu.c_custkey
        |     WHERE cu.c_custkey IS NULL)
        |  UNION ALL SELECT 'nn_orders_orderdate', 'orders',
        |    (SELECT count(*) FROM orders),
        |    (SELECT count(*) FROM orders WHERE o_orderdate IS NULL)
        |  UNION ALL SELECT 'nonneg_lineitem_extendedprice', 'lineitem',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem WHERE l_extendedprice < 0)
        |  UNION ALL SELECT 'pk_lineitem_orderkey_linenumber', 'lineitem',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem) -
        |      (SELECT count(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem)
        |  UNION ALL SELECT 'pk_orders_orderkey', 'orders',
        |    (SELECT count(*) FROM orders),
        |    (SELECT count(*) FROM orders) - (SELECT count(DISTINCT o_orderkey) FROM orders)
        |  UNION ALL SELECT 'range_lineitem_quantity', 'lineitem',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50))
        |SELECT check_name, table_name, n_rows, n_violations,
        |  n_violations = 0 AS pass
        |FROM c ORDER BY check_name""".stripMargin)),
    // blobDedup: checksum groups over the encoded payload; Spark md5 of
    // the UTF-8 blob = DuckDB md5 of the string's bytes
    QuerySpec("multimodal_dedup", Multimodal.blobDedup(_, _), Oracle(
      """WITH b AS (SELECT doc_id,
        |             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |                  WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |             md5(text) AS checksum
        |           FROM documents)
        |SELECT checksum, min(doc_id) AS canonical_id, count(*) AS n_copies,
        |  count(DISTINCT modality) AS n_modalities
        |FROM b GROUP BY checksum
        |ORDER BY canonical_id""".stripMargin)),
    // cumulativeUsers: cumulative distinct = running sum of first-seen
    // cohort sizes over the |days|-bounded frame
    QuerySpec("events_cumulative_users", Events.cumulativeUsers(_, _), Oracle(
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |fs AS (SELECT day, count(*) AS new_users
        |       FROM (SELECT user_id, min(day) AS day FROM ud GROUP BY user_id)
        |       GROUP BY day),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day)
        |SELECT d.day, d.dau, coalesce(f.new_users, 0) AS new_users,
        |  CAST(sum(coalesce(f.new_users, 0)) OVER (ORDER BY d.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumulative_users
        |FROM dau d LEFT JOIN fs f ON f.day = d.day
        |ORDER BY d.day""".stripMargin)),
    // --- multimodal binary columns (decode stubbed, plumbing real) ---
    QuerySpec("multimodal_features", Multimodal.features(_, _), Oracle(
      """WITH b AS (SELECT doc_id,
        |             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |                  WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |             CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |             ord(substr(text, 1, 1)) AS first,
        |             md5(text) AS checksum
        |           FROM documents)
        |SELECT doc_id, modality, n_bytes,
        |  CASE WHEN modality IN ('image','video')
        |       THEN CAST(64 + ((n_bytes * 3 + first) % 1856) AS INT) ELSE 0 END AS width,
        |  CASE WHEN modality IN ('image','video')
        |       THEN CAST(64 + ((n_bytes * 5 + first) % 1016) AS INT) ELSE 0 END AS height,
        |  CASE modality WHEN 'video' THEN CAST(1 + (n_bytes % 240) AS INT)
        |       WHEN 'image' THEN 1 ELSE 0 END AS n_frames,
        |  CASE WHEN modality = 'audio'
        |       THEN CAST(8000 + (first % 8) * 4000 AS INT) ELSE 0 END AS sample_rate,
        |  checksum
        |FROM b ORDER BY doc_id""".stripMargin)),
    // frameSamplePlan(target=8, maxDim=224, fps=24): pure integer
    // arithmetic over the replayed stub features — uniform indices
    // floor(k·n/ns), aspect-preserving resize by exact integer division
    QuerySpec("multimodal_frame_plan", Multimodal.frameSamplePlan(_, _), Oracle(
      """WITH b AS (SELECT doc_id,
        |             CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |             ord(substr(text, 1, 1)) AS first
        |           FROM documents
        |           WHERE CAST(doc_id % 3 AS INT) = 2),
        |v AS (SELECT doc_id,
        |        CAST(1 + (n_bytes % 240) AS INT) AS n_frames,
        |        CAST(64 + ((n_bytes * 3 + first) % 1856) AS INT) AS width,
        |        CAST(64 + ((n_bytes * 5 + first) % 1016) AS INT) AS height
        |      FROM b),
        |s AS (SELECT doc_id, n_frames, width, height,
        |        least(8, n_frames) AS ns FROM v),
        |f AS (SELECT doc_id, width, height,
        |        unnest([(k * n_frames) // ns for k in range(0, ns)]) AS frame_idx
        |      FROM s)
        |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST((frame_idx * 1000) // 24 AS INT) AS ts_ms,
        |  CAST(CASE WHEN width <= 224 AND height <= 224 THEN width
        |       WHEN width >= height THEN 224
        |       ELSE (width * 224) // height END AS INT) AS out_w,
        |  CAST(CASE WHEN width <= 224 AND height <= 224 THEN height
        |       WHEN width >= height THEN (height * 224) // width
        |       ELSE 224 END AS INT) AS out_h
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin)),
    // frameSampleExec: the Spark side slices actual GRFT payload BYTES
    // (dynamic substr over the binary column) and md5s each frame; the
    // oracle replays the same slices over the source VARCHAR. The two
    // agree because every fixture text is pure ASCII (byte slice ==
    // char slice; MultimodalSpec asserts the precondition) — DuckDB
    // 1.0 has no BLOB substring, so the VARCHAR replay is the only
    // oracle form available. Frame k of n owns payload bytes
    // [k*plen/n, (k+1)*plen/n) — exact integer tiling, no gaps.
    QuerySpec("multimodal_frame_exec", Multimodal.frameSampleExec(_, _), Oracle(
      """WITH b AS (SELECT doc_id, text,
        |             CAST(octet_length(encode(text)) AS INT) AS plen,
        |             ord(substr(text, 1, 1)) AS first
        |           FROM documents
        |           WHERE CAST(doc_id % 3 AS INT) = 2),
        |v AS (SELECT doc_id, text, plen,
        |        CAST(1 + (plen % 240) AS INT) AS n_frames,
        |        CAST(64 + ((plen * 3 + first) % 1856) AS INT) AS width,
        |        CAST(64 + ((plen * 5 + first) % 1016) AS INT) AS height
        |      FROM b),
        |s AS (SELECT doc_id, text, plen, n_frames, width, height,
        |        least(8, n_frames) AS ns FROM v),
        |f AS (SELECT doc_id, text, plen, n_frames, width, height,
        |        unnest([(k * n_frames) // ns for k in range(0, ns)]) AS frame_idx
        |      FROM s)
        |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST((frame_idx * 1000) // 24 AS INT) AS ts_ms,
        |  CAST(CASE WHEN width <= 224 AND height <= 224 THEN width
        |       WHEN width >= height THEN 224
        |       ELSE (width * 224) // height END AS INT) AS out_w,
        |  CAST(CASE WHEN width <= 224 AND height <= 224 THEN height
        |       WHEN width >= height THEN (height * 224) // width
        |       ELSE 224 END AS INT) AS out_h,
        |  CAST((frame_idx * plen) // n_frames AS BIGINT) AS frame_offset,
        |  CAST(((frame_idx + 1) * plen) // n_frames
        |       - (frame_idx * plen) // n_frames AS BIGINT) AS frame_bytes,
        |  md5(substring(text,
        |      CAST((frame_idx * plen) // n_frames + 1 AS BIGINT),
        |      CAST(((frame_idx + 1) * plen) // n_frames
        |           - (frame_idx * plen) // n_frames AS BIGINT))) AS frame_md5
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin)),
    QuerySpec("multimodal_summary", Multimodal.modalitySummary(_, _), Oracle(
      """WITH f AS (SELECT doc_id,
        |             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |                  WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |             CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |             ord(substr(text, 1, 1)) AS first
        |           FROM documents)
        |SELECT modality, count(*) AS n_blobs,
        |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |  floor((avg(CASE WHEN modality IN ('image','video')
        |                 THEN 64 + ((n_bytes * 3 + first) % 1856) ELSE 0 END)) * 1e4 + 0.5) / 1e4 AS avg_width,
        |  floor((avg(CASE WHEN modality IN ('image','video')
        |                 THEN 64 + ((n_bytes * 5 + first) % 1016) ELSE 0 END)) * 1e4 + 0.5) / 1e4 AS avg_height,
        |  max(CASE modality WHEN 'video' THEN CAST(1 + (n_bytes % 240) AS INT)
        |      WHEN 'image' THEN 1 ELSE 0 END) AS max_frames
        |FROM f GROUP BY modality ORDER BY modality""".stripMargin)),
    // --- custom operators ---
    // events_approx_distinct: HLL sketch values differ per engine -> rows-only check
    // stats_lineitem_columns_approx: same justification — the distinct column is
    // an HLL++ sketch value; StatsSpec bounds it to <10% of the exact form
    QuerySpec("events_asof_purchase", AsOfJoin.clickAttribution(_, _), Oracle(
      """SELECT c.event_id, c.user_id, c.ts AS click_ts,
        |  p.ts AS last_purchase_ts, floor((p.value) * 1e4 + 0.5) / 1e4 AS last_purchase_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND p.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin)),
    // native whole-operator as-of join: SAME oracle as the composition
    // form — the hash compare proves the custom SparkPlan's merge pass
    // equals DuckDB's ASOF JOIN
    QuerySpec("events_asof_purchase_native", AsOfJoin.clickAttributionNative(_, _), Oracle(
      """SELECT c.event_id, c.user_id, c.ts AS click_ts,
        |  p.ts AS last_purchase_ts, floor((p.value) * 1e4 + 0.5) / 1e4 AS last_purchase_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND p.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin)),
    // tolerance = pandas semantics: latest match first, THEN the window
    // test — so the oracle is the plain ASOF with a post-hoc CASE, not a
    // windowed join condition
    QuerySpec("events_asof_purchase_recent", AsOfJoin.clickAttributionRecent(_, _), Oracle(
      """SELECT c.event_id, c.user_id, c.ts AS click_ts,
        |  CASE WHEN p.ts IS NOT NULL AND c.ts - p.ts <= INTERVAL 6 HOUR
        |       THEN p.ts END AS last_purchase_ts,
        |  CASE WHEN p.ts IS NOT NULL AND c.ts - p.ts <= INTERVAL 6 HOUR
        |       THEN floor((p.value) * 1e4 + 0.5) / 1e4 END AS last_purchase_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND p.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin)),
    // forward as-of: DuckDB flips the ASOF inequality; window CASE as
    // in the backward form
    QuerySpec("events_asof_conversion", AsOfJoin.clickConversion(_, _), Oracle(
      """SELECT c.event_id, c.user_id, c.ts AS click_ts,
        |  CASE WHEN p.ts IS NOT NULL AND p.ts - c.ts <= INTERVAL 6 HOUR
        |       THEN p.ts END AS conversion_ts,
        |  CASE WHEN p.ts IS NOT NULL AND p.ts - c.ts <= INTERVAL 6 HOUR
        |       THEN floor((p.value) * 1e4 + 0.5) / 1e4 END AS conversion_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND p.ts >= c.ts
        |ORDER BY c.event_id""".stripMargin)),
    // nearest = closer of the two directions, ties backward (pandas);
    // distances compared in exact integer microseconds
    QuerySpec("events_asof_nearest", AsOfJoin.clickNearestPurchase(_, _), Oracle(
      """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.ts AS click_ts,
        |  CASE WHEN f.ts IS NULL OR (b.ts IS NOT NULL
        |            AND epoch_us(c.ts) - epoch_us(b.ts) <= epoch_us(f.ts) - epoch_us(c.ts))
        |       THEN b.ts ELSE f.ts END AS nearest_ts,
        |  floor((CASE WHEN f.ts IS NULL OR (b.ts IS NOT NULL
        |            AND epoch_us(c.ts) - epoch_us(b.ts) <= epoch_us(f.ts) - epoch_us(c.ts))
        |       THEN b.value ELSE f.value END) * 1e4 + 0.5) / 1e4 AS nearest_value
        |FROM c
        |ASOF LEFT JOIN p b ON c.user_id = b.user_id AND b.ts <= c.ts
        |ASOF LEFT JOIN p f ON c.user_id = f.user_id AND f.ts >= c.ts
        |ORDER BY c.event_id""".stripMargin)),
    QuerySpec("events_approx_distinct", Events.approxDistinctUsers(_, _),
      Bound(SketchBounds.approxDistinct)),
  )

  private val windowTopOrdersOracle: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |        row_number() OVER (PARTITION BY o_custkey
      |                           ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |      FROM orders)
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  /** DuckDB replay of [[graft.operators.Similarity.ivfTopK]] including
    * its deterministic k-means training loop: csim ranks on the same
    * floor-rounded cosine as the Spark side's rd(·, 6); centroid means
    * are the qavg quantized form (exact BIGINT sums of 1e-6 units), so
    * both engines train bit-identical centroids. One assign/mean CTE
    * pair per Lloyd iteration. */
  private def ivfCsim(vEmb: String, vNrm: String): String =
    s"floor((list_sum(list_transform(range(1, 65), i -> CAST(list_extract($vEmb, i) AS DOUBLE) * " +
      s"list_extract(c.cvec, i))) / ($vNrm * c.nrm)) * 1e6 + 0.5) / 1e6"

  private def ivfAssignCte(name: String, cent: String): String =
    s"""$name AS (SELECT vec_id, cluster FROM (
       |    SELECT v.vec_id, c.cent_id AS cluster,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY ${ivfCsim("v.embedding", "v.nrm")} DESC, c.cent_id ASC) AS arn
       |    FROM n v, $cent c)
       |  WHERE arn = 1)""".stripMargin

  private def ivfMeanCte(name: String, asg: String): String =
    s"""$name AS (SELECT cent_id, cvec, sqrt(list_sum(list_transform(cvec, x -> x * x))) AS nrm
       |  FROM (SELECT cent_id, list(val ORDER BY pos) AS cvec FROM (
       |      SELECT a.cluster AS cent_id, p.pos AS pos,
       |        CAST(CAST(sum(CAST(floor(CAST(list_extract(v.embedding, p.pos) AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / (count(*) * 1e6) AS val
       |      FROM n v JOIN $asg a ON v.vec_id = a.vec_id CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) p
       |      GROUP BY a.cluster, p.pos) GROUP BY cent_id))""".stripMargin

  /** Gap-based sessionization as ANSI SQL (lag + cumulative session id),
    * shared verbatim by the batch query and its streaming twin. */
  /** 1 h / 30 min sliding windows restated as a bounded ×2 replication
    * (each event belongs to exactly two windows) — shared by the batch
    * query and its streaming twin. */
  private val slidingOracle: String =
    """SELECT ws AS window_start, count(*) AS n, floor((CAST(sum(CAST(floor((value) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6) * 1e4 + 0.5) / 1e4 AS sum_value
      |FROM (SELECT unnest([
      |         TIMESTAMP '1970-01-01 00:00:00' + CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) * INTERVAL 1 SECOND,
      |         TIMESTAMP '1970-01-01 00:00:00' + CAST(floor(epoch(ts) / 1800) * 1800 - 1800 AS BIGINT) * INTERVAL 1 SECOND
      |       ]) AS ws, value
      |      FROM events)
      |GROUP BY ws ORDER BY ws""".stripMargin

  private val sessionizeOracle: String =
    """WITH m AS (SELECT user_id, ts, value,
      |             CASE WHEN lag(ts) OVER w IS NULL
      |                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |                  THEN 1 ELSE 0 END AS is_new
      |           FROM events
      |           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (SELECT user_id, ts, value,
      |        sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
      |                          ROWS UNBOUNDED PRECEDING) AS sid
      |      FROM m)
      |SELECT user_id, min(ts) AS session_start, max(ts) AS session_last,
      |  count(*) AS n_events, floor((CAST(sum(CAST(floor((value) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6) * 1e4 + 0.5) / 1e4 AS session_value
      |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin

  /** SemDeDup oracle: replay k-means training + full assignment (the
    * exact CTEs the IVF oracle uses), then the within-cell pair join at
    * the threshold — training, cells, and pairs all re-derived in SQL. */
  private def semanticDedupOracle(iters: Int, threshold: Double): String = {
    val training = (0 until iters).map { t =>
      s"${ivfAssignCte(s"a$t", s"c$t")},\n${ivfMeanCte(s"c${t + 1}", s"a$t")}"
    }.mkString(",\n")
    val cFinal = s"c$iters"
    s"""WITH n AS (SELECT vec_id, embedding,
       |             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
       |           FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec, nrm FROM n WHERE vec_id < 16),
       |$training,
       |${ivfAssignCte("assigned", cFinal)},
       |pairs AS (
       |  SELECT a.cluster, a.vec_id AS keep_id, b.vec_id AS dup_id,
       |    floor((list_sum(list_transform(range(1, 65), i -> CAST(list_extract(va.embedding, i) AS DOUBLE) * CAST(list_extract(vb.embedding, i) AS DOUBLE))) / (va.nrm * vb.nrm)) * 1e4 + 0.5) / 1e4 AS cosine
       |  FROM assigned a
       |    JOIN assigned b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |    JOIN n va ON va.vec_id = a.vec_id
       |    JOIN n vb ON vb.vec_id = b.vec_id)
       |SELECT cluster, keep_id, dup_id, cosine FROM pairs
       |WHERE cosine >= $threshold
       |ORDER BY cluster, keep_id, dup_id""".stripMargin
  }

  /** Keeper-verdict oracle: replay the SAME member-level pair table as
    * [[semanticDedupOracle]], then reduce it to one row per vector —
    * keeper(v) = min(keep_id) over pairs (keep, v), kept(v) = no such
    * pair. The Spark side computes the identical quantity at canonical
    * level (closure minimum over surviving partner groups); the two
    * spellings agree because a neighbor u < v exists iff the closure
    * min is < v. */
  private def semanticKeepersOracle(iters: Int, threshold: Double): String = {
    val training = (0 until iters).map { t =>
      s"${ivfAssignCte(s"a$t", s"c$t")},\n${ivfMeanCte(s"c${t + 1}", s"a$t")}"
    }.mkString(",\n")
    val cFinal = s"c$iters"
    s"""WITH n AS (SELECT vec_id, embedding,
       |             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
       |           FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec, nrm FROM n WHERE vec_id < 16),
       |$training,
       |${ivfAssignCte("assigned", cFinal)},
       |pairs AS (
       |  SELECT a.cluster, a.vec_id AS keep_id, b.vec_id AS dup_id,
       |    floor((list_sum(list_transform(range(1, 65), i -> CAST(list_extract(va.embedding, i) AS DOUBLE) * CAST(list_extract(vb.embedding, i) AS DOUBLE))) / (va.nrm * vb.nrm)) * 1e4 + 0.5) / 1e4 AS cosine
       |  FROM assigned a
       |    JOIN assigned b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |    JOIN n va ON va.vec_id = a.vec_id
       |    JOIN n vb ON vb.vec_id = b.vec_id),
       |keepers AS (SELECT dup_id, min(keep_id) AS keeper_id
       |            FROM pairs WHERE cosine >= $threshold GROUP BY dup_id)
       |SELECT a.vec_id, a.cluster, k.keeper_id, k.keeper_id IS NULL AS kept
       |FROM assigned a LEFT JOIN keepers k ON k.dup_id = a.vec_id
       |ORDER BY a.vec_id""".stripMargin
  }

  /** Top-m oracle: replay the SAME member-level within-cell pair table
    * as [[semanticDedupOracle]], SYMMETRIZE it (each pair is a neighbor
    * of both ends), and take the per-vector top-m cut on (cosine desc,
    * neighbor_id asc) — the member-level statement of what the Spark
    * side computes at canonical level with the m+1-lowest-ids candidate
    * cut. A hash match proves the cut is exact, not approximate. */
  private def semanticTopMOracle(iters: Int, threshold: Double,
      m: Int): String = {
    val training = (0 until iters).map { t =>
      s"${ivfAssignCte(s"a$t", s"c$t")},\n${ivfMeanCte(s"c${t + 1}", s"a$t")}"
    }.mkString(",\n")
    val cFinal = s"c$iters"
    s"""WITH n AS (SELECT vec_id, embedding,
       |             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
       |           FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec, nrm FROM n WHERE vec_id < 16),
       |$training,
       |${ivfAssignCte("assigned", cFinal)},
       |pairs AS (
       |  SELECT a.vec_id AS keep_id, b.vec_id AS dup_id,
       |    floor((list_sum(list_transform(range(1, 65), i -> CAST(list_extract(va.embedding, i) AS DOUBLE) * CAST(list_extract(vb.embedding, i) AS DOUBLE))) / (va.nrm * vb.nrm)) * 1e4 + 0.5) / 1e4 AS cosine
       |  FROM assigned a
       |    JOIN assigned b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |    JOIN n va ON va.vec_id = a.vec_id
       |    JOIN n vb ON vb.vec_id = b.vec_id),
       |nbrs AS (SELECT keep_id AS vec_id, dup_id AS neighbor_id, cosine
       |         FROM pairs WHERE cosine >= $threshold
       |         UNION ALL
       |         SELECT dup_id, keep_id, cosine
       |         FROM pairs WHERE cosine >= $threshold)
       |SELECT vec_id, neighbor_id, cosine, rank FROM (
       |  SELECT vec_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
       |  FROM nbrs)
       |WHERE rank <= $m ORDER BY vec_id, rank""".stripMargin
  }

  /** Prototypicality oracle: replay training + assignment, score each
    * vector against its own cell centroid, rank within the cell on the
    * ROUNDED cosine (ties by vec_id) — identical tie-breaks to Spark. */
  private def prototypicalityOracle(iters: Int): String = {
    val training = (0 until iters).map { t =>
      s"${ivfAssignCte(s"a$t", s"c$t")},\n${ivfMeanCte(s"c${t + 1}", s"a$t")}"
    }.mkString(",\n")
    val cFinal = s"c$iters"
    s"""WITH n AS (SELECT vec_id, embedding,
       |             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
       |           FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec, nrm FROM n WHERE vec_id < 16),
       |$training,
       |${ivfAssignCte("assigned", cFinal)},
       |scored AS (
       |  SELECT a.vec_id, a.cluster,
       |    floor((list_sum(list_transform(range(1, 65), i -> CAST(list_extract(v.embedding, i) AS DOUBLE) * list_extract(c.cvec, i))) / (v.nrm * c.nrm)) * 1e4 + 0.5) / 1e4 AS proto_cos
       |  FROM assigned a
       |    JOIN n v ON v.vec_id = a.vec_id
       |    JOIN $cFinal c ON c.cent_id = a.cluster)
       |SELECT vec_id, cluster, proto_cos,
       |  CAST(row_number() OVER (PARTITION BY cluster
       |                          ORDER BY proto_cos DESC, vec_id ASC) AS INT) AS rk
       |FROM scored ORDER BY cluster, rk""".stripMargin
  }

  // --- PQ oracle: replay per-subspace k-means, encoding and ADC in SQL ---

  /** Rounded squared-L2 between a subvector and a sub-centroid (both
    * 8-dim double lists) — the PQ assignment metric, rd(·,6) like the
    * IVF cosine so both engines rank sub-centroids identically. */
  private def pqD2(sv: String, cvec: String): String =
    s"floor(list_sum(list_transform(range(1, 9), i -> (list_extract($sv, i) - list_extract($cvec, i)) * " +
      s"(list_extract($sv, i) - list_extract($cvec, i)))) * 1e6 + 0.5) / 1e6"

  private def pqAssignCte(name: String, cb: String): String =
    s"""$name AS (SELECT vec_id, m, code FROM (
       |    SELECT s.vec_id, s.m, c.cent_id AS code,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY ${pqD2("s.sv", "c.cvec")} ASC, c.cent_id ASC) AS arn
       |    FROM sub s JOIN $cb c ON s.m = c.m)
       |  WHERE arn = 1)""".stripMargin

  private def pqMeanCte(name: String, asg: String): String =
    s"""$name AS (SELECT m, cent_id, list(val ORDER BY pos) AS cvec FROM (
       |    SELECT s.m AS m, a.code AS cent_id, p.pos AS pos,
       |      CAST(sum(CAST(floor(list_extract(s.sv, p.pos) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / (count(*) * 1e6) AS val
       |    FROM sub s JOIN $asg a ON s.vec_id = a.vec_id AND s.m = a.m
       |    CROSS JOIN (SELECT unnest(range(1, 9)) AS pos) p
       |    GROUP BY s.m, a.code, p.pos) GROUP BY m, cent_id)""".stripMargin

  /** Codes-only prefix: subvector view, codebook training (`iters`
    * Lloyd steps), final codes and reconstructed norms — the stored-
    * index replay shared by the ADC queries and the SDC kNN join. All
    * sums that Spark folds left-to-right over subspace order are
    * `list_sum(list(x ORDER BY m))` here, so the doubles agree
    * bitwise. */
  private def pqCodesPrefix(iters: Int): String = {
    val training = (0 until iters).map { t =>
      s"${pqAssignCte(s"pa$t", s"pc$t")},\n${pqMeanCte(s"pc${t + 1}", s"pa$t")}"
    }.mkString(",\n")
    val cbFinal = s"pc$iters"
    s"""WITH n AS (SELECT vec_id, embedding,
       |             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
       |           FROM embeddings),
       |sub AS (SELECT vec_id, ms.m AS m,
       |          list_transform(list_slice(embedding, ms.m * 8 + 1, ms.m * 8 + 8), x -> CAST(x AS DOUBLE)) AS sv
       |        FROM n CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms),
       |pc0 AS (SELECT m, vec_id AS cent_id, sv AS cvec FROM sub WHERE vec_id < 16),
       |$training,
       |${pqAssignCte("codes", cbFinal)},
       |c2 AS (SELECT m, cent_id, list_sum(list_transform(cvec, x -> x * x)) AS c2 FROM $cbFinal),
       |vhat AS (SELECT a.vec_id, sqrt(list_sum(list(c.c2 ORDER BY a.m))) AS nrm_hat
       |         FROM codes a JOIN c2 c ON a.m = c.m AND a.code = c.cent_id
       |         GROUP BY a.vec_id)""".stripMargin
  }

  /** ADC prefix: [[pqCodesPrefix]] plus per-query lookup tables and the
    * full-corpus scored candidate set (queries = vec_id < 20). */
  private def pqAdcPrefix(iters: Int): String = {
    val cbFinal = s"pc$iters"
    s"""${pqCodesPrefix(iters)},
       |lut AS (SELECT s.vec_id AS query_id, s.m, c.cent_id,
       |          list_sum(list_transform(range(1, 9), i -> list_extract(s.sv, i) * list_extract(c.cvec, i))) AS pdot
       |        FROM sub s JOIN $cbFinal c ON s.m = c.m WHERE s.vec_id < 20),
       |adc AS (SELECT l.query_id, a.vec_id AS neighbor_id,
       |          list_sum(list(l.pdot ORDER BY a.m)) AS adot
       |        FROM codes a JOIN lut l ON a.m = l.m AND a.code = l.cent_id
       |        WHERE l.query_id != a.vec_id
       |        GROUP BY l.query_id, a.vec_id),
       |scored AS (SELECT adc.query_id, adc.neighbor_id,
       |            floor((adc.adot / (q.nrm * v.nrm_hat)) * 1e4 + 0.5) / 1e4 AS approx_cos
       |           FROM adc
       |             JOIN n q ON q.vec_id = adc.query_id
       |             JOIN vhat v ON v.vec_id = adc.neighbor_id)""".stripMargin
  }

  /** Pure-ADC PQ top-k oracle. */
  private def pqAdcOracle(iters: Int, k: Int): String =
    s"""${pqAdcPrefix(iters)}
       |SELECT query_id, neighbor_id, approx_cos, rank FROM (
       |  SELECT query_id, neighbor_id, approx_cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |                            ORDER BY approx_cos DESC, neighbor_id ASC) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Shared shortlist + exact-rerank oracle tail, parameterized by the
    * approx-scored CTE it shortlists from — ONE definition so the PQ
    * and IVFPQ rerank oracles can never diverge on the rerank SQL,
    * mirroring the Scala side's shared `exactRerank`. */
  private def rerankOracleTail(scoredCte: String, shortlist: Int, k: Int): String =
    s""",
       |short AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY approx_cos DESC, neighbor_id ASC) AS srn
       |    FROM $scoredCte)
       |  WHERE srn <= $shortlist),
       |rer AS (SELECT s.query_id, s.neighbor_id,
       |          floor((list_sum(list_transform(range(1, 65), i -> CAST(list_extract(q.embedding, i) AS DOUBLE) * CAST(list_extract(v.embedding, i) AS DOUBLE))) / (q.nrm * v.nrm)) * 1e4 + 0.5) / 1e4 AS cosine
       |        FROM short s
       |          JOIN n q ON q.vec_id = s.query_id
       |          JOIN n v ON v.vec_id = s.neighbor_id)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
       |  FROM rer)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** PQ-shortlist + exact-rerank oracle. */
  private def pqRerankOracle(iters: Int, shortlist: Int, k: Int): String =
    pqAdcPrefix(iters) + rerankOracleTail("scored", shortlist, k)

  /** IVF+PQ (IVFADC) shared prefix: the full-corpus ADC scores from
    * [[pqAdcPrefix]] restricted to the coarse quantizer's probed cells
    * (`ivfscored`) — coarse training/assignment/probing replayed with
    * the same CTEs as ann_topk_ivf, renamed to the ivc/iva families
    * because the pq prefix already owns c2. */
  private def ivfPqPrefix(iters: Int): String = {
    val training = (0 until iters).map { t =>
      s"${ivfAssignCte(s"iva$t", s"ivc$t")},\n${ivfMeanCte(s"ivc${t + 1}", s"iva$t")}"
    }.mkString(",\n")
    val cFinal = s"ivc$iters"
    s"""${pqAdcPrefix(iters)},
       |ivc0 AS (SELECT vec_id AS cent_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec, nrm FROM n WHERE vec_id < 16),
       |$training,
       |${ivfAssignCte("assigned", cFinal)},
       |probes AS (SELECT query_id, cluster FROM (
       |    SELECT q.vec_id AS query_id, c.cent_id AS cluster,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY ${ivfCsim("q.embedding", "q.nrm")} DESC, c.cent_id ASC) AS prn
       |    FROM n q, $cFinal c WHERE q.vec_id < 20)
       |  WHERE prn <= 8),
       |ivfscored AS (SELECT s.query_id, s.neighbor_id, s.approx_cos
       |  FROM scored s
       |    JOIN assigned a ON a.vec_id = s.neighbor_id
       |    JOIN probes p ON p.query_id = s.query_id AND p.cluster = a.cluster)""".stripMargin
  }

  /** Pure IVFADC top-k oracle. */
  private def ivfPqOracle(iters: Int, k: Int): String =
    s"""${ivfPqPrefix(iters)}
       |SELECT query_id, neighbor_id, approx_cos, rank FROM (
       |  SELECT query_id, neighbor_id, approx_cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |                            ORDER BY approx_cos DESC, neighbor_id ASC) AS INT) AS rank
       |  FROM ivfscored)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** IVFADC-shortlist + exact-rerank oracle. */
  private def ivfPqRerankOracle(iters: Int, shortlist: Int, k: Int): String =
    ivfPqPrefix(iters) + rerankOracleTail("ivfscored", shortlist, k)

  /** Cluster-balanced-sample oracle: replay IVF training + assignment,
    * then k-per-cell by the seeded md5 key (ties by vec_id). */
  private def clusterSampleOracle(iters: Int, k: Int): String = {
    val training = (0 until iters).map { t =>
      s"${ivfAssignCte(s"a$t", s"c$t")},\n${ivfMeanCte(s"c${t + 1}", s"a$t")}"
    }.mkString(",\n")
    s"""WITH n AS (SELECT vec_id, embedding,
       |             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
       |           FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec, nrm FROM n WHERE vec_id < 16),
       |$training,
       |${ivfAssignCte("assigned", s"c$iters")}
       |SELECT cluster, vec_id, sample_key, CAST(rk AS INT) AS rk
       |FROM (SELECT cluster, vec_id,
       |        md5('cbs0|' || CAST(vec_id AS VARCHAR)) AS sample_key,
       |        row_number() OVER (PARTITION BY cluster
       |          ORDER BY md5('cbs0|' || CAST(vec_id AS VARCHAR)), vec_id) AS rk
       |      FROM assigned)
       |WHERE rk <= $k ORDER BY cluster, rk""".stripMargin
  }

  /** Incremental-assignment oracle: replay Lloyd training on the PRIOR
    * snapshot (even vec_ids, seeded from its 16 lowest ids), then rank
    * every DELTA vector (odd ids) against the trained centroids with
    * the same rounded-cosine rule. */
  private def ivfIncrementalOracle(iters: Int): String = {
    val training = (0 until iters).map { t =>
      s"${ivfAssignCte(s"a$t", s"c$t")},\n${ivfMeanCte(s"c${t + 1}", s"a$t")}"
    }.mkString(",\n")
    val cFinal = s"c$iters"
    s"""WITH n AS (SELECT vec_id, embedding,
       |             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
       |           FROM embeddings WHERE vec_id % 2 = 0),
       |d AS (SELECT vec_id, embedding,
       |        sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
       |      FROM embeddings WHERE vec_id % 2 = 1),
       |c0 AS (SELECT vec_id AS cent_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec, nrm
       |       FROM n ORDER BY vec_id LIMIT 16),
       |$training,
       |asg AS (SELECT vec_id, cluster, csim FROM (
       |    SELECT v.vec_id, c.cent_id AS cluster,
       |      ${ivfCsim("v.embedding", "v.nrm")} AS csim,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${ivfCsim("v.embedding", "v.nrm")} DESC, c.cent_id ASC) AS arn
       |    FROM d v, $cFinal c)
       |  WHERE arn = 1)
       |SELECT vec_id, cluster, csim AS assign_sim FROM asg ORDER BY vec_id""".stripMargin
  }

  /** Drift-trigger oracle: replay Lloyd training TWICE — the live
    * prior quantizer (c0..cN over the even half) and the profile twin
    * (t0..tN over the vec_id%4==0 half) — then the held-out reference
    * profile (%4==2 half vs the twin), the arrival profile (odd half
    * vs the live quantizer), each as the qsum-quantized mean of
    * (1 − rounded assignment cosine), and the relative-excess verdict. */
  private def annDriftOracle(iters: Int, maxRelDrift: Double): String = {
    // assignment CTE with a parameterized vector source (ivfAssignCte
    // hardcodes n; the twin trains over n0) — ivfMeanCte is reusable
    // as-is: its join on the assignment's vec_ids restricts the mean
    // to the training subset
    def assignSrc(name: String, cent: String, src: String) =
      s"""$name AS (SELECT vec_id, cluster FROM (
         |    SELECT v.vec_id, c.cent_id AS cluster,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY ${ivfCsim("v.embedding", "v.nrm")} DESC, c.cent_id ASC) AS arn
         |    FROM $src v, $cent c)
         |  WHERE arn = 1)""".stripMargin
    val training = (0 until iters).map { t =>
      s"${ivfAssignCte(s"a$t", s"c$t")},\n${ivfMeanCte(s"c${t + 1}", s"a$t")}"
    }.mkString(",\n")
    val twinTraining = (0 until iters).map { t =>
      s"${assignSrc(s"ta$t", s"t$t", "n0")},\n${ivfMeanCte(s"t${t + 1}", s"ta$t")}"
    }.mkString(",\n")
    val cFinal = s"c$iters"
    val tFinal = s"t$iters"
    def profile(name: String, src: String, cent: String, nCol: String,
        eCol: String) =
      s"""${name}0 AS (SELECT vec_id, csim FROM (
         |    SELECT v.vec_id,
         |      ${ivfCsim("v.embedding", "v.nrm")} AS csim,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${ivfCsim("v.embedding", "v.nrm")} DESC, c.cent_id ASC) AS arn
         |    FROM $src v, $cent c)
         |  WHERE arn = 1),
         |$name AS (SELECT count(*) AS $nCol,
         |  floor(((CAST(sum(CAST(floor((1.0 - csim) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6)
         |         / count(*)) * 1e6 + 0.5) / 1e6 AS $eCol
         |  FROM ${name}0)""".stripMargin
    s"""WITH n AS (SELECT vec_id, embedding,
       |             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
       |           FROM embeddings WHERE vec_id % 2 = 0),
       |d AS (SELECT vec_id, embedding,
       |        sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
       |      FROM embeddings WHERE vec_id % 2 = 1),
       |n0 AS (SELECT * FROM n WHERE vec_id % 4 = 0),
       |n2 AS (SELECT * FROM n WHERE vec_id % 4 = 2),
       |c0 AS (SELECT vec_id AS cent_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec, nrm
       |       FROM n ORDER BY vec_id LIMIT 16),
       |t0 AS (SELECT vec_id AS cent_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec, nrm
       |       FROM n0 ORDER BY vec_id LIMIT 16),
       |$training,
       |$twinTraining,
       |${profile("rp", "n2", tFinal, "n_ref", "ref_err")},
       |${profile("ap", "d", cFinal, "n_arrival", "arrival_err")}
       |SELECT n_ref, n_arrival, ref_err, arrival_err,
       |  floor(((arrival_err - ref_err) / ref_err) * 1e4 + 0.5) / 1e4 AS rel_drift,
       |  floor(((arrival_err - ref_err) / ref_err) * 1e4 + 0.5) / 1e4 > $maxRelDrift AS retrain
       |FROM rp, ap""".stripMargin
  }

  /** Recall-curve oracle: replay training + assignment, rank candidate
    * pairs at every probe depth 1..16, intersect with the SQL brute
    * top-10, and average per depth (200 = 20 queries × k 10). */
  private def recallCurveOracle(iters: Int): String = {
    val training = (0 until iters).map { t =>
      s"${ivfAssignCte(s"a$t", s"c$t")},\n${ivfMeanCte(s"c${t + 1}", s"a$t")}"
    }.mkString(",\n")
    val cFinal = s"c$iters"
    val cos4 = "floor((list_sum(list_transform(range(1, 65), " +
      "i -> CAST(list_extract(q.embedding, i) AS DOUBLE) * " +
      "CAST(list_extract(v.embedding, i) AS DOUBLE))) / (q.nrm * v.nrm)) " +
      "* 1e4 + 0.5) / 1e4"
    s"""WITH n AS (SELECT vec_id, embedding,
       |             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
       |           FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec, nrm FROM n WHERE vec_id < 16),
       |$training,
       |${ivfAssignCte("assigned", cFinal)},
       |qc AS (SELECT query_id, cluster, prn FROM (
       |    SELECT q.vec_id AS query_id, c.cent_id AS cluster,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY ${ivfCsim("q.embedding", "q.nrm")} DESC, c.cent_id ASC) AS prn
       |    FROM n q, $cFinal c WHERE q.vec_id < 20)),
       |cand AS (SELECT qc.query_id, a.vec_id AS neighbor_id, qc.prn, $cos4 AS cosine
       |         FROM qc JOIN assigned a ON a.cluster = qc.cluster
       |           JOIN n q ON q.vec_id = qc.query_id
       |           JOIN n v ON v.vec_id = a.vec_id
       |         WHERE a.vec_id != qc.query_id),
       |pd AS (SELECT query_id, neighbor_id, np.nprobe,
       |         row_number() OVER (PARTITION BY query_id, np.nprobe
       |           ORDER BY cosine DESC, neighbor_id ASC) AS rnk
       |       FROM cand CROSS JOIN (SELECT unnest(range(1, 17)) AS nprobe) np
       |       WHERE cand.prn <= np.nprobe),
       |brute AS (SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY $cos4 DESC, v.vec_id ASC) AS rnk
       |    FROM n q JOIN n v ON v.vec_id != q.vec_id WHERE q.vec_id < 20)
       |  WHERE rnk <= 10),
       |hits AS (SELECT nprobe, count(*) AS h
       |         FROM (SELECT query_id, neighbor_id, nprobe FROM pd WHERE rnk <= 10)
       |         JOIN brute USING (query_id, neighbor_id) GROUP BY nprobe)
       |SELECT CAST(np.nprobe AS INT) AS nprobe,
       |  floor((CAST(coalesce(h, 0) AS DOUBLE) / 200) * 1e4 + 0.5) / 1e4 AS recall
       |FROM (SELECT unnest(range(1, 17)) AS nprobe) np
       |  LEFT JOIN hits ON hits.nprobe = np.nprobe
       |ORDER BY nprobe""".stripMargin
  }

  /** Index-health oracle: replay training, then the C×C nearest-other
    * ranking on the trained centroids (cvec is already double). */
  private def indexHealthOracle(iters: Int): String = {
    val training = (0 until iters).map { t =>
      s"${ivfAssignCte(s"a$t", s"c$t")},\n${ivfMeanCte(s"c${t + 1}", s"a$t")}"
    }.mkString(",\n")
    val cFinal = s"c$iters"
    val cos = "floor((list_sum(list_transform(range(1, 65), " +
      "i -> list_extract(a.cvec, i) * list_extract(b.cvec, i))) / (a.nrm * b.nrm)) " +
      "* 1e6 + 0.5) / 1e6"
    s"""WITH n AS (SELECT vec_id, embedding,
       |             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
       |           FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec, nrm FROM n WHERE vec_id < 16),
       |$training
       |SELECT cent_id, other_id AS nearest_id, cosine FROM (
       |  SELECT a.cent_id, b.cent_id AS other_id, $cos AS cosine,
       |    row_number() OVER (PARTITION BY a.cent_id
       |      ORDER BY $cos DESC, b.cent_id ASC) AS rn
       |  FROM $cFinal a JOIN $cFinal b ON a.cent_id != b.cent_id)
       |WHERE rn = 1 ORDER BY cent_id""".stripMargin
  }

  private def ivfTrainedOracle(iters: Int): String = {
    val training = (0 until iters).map { t =>
      s"${ivfAssignCte(s"a$t", s"c$t")},\n${ivfMeanCte(s"c${t + 1}", s"a$t")}"
    }.mkString(",\n")
    val cFinal = s"c$iters"
    s"""WITH n AS (SELECT vec_id, embedding,
       |             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
       |           FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec, nrm FROM n WHERE vec_id < 16),
       |$training,
       |${ivfAssignCte("assigned", cFinal)},
       |probes AS (SELECT query_id, cluster FROM (
       |    SELECT q.vec_id AS query_id, c.cent_id AS cluster,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY ${ivfCsim("q.embedding", "q.nrm")} DESC, c.cent_id ASC) AS prn
       |    FROM n q, $cFinal c WHERE q.vec_id < 20)
       |  WHERE prn <= 8),
       |pairs AS (
       |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
       |    floor((list_sum(list_transform(range(1, 65), i -> CAST(list_extract(q.embedding, i) AS DOUBLE) * CAST(list_extract(v.embedding, i) AS DOUBLE))) / (q.nrm * v.nrm)) * 1e4 + 0.5) / 1e4 AS cosine
       |  FROM probes p
       |    JOIN assigned a ON a.cluster = p.cluster
       |    JOIN n q ON q.vec_id = p.query_id
       |    JOIN n v ON v.vec_id = a.vec_id
       |  WHERE p.query_id != a.vec_id)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
       |  FROM pairs)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Similarity.knnJoin]]: the same
    * trained quantizer + assignment CTEs as [[ivfTrainedOracle]], then
    * every vector's nprobe nearest cells and the probe-cell join ranked
    * per vector on the 4-dp cosine. C = max(16, ceil(√N)) mirrors the
    * Spark side's FAISS-guideline sizing via a scalar subquery. */
  private def knnJoinOracle(iters: Int, k: Int, nprobe: Int = 6): String = {
    val training = (0 until iters).map { t =>
      s"${ivfAssignCte(s"a$t", s"c$t")},\n${ivfMeanCte(s"c${t + 1}", s"a$t")}"
    }.mkString(",\n")
    s"""WITH n AS (SELECT vec_id, embedding,
       |             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
       |           FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec, nrm FROM n
       |       WHERE vec_id < greatest(16, CAST(ceil(sqrt((SELECT count(*) FROM embeddings))) AS BIGINT))),
       |$training,
       |${ivfAssignCte("assigned", s"c$iters")},
       |probes AS (SELECT vec_id, cluster FROM (
       |    SELECT v.vec_id, c.cent_id AS cluster,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY ${ivfCsim("v.embedding", "v.nrm")} DESC, c.cent_id ASC) AS prn
       |    FROM n v, c$iters c)
       |  WHERE prn <= $nprobe),
       |pairs AS (
       |  SELECT p.vec_id AS vec_id, a.vec_id AS neighbor_id,
       |    floor((list_sum(list_transform(range(1, 65), i -> CAST(list_extract(va.embedding, i) AS DOUBLE) * CAST(list_extract(vb.embedding, i) AS DOUBLE))) / (va.nrm * vb.nrm)) * 1e4 + 0.5) / 1e4 AS cosine
       |  FROM probes p
       |    JOIN assigned a ON a.cluster = p.cluster AND a.vec_id != p.vec_id
       |    JOIN n va ON va.vec_id = p.vec_id
       |    JOIN n vb ON vb.vec_id = a.vec_id)
       |SELECT vec_id, neighbor_id, cosine, rank FROM (
       |  SELECT vec_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
       |  FROM pairs)
       |WHERE rank <= $k ORDER BY vec_id, rank""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Similarity.knnJoinPq]]: the PQ
    * codes prefix (training + encoding + reconstructed norms, shared
    * with the ADC oracles), the coarse quantizer at C = max(16, ⌈√N⌉)
    * (ivc/iva names — the pq prefix owns c2), every vector's nprobe
    * probes, the SDC sub-centroid dot table, symmetric code scoring
    * over probed cells, the per-vector shortlist cut, and the exact
    * rerank — every stage bit-replayed. */
  private def knnJoinPqOracle(iters: Int, k: Int, nprobe: Int,
      shortlist: Int): String = {
    val training = (0 until iters).map { t =>
      s"${ivfAssignCte(s"iva$t", s"ivc$t")},\n${ivfMeanCte(s"ivc${t + 1}", s"iva$t")}"
    }.mkString(",\n")
    val cFinal = s"ivc$iters"
    s"""${pqCodesPrefix(iters)},
       |ivc0 AS (SELECT vec_id AS cent_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec, nrm FROM n
       |       WHERE vec_id < greatest(16, CAST(ceil(sqrt((SELECT count(*) FROM embeddings))) AS BIGINT))),
       |$training,
       |${ivfAssignCte("assigned", cFinal)},
       |probes AS (SELECT vec_id, cluster FROM (
       |    SELECT v.vec_id, c.cent_id AS cluster,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY ${ivfCsim("v.embedding", "v.nrm")} DESC, c.cent_id ASC) AS prn
       |    FROM n v, $cFinal c)
       |  WHERE prn <= $nprobe),
       |sdot AS (SELECT a.m, a.cent_id AS cu, b.cent_id AS cv,
       |           list_sum(list_transform(range(1, 9), i -> list_extract(a.cvec, i) * list_extract(b.cvec, i))) AS d
       |         FROM pc$iters a JOIN pc$iters b ON a.m = b.m),
       |candp AS (SELECT p.vec_id, a.vec_id AS neighbor_id
       |          FROM probes p
       |          JOIN assigned a ON a.cluster = p.cluster AND a.vec_id != p.vec_id),
       |sdc AS (SELECT cp.vec_id, cp.neighbor_id,
       |          floor((list_sum(list(s.d ORDER BY ca.m)) / (any_value(va.nrm_hat) * any_value(vb.nrm_hat))) * 1e4 + 0.5) / 1e4 AS approx_cos
       |        FROM candp cp
       |          JOIN codes ca ON ca.vec_id = cp.vec_id
       |          JOIN codes cb ON cb.vec_id = cp.neighbor_id AND cb.m = ca.m
       |          JOIN sdot s ON s.m = ca.m AND s.cu = ca.code AND s.cv = cb.code
       |          JOIN vhat va ON va.vec_id = cp.vec_id
       |          JOIN vhat vb ON vb.vec_id = cp.neighbor_id
       |        GROUP BY cp.vec_id, cp.neighbor_id),
       |short AS (SELECT vec_id, neighbor_id FROM (
       |    SELECT vec_id, neighbor_id,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY approx_cos DESC, neighbor_id ASC) AS srn
       |    FROM sdc)
       |  WHERE srn <= $shortlist),
       |rer AS (SELECT s.vec_id, s.neighbor_id,
       |          floor((list_sum(list_transform(range(1, 65), i -> CAST(list_extract(q.embedding, i) AS DOUBLE) * CAST(list_extract(v.embedding, i) AS DOUBLE))) / (q.nrm * v.nrm)) * 1e4 + 0.5) / 1e4 AS cosine
       |        FROM short s
       |          JOIN n q ON q.vec_id = s.vec_id
       |          JOIN n v ON v.vec_id = s.neighbor_id)
       |SELECT vec_id, neighbor_id, cosine, rank FROM (
       |  SELECT vec_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
       |  FROM rer)
       |WHERE rank <= $k ORDER BY vec_id, rank""".stripMargin
  }

  /** Exact 3-gram Jaccard pairs (threshold 0.8) — shared by the exact
    * query and the LSH query (which verifies candidates exactly). */
  /** SimHash pair oracle — md5-derived signature bits replayed
    * vote-for-vote, candidates blocked by the same 16-bit chunks
    * (pigeonhole-lossless), canonical groups expanded. Shared by
    * dedup_simhash and dedup_simhash_index_refresh (the refreshed
    * index must serve the pair query identically to from-scratch). */
  private val simhashOracle: String =
    """WITH fp AS (SELECT doc_id,
        |              md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
        |            FROM documents),
        |mem AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY f) AS canon_id FROM fp),
        |canon AS (SELECT doc_id FROM mem WHERE doc_id = canon_id),
        |w AS (SELECT doc_id,
        |        unnest(list_filter(string_split_regex(text, '[ \n]'), t -> t != '')) AS tok
        |      FROM documents),
        |tokc AS (SELECT w.doc_id, w.tok, count(*) AS cnt
        |         FROM w JOIN canon c ON c.doc_id = w.doc_id GROUP BY 1, 2),
        |hx AS (SELECT doc_id, cnt,
        |         CAST(list_sum(list_transform(range(1, 9),
        |           i -> (strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1)
        |                * pow(16, 8 - i))) AS BIGINT) AS hi,
        |         CAST(list_sum(list_transform(range(9, 17),
        |           i -> (strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1)
        |                * pow(16, 16 - i))) AS BIGINT) AS lo
        |       FROM tokc),
        |votes AS (SELECT doc_id, b.i,
        |            sum(cnt * (2 * (CASE WHEN b.i < 32 THEN (lo >> b.i) & 1
        |                            ELSE (hi >> (b.i - 32)) & 1 END) - 1)) AS v
        |          FROM hx CROSS JOIN (SELECT unnest(range(0, 64)) AS i) b
        |          GROUP BY doc_id, b.i),
        |bits AS (SELECT doc_id, i, CASE WHEN v > 0 THEN 1 ELSE 0 END AS bit FROM votes),
        |chunks AS (SELECT doc_id, i // 16 AS blk,
        |             CAST(sum(CAST(bit AS BIGINT) << CAST(i % 16 AS INT)) AS BIGINT) AS cv
        |           FROM bits GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM chunks a JOIN chunks b
        |           ON a.blk = b.blk AND a.cv = b.cv AND a.doc_id < b.doc_id),
        |hd AS (SELECT p.doc_a, p.doc_b,
        |         CAST(sum(CASE WHEN ba.bit != bb.bit THEN 1 ELSE 0 END) AS BIGINT) AS hamming
        |       FROM cand p
        |         JOIN bits ba ON ba.doc_id = p.doc_a
        |         JOIN bits bb ON bb.doc_id = p.doc_b AND bb.i = ba.i
        |       GROUP BY 1, 2
        |       HAVING sum(CASE WHEN ba.bit != bb.bit THEN 1 ELSE 0 END) <= 3),
        |cross_p AS (SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
        |              greatest(ma.doc_id, mb.doc_id) AS doc_b, h.hamming
        |            FROM hd h
        |              JOIN mem ma ON ma.canon_id = h.doc_a
        |              JOIN mem mb ON mb.canon_id = h.doc_b),
        |intra AS (SELECT ma.doc_id AS doc_a, mb.doc_id AS doc_b, CAST(0 AS BIGINT) AS hamming
        |          FROM mem ma JOIN mem mb
        |            ON ma.canon_id = mb.canon_id AND ma.doc_id < mb.doc_id
        |          WHERE ma.canon_id IN (SELECT DISTINCT doc_id FROM bits))
        |SELECT doc_a, doc_b, hamming FROM cross_p
        |UNION ALL SELECT doc_a, doc_b, hamming FROM intra
        |ORDER BY doc_a, doc_b""".stripMargin

  private val ngramJaccardOracle: String =
    """WITH w AS (SELECT doc_id,
      |             list_filter(string_split_regex(text, '[ \n]'), t -> t != '') AS words
      |           FROM documents),
      |sh AS (SELECT DISTINCT doc_id, shingle
      |       FROM (SELECT doc_id,
      |               unnest([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
      |                       for i in range(1, greatest(len(words) - 1, 1))]) AS shingle
      |             FROM w)),
      |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  floor((count(*) * 1.0 / (sa.sz + sb.sz - count(*))) * 1e4 + 0.5) / 1e4 AS jaccard
      |FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  JOIN sz sa ON sa.doc_id = a.doc_id
      |  JOIN sz sb ON sb.doc_id = b.doc_id
      |GROUP BY a.doc_id, b.doc_id, sa.sz, sb.sz
      |HAVING floor((count(*) * 1.0 / (sa.sz + sb.sz - count(*))) * 1e4 + 0.5) / 1e4 >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin
}
