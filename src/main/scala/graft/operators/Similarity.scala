package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Deterministic.rd
import graft.functions.VectorOps._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (dim 64, `array<float>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact baseline. Query set × corpus cross join
  *    with the query side broadcast — at 100 TB the corpus side streams
  *    through executors exactly once, no shuffle of the corpus at all;
  *    per-partition top-k heaps (TakeOrderedAndProject after the window
  *    filter) keep driver traffic at k rows per query.
  *  - [[lshTopK]]: the scale path — sign-random-projection (SimHash for
  *    vectors) bucketing. Each vector computes a 16-bit signature from
  *    fixed random hyperplanes; candidates are pairs sharing any of four
  *    4-bit bands; ranking happens only within candidates. Cost drops
  *    from O(|Q|·N) to O(collisions); recall is tested against the
  *    brute-force baseline.
  */
object Similarity {

  /** Fixed random hyperplanes: 64 planes × 64 dims → a 64-bit
    * signature banded as 16 bands × 4 bits. Sized for this corpus's
    * worst case: it is near-uniform (top-10 neighbors sit at cosine
    * ≈0.35–0.5, i.e. ~65–70°, where the per-plane agreement probability
    * is only ~0.61–0.65), so recall ≥0.8 needs 1−(1−p⁴)¹⁶ — sixteen
    * 4-bit bands. The price is a high candidate rate (~60% of the
    * corpus per query here); on clustered real embeddings the same
    * banding yields both high recall and low candidate rate. When the
    * corpus has no similarity structure, IVF (ivfTopK) is the better
    * cost/recall dial — both are registered.
    *
    * Plane entries are DERIVED, not drawn: entry (i,j) is the seeded-md5
    * uniform (first 8 hex digits of md5("srp8|i|j") as an integer,
    * divided by 2³²) shifted to [-0.5, 0.5) — every value is an exact
    * multiple of 2⁻³², so any engine with md5 reproduces the planes
    * bit-for-bit and the DuckDB oracle can replay the whole signature.
    * Symmetric iid uniform entries at dim 64 give sign-agreement
    * probability ≈ 1−θ/π by the CLT (the pair of projections is
    * near-bivariate-normal), so the Gaussian recall analysis above
    * carries over; recall vs brute force is asserted in SimilaritySpec
    * either way. */
  private val NumPlanes = 64
  private val NumBands = 16
  private val BandBits = NumPlanes / NumBands // 4
  private val Dim = 64
  private[graft] def planeEntry(i: Int, j: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"srp8|$i|$j".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
    java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0 - 0.5
  }
  private lazy val planes: Seq[Seq[Double]] =
    (0 until NumPlanes).map(i => (0 until Dim).map(j => planeEntry(i, j)))

  /** Exact top-k cosine neighbors for each query vector (vec_id <
    * numQueries), excluding self. Deterministic: ranked by rounded
    * cosine, ties by neighbor id. */
  def bruteForceTopK(spark: SparkSession, sfDir: String,
      k: Int = 10, numQueries: Int = 20): DataFrame = {
    val emb = normalizedEmbeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("e").as("e_q"), col("nrm").as("n_q"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("e").as("e_c"), col("nrm").as("n_c"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("neighbor_id"))
    broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        rd(cosine(col("e_q"), col("n_q"), col("e_c"), col("n_c")), 4).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** 64-bit sign-random-projection signature per embedding. Each bit is
    * the sign of a QUANTIZED integer dot product — every e_j·v_ij term
    * is floored to 1e-9 units and summed as BIGINT — because a plain
    * double sum is summation-order-dependent: two engines (or two
    * partitionings) disagreeing in the last ulp near zero would flip a
    * bit and change the candidate set. The integer sum is exact and
    * order-independent, so the signature is a pure cross-engine function
    * of the bytes. */
  def signatures(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = normalizedEmbeddings(spark, sfDir)
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val planeCol = array(p.map(lit): _*)
      val qdot = aggregate(
        zip_with(col("e"), planeCol,
          (x, v) => floor(x.cast("double") * v * lit(1e9) + lit(0.5))),
        lit(0L), (acc, t) => acc + t)
      when(qdot > 0, lit(1L << i)).otherwise(lit(0L))
    }
    emb.withColumn("sig", bits.reduce((a, b) => a.bitwiseOR(b)))
  }

  /** The SRP signature INDEX: (vec_id, sig) materialized once per corpus
    * snapshot and read back by every query (write-then-reuse, same
    * surface as the dedup pair table). At scale the index is ids +
    * 8-byte signatures — a tiny fraction of the corpus — and queries
    * join it back to the vectors they actually rank, instead of
    * recomputing 64 hyperplane dot products per vector per query. */
  def signatureIndex(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.ArtifactCache.readOrWrite(spark, "srp-sig",
      s"$sfDir|$NumPlanes|md5planes-q9", s"$sfDir/embeddings.parquet")(
      signatures(spark, sfDir).select("vec_id", "sig"))

  /** Nearest-centroid assignment: (vec_id, e, nrm, cluster) for every
    * vector, ranked by rounded cosine (ties to the lower cent_id) — the
    * one deterministic assignment rule shared by training, indexing and
    * probing, so the DuckDB oracle can replay all three identically. */
  private def assignToCentroids(vecs: DataFrame, cent: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(desc("csim"), asc("cent_id"))
    vecs.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("e"), col("nrm"), col("cent_id"),
        rd(cosine(col("e"), col("nrm"), col("e_cent"), col("n_cent")), 6).as("csim"))
      .withColumn("arn", row_number().over(w))
      .filter(col("arn") === 1)
      .select(col("vec_id"), col("e"), col("nrm"), col("cent_id").as("cluster"))
  }

  /** Deterministic k-means training for the IVF coarse quantizer:
    * centroids initialize as the first `numCentroids` vectors and take
    * `iters` Lloyd steps (assign to nearest centroid by rounded cosine,
    * recompute each centroid as the element-wise mean of its members).
    *
    * Every arithmetic step is cross-engine exact so a DuckDB oracle can
    * replay the whole training loop: assignment ranks on rd(cosine, 6);
    * the mean is the qavg quantized form (per-row floor to 1e-6 units,
    * exact BIGINT sum — order- and partition-count-independent); the new
    * norm is the LTR double sum of squares. A cluster that loses all
    * members simply drops out (both engines emit no group).
    *
    * Cost at scale: per iteration one broadcast-C map pass over N vectors
    * plus a (C×dim)-key aggregation — linear, no shuffle of the vectors
    * themselves beyond the 64-rows-per-vector dim explode. The trained
    * centroids are `localCheckpoint`ed: C rows, reused by both the index
    * and probe sides without replaying the training lineage. */
  def trainedCentroids(spark: SparkSession, sfDir: String,
      numCentroids: Int = 16, iters: Int = 2): DataFrame =
    lloydTrain(normalizedEmbeddings(spark, sfDir), iters,
      _.filter(col("vec_id") < numCentroids))

  /** Test seam for the hand-computed golden (the oracle REPLAYS this
    * loop, so a shared algorithmic bug would pass the replay — the
    * golden pins the semantics independently): the standard
    * first-C-vectors seed over an arbitrary (vec_id, e, nrm) frame. */
  private[graft] def lloydTrainOf(emb: DataFrame, numCentroids: Int,
      iters: Int): DataFrame =
    lloydTrain(emb, iters, _.filter(col("vec_id") < numCentroids))

  /** Prior-snapshot seeding rule (lowest `numCentroids` ids of the
    * frame) over an arbitrary frame — the [[incrementalAssign]] /
    * drift-trigger trainer exposed for the specs. */
  private[graft] def lloydTrainPrior(emb: DataFrame, numCentroids: Int,
      iters: Int): DataFrame =
    lloydTrain(emb, iters, _.orderBy("vec_id").limit(numCentroids))

  /** The Lloyd loop itself, parameterized by the centroid seeding rule
    * (full-corpus training seeds `vec_id < C`; incremental training
    * seeds the C lowest ids of its snapshot — identical when ids are
    * dense from 0). */
  private def lloydTrain(emb: DataFrame, iters: Int,
      seed: DataFrame => DataFrame): DataFrame = {
    var cent = seed(emb)
      .select(col("vec_id").as("cent_id"), col("e").as("e_cent"), col("nrm").as("n_cent"))
    for (_ <- 1 to iters) {
      val assigned = assignToCentroids(emb, cent)
      val dimMeans = assigned
        .select(col("cluster"), posexplode(col("e")))
        .groupBy(col("cluster"), col("pos"))
        .agg(graft.functions.Deterministic.qavg(col("col").cast("double"), 6).as("val"))
      cent = dimMeans
        .groupBy(col("cluster").as("cent_id"))
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("val")))),
          s => s.getField("val")).as("e_cent"))
        .withColumn("n_cent", l2Norm(col("e_cent")))
    }
    cent.localCheckpoint()
  }

  /** The trained IVF coarse quantizer as a stored artifact: (cent_id,
    * e_cent, n_cent), trained once per corpus snapshot and read back by
    * indexing and probing alike. C rows — broadcast-sized by design. */
  def centroidIndex(spark: SparkSession, sfDir: String,
      numCentroids: Int = 16, iters: Int = 2): DataFrame =
    graft.sources.ArtifactCache.readOrWrite(spark, "ivf-centroids",
      s"$sfDir|$numCentroids|$iters", s"$sfDir/embeddings.parquet")(
      trainedCentroids(spark, sfDir, numCentroids, iters))

  /** The IVF assignment INDEX: (vec_id, cluster) against the stored
    * centroids, materialized once per corpus snapshot. Queries join it
    * back to the vectors by id — the posting-list shape of a real IVF
    * index (ids per cell), not a copy of the corpus. */
  def assignmentIndex(spark: SparkSession, sfDir: String,
      numCentroids: Int = 16, iters: Int = 2): DataFrame =
    graft.sources.ArtifactCache.readOrWrite(spark, "ivf-assign",
      s"$sfDir|$numCentroids|$iters", s"$sfDir/embeddings.parquet")(
      assignToCentroids(normalizedEmbeddings(spark, sfDir),
        centroidIndex(spark, sfDir, numCentroids, iters)
          .select(col("cent_id"), col("e_cent"), col("n_cent")))
        .select(col("vec_id"), col("cluster")))

  /** Incremental (delta) ANN indexing: a new batch of vectors (odd
    * vec_ids here, the [[graft.operators.Dedup.incrementalDedup]] split
    * convention) is assigned to the coarse quantizer trained on the
    * PRIOR snapshot (even vec_ids) — the nightly-ingest path of a real
    * vector index: the quantizer is a stored artifact; the delta takes
    * one broadcast-C map pass, and the posting lists grow by append.
    * Nothing about the existing index is touched or retrained. Output
    * is the delta's posting-list rows (vec_id, cluster) plus the
    * rounded assignment similarity. */
  /** The PRIOR-snapshot quantizer as a stored artifact (trained on the
    * even-id half, seeded from its `numCentroids` lowest ids) — shared
    * by the incremental-assignment path and the drift trigger, so the
    * two always audit the same index generation. */
  private def priorCentroidIndex(spark: SparkSession, sfDir: String,
      numCentroids: Int, iters: Int): DataFrame =
    graft.sources.ArtifactCache.readOrWrite(spark, "ivf-centroids-prior",
      s"$sfDir|$numCentroids|$iters", s"$sfDir/embeddings.parquet")(
      lloydTrain(normalizedEmbeddings(spark, sfDir)
          .filter(col("vec_id") % 2 === 0), iters,
        _.orderBy("vec_id").limit(numCentroids)))

  /** Nearest-centroid assignment similarity per vector — the ranking
    * tail of [[incrementalAssign]] shared with the drift profiles. */
  private def assignSims(vecs: DataFrame, cent: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(desc("csim"), asc("cent_id"))
    vecs.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cent_id"),
        rd(cosine(col("e"), col("nrm"), col("e_cent"), col("n_cent")), 6).as("csim"))
      .withColumn("arn", row_number().over(w))
      .filter(col("arn") === 1)
  }

  def incrementalAssign(spark: SparkSession, sfDir: String,
      numCentroids: Int = 16, iters: Int = 2): DataFrame = {
    val emb = normalizedEmbeddings(spark, sfDir)
    val cent = priorCentroidIndex(spark, sfDir, numCentroids, iters)
    assignSims(emb.filter(col("vec_id") % 2 === 1), cent)
      .select(col("vec_id"), col("cent_id").as("cluster"), col("csim").as("assign_sim"))
      .orderBy("vec_id")
  }

  /** Quantizer DRIFT trigger — the retrain signal that completes ANN
    * continuous-ingest the way `corpus_chunk_diff` + the index refresh
    * completed it for chunk dedup (r15 verdict #5):
    * [[incrementalAssign]] tells the catalog WHERE arrivals land;
    * nothing told it WHEN the stored quantizer has gone stale. The
    * measure is quantization error (1 − rounded cosine to the assigned
    * centroid) of the arriving batch under the stored prior quantizer
    * (the SAME [[priorCentroidIndex]] artifact the incremental path
    * assigns with), compared against a HELD-OUT reference profile. A
    * relative excess beyond `maxRelDrift` says the arrivals are not
    * drawn from the distribution the quantizer was trained on — cells
    * no longer fit, recall at fixed nprobe decays — and retraining
    * should fire. One row out; a catalog acts on `retrain`.
    *
    * The reference profile must be OUT-OF-SAMPLE, or the comparison is
    * biased by construction: a quantizer fits its own training vectors
    * better than any i.i.d. arrival (measured: +24–26% relative error
    * for the held-out half vs the in-sample half on this corpus — an
    * i.i.d. batch would permanently look "drifted" against an
    * in-sample profile). So the profile is the cross-validation
    * estimate a catalog stores at train time: a PROFILE-TWIN quantizer
    * trained on half the prior snapshot (same seeding rule, same
    * iters) scores the OTHER half — held-out error of a same-family
    * quantizer on the training distribution. Measured corridor here:
    * i.i.d. arrivals land within ±2% of the reference at sf0.001 and
    * sf0.01; default `maxRelDrift` 0.2 sits far above the corridor
    * and far below any real shift on clustered data (the spec drives
    * a clustered corpus whose shifted batch exceeds it many-fold).
    *
    * Determinism: both means are [[graft.functions.Deterministic.qsum]]
    * sums of 6-dp-quantized per-vector errors divided by exact counts,
    * then 6-dp-rounded; `rel_drift` is computed from the two rounded
    * means (pure IEEE, replayed exactly by the oracle, which re-runs
    * BOTH Lloyd trainings + both assignment profiles — the
    * [[incrementalAssign]] chain extended by the twin).
    *
    * Scale: the twin training + reference profile are once-per-index-
    * generation catalog work over prior-snapshot samples (stored,
    * amortized — here cached via [[graft.sources.ArtifactCache]]); the
    * per-arrival cost is one broadcast-C map pass over the batch and a
    * single-row aggregate. The corpus is never joined to itself. */
  def indexDrift(spark: SparkSession, sfDir: String,
      numCentroids: Int = 16, iters: Int = 2,
      maxRelDrift: Double = 0.2): DataFrame = {
    val emb = normalizedEmbeddings(spark, sfDir)
    // the stored held-out reference profile: twin trains on the
    // vec_id%4==0 half of the prior snapshot, scores the %4==2 half
    val ref = graft.sources.ArtifactCache.readOrWrite(spark, "ivf-drift-ref",
      s"$sfDir|$numCentroids|$iters", s"$sfDir/embeddings.parquet")(
      errProfile(emb.filter(col("vec_id") % 4 === 2),
        lloydTrainPrior(emb.filter(col("vec_id") % 4 === 0),
          numCentroids, iters), "n_ref", "ref_err"))
    indexDriftFrom(ref, emb.filter(col("vec_id") % 2 === 1),
      priorCentroidIndex(spark, sfDir, numCentroids, iters), maxRelDrift)
  }

  /** Mean quantization error of `vecs` under `cent` — one row. */
  private[graft] def errProfile(vecs: DataFrame, cent: DataFrame,
      nCol: String, eCol: String): DataFrame = {
    import graft.functions.Deterministic.qsum
    assignSims(vecs, cent)
      .agg(count(lit(1)).as(nCol),
        rd(qsum(lit(1.0) - col("csim"), 6) / count(lit(1)), 6).as(eCol))
  }

  /** Verdict tail over a stored reference profile, an arrival batch and
    * the live quantizer — the seam the spec drives with a clustered
    * synthetic corpus (shifted batch fires, i.i.d. batch stays quiet). */
  private[graft] def indexDriftFrom(ref: DataFrame, arrivals: DataFrame,
      cent: DataFrame, maxRelDrift: Double): DataFrame =
    ref.crossJoin(errProfile(arrivals, cent, "n_arrival", "arrival_err"))
      .select(col("n_ref"), col("n_arrival"),
        col("ref_err"), col("arrival_err"),
        rd((col("arrival_err") - col("ref_err")) / col("ref_err"), 4)
          .as("rel_drift"))
      .withColumn("retrain", col("rel_drift") > maxRelDrift)

  /** Recall-vs-nprobe curve for the stored IVF index: for every probe
    * depth 1..C, top-k recall against the exact brute-force neighbors —
    * the cost/recall dial of [[ivfTopK]] made measurable (the row where
    * the curve flattens IS the right nprobe; at nprobe=C every cell is
    * probed, so recall is exactly 1.0 — a built-in self-check). One
    * candidate pass: each (query, neighbor) pair carries the rank of
    * its cell for that query, explodes to the probe depths that would
    * include it (bounded ×C), ranks per depth, and intersects the
    * brute top-k. At 100 TB this is a TUNING query run on a query
    * sample, not a production scan — and it still touches the corpus
    * once. */
  def recallCurve(spark: SparkSession, sfDir: String, k: Int = 10,
      numQueries: Int = 20, numCentroids: Int = 16,
      trainIters: Int = 2): DataFrame = {
    val emb = normalizedEmbeddings(spark, sfDir)
    val cent = centroidIndex(spark, sfDir, numCentroids, trainIters)
    val assigned = assignmentIndex(spark, sfDir, numCentroids, trainIters)
    val q = emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("e").as("e_q"), col("nrm").as("n_q"))
    val wq = Window.partitionBy("query_id").orderBy(desc("csim"), asc("cent_id"))
    val cellRank = q.crossJoin(broadcast(cent))
      .select(col("query_id"), col("e_q"), col("n_q"), col("cent_id"),
        rd(cosine(col("e_q"), col("n_q"), col("e_cent"), col("n_cent")), 6).as("csim"))
      .withColumn("prn", row_number().over(wq))
      .select(col("query_id"), col("e_q"), col("n_q"),
        col("cent_id").as("cluster"), col("prn"))
    val cvec = emb.select(col("vec_id").as("neighbor_id"),
      col("e").as("e_c"), col("nrm").as("n_c"))
    val cand = cellRank.join(assigned, Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(cvec, col("vec_id") === col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("prn"),
        rd(cosine(col("e_q"), col("n_q"), col("e_c"), col("n_c")), 4).as("cosine"))
    val wr = Window.partitionBy("query_id", "nprobe")
      .orderBy(desc("cosine"), asc("neighbor_id"))
    val perDepth = cand
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        explode(sequence(col("prn"), lit(numCentroids))).as("nprobe"))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
    val brute = bruteForceTopK(spark, sfDir, k, numQueries)
      .select("query_id", "neighbor_id")
    val hits = perDepth.join(brute, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("nprobe").agg(count(lit(1)).as("n_hits"))
    spark.range(1, numCentroids + 1).select(col("id").cast("int").as("nprobe"))
      .join(hits, Seq("nprobe"), "left_outer")
      .select(col("nprobe"),
        rd(coalesce(col("n_hits"), lit(0L)).cast("double") /
          lit((numQueries * k).toDouble), 4).as("recall"))
      .orderBy("nprobe")
  }

  /** Index-health report for the stored coarse quantizer: each
    * centroid's nearest OTHER centroid and their cosine — the
    * separation audit run after (re)training (centroids that sit on top
    * of each other waste cells and inflate nprobe; a max pairwise
    * cosine near 1.0 says retrain with fewer clusters). C×C rounded
    * cosines over the C-row artifact — micro-work at any corpus size,
    * because the corpus itself is never touched. */
  def indexHealth(spark: SparkSession, sfDir: String,
      numCentroids: Int = 16, iters: Int = 2): DataFrame = {
    val cent = centroidIndex(spark, sfDir, numCentroids, iters)
    val a = cent.select(col("cent_id"), col("e_cent").as("e_a"), col("n_cent").as("n_a"))
    val b = cent.select(col("cent_id").as("other_id"), col("e_cent").as("e_b"),
      col("n_cent").as("n_b"))
    val w = Window.partitionBy("cent_id").orderBy(desc("cosine"), asc("other_id"))
    a.join(broadcast(b), col("cent_id") =!= col("other_id"))
      .select(col("cent_id"), col("other_id"),
        rd(cosine(col("e_a"), col("n_a"), col("e_b"), col("n_b")), 6).as("cosine"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cent_id"), col("other_id").as("nearest_id"), col("cosine"))
      .orderBy("cent_id")
  }

  /** IVF-style ANN: coarse quantization with k-means-trained centroids
    * (deterministic seeded training, see [[trainedCentroids]]), vectors
    * assigned to their nearest centroid, queries probing the `nprobe`
    * nearest cells. Unlike LSH this is fully SQL-expressible — the
    * oracle replays training, assignment and search end-to-end.
    * Cost: assignment is |N|×C (tiny C), search is |Q|×(probed cells) —
    * the classic recall/cost dial via nprobe. The default nprobe=8/16
    * is sized for this near-uniform synthetic corpus (recall@10 ≈ 0.92;
    * neighbors spread across cells, so half the cells must be probed);
    * clustered real embeddings reach the same recall at much lower
    * nprobe — the dial, not the plan, changes. */
  def ivfTopK(spark: SparkSession, sfDir: String, k: Int = 10,
      numQueries: Int = 20, numCentroids: Int = 16, nprobe: Int = 8,
      trainIters: Int = 2): DataFrame = {
    val emb = normalizedEmbeddings(spark, sfDir)
    // both halves of the index are stored artifacts (train/assign once
    // per corpus snapshot); the query only joins vectors back by id
    val cent = centroidIndex(spark, sfDir, numCentroids, trainIters)
    val assigned = assignmentIndex(spark, sfDir, numCentroids, trainIters)
      .join(emb, Seq("vec_id"))
      .select(col("vec_id"), col("e"), col("nrm"), col("cluster"))
    // probe list: nprobe nearest centroids per query
    val wProbe = Window.partitionBy("query_id").orderBy(desc("csim"), asc("cent_id"))
    val probes = emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("e").as("e_q"), col("nrm").as("n_q"))
      .crossJoin(broadcast(cent))
      .select(col("query_id"), col("e_q"), col("n_q"), col("cent_id"),
        rd(cosine(col("e_q"), col("n_q"), col("e_cent"), col("n_cent")), 6).as("csim"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("query_id"), col("e_q"), col("n_q"), col("cent_id").as("cluster"))
    // search only the probed cells
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("neighbor_id"))
    probes.join(assigned
        .select(col("vec_id").as("neighbor_id"), col("e").as("e_c"),
          col("nrm").as("n_c"), col("cluster")), Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        rd(cosine(col("e_q"), col("n_q"), col("e_c"), col("n_c")), 4).as("cosine"))
      .distinct()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** All-pairs kNN JOIN over the IVF layout: every vector's k nearest
    * neighbors among the vectors in its `nprobe` nearest cells — the
    * FAISS-style kNN-GRAPH construction pass (neighborhood graphs for
    * community detection, SemDeDup compare sets, pruning-by-
    * neighborhood). Cost is Σ(nprobe × cell) ≈ nprobe·N²/C — NEVER the
    * N² all-pairs product; at 100 TB the (probe cell × posting list)
    * blocks are the unit of parallelism and per-task memory, and
    * nprobe/C is the recall-vs-cost dial (SimilaritySpec measures
    * recall against the exact kNN). A vector's own cell is always
    * probed (its nearest centroid IS its assignment, by the shared
    * rule). Ranking is on the 4-dp rounded cosine with id tie-break —
    * the [[ivfTopK]] convention — so the DuckDB oracle replays
    * training, assignment, probing and the join bit-for-bit.
    *
    * The cell count follows the FAISS guideline C ≈ √N (floored at
    * 16): at FIXED C the probe join is nprobe·N²/C — quadratic, and
    * measured so (2.8 s at 2 k vectors → 43 s at 20 k with C=16);
    * C = √N keeps cell size ≈ √N so BOTH k-means training (N·C per
    * iter) and the join (nprobe·N·√N) stay at N^1.5. The count that
    * sizes C is one scalar job; the oracle computes the same C with a
    * scalar subquery. */
  def knnJoin(spark: SparkSession, sfDir: String, k: Int = 3,
      nprobe: Int = 6, trainIters: Int = 2): DataFrame = {
    val emb = normalizedEmbeddings(spark, sfDir)
    val numCentroids = math.max(16, math.ceil(math.sqrt(emb.count().toDouble)).toInt)
    val cent = centroidIndex(spark, sfDir, numCentroids, trainIters)
    val neighbors = assignmentIndex(spark, sfDir, numCentroids, trainIters)
      .join(emb, Seq("vec_id"))
      .select(col("vec_id").as("neighbor_id"), col("e").as("e2"),
        col("nrm").as("n2"), col("cluster"))
    val wProbe = Window.partitionBy("vec_id").orderBy(desc("csim"), asc("cent_id"))
    val probes = emb.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("e"), col("nrm"), col("cent_id"),
        rd(cosine(col("e"), col("nrm"), col("e_cent"), col("n_cent")), 6).as("csim"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("vec_id"), col("e"), col("nrm"), col("cent_id").as("cluster"))
    val w = Window.partitionBy("vec_id").orderBy(desc("cosine"), asc("neighbor_id"))
    probes.join(neighbors, Seq("cluster"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        rd(cosine(col("e"), col("nrm"), col("e2"), col("n2")), 4).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy("vec_id", "rank")
  }

  /** [[knnJoin]] with the rank WINDOW replaced by the mergeable
    * bounded-heap aggregator ([[graft.functions.TopKAggregate
    * .TopKNeighbors]]): each map task keeps a ≤k bounded heap per
    * vec_id with O(1) early-reject, so the exchange carries ≤k rows
    * per vector (≈ N·k) instead of the candidate relation. The r12
    * measurement is the interesting part: this DOES NOT beat the
    * window form locally (36.2 s vs 32.2 s at 100×), because Spark 4
    * already plans a PARTIAL WindowGroupLimit before the window's
    * exchange for a recognizable `rank <= k` filter — the window form
    * gets the same map-side top-k bound for free, and the typed
    * aggregation pays object ser/de per candidate row on top. Kept
    * registered as the EXPLICIT-strategy twin (same probes, scoring,
    * tie rule, oracle): it does not depend on the optimizer
    * recognizing the filter shape, and `PlanLintSpec` pins the
    * WindowGroupLimit pushdown for the window-form queries whose scale
    * posture silently relies on it. The remaining 100× cost in BOTH
    * forms is the nprobe·N·√N candidate generation + scoring itself —
    * the dial is nprobe (the ann_recall_curve trade), not top-k
    * strategy or scoring currency ([[knnJoinPq]]'s falsification). */
  def knnJoinHeap(spark: SparkSession, sfDir: String, k: Int = 3,
      nprobe: Int = 6, trainIters: Int = 2): DataFrame = {
    import spark.implicits._
    import graft.functions.TopKAggregate
    val emb = normalizedEmbeddings(spark, sfDir)
    val numCentroids = math.max(16, math.ceil(math.sqrt(emb.count().toDouble)).toInt)
    val cent = centroidIndex(spark, sfDir, numCentroids, trainIters)
    val neighbors = assignmentIndex(spark, sfDir, numCentroids, trainIters)
      .join(emb, Seq("vec_id"))
      .select(col("vec_id").as("neighbor_id"), col("e").as("e2"),
        col("nrm").as("n2"), col("cluster"))
    val wProbe = Window.partitionBy("vec_id").orderBy(desc("csim"), asc("cent_id"))
    val probes = emb.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("e"), col("nrm"), col("cent_id"),
        rd(cosine(col("e"), col("nrm"), col("e_cent"), col("n_cent")), 6).as("csim"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("vec_id"), col("e"), col("nrm"), col("cent_id").as("cluster"))
    probes.join(neighbors, Seq("cluster"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        rd(cosine(col("e"), col("nrm"), col("e2"), col("n2")), 4).as("cosine"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues { case (_, n, c) => TopKAggregate.NeighborScore(n, c) }
      .agg(new TopKAggregate.TopKNeighbors(k).toColumn.name("top"))
      .toDF("vec_id", "top")
      .select(col("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), col("col.neighbor_id").as("neighbor_id"),
        col("col.cosine").as("cosine"), (col("pos") + 1).cast("int").as("rank"))
      .orderBy("vec_id", "rank")
  }

  /** kNN join over the IVF layout scored by SYMMETRIC product-quantized
    * distance (FAISS "SDC") with exact rerank — the code-currency form
    * of [[knnJoin]], attacking its slowest-100×-line cost structure.
    * [[knnJoin]]'s candidate stage shuffles and scores FLOAT VECTORS:
    * every (probe cell × posting list) pair carries two 64-float arrays
    * (~520 B/row) through the join and pays a 64-multiply dot per
    * candidate. Here the candidate stage touches only the stored PQ
    * code index — 8 small codes + 1 double per side (~80 B/row, ~6×
    * less shuffle) — and scores each candidate with 8 lookups into the
    * SDC TABLE: the 8×16×16 matrix of sub-centroid dot products
    * sdot[m][cu][cv] = cvecₘ,cu · cvecₘ,cv, precomputed from the
    * 128-row stored codebook and shipped as a literal (2 048 doubles).
    * approx_cos(u,v) = Σₘ sdot[m][uₘ][vₘ] / (‖û‖·‖v̂‖) — both sides
    * reconstructed, which is what distinguishes SDC from the
    * query-side-exact ADC of [[pqTopK]] (an ADC kNN join would need a
    * per-VECTOR lookup table: N × 8×16 doubles ≈ 1 KB/vector riding
    * the join, more than the vectors themselves). Float vectors are
    * touched only by the exact rerank of each vector's `shortlist`
    * top candidates — N·shortlist id-joined rows, never the candidate
    * product. Recall = probe recall × shortlist recall; both measured
    * in SimilaritySpec against [[knnJoin]] and the true exact kNN.
    *
    * SHORTLIST SIZING, measured (SimilaritySpec): this synthetic corpus
    * is deliberately near-uniform — neighbor cosines crowd into
    * 0.35–0.5, inside PQ's double-quantization noise — so SDC barely
    * discriminates and shortlist recall vs [[knnJoin]] climbs slowly:
    * 0.40 / 0.57 / 0.77 / 0.95 at 12 / 24 / 48 / 96 on the ~130
    * candidates per vector at fixture scale. The default is therefore
    * 96 (recall ≥ 0.9 with margin). The dial is ABSOLUTE while the
    * candidate count grows as nprobe·√N, so the reranked fraction
    * FALLS with scale (~7% at 100×), and clone-amplified or genuinely
    * clustered corpora — where true neighbors are code-identical — are
    * the favorable case. Same worst-case caveat as the LSH section: no
    * similarity gap, no cheap discrimination.
    *
    * Ranking/tie conventions are the suite's (rounded score desc, id
    * asc), so the DuckDB oracle replays coarse + PQ training, the SDC
    * table, probing, shortlisting and rerank bit-for-bit.
    *
    * MEASURED OUTCOME (r12, the edit-distance discipline): at THIS
    * corpus's 64 dims the code currency does NOT beat the exact join —
    * 61.2 s vs 45.0 s at 100× even with the native [[graft.functions
    * .SdcSum]] scoring loop — because the bottleneck is the candidate
    * relation's row pipeline, not the 64-FMA dot (shortlist depth
    * 24 → 96 moves only 45.2 → 49.1 s, so the rerank isn't it either).
    * The payload claim (~6× fewer candidate-stage BYTES) is real but
    * priced at ~0 by a single-host shuffle; the regime where this form
    * wins is network-priced shuffle and/or high-dim vectors (768-d
    * pays 12× the dot flops, the SDC lookup stays 8 reads). Kept as
    * the documented code-currency device with its recall gates. */
  def knnJoinPq(spark: SparkSession, sfDir: String, k: Int = 3,
      nprobe: Int = 6, shortlist: Int = 96, trainIters: Int = 2): DataFrame = {
    val emb = normalizedEmbeddings(spark, sfDir)
    val numCentroids = math.max(16, math.ceil(math.sqrt(emb.count().toDouble)).toInt)
    val cent = centroidIndex(spark, sfDir, numCentroids, trainIters)
    val codes = pqCodesIndex(spark, sfDir, trainIters)
    // SDC table from the stored codebook: collect 128 rows (bounded by
    // construction), dot every same-subspace centroid pair LTR over the
    // 8 dims — the identical summation order as the oracle's list_sum,
    // on training means that are already cross-engine exact. Shipped as
    // ONE flat 2048-double array literal indexed m·K² + cu·K + cv
    // (cent ids are 0..15 by construction — k-means seeds keep their
    // ids; a sub-cluster that empties leaves an unreferenced 0.0 slot,
    // never a shifted index) so each lookup is a codegen'd constant-
    // array access — the first cut's per-element map lookups inside
    // transform/aggregate HOFs cost 5× the whole exact-scored join at
    // fixture scale (7.3 s vs 1.3 s, BENCH probe), all per-candidate
    // interpretation overhead.
    val cbRows = pqCodebookIndex(spark, sfDir, trainIters)
      .select(col("m"), col("cent_id"), col("cvec")).collect()
    val sdotArr = new Array[Double](PqM * PqK * PqK)
    cbRows.foreach { r =>
      val m = r.getInt(0); val cu = r.getLong(1).toInt
      val vu = r.getSeq[Double](2)
      cbRows.foreach { s =>
        if (s.getInt(0) == m) {
          val cv = s.getLong(1).toInt
          val vv = s.getSeq[Double](2)
          sdotArr(m * PqK * PqK + cu * PqK + cv) =
            vu.iterator.zip(vv.iterator).map { case (a, b) => a * b }
              .foldLeft(0.0)(_ + _)
        }
      }
    }
    // native codegen'd lookup loop (graft.functions.SdcSum): the
    // element_at spelling of the 8 lookups paid per-lookup bounds/null
    // checks on the join's hottest path and LOST to the exact 64-float
    // dot (9.2 s vs 6.2 s at 25×); the generated loop is 8 primitive
    // array reads + adds, LTR over m — the oracle's summation order
    val sdcSum = graft.functions.SdcSum.sdc_sum(sdotArr, PqK,
      col("codes"), col("codes_n"))
    // probe side: every vector's nprobe nearest cells, carrying CODES
    // (not floats) into the candidate join
    val wProbe = Window.partitionBy("vec_id").orderBy(desc("csim"), asc("cent_id"))
    val probes = emb.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cent_id"),
        rd(cosine(col("e"), col("nrm"), col("e_cent"), col("n_cent")), 6).as("csim"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("vec_id"), col("cent_id").as("cluster"))
      .join(codes, Seq("vec_id"))
    val nbr = codes
      .join(assignmentIndex(spark, sfDir, numCentroids, trainIters), Seq("vec_id"))
      .select(col("vec_id").as("neighbor_id"), col("codes").as("codes_n"),
        col("nrm_hat").as("nrm_hat_n"), col("cluster"))
    val wS = Window.partitionBy("vec_id").orderBy(desc("approx_cos"), asc("neighbor_id"))
    val short = probes.join(nbr, Seq("cluster"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        rd(sdcSum / (col("nrm_hat") * col("nrm_hat_n")), 4).as("approx_cos"))
      .withColumn("srn", row_number().over(wS))
      .filter(col("srn") <= shortlist)
    // exact rerank: float vectors fetched by id for shortlist rows only
    val q = emb.select(col("vec_id"), col("e").as("e_q"), col("nrm").as("n_q"))
    val c = emb.select(col("vec_id").as("neighbor_id"),
      col("e").as("e_c"), col("nrm").as("n_c"))
    val wr = Window.partitionBy("vec_id").orderBy(desc("cosine"), asc("neighbor_id"))
    short.select("vec_id", "neighbor_id")
      .join(q, Seq("vec_id")).join(c, Seq("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        rd(cosine(col("e_q"), col("n_q"), col("e_c"), col("n_c")), 4).as("cosine"))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("neighbor_id"), col("cosine"), col("rank"))
      .orderBy("vec_id", "rank")
  }

  /** Prototypicality profile (the SSL-prototypes pruning signal,
    * Sorscher et al. 2022 "Beyond neural scaling laws"): each vector's
    * cosine to its OWN cell centroid, plus its rank within the cell.
    * High-cosine members are prototypical (safe to prune when data is
    * abundant); low-cosine members are the hard/outlier examples worth
    * keeping. Rounds out the embedding-curation story on the same
    * stored quantizer: IVF search probes cells, SemDeDup dedups within
    * cells, this scores membership itself.
    *
    * Scale shape: C centroids broadcast, one map pass over the corpus
    * (no vector shuffle), then one window keyed by cluster. C is the
    * parallelism of the window stage — production runs C in the tens
    * of thousands (same dial as IVF), so cells are both small and
    * numerous. Oracle replays training + assignment + scoring in SQL,
    * ranking on the ROUNDED cosine so both engines break ties
    * identically (then by vec_id). */
  def prototypicality(spark: SparkSession, sfDir: String,
      numCentroids: Int = 16, trainIters: Int = 2): DataFrame = {
    val emb = normalizedEmbeddings(spark, sfDir)
    val cent = centroidIndex(spark, sfDir, numCentroids, trainIters)
      .select(col("cent_id").as("cluster"), col("e_cent"), col("n_cent"))
    val w = Window.partitionBy("cluster").orderBy(desc("proto_cos"), asc("vec_id"))
    assignmentIndex(spark, sfDir, numCentroids, trainIters)
      .join(emb, Seq("vec_id"))
      .join(broadcast(cent), Seq("cluster"))
      .select(col("vec_id"), col("cluster"),
        rd(cosine(col("e"), col("nrm"), col("e_cent"), col("n_cent")), 4)
          .as("proto_cos"))
      .withColumn("rk", row_number().over(w).cast("int"))
      .orderBy("cluster", "rk")
  }

  /** Cluster-balanced sample: k vectors from every semantic cell of the
    * stored quantizer — the domain-balancing primitive (inspect or
    * cap each latent domain equally, however skewed the corpus). Same
    * seeded-md5 device as the per-source document sample
    * ([[graft.operators.TextAnalysis.samplePerGroup]]): the sample is a
    * pure function of (seed, vec_id), so both engines and successive
    * runs draw identically — no engine RNG. One map pass over the
    * assignment index (ids only, vectors never move), one window per
    * cell. */
  def clusterBalancedSample(spark: SparkSession, sfDir: String,
      k: Int = 20, numCentroids: Int = 16, trainIters: Int = 2,
      seed: String = "cbs0"): DataFrame = {
    require(k >= 1, "k must be positive")
    val w = Window.partitionBy("cluster").orderBy("sample_key", "vec_id")
    assignmentIndex(spark, sfDir, numCentroids, trainIters)
      .select(col("cluster"), col("vec_id"),
        md5(concat(lit(s"$seed|"), col("vec_id").cast("string"))).as("sample_key"))
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= k)
      .orderBy("cluster", "rk")
  }

  /** Cosine RANGE search: every corpus vector within similarity `tau` of
    * each query vector — the radius-query twin of top-k (retrieval wants
    * "the best k"; dedup/recall audits want "everything this close").
    * Same scale shape as [[bruteForceTopK]]: the query side is broadcast
    * and the corpus streams through executors exactly once with the
    * threshold filter fused into the scan projection — no corpus shuffle,
    * no rank window (range search needs no ordering to decide membership;
    * the final sort is presentation only). For standing high-volume query
    * sets, the banded/IVF paths bound the candidate set the same way they
    * do for top-k. */
  def rangeSearch(spark: SparkSession, sfDir: String,
      tau: Double = 0.3, numQueries: Int = 20): DataFrame = {
    val emb = normalizedEmbeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("e").as("e_q"), col("nrm").as("n_q"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("e").as("e_c"), col("nrm").as("n_c"))
    broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        rd(cosine(col("e_q"), col("n_q"), col("e_c"), col("n_c")), 4).as("cosine"))
      .filter(col("cosine") >= tau)
      .orderBy("query_id", "neighbor_id")
  }

  /** Embedding-space decontamination — the semantic sibling of the
    * n-gram overlap check (`Dedup.decontaminate`): a train doc whose
    * embedding sits within cosine `tau` of ANY eval-split embedding is
    * flagged, catching paraphrased leaks token-level shingles miss
    * (embeddings align 1:1 with documents: vec_id = doc_id). Same
    * posture as [[rangeSearch]]: the eval split is tiny next to a
    * 100 TB corpus, so eval vectors broadcast and the train side
    * streams through the codegen'd dot product into a per-vector max.
    * The |eval|·N product IS the check at this exactness level; for
    * standing eval suites the banded/IVF candidate paths bound it the
    * same way they do for top-k. Per-pair rounding before the max:
    * rounding is monotone, so max-of-rounded = rounded-max, and the
    * oracle replays the same expression shape either way.
    *
    * BOTH sides are collapsed to DISTINCT vectors (r10): the verdict is
    * a pure function of the train doc's vector and the eval vector SET
    * — max ignores multiplicity, so distinct eval vectors suffice, and
    * every holder of the same train vector inherits one scored verdict
    * ([[graft.functions.VectorOps.exactVectorGroups]]). The r10 100×
    * sweep measured the member-level form at p=1.84 (both sides of the
    * |eval|·N product scale with duplication); collapsed, the compare
    * count tracks DISTINCT vectors and only the linear per-doc verdict
    * join-back scales with the corpus. */
  def embeddingDecontaminate(spark: SparkSession, sfDir: String,
      evalSource: String = "src9", tau: Double = 0.4): DataFrame = {
    val evalIds = graft.sources.Tables.documents(spark, sfDir)
      .filter(col("source") === evalSource)
      .select(col("doc_id").as("vec_id"))
    val emb = normalizedEmbeddings(spark, sfDir)
    val evalVecs = emb.join(evalIds, Seq("vec_id"))
      .select(col("e").as("e_q"), col("nrm").as("n_q")).distinct()
    val (members, canon) =
      graft.functions.VectorOps.exactVectorGroups(
        emb.join(evalIds, Seq("vec_id"), "left_anti"))
    val verdicts = canon
      .join(broadcast(evalVecs))
      .groupBy("canon_id")
      .agg(max(rd(cosine(col("e"), col("nrm"), col("e_q"), col("n_q")), 4))
        .as("max_eval_cosine"))
    members.join(verdicts, Seq("canon_id"))
      .select(col("vec_id").as("doc_id"), col("max_eval_cosine"),
        (col("max_eval_cosine") >= tau).as("contaminated"))
      .orderBy("doc_id")
  }

  // --- Product quantization (PQ): the memory story for 100 TB of vectors ---

  /** PQ geometry: 64 dims → 8 subspaces × 8 dims, 16 centroids per
    * subspace. A vector compresses to 8 one-byte codes (32× smaller
    * than 64 floats) plus the shared codebook (8×16×8 doubles) — at
    * 100 TB of embeddings the code table fits where the vectors never
    * could, and scoring touches only codes. */
  private val PqM = 8
  private val PqSubDim = Dim / PqM // 8
  private val PqK = 16

  /** Long-form subvector view: (vec_id, m, sv) with sv the m-th 8-dim
    * slice as doubles. One row per (vector, subspace). */
  private def subVectors(emb: DataFrame): DataFrame = {
    val slices = array((0 until PqM).map { m =>
      struct(lit(m).as("m"),
        transform(slice(col("e"), m * PqSubDim + 1, PqSubDim),
          x => x.cast("double")).as("sv"))
    }: _*)
    emb.select(col("vec_id"), explode(slices).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))
  }

  /** Squared L2 distance between two double arrays — LTR fold, exact
    * and order-identical to the DuckDB oracle's list replay. */
  private def l2sq(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)

  /** Nearest-sub-centroid assignment per (vector, subspace): squared-L2
    * ranked on rd(·,6), ties to the lower cent_id — the single
    * deterministic rule shared by training, encoding and the oracle. */
  private def assignSub(sub: DataFrame, cb: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id", "m").orderBy(asc("d2"), asc("cent_id"))
    sub.join(broadcast(cb), Seq("m"))
      .select(col("vec_id"), col("m"), col("sv"), col("cent_id"),
        rd(l2sq(col("sv"), col("cvec")), 6).as("d2"))
      .withColumn("arn", row_number().over(w))
      .filter(col("arn") === 1)
      .select(col("vec_id"), col("m"), col("sv"), col("cent_id").as("code"))
  }

  /** Deterministic per-subspace k-means (the PQ codebook): initialize
    * each subspace's 16 centroids as the first 16 vectors' subvectors,
    * take `iters` Lloyd steps under squared-L2. Identical arithmetic
    * discipline to [[trainedCentroids]] (rd-ranked assignment, qavg
    * quantized means) so the DuckDB oracle replays training exactly.
    * All 8 subspaces train in ONE plan — `m` is just a grouping key. */
  def trainedPqCodebook(spark: SparkSession, sfDir: String,
      iters: Int = 2): DataFrame = {
    val sub = subVectors(normalizedEmbeddings(spark, sfDir))
    var cb = sub.filter(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").as("cent_id"), col("sv").as("cvec"))
    for (_ <- 1 to iters) {
      val assigned = assignSub(sub, cb)
      val dimMeans = assigned
        .select(col("m"), col("code"), posexplode(col("sv")))
        .groupBy(col("m"), col("code"), col("pos"))
        .agg(graft.functions.Deterministic.qavg(col("col"), 6).as("val"))
      cb = dimMeans
        .groupBy(col("m"), col("code").as("cent_id"))
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("val")))),
          s => s.getField("val")).as("cvec"))
    }
    cb.localCheckpoint()
  }

  /** The trained PQ codebook as a stored artifact: (m, cent_id, cvec),
    * 128 rows — broadcast-sized by construction. */
  def pqCodebookIndex(spark: SparkSession, sfDir: String,
      iters: Int = 2): DataFrame =
    graft.sources.ArtifactCache.readOrWrite(spark, "pq-codebook",
      s"$sfDir|$PqM|$PqK|$iters", s"$sfDir/embeddings.parquet")(
      trainedPqCodebook(spark, sfDir, iters))

  /** The PQ code INDEX: (vec_id, codes, nrm_hat) — codes is the 8-entry
    * array of sub-centroid ids ordered by subspace, nrm_hat the norm of
    * the RECONSTRUCTED vector (sqrt of the LTR sum of its sub-centroid
    * squared norms, m = 0..7). This is the whole per-vector state ADC
    * scoring ever touches: 8 small ints + 1 double per corpus vector. */
  def pqCodesIndex(spark: SparkSession, sfDir: String,
      iters: Int = 2): DataFrame =
    graft.sources.ArtifactCache.readOrWrite(spark, "pq-codes",
      s"$sfDir|$PqM|$PqK|$iters", s"$sfDir/embeddings.parquet")({
      val cb = pqCodebookIndex(spark, sfDir, iters)
      val cnorm2 = cb.select(col("m").as("cm"), col("cent_id").as("ccent"),
        aggregate(col("cvec"), lit(0.0), (acc, x) => acc + x * x).as("c2"))
      assignSub(subVectors(normalizedEmbeddings(spark, sfDir)), cb)
        .join(broadcast(cnorm2),
          col("m") === col("cm") && col("code") === col("ccent"))
        .groupBy("vec_id")
        .agg(
          transform(sort_array(collect_list(struct(col("m"), col("code")))),
            s => s.getField("code")).as("codes"),
          sqrt(aggregate(
            transform(sort_array(collect_list(struct(col("m"), col("c2")))),
              s => s.getField("c2")),
            lit(0.0), (acc, x) => acc + x)).as("nrm_hat"))
    })

  /** PQ ANN top-k via asymmetric distance computation (ADC): each query
    * precomputes an 8×16 lookup table of subvector·sub-centroid dot
    * products against the stored codebook; every corpus vector is then
    * scored with 8 table lookups over its stored codes — the corpus
    * pass reads codes and nrm_hat only, never a float vector.
    * approx_cos = Σₘ lut[m][codeₘ] / (‖q‖·‖v̂‖), ranked rounded with
    * ties to the lower neighbor id.
    *
    * Scale shape: the LUT side is |Q|·8 maps broadcast; the code table
    * streams through executors once with no shuffle — the same plan as
    * [[bruteForceTopK]] but over a 32×-compressed corpus, which is the
    * difference between spilling and not at 100 TB. Lookups are maps
    * keyed by cent_id (not position-indexed arrays) so a sub-cluster
    * that loses all members in training cannot shift the indexing. */
  def pqTopK(spark: SparkSession, sfDir: String, k: Int = 10,
      numQueries: Int = 20, trainIters: Int = 2): DataFrame = {
    val emb = normalizedEmbeddings(spark, sfDir)
    val luts = queryLuts(spark, sfDir, numQueries, trainIters)
    val q = emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("nrm").as("n_q"))
      .join(luts, Seq("query_id"))
    val codes = pqCodesIndex(spark, sfDir, trainIters)
      .select(col("vec_id").as("neighbor_id"), col("codes"), col("nrm_hat"))
    val w = Window.partitionBy("query_id").orderBy(desc("approx_cos"), asc("neighbor_id"))
    broadcast(q).join(codes, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        rd(aggregate(zip_with(col("codes"), col("lut"),
              (code, mp) => element_at(mp, code)),
            lit(0.0), (acc, v) => acc + v) / (col("n_q") * col("nrm_hat")), 4)
          .as("approx_cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("approx_cos"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Per-query ADC lookup tables against the stored PQ codebook:
    * (query_id, lut) where lut is an 8-entry array (subspace order) of
    * map(cent_id -> subvector·sub-centroid dot). Shared by [[pqTopK]]
    * and [[ivfPqTopK]]. Lookups are maps keyed by cent_id (not
    * position-indexed arrays) so a sub-cluster that loses all members
    * in training cannot shift the indexing. */
  private def queryLuts(spark: SparkSession, sfDir: String,
      numQueries: Int, trainIters: Int): DataFrame = {
    val emb = normalizedEmbeddings(spark, sfDir)
    val cb = pqCodebookIndex(spark, sfDir, trainIters)
    subVectors(emb.filter(col("vec_id") < numQueries))
      .join(broadcast(cb), Seq("m"))
      .select(col("vec_id").as("query_id"), col("m"), col("cent_id"),
        dot(col("sv"), col("cvec")).as("pdot"))
      .groupBy(col("query_id"), col("m"))
      .agg(map_from_entries(sort_array(
        collect_list(struct(col("cent_id"), col("pdot"))))).as("mp"))
      .groupBy(col("query_id"))
      // struct<int, map> has no natural ordering (maps are unorderable),
      // so sort with an explicit comparator on the subspace index
      .agg(transform(array_sort(collect_list(struct(col("m"), col("mp"))),
          (a, b) => when(a.getField("m") < b.getField("m"), -1)
            .when(a.getField("m") > b.getField("m"), 1).otherwise(0)),
        s => s.getField("mp")).as("lut"))
  }

  /** IVF + PQ — the FAISS "IVFADC" architecture, composed from the two
    * stored indexes the suite already maintains: the coarse quantizer
    * restricts each query's corpus pass to its `nprobe` probed cells
    * ([[ivfTopK]]'s device), and vectors inside those cells are scored
    * by PQ asymmetric-distance table lookups over the stored code index
    * ([[pqTopK]]'s device) — so query time touches neither the full
    * corpus nor any float vector. This is the shape production ANN
    * serves billion-vector corpora with: per query, C centroid dots +
    * (nprobe/C of the corpus) × 8 one-byte-code lookups, versus
    * [[pqTopK]]'s full-corpus code scan and [[ivfTopK]]'s float-vector
    * reads inside cells. Recall multiplies the two stages' losses
    * (probe misses × quantization distortion) — the spec pins it
    * against brute force, and consistency with [[pqTopK]] is exact on
    * the probed cells because both read the same codes and LUTs.
    * Everything query-sized broadcasts; the only corpus-sized input is
    * the (codes ⋈ cell) table, streamed once, no shuffle. Output schema
    * = [[pqTopK]] (approx_cos; rank ties to lower neighbor id). */
  def ivfPqTopK(spark: SparkSession, sfDir: String, k: Int = 10,
      numQueries: Int = 20, numCentroids: Int = 16, nprobe: Int = 8,
      trainIters: Int = 2): DataFrame = {
    val emb = normalizedEmbeddings(spark, sfDir)
    val cent = centroidIndex(spark, sfDir, numCentroids, trainIters)
    // probe list: nprobe nearest coarse centroids per query, same
    // deterministic rule as ivfTopK (rounded cosine, ties to lower id)
    val wProbe = Window.partitionBy("query_id").orderBy(desc("csim"), asc("cent_id"))
    val probes = emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("e").as("e_q"), col("nrm").as("n_q"))
      .crossJoin(broadcast(cent))
      .select(col("query_id"), col("cent_id"),
        rd(cosine(col("e_q"), col("n_q"), col("e_cent"), col("n_cent")), 6).as("csim"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("query_id"), col("cent_id").as("cluster"))
    val q = emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("nrm").as("n_q"))
      .join(queryLuts(spark, sfDir, numQueries, trainIters), Seq("query_id"))
      .join(probes, Seq("query_id")) // nprobe rows per query, still tiny
    val codes = pqCodesIndex(spark, sfDir, trainIters)
      .join(assignmentIndex(spark, sfDir, numCentroids, trainIters), Seq("vec_id"))
      .select(col("vec_id").as("neighbor_id"), col("codes"),
        col("nrm_hat"), col("cluster"))
    val w = Window.partitionBy("query_id").orderBy(desc("approx_cos"), asc("neighbor_id"))
    // each corpus vector lives in exactly one cell, so the cluster join
    // yields each (query, neighbor) at most once — no dedup needed
    broadcast(q).join(codes, Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        rd(aggregate(zip_with(col("codes"), col("lut"),
              (code, mp) => element_at(mp, code)),
            lit(0.0), (acc, v) => acc + v) / (col("n_q") * col("nrm_hat")), 4)
          .as("approx_cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("approx_cos"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** IVF+PQ with exact rerank — the COMPLETE production serving path
    * (FAISS "IVFADC + refine"): [[ivfPqTopK]] proposes a `shortlist`
    * per query from probed-cell code scans, then ONLY those candidates'
    * float vectors are fetched by id and reranked on exact cosine.
    * Same two-stage recall argument as [[pqRerankTopK]] but with the
    * corpus pass further cut to nprobe/C — per query, the float-vector
    * working set is `shortlist` rows and the code working set is the
    * probed fraction; nothing else is touched. Output carries EXACT
    * cosines (same schema as [[bruteForceTopK]]). */
  def ivfPqRerankTopK(spark: SparkSession, sfDir: String, k: Int = 10,
      shortlist: Int = 50, numQueries: Int = 20, numCentroids: Int = 16,
      nprobe: Int = 8, trainIters: Int = 2): DataFrame =
    exactRerank(normalizedEmbeddings(spark, sfDir),
      ivfPqTopK(spark, sfDir, shortlist, numQueries,
        numCentroids, nprobe, trainIters), k)

  /** Shared exact-rerank tail for the two-stage queries: fetch each
    * (query, candidate) pair's float vectors by id, score exact rounded
    * cosine, keep top-k per query (ties to the lower neighbor id). ONE
    * definition so [[pqRerankTopK]] and [[ivfPqRerankTopK]] can never
    * diverge on rounding, tie-break, or schema. */
  private def exactRerank(emb: DataFrame, cand: DataFrame, k: Int): DataFrame = {
    val q = emb.select(col("vec_id").as("query_id"), col("e").as("e_q"), col("nrm").as("n_q"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("e").as("e_c"), col("nrm").as("n_c"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("neighbor_id"))
    cand.select(col("query_id"), col("neighbor_id"))
      .join(q, Seq("query_id")).join(c, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        rd(cosine(col("e_q"), col("n_q"), col("e_c"), col("n_c")), 4).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** PQ ANN with exact rerank — the production two-stage shape: ADC
    * over the compressed corpus proposes a `shortlist` of candidates
    * per query (cheap, codes-only), then ONLY those candidates' float
    * vectors are fetched by id and reranked on exact cosine. Recall is
    * recall@(k via shortlist): the true neighbor is found iff ADC puts
    * it in the top `shortlist`, which is far easier than top-k — the
    * standard way PQ reaches high recall despite quantization
    * distortion. At 100 TB the full-vector working set per query is
    * `shortlist` rows instead of the corpus. Output carries EXACT
    * cosines (same schema as [[bruteForceTopK]]). */
  def pqRerankTopK(spark: SparkSession, sfDir: String, k: Int = 10,
      shortlist: Int = 50, numQueries: Int = 20, trainIters: Int = 2): DataFrame =
    exactRerank(normalizedEmbeddings(spark, sfDir),
      pqTopK(spark, sfDir, shortlist, numQueries, trainIters), k)

  /** ANN top-k via LSH banding: 16 bands × 4 bits; pairs sharing any band
    * are candidates; exact cosine ranks candidates only. Same output
    * schema as brute force; recall < 1 by construction (≥0.7 asserted
    * in SimilaritySpec against the brute-force baseline). Fully
    * deterministic — md5-derived planes + quantized-integer sign bits —
    * so the DuckDB oracle replays the whole path exactly. */
  def lshTopK(spark: SparkSession, sfDir: String,
      k: Int = 10, numQueries: Int = 20): DataFrame = {
    // read the stored signature index; join vectors back by id
    val sig = normalizedEmbeddings(spark, sfDir)
      .join(signatureIndex(spark, sfDir), Seq("vec_id"))
    def banded(df: DataFrame, prefix: String): DataFrame =
      df.select(col("vec_id").as(s"${prefix}_id"), col("e").as(s"e_$prefix"),
          col("nrm").as(s"n_$prefix"), col("sig"))
        .select(col(s"${prefix}_id"), col(s"e_$prefix"), col(s"n_$prefix"),
          posexplode(expr(
            s"transform(sequence(0, ${NumBands - 1}), b -> (sig >> (b * $BandBits)) & ${(1 << BandBits) - 1})")))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_val")
    val q = banded(sig.filter(col("vec_id") < numQueries), "query")
    val c = banded(sig, "neighbor")
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("neighbor_id"))
    q.join(c, Seq("band", "band_val"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        rd(cosine(col("e_query"), col("n_query"), col("e_neighbor"), col("n_neighbor")), 4).as("cosine"))
      .distinct()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
      .orderBy("query_id", "rank")
  }
}
