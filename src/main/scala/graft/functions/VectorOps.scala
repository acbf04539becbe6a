package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Vector primitives over `array<float>` embedding columns, built from
  * codegen'd higher-order functions (`zip_with`, `aggregate`,
  * `transform`) — no UDFs, so the dot product stays inside whole-stage
  * codegen. All math is double-precision left-to-right, which makes
  * results bit-identical to a DuckDB oracle computing the same way.
  */
object VectorOps {

  /** Σ aᵢ·bᵢ — native codegen'd loop (graft.functions.DotProduct), LTR
    * double summation; accepts float or double arrays without an
    * up-front cast. ~10× the HOF formulation on quadratic pair scans. */
  def dot(a: Column, b: Column): Column = DotProduct.dot_product(a, b)

  /** L2 norm of a numeric-array column. */
  def l2Norm(v: Column): Column = sqrt(dot(v, v))

  /** Embeddings table with the L2 norm precomputed map-side — norms are
    * computed once per vector, not once per pair, which matters when the
    * pair count is quadratic. The vector stays float (half the memory of
    * a double cast); DotProduct widens per element in-register. */
  def normalizedEmbeddings(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").as("e"), col("label"))
      .withColumn("nrm", l2Norm(col("e")))

  /** cosine(a,b) given precomputed norms. */
  def cosine(eA: Column, nA: Column, eB: Column, nB: Column): Column =
    dot(eA, eB) / (nA * nB)

  /** Exact-duplicate VECTOR groups — the embedding-side twin of
    * `Dedup.exactGroups`' text collapse: every pairwise-similarity
    * quantity (cosine, cell assignment, any pure function of the
    * coordinates) is identical across byte-identical vectors, so
    * consumers can propose/score at CANONICAL granularity and expand to
    * members only at output. The r10 100× full sweep measured why this
    * matters: a clone-amplified corpus made `dedup_semantic` and
    * `embedding_decontamination` pay per MEMBER pair (fitted p≈1.9) for
    * work that is constant per distinct vector — the same member-pair
    * quadratic r9 collapsed out of the text cluster consumers.
    *
    * Returns (members: vec_id → canon_id, canon: one row per DISTINCT
    * vector keyed by its min vec_id, with e and nrm). The group key is
    * the raw float array itself — exact equality, no hash-collision
    * exposure — and ONE window pass produces both frames: tag every row
    * with min(vec_id) over its vector group, then members is a
    * projection and canon the rows that ARE their own canon. A
    * collect_list spelling (one aggregation row holding every member
    * id) would rebuild the exact hazard this helper removes — a
    * million-clone vector materializes a million-element array in a
    * single aggregation buffer — whereas WindowExec buffers each group
    * through a spillable external sorter, so the duplication degree
    * never has to fit in one task's memory. The tagged frame is
    * checkpointed: both frames and usually both join sides of a pair
    * relation consume it, and at cluster scale it is the stored
    * artifact an exact-dedup stage would have produced anyway. The
    * trade: on a corpus with NO exact duplicates this costs one extra
    * vector shuffle over the map-only direct forms — the duplicate-heavy
    * case is the one that needs the help, and real crawled corpora are
    * duplicate-heavy by construction. */
  def exactVectorGroups(emb: DataFrame): (DataFrame, DataFrame) = {
    val byVec = org.apache.spark.sql.expressions.Window.partitionBy(col("e"))
    // SLIM checkpoints: the tagged frame carries the full vector on
    // EVERY member row, so checkpointing it whole would store a
    // million vector copies for a million-clone group — exactly the
    // artifact blow-up this helper exists to avoid. Instead the
    // window output is held in a spillable TRANSIENT cache just long
    // enough to cut two slim artifacts: members as (vec_id, canon_id)
    // longs only, canon as one (canon_id, e, nrm) row per DISTINCT
    // vector. The window still runs once; the long-lived artifacts are
    // linear in ids + distinct vectors, not members × vector width.
    val tagged = emb
      .select(col("vec_id"), col("e"), col("nrm"))
      .withColumn("canon_id", min(col("vec_id")).over(byVec))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val members = tagged.select(col("vec_id"), col("canon_id"))
      .localCheckpoint()
    val canon = tagged.filter(col("vec_id") === col("canon_id"))
      .select(col("canon_id"), col("e"), col("nrm"))
      .localCheckpoint()
    tagged.unpersist(blocking = false)
    (members, canon)
  }

  /** The STORED form of [[exactVectorGroups]] over the corpus embedding
    * table — the collapse is corpus PREPROCESSING (the very artifact an
    * exact-dedup stage produces), so pay the vector-wide window + two
    * materializations once per corpus snapshot and have every
    * canonical-granularity consumer (semantic/embedding dedup views,
    * keepers, top-m, the block-pruning report) read the two slim parquet
    * halves back. Before r12 each of those queries re-ran the window +
    * localCheckpoints per call — ~0.4 s of pure re-preprocessing at
    * fixture scale, and a full vector shuffle at 100 TB. Callers that
    * collapse a FILTERED frame (embedding decontamination excludes the
    * eval split first) keep the per-call form. */
  def vectorGroupsIndex(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): (DataFrame, DataFrame) =
    // sfDir is in params, so each corpus path keys its own collapse
    // even when two copies' files fingerprint alike
    graft.sources.ArtifactCache.readOrWritePair(spark, "vector-groups",
      sfDir, s"$sfDir/embeddings.parquet")(
      exactVectorGroups(normalizedEmbeddings(spark, sfDir)))
}
