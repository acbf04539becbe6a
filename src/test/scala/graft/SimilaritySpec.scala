package graft

import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {

  test("embedding decontamination: eval docs absent, flag matches threshold, max is a true max") {
    import org.apache.spark.sql.functions.col
    val rows = Similarity.embeddingDecontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    val docs = graft.sources.Tables.documents(spark, sf)
    val evalIds = docs.filter(col("source") === "src9")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val trainCount = docs.count() - evalIds.size
    assert(rows.length.toLong === trainCount, "one row per train doc")
    assert(rows.forall(r => !evalIds.contains(r._1)), "eval docs must be absent")
    rows.foreach { case (id, m, flag) =>
      assert(m >= -1.0001 && m <= 1.0001, s"doc $id cosine $m out of range")
      assert(flag === (m >= 0.4), s"doc $id flag disagrees with threshold")
    }
    // spot-check one doc's max against a driver-side brute-force replay
    // (same LTR double summation and 4-dp rounding as the engine)
    val emb = graft.sources.Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + a(i).toDouble * b(i).toDouble)
    val probe = rows.head._1
    val pv = emb(probe)
    val best = evalIds.toSeq.map { e =>
      val v = emb(e)
      math.floor(dot(pv, v) / (math.sqrt(dot(pv, pv)) * math.sqrt(dot(v, v)))
        * 1e4 + 0.5) / 1e4
    }.max
    assert(best === rows.head._2, s"doc $probe max cosine replay mismatch")
  }

  test("brute-force top-k: k rows per query, ranks 1..k, cosine descending") {
    val df = Similarity.bruteForceTopK(spark, sf, k = 5, numQueries = 5).collect()
    assert(df.length === 25)
    df.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val ranked = rows.sortBy(_.getInt(3))
      assert(ranked.map(_.getInt(3)).toSeq === (1 to 5))
      val cosines = ranked.map(_.getDouble(2)).toSeq
      assert(cosines === cosines.sorted.reverse, "cosine must be non-increasing in rank")
    }
  }

  test("self never appears as neighbor") {
    val df = Similarity.bruteForceTopK(spark, sf, k = 10, numQueries = 10).collect()
    assert(df.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("kNN join: structure sound, recall vs exact kNN tracks the nprobe dial") {
    val knn = Similarity.knnJoin(spark, sf, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(knn.nonEmpty)
    assert(knn.forall(r => r._1 != r._2), "no self neighbors")
    knn.groupBy(_._1).foreach { case (v, rows) =>
      val ranked = rows.sortBy(_._4)
      assert(ranked.map(_._4).toSeq === (1 to ranked.length), s"vec $v ranks contiguous")
      assert(ranked.length <= 3, s"vec $v at most k rows")
      val cos = ranked.map(_._3).toSeq
      assert(cos === cos.sorted.reverse, s"vec $v cosine non-increasing")
    }
    // recall@3 against the exact kNN (brute force over every vector)
    val n = graft.sources.Tables.embeddings(spark, sf).count().toInt
    val brute = Similarity.bruteForceTopK(spark, sf, k = 3, numQueries = n)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = knn.map(r => (r._1, r._2)).toSet
    val recall = brute.intersect(got).size.toDouble / brute.size
    info(f"kNN-join recall@3 at default nprobe=6, C=ceil(sqrt(500))=23: $recall%.3f")
    // near-uniform corpus (recall tracks the probed-cell fraction, the
    // worst case — clustered real embeddings co-locate true neighbors):
    // measured ~0.63 at 6/23 on the seed-42 fixture; gate with margin.
    // The dial claim: more probes must not lose recall
    assert(recall >= 0.5, s"recall@3 too low: $recall")
    val knn12 = Similarity.knnJoin(spark, sf, k = 3, nprobe = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall12 = brute.intersect(knn12).size.toDouble / brute.size
    assert(recall12 >= recall - 1e-9, s"recall must be monotone in nprobe: $recall12 < $recall")
  }

  test("PQ kNN join: structure sound, shortlist loss vs exact-scored join bounded, recall monotone in shortlist") {
    val knnPq = Similarity.knnJoinPq(spark, sf, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(knnPq.nonEmpty)
    assert(knnPq.forall(r => r._1 != r._2), "no self neighbors")
    knnPq.groupBy(_._1).foreach { case (v, rows) =>
      val ranked = rows.sortBy(_._4)
      assert(ranked.map(_._4).toSeq === (1 to ranked.length), s"vec $v ranks contiguous")
      assert(ranked.length <= 3, s"vec $v at most k rows")
      val cos = ranked.map(_._3).toSeq
      assert(cos === cos.sorted.reverse, s"vec $v cosine non-increasing")
    }
    val got = knnPq.map(r => (r._1, r._2)).toSet
    // vs the exact-scored join over the SAME probes: isolates the PQ
    // shortlist loss (probe recall cancels out). The near-uniform
    // fixture is SDC's worst case — the measured dial (0.40 / 0.57 /
    // 0.77 / 0.95 at shortlist 12 / 24 / 48 / 96) sized the default at
    // 96; gate at 0.9 so a scoring regression is visible
    val exactJoin = Similarity.knnJoin(spark, sf, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val vsExactJoin = exactJoin.intersect(got).size.toDouble / exactJoin.size
    info(f"PQ kNN-join recall@3 vs exact-scored join (default shortlist): $vsExactJoin%.3f")
    assert(vsExactJoin >= 0.9, s"PQ shortlist loss too high: $vsExactJoin")
    // a SHALLOW shortlist must still behave (structure + the measured
    // floor band), and the deep default must not fall below it —
    // recall is monotone in shortlist (exact rerank of a candidate
    // SUPERSET, consistent tie-breaks)
    val shallow = Similarity.knnJoinPq(spark, sf, k = 3, shortlist = 24)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val vsExactShallow = exactJoin.intersect(shallow).size.toDouble / exactJoin.size
    info(f"PQ kNN-join recall@3 at shortlist=24: $vsExactShallow%.3f")
    assert(vsExactJoin >= vsExactShallow - 1e-9,
      s"recall must be monotone in shortlist: $vsExactJoin < $vsExactShallow")
    // vs the TRUE exact kNN (brute force over every vector): compounds
    // probe recall (the knnJoin dial, ~0.63 here) with shortlist recall
    val n = graft.sources.Tables.embeddings(spark, sf).count().toInt
    val brute = Similarity.bruteForceTopK(spark, sf, k = 3, numQueries = n)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val vsBrute = brute.intersect(got).size.toDouble / brute.size
    info(f"PQ kNN-join recall@3 vs true exact kNN: $vsBrute%.3f")
    assert(vsBrute >= 0.5, s"recall@3 too low: $vsBrute")
  }

  test("heap kNN join equals the window form row for row") {
    // identical semantics by contract (same probes, scoring, tie rule)
    // — only the physical top-k strategy differs, so any divergence is
    // a bug in the bounded-heap aggregator (ordering, early-reject, or
    // merge), caught here at fixture scale before the shared oracle
    val window = Similarity.knnJoin(spark, sf).collect().map(_.toString).toSeq
    val heap = Similarity.knnJoinHeap(spark, sf).collect().map(_.toString).toSeq
    assert(window.nonEmpty)
    assert(heap === window)
  }

  test("LSH top-k recall vs brute force is at least 0.7") {
    val brute = Similarity.bruteForceTopK(spark, sf, k = 10, numQueries = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(spark, sf, k = 10, numQueries = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    // this synthetic corpus is near-uniform (top-10 neighbors at cosine
    // ~0.35-0.5), the worst case for SRP-LSH; 16 bands x 4 bits of 64
    // planes is sized for recall >= 0.8 here (measured ~0.85 on the
    // seed-42 sf0.01 fixture; the gate keeps a margin because the bound
    // 1-(1-p^4)^16 sits near 0.8 at p~0.61 and is corpus-dependent)
    assert(recall >= 0.7, s"LSH recall below target: $recall")
  }

  test("IVF top-k with trained centroids: recall vs brute force at least 0.9") {
    val brute = Similarity.bruteForceTopK(spark, sf, k = 10, numQueries = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(spark, sf, k = 10, numQueries = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"IVF recall below target: $recall")
  }

  test("lloyd k-means golden: hand-computed assignment, qavg means, fixed point") {
    // The DuckDB oracle REPLAYS this training loop (same seeds, same
    // rd(cosine,6) ranking, same qavg means), so a shared algorithmic
    // bug would replay cleanly — this fixture pins the semantics by
    // hand. Seeds = v0 (1,0), v1 (0,1); v2 (0.75,0.25) has cosine
    // 0.75/sqrt(0.625) = 0.948683 to c0 vs 0.316228 to c1 -> c0, and
    // v3 mirrors to c1. qavg means (exact in 1e-6 units): c0 =
    // [(1+0.75)/2, (0+0.25)/2] = [0.875, 0.125], c1 = [0.125, 0.875].
    // Iteration 2 reassigns identically, so these centroids are a
    // FIXED POINT of the loop.
    import graft.functions.VectorOps
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.75f, 0.25f)), (3L, Array(0.25f, 0.75f)))
      .toDF("vec_id", "e")
      .withColumn("nrm", VectorOps.l2Norm(col("e")))
    val cent = Similarity.lloydTrainOf(emb, 2, 2).orderBy("cent_id").collect()
    assert(cent.map(_.getLong(0)).toSeq === Seq(0L, 1L))
    assert(cent(0).getSeq[Double](1) === Seq(0.875, 0.125))
    assert(cent(1).getSeq[Double](1) === Seq(0.125, 0.875))
    // n_cent = sqrt(0.875^2 + 0.125^2) = sqrt(0.78125)
    assert(math.abs(cent(0).getDouble(2) - math.sqrt(0.78125)) < 1e-12)
    assert(math.abs(cent(1).getDouble(2) - math.sqrt(0.78125)) < 1e-12)
  }

  test("trained centroids are deterministic and improve within-cluster fit") {
    val c1 = Similarity.trainedCentroids(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    val c2 = Similarity.trainedCentroids(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    assert(c1 === c2, "k-means training must be deterministic")
    assert(c1.nonEmpty && c1.size <= 16)
    // trained centroids differ from the raw seed vectors (training moved them)
    val seeds = graft.functions.VectorOps.normalizedEmbeddings(spark, sf)
      .filter(org.apache.spark.sql.functions.col("vec_id") < 16)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq)).toMap
    assert(c1.exists { case (id, v) => seeds.get(id).exists(_ != v) })
  }

  test("ANN indexes persist: signature/centroid/assignment artifacts are reused on disk") {
    import org.apache.spark.sql.functions.col
    // first access writes the artifacts into the session cache location
    val sig1 = Similarity.signatureIndex(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val asg1 = Similarity.assignmentIndex(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val cacheRoot = new java.io.File(graft.sources.ArtifactCache.root(spark))
    val dirs = cacheRoot.listFiles().map(_.getName).toSet
    assert(dirs.exists(_.startsWith("srp-sig-")), "signature index on disk")
    assert(dirs.exists(_.startsWith("ivf-centroids-")), "centroid index on disk")
    assert(dirs.exists(_.startsWith("ivf-assign-")), "assignment index on disk")
    // second access serves identical content from the stored artifact
    val sig2 = Similarity.signatureIndex(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sig2 === sig1)
    val asg2 = Similarity.assignmentIndex(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(asg2 === asg1)
    // the assignment index matches a live assignment against the stored centroids
    assert(asg1.keySet.size === Similarity.signatureIndex(spark, sf).count())
    assert(asg1.values.toSet.subsetOf(
      Similarity.centroidIndex(spark, sf).select(col("cent_id"))
        .collect().map(_.getLong(0)).toSet))
  }

  test("signatures are deterministic 64-bit words") {
    val sigs = Similarity.signatures(spark, sf).select("vec_id", "sig")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val again = Similarity.signatures(spark, sf).select("vec_id", "sig")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sigs === again)
    assert(sigs.values.toSet.size > 1, "signatures should not collapse to one value")
  }

  test("PQ codes: 8 codes per vector, stable across calls, nrm_hat positive") {
    val codes = Similarity.pqCodesIndex(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getDouble(2)))
    val nVecs = graft.functions.VectorOps.normalizedEmbeddings(spark, sf).count()
    assert(codes.length.toLong === nVecs)
    codes.foreach { case (_, cs, nh) =>
      assert(cs.length === 8, "one code per subspace")
      assert(cs.forall(c => c >= 0 && c < 16), "codes within codebook range")
      assert(nh > 0.0, "reconstructed norm positive")
    }
    val again = Similarity.pqCodesIndex(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getDouble(2)))
    assert(codes.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
  }

  test("PQ ADC top-k: shape, determinism, recall vs brute force") {
    val pq = Similarity.pqTopK(spark, sf, k = 10, numQueries = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(pq.map(_._1).distinct.length === 20)
    pq.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._4).sorted.toSeq === (1 to 10).toSeq, s"query $q ranks")
      assert(!rows.exists(_._2 == q), "self excluded")
      val byRank = rows.sortBy(_._4).map(_._3)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"query $q approx_cos must be non-increasing")
    }
    val brute = Similarity.bruteForceTopK(spark, sf, k = 10, numQueries = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(pq.map(t => (t._1, t._2)).toSet).size.toDouble / brute.size
    info(s"PQ recall@10 = $recall")
    assert(recall >= 0.3, s"PQ recall collapsed: $recall")
  }

  test("PQ rerank top-k: exact cosines, recall vs brute force well above pure ADC") {
    val brute = Similarity.bruteForceTopK(spark, sf, k = 10, numQueries = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val rr = Similarity.pqRerankTopK(spark, sf, k = 10, shortlist = 50, numQueries = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val recall = brute.map(t => (t._1, t._2)).toSet
      .intersect(rr.map(t => (t._1, t._2)).toSet).size.toDouble / brute.size
    info(s"PQ rerank recall@10 = $recall")
    assert(recall >= 0.6, s"PQ rerank recall below target: $recall")
    // reranked cosines are EXACT: any (query, neighbor) also in the brute
    // top-10 must carry the identical rounded cosine
    val bruteCos = brute.map(t => (t._1, t._2) -> t._3).toMap
    rr.foreach { case (q, n, cos) =>
      bruteCos.get((q, n)).foreach(bc => assert(bc === cos, s"($q,$n) cosine mismatch"))
    }
  }

  test("IVFPQ top-k: neighbors confined to probed cells, ADC scores agree with pure PQ") {
    val ivfpq = Similarity.ivfPqTopK(spark, sf, k = 10, numQueries = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(ivfpq.map(_._1).distinct.length === 20)
    ivfpq.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._4).sorted.toSeq === (1 to 10).toSeq, s"query $q ranks")
      assert(!rows.exists(_._2 == q), "self excluded")
      val byRank = rows.sortBy(_._4).map(_._3)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"query $q approx_cos must be non-increasing")
    }
    // ADC consistency: scoring reads the same codes + LUTs as pqTopK, so
    // for any (query, neighbor) pair both queries return, values match
    val pq = Similarity.pqTopK(spark, sf, k = 10, numQueries = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    ivfpq.foreach { case (q, n, cos, _) =>
      pq.get((q, n)).foreach(pc => assert(pc === cos, s"($q,$n) ADC mismatch"))
    }
    // probe containment: recompute each query's nprobe=8 cells on the
    // driver from the stored centroid index (same rounded-cosine rule,
    // ties to lower cent_id); every neighbor must sit in a probed cell
    val cents = Similarity.centroidIndex(spark, sf).collect()
      .map(r => (r.getLong(r.fieldIndex("cent_id")),
        r.getSeq[Double](r.fieldIndex("e_cent")).toArray,
        r.getDouble(r.fieldIndex("n_cent"))))
    val embById = graft.sources.Tables.embeddings(spark, sf)
      .filter(org.apache.spark.sql.functions.col("vec_id") < 20).collect()
      .map(r => r.getLong(r.fieldIndex("vec_id")) ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray).toMap
    val cellOf = Similarity.assignmentIndex(spark, sf).collect()
      .map(r => r.getLong(r.fieldIndex("vec_id")) ->
        r.getLong(r.fieldIndex("cluster"))).toMap
    def rd6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val probesOf = embById.map { case (qid, e) =>
      val nq = math.sqrt(e.map(x => x * x).sum)
      qid -> cents.map { case (cid, ce, cn) =>
        val dp = e.indices.map(i => e(i) * ce(i)).sum
        (cid, rd6(dp / (nq * cn)))
      }.sortBy { case (cid, cs) => (-cs, cid) }.take(8).map(_._1).toSet
    }
    ivfpq.foreach { case (q, n, _, _) =>
      assert(probesOf(q).contains(cellOf(n)), s"neighbor $n of query $q outside probed cells")
    }
    // recall vs brute force: probe misses × quantization distortion — a
    // floor below pure PQ's 0.3 reflects the nprobe=8/16 coarse stage
    val brute = Similarity.bruteForceTopK(spark, sf, k = 10, numQueries = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(ivfpq.map(t => (t._1, t._2)).toSet).size.toDouble / brute.size
    info(s"IVFPQ recall@10 = $recall")
    assert(recall >= 0.2, s"IVFPQ recall collapsed: $recall")
  }

  test("IVFPQ rerank: exact cosines, recall between pure IVFPQ and full-corpus rerank") {
    val brute = Similarity.bruteForceTopK(spark, sf, k = 10, numQueries = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val rr = Similarity.ivfPqRerankTopK(spark, sf, k = 10, shortlist = 50, numQueries = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val bruteKeys = brute.map(t => (t._1, t._2)).toSet
    val recall = bruteKeys.intersect(rr.map(t => (t._1, t._2)).toSet).size.toDouble / bruteKeys.size
    info(s"IVFPQ rerank recall@10 = $recall")
    // reranking a 50-deep IVFADC shortlist must beat raw IVFPQ@10
    // (0.355 measured) and can't beat its own probe stage's ceiling
    assert(recall >= 0.4, s"IVFPQ rerank recall below target: $recall")
    // reranked cosines are EXACT: any pair also in the brute top-10
    // must carry the identical rounded cosine
    val bruteCos = brute.map(t => (t._1, t._2) -> t._3).toMap
    rr.foreach { case (q, n, cos) =>
      bruteCos.get((q, n)).foreach(bc => assert(bc === cos, s"($q,$n) cosine mismatch"))
    }
    // the shortlist really is IVFPQ's: every reranked neighbor appears
    // in the ADC shortlist for its query
    val short = Similarity.ivfPqTopK(spark, sf, k = 50, numQueries = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    rr.foreach { case (q, n, _) =>
      assert(short.contains((q, n)), s"($q,$n) not in the IVFPQ shortlist")
    }
  }

  test("cluster-balanced sample: at most k per cell, deterministic, membership honest") {
    val k = 5
    val rows = Similarity.clusterBalancedSample(spark, sf, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(rows.nonEmpty)
    assert(rows.map(_._2).distinct.length === rows.length, "a vector sampled once")
    val asg = Similarity.assignmentIndex(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (c, v, _) => assert(asg(v) === c, s"vec $v not in cell $c") }
    rows.groupBy(_._1).foreach { case (c, members) =>
      assert(members.length <= k, s"cell $c oversampled")
      assert(members.map(_._3).sorted.toSeq === (1 to members.length).toSeq)
      // a cell with at least k members must yield exactly k
      val cellSize = asg.count(_._2 == c)
      if (cellSize >= k) assert(members.length === k, s"cell $c undersampled")
    }
    val again = Similarity.clusterBalancedSample(spark, sf, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(rows.toSeq === again.toSeq, "sample must be a pure function of the seed")
  }

  test("prototypicality: one row per vector, ranks a permutation per cell, ordered by cosine") {
    val rows = Similarity.prototypicality(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val nVecs = graft.functions.VectorOps.normalizedEmbeddings(spark, sf).count()
    assert(rows.length.toLong === nVecs, "every vector gets a score")
    assert(rows.map(_._1).distinct.length === rows.length)
    // membership agrees with the stored assignment index
    val asg = Similarity.assignmentIndex(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (v, c, _, _) => assert(asg(v) === c) }
    rows.groupBy(_._2).foreach { case (c, members) =>
      val byRank = members.sortBy(_._4)
      assert(byRank.map(_._4).toSeq === (1 to members.length).toSeq,
        s"cell $c ranks must be a permutation")
      // rank order = (proto_cos desc, vec_id asc)
      val expected = members.sortBy(m => (-m._3, m._1)).map(_._1).toSeq
      assert(byRank.map(_._1).toSeq === expected, s"cell $c misordered")
    }
  }

  test("recall curve: monotone in nprobe, exact 1.0 when every cell is probed") {
    val out = Similarity.recallCurve(spark, sf).collect()
      .map(r => (r.getInt(0), r.getDouble(1)))
    assert(out.map(_._1).toSeq === (1 to 16))
    out.foreach { case (np, r) => assert(r >= 0.0 && r <= 1.0, s"nprobe $np") }
    out.map(_._2).toSeq.sliding(2).foreach { w =>
      assert(w.head <= w.last, "recall must not fall as more cells are probed")
    }
    assert(out.last._2 === 1.0, "probing all cells is exact search")
    assert(out.head._2 < 1.0, "one cell must miss on this near-uniform corpus")
  }

  test("index health: one row per centroid, symmetric-input argmax, cosines in range") {
    val out = Similarity.indexHealth(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val cent = Similarity.centroidIndex(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    assert(out.map(_._1).toSet === cent.keySet, "one row per trained centroid")
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val raw = d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      math.floor(raw * 1e6 + 0.5) / 1e6
    }
    out.foreach { case (cid, nid, c) =>
      assert(cid !== nid)
      assert(c >= -1.0 && c <= 1.0)
      val best = cent.keys.filter(_ != cid)
        .map(o => (o, cos(cent(cid), cent(o))))
        .minBy { case (o, s) => (-s, o) }
      assert(best._1 === nid, s"centroid $cid nearest")
      assert(best._2 === c, s"centroid $cid cosine")
    }
  }

  test("incremental assign: covers exactly the delta; every row is argmax-optimal") {
    val out = Similarity.incrementalAssign(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val emb = graft.functions.VectorOps.normalizedEmbeddings(spark, sf)
      .select("vec_id", "e").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val odd = emb.keySet.filter(_ % 2 == 1)
    assert(out.map(_._1).toSet === odd, "one row per delta vector")
    // the stored prior-snapshot quantizer (read back, not retrained)
    val cent = graft.sources.ArtifactCache.readOrWrite(spark, "ivf-centroids-prior",
      s"$sf|16|2", s"$sf/embeddings.parquet")(
      sys.error("artifact must already exist from the query run"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val q6 = d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      math.floor(q6 * 1e6 + 0.5) / 1e6
    }
    out.foreach { case (vid, cluster, sim) =>
      val scored = cent.toSeq.map { case (cid, cv) => (cid, cos(emb(vid), cv)) }
      val best = scored.minBy { case (cid, s) => (-s, cid) }
      assert(best._1 === cluster, s"vec $vid cluster")
      assert(best._2 === sim, s"vec $vid sim")
    }
  }

  test("index drift trigger: fires on a shifted arrival batch, stays quiet on an i.i.d. one") {
    // a clustered synthetic corpus where "drift" has an unambiguous
    // meaning: 4 well-separated basis-direction centers with
    // hash-seeded jitter. An i.i.d. batch (same generator, new ids)
    // must land inside the held-out reference corridor; a batch from a
    // direction the quantizer never saw (the diagonal) must exceed the
    // threshold many-fold.
    import graft.functions.VectorOps
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dim = 8
    def jit(id: Long, i: Int): Float = {
      val h = (id * 1315423911L + i * 2654435761L) & 0xffffL
      (((h.toDouble / 0xffff.toDouble) - 0.5) * 0.2).toFloat
    }
    def vec(id: Long): Array[Float] =
      Array.tabulate(dim)(i =>
        (if (i == (id % 4).toInt) 1.0f else 0.0f) + jit(id, i))
    def mk(rows: Seq[(Long, Array[Float])]) =
      rows.toDF("vec_id", "e").withColumn("nrm", VectorOps.l2Norm(col("e")))
    val prior = mk((0L until 400L).map(id => id -> vec(id)))
    // live quantizer over the whole prior snapshot; reference profile
    // from a twin trained on the even half scoring the held-out odd
    // half — the out-of-sample corridor indexDrift stores at train time
    // contiguous half-split (NOT parity: the lowest-4-ids seeding rule
    // must see all four clusters in the twin's half, and even ids only
    // cover clusters 0 and 2 under the id%4 generator)
    val live = Similarity.lloydTrainPrior(prior, 4, 2)
    val twin = Similarity.lloydTrainPrior(
      prior.filter(col("vec_id") < 200), 4, 2)
    val ref = Similarity.errProfile(
      prior.filter(col("vec_id") >= 200), twin, "n_ref", "ref_err")
    val iid = mk((1000L until 1200L).map(id => id -> vec(id)))
    val shifted = mk((2000L until 2200L).map(id =>
      id -> Array.tabulate(dim)(i => 0.5f + jit(id, i))))
    def verdict(batch: org.apache.spark.sql.DataFrame) = {
      val r = Similarity.indexDriftFrom(ref, batch, live,
        maxRelDrift = 0.2).collect()
      assert(r.length === 1)
      (r.head.getAs[Double]("rel_drift"), r.head.getAs[Boolean]("retrain"))
    }
    val (dQuiet, fQuiet) = verdict(iid)
    val (dFire, fFire) = verdict(shifted)
    assert(!fQuiet, s"i.i.d. batch must stay quiet (rel_drift $dQuiet)")
    assert(fFire, s"shifted batch must fire (rel_drift $dFire)")
    assert(math.abs(dQuiet) < 0.2, s"i.i.d. corridor too wide: $dQuiet")
    assert(dFire > 1.0,
      s"a wholesale distribution shift should exceed the threshold many-fold, got $dFire")
  }
}
