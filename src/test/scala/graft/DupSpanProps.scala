package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import graft.operators.Dedup

/** ScalaCheck properties for the duplicated-span machinery: the Spark
  * operators ([[Dedup.dupSpanScrubOf]], [[Dedup.dupSpanMergeOf]]) are
  * checked against an INDEPENDENT in-memory position-set oracle over
  * random corpora drawn from a tiny vocabulary (so cross-doc 5-gram
  * collisions actually occur). Complements the crafted-fixture specs in
  * DedupSpec and the DuckDB replay with unconstrained inputs. */
object DupSpanProps extends Properties("DupSpans") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8) // each case runs Spark jobs; keep tight

  // neither property shrinks: every shrink step runs Spark jobs, so a
  // shrinking failure took many minutes to report

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val N = 5
  private val word: Gen[String] = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
  private val doc: Gen[String] =
    Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
  private val corpus: Gen[List[String]] =
    Gen.chooseNum(2, 6).flatMap(n => Gen.listOfN(n, doc))

  /** Independent reimplementation: positional n-grams per doc, document
    * frequency over per-doc DISTINCT grams, positions covered by any
    * gram with df > 1 removed, survivors re-joined on single spaces. */
  private def refScrub(docs: List[String]): Map[Long, (Int, Int, String)] = {
    val toks = docs.zipWithIndex.map { case (t, i) =>
      i.toLong -> t.split("[ \n]").filter(_.nonEmpty).toVector
    }
    val grams: Map[Long, Vector[(Int, String)]] = toks.map { case (id, w) =>
      id -> (if (w.size >= N)
        (0 to w.size - N).map(p => p -> w.slice(p, p + N).mkString(" ")).toVector
      else Vector.empty)
    }.toMap
    val df = grams.toList
      .flatMap { case (id, gs) => gs.map(_._2).distinct.map(g => (g, id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    toks.map { case (id, w) =>
      val covered = Array.fill(w.size)(false)
      grams(id).foreach { case (p, g) =>
        if (df.getOrElse(g, 0) > 1) (p until p + N).foreach(covered(_) = true)
      }
      val kept = w.indices.filterNot(covered).map(w)
      id -> ((w.size, covered.count(identity), kept.mkString(" ")))
    }.toMap
  }

  private def sparkScrub(docs: List[String]): Map[Long, (Int, Int, String)] = {
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    Dedup.dupSpanScrubOf(df).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
  }

  property("scrub equals an independent in-memory position-set oracle") =
    Prop.forAllNoShrink(corpus) { docs => sparkScrub(docs) == refScrub(docs) }

  property("merge profile agrees with scrub: dup_tok = n_removed, spans iff removals") =
    Prop.forAllNoShrink(corpus) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val merge = Dedup.dupSpanMergeOf(df).collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
      val scrub = sparkScrub(docs)
      merge.forall { case (id, (nTok, nSpans, dupTok)) =>
        val (sTok, sRem, _) = scrub(id)
        sTok == nTok && sRem.toLong == dupTok && dupTok <= nTok &&
          ((nSpans == 0L) == (dupTok == 0L))
      }
    }
}
