package graft

import org.apache.spark.sql.functions._
import graft.sources.ArtifactCache

/** Query construction after the first read of a table or artifact
  * starts no Spark job: the parquet footer schema comes from the
  * memo behind `Tables.parquet`, so the jobs of a query are its
  * execution's own. */
class ConstructionJobsSpec extends SparkSpec {

  /** Jobs started by the SECOND call of `build` (the first may infer
    * schemas or write artifacts). */
  private def secondBuildJobs(build: => Any): Int = {
    build
    jobsOf(build)._2
  }

  test("word-count queries construct with no Spark job") {
    Seq("wordcount_topk", "wordcount_full", "wordcount_textfile", "letter_buckets").foreach { q =>
      assert(secondBuildJobs(SparkEntry.queries(q)(spark, sf)) === 0, q)
    }
  }

  test("stream_tumbling's events source constructs with no Spark job") {
    assert(secondBuildJobs(graft.streaming.EventStream.corpusEventsSource(spark, sf)) === 0)
  }

  test("a stored artifact's readOrWrite constructs with no Spark job") {
    def artifact = ArtifactCache.readOrWrite(spark, "construction-jobs-spec", "v1",
      s"$sf/documents.parquet")(spark.range(20).select(col("id"), (col("id") % 4).as("k")))
    assert(secondBuildJobs(artifact) === 0)
    assert(artifact.count() === 20)
  }
}
