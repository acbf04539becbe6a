package graft

import java.nio.file.Files
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Table sizing: the byte probe behind the scan-parallelism floor and
  * the streaming drains, and the floor decision's memo. */
class TablesSpec extends SparkSpec {

  private def tmpDir(): String = Files.createTempDirectory("graft-tables").toString

  test("tableBytes: a multi-part parquet directory sizes as the sum of its parts") {
    val dir = tmpDir()
    spark.range(3000).repartition(3).write.parquet(s"$dir/t.parquet")
    val parts = new java.io.File(s"$dir/t.parquet").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts.length === 3)
    assert(Tables.tableBytes(spark, dir, "t") === parts.map(_.length).sum)
  }

  test("tableBytes: a missing table sizes as 0") {
    assert(Tables.tableBytes(spark, tmpDir(), "documents") === 0L)
  }

  test("floored: a table rewritten in place with more data is sized again") {
    val dir = tmpDir()
    def write(files: Int, rows: Int): Unit =
      spark.range(rows).select(col("id").as("doc_id"), lit("some text").as("text"))
        .repartition(files).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def floor: Option[Int] = Tables.floored(spark, dir, "documents")
      .queryExecution.logical.collectFirst { case r: RepartitionByExpression => r.numPartitions }
    write(files = 1, rows = 100)
    assert(floor === Some(2), "one small file scans as one partition: floored to 2")
    write(files = 3, rows = 3000)
    assert(floor === None, "three files already scan as three partitions: no floor")
  }
}
