package graft

import java.nio.file.Files
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Table sizing: the byte probe behind the scan-parallelism floor and
  * the streaming drains, the floor decision's memo, and the footer
  * schema memo behind every parquet read. */
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

  test("parquet: a table rewritten in place with an added column reads the new schema") {
    val path = s"${tmpDir()}/t.parquet"
    spark.range(10).write.parquet(path)
    assert(Tables.parquet(spark, path).columns.toSeq === Seq("id"))
    val (again, jobs) = jobsOf(Tables.parquet(spark, path).columns.toSeq)
    assert(again === Seq("id") && jobs === 0, s"a memo hit ran $jobs jobs")
    spark.range(10).withColumn("extra", lit("x")).write.mode("overwrite").parquet(path)
    val df = Tables.parquet(spark, path)
    assert(df.columns.toSeq === Seq("id", "extra"))
    assert(df.where(col("extra") === "x").count() === 10)
  }

  test("parquet: a read under another binaryAsString does not reuse the entry") {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    // a plain parquet writer: a Spark-written footer carries its own
    // schema, which binaryAsString does not override
    val path = s"${tmpDir()}/b.parquet"
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new org.apache.hadoop.fs.Path(path), conf))
      .withType(schema).withConf(conf).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq("x", "y", "z").foreach(v => writer.write(rows.newGroup().append("b", v)))
    finally writer.close()
    def bType = Tables.parquet(spark, path).schema("b").dataType
    withConf("spark.sql.parquet.binaryAsString" -> "false") {
      assert(bType === BinaryType)
      assert(bType === BinaryType)
    }
    withConf("spark.sql.parquet.binaryAsString" -> "true") {
      assert(bType === StringType)
    }
    withConf("spark.sql.parquet.binaryAsString" -> "false") {
      assert(bType === BinaryType)
    }
  }

  test("parquet: a partitionBy artifact read through the memo equals an inferring read") {
    val path = s"${tmpDir()}/p.parquet"
    spark.range(100).select(col("id"), (col("id") % 3).as("part"), lit("t").as("tag"))
      .write.partitionBy("part").parquet(path)
    Tables.parquet(spark, path)
    val (memo, jobs) = jobsOf(Tables.parquet(spark, path))
    assert(jobs === 0, s"a memo hit ran $jobs jobs")
    val inferred = spark.read.parquet(path)
    assert(memo.schema === inferred.schema)
    assert(memo.queryExecution.analyzed.canonicalized ==
      inferred.queryExecution.analyzed.canonicalized)
    assert(memo.where(col("part") === 1).count() === inferred.where(col("part") === 1).count())
  }

  test("parquet: the memo holds one entry per path after a rewrite") {
    import scala.jdk.CollectionConverters._
    val dir = tmpDir()
    val path = s"$dir/t.parquet"
    spark.range(5).write.parquet(path)
    Tables.parquet(spark, path)
    spark.range(5).withColumn("y", col("id") * 2).write.mode("overwrite").parquet(path)
    Tables.parquet(spark, path)
    Tables.parquet(spark, path)
    assert(Tables.schemaMemo.keySet.asScala.count(_.startsWith(dir)) === 1)
    assert(Tables.schemaMemo.get(path)._2.fieldNames.toSeq === Seq("id", "y"))
  }
}
