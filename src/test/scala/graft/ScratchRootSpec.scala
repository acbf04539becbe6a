package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Layout
import graft.sources.{ArtifactCache, Tables}

/** Two graft JVMs started at once on one host, sharing one
  * `java.io.tmpdir`: each keeps its artifacts, text artifact and
  * bucketed table under its own SparkContext's scratch root, and no
  * root outlives its JVM. */
class ScratchRootSpec extends AnyFunSuite {

  private def walk(dir: Path): Seq[Path] = {
    val st = Files.walk(dir)
    try st.iterator().asScala.toList
    finally st.close()
  }

  test("concurrent JVMs keep their scratch roots apart and leave none behind") {
    val tmp = Files.createTempDirectory("scratch-root-spec-")
    try {
      val javaBin = java.nio.file.Paths.get(sys.props("java.home"), "bin", "java").toString
      val args = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      // --add-opens comes as one "--add-opens=x" argument or as a pair
      val addOpens = args.zip(args.drop(1) :+ "").flatMap {
        case (a, _) if a.startsWith("--add-opens=") => Seq(a)
        case ("--add-opens", v) => Seq("--add-opens", v)
        case _ => Nil
      }
      val cmd = Seq(javaBin) ++ addOpens ++ Seq(s"-Djava.io.tmpdir=$tmp",
        s"-Dspark.sql.warehouse.dir=$tmp/warehouse", "-Xmx768m",
        "-cp", sys.props("java.class.path"), "graft.ScratchRootChild", TestSpark.sf)
      val children = (1 to 2).map { i =>
        val log = tmp.resolve(s"child-$i.log").toFile
        val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log)
        // Spark's local dir then defaults to the shared java.io.tmpdir
        pb.environment().remove("SPARK_LOCAL_DIRS")
        (pb.start(), log)
      }
      val outs = children.map { case (p, log) =>
        if (!p.waitFor(300, TimeUnit.SECONDS)) p.destroyForcibly()
        val out = Files.readString(log.toPath)
        assert(p.exitValue() === 0, out)
        def field(tag: String) = out.linesIterator.collectFirst {
          case l if l.startsWith(s"$tag ") => l.drop(tag.length + 1)
        }.getOrElse(fail(s"no $tag line:\n$out"))
        (field("ROOT"), field("ROWS"))
      }
      val roots = outs.map(_._1)
      assert(roots.distinct.size === 2, roots)
      roots.foreach { r =>
        assert(r.startsWith(s"$tmp/"), s"$r is not under the shared tmpdir")
        assert(!new java.io.File(r).exists(), s"$r outlived its JVM")
      }
      assert(outs.map(_._2).distinct.size === 1, outs)
      assert(outs.head._2.split(" ").forall(_.toLong > 0), outs)
      val left = walk(tmp).map(_.getFileName.toString)
        .filter(n => n.startsWith("graft-") || n.startsWith("userFiles-"))
      assert(left.isEmpty, s"left in the shared tmpdir: $left")
    } finally ArtifactCache.deleteRecursively(tmp.toFile)
  }
}

/** One child JVM of [[ScratchRootSpec]]: builds and reads back one
  * artifact of each kind, prints its scratch root and stops. */
object ScratchRootChild {
  def main(args: Array[String]): Unit = {
    val sf = args(0)
    val docs = s"$sf/documents.parquet"
    val spark = GraftSession.local(1, "scratch-root-child")
    try {
      val stored = ArtifactCache.readOrWrite(spark, "scratch-root", "v1", docs)(
        Tables.documents(spark, sf).select("doc_id"))
      val text = ArtifactCache.readOrWriteText(spark, "scratch-root-text", "v1", docs)(
        Tables.documents(spark, sf).select("text"))
      val bucketed = Layout.bucketedTable(spark, "scratchroot", 2, "doc_id", docs)(
        Tables.documents(spark, sf).select("doc_id"))
      println(s"ROWS ${stored.count()} ${text.count()} ${bucketed.count()}")
      println(s"ROOT ${ArtifactCache.root(spark)}")
    } finally spark.stop()
  }
}
