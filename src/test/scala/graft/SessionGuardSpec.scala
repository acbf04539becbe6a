package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One session builder and three mains: every engine-owned entry point
  * and the test suites run under the configuration [[GraftSession]]
  * states, and dev tools are commands of [[Tool]], not mains. */
class SessionGuardSpec extends SparkSpec {

  private def sources(root: String): Seq[Path] = {
    val st = Files.walk(Paths.get(root))
    try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally st.close()
  }

  /** (file name, occurrences of `pattern`) for every file under `root`
    * where it occurs, sorted by name. */
  private def hits(root: String, pattern: scala.util.matching.Regex): Seq[(String, Int)] =
    sources(root).map(p => p.getFileName.toString -> pattern.findAllIn(Files.readString(p)).size)
      .filter(_._2 > 0).sortBy(_._1)

  test("GraftSession holds the only session builder call under src/") {
    // split so that this file does not match itself
    val builder = ("SparkSession" + """\.builder""").r
    assert(hits("src", builder) === Seq("GraftSession.scala" -> 1))
  }

  test("src/main defines a main only in Bench, Verify and Tool") {
    assert(hits("src/main", """def\s+main\s*\(""".r) ===
      Seq("Bench.scala" -> 1, "Tool.scala" -> 1, "Verify.scala" -> 1))
  }

  test("engine parquet reads go through Tables.parquet and its schema memo") {
    // split so that this file does not match itself
    val read = ("spark" + """\.read\.parquet\(""").r
    val engine = Seq("sources", "operators", "streaming")
      .flatMap(d => hits(s"src/main/scala/graft/$d", read))
    // Tables.parquet's inferring read; the classifier's fresh-temp-dir
    // spool (a memo entry per spool would only grow it); Layout's
    // compaction of a caller's directory, read once
    assert(engine.sortBy(_._1) ===
      Seq("Layout.scala" -> 1, "Tables.scala" -> 1, "TextAnalysis.scala" -> 1))
    val spool = Files.readAllLines(
      Paths.get("src/main/scala/graft/operators/TextAnalysis.scala")).asScala
      .filter(l => read.findFirstIn(l).isDefined)
    assert(spool.map(_.trim) === Seq("spark.read.parquet(dir.toString)"))
  }

  test("the test session carries every conf GraftSession sets") {
    assert(spark.sparkContext.master === s"local[${TestSpark.cpus}]")
    GraftSession.confs(TestSpark.cpus).foreach { case (key, value) =>
      assert(spark.conf.get(key) === value, key)
    }
  }
}
