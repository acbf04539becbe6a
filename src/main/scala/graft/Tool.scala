package graft

import org.apache.spark.sql.SparkSession

/** The dev-tool entry point — the analog of the reference master's one
  * interactive menu (`master.cc:455-502`): one main, one command per
  * tool. Builds the [[GraftSession]] once (`SPARK_GRAFT_CPUS` cores,
  * else the command's default), stops it when the command ends, and
  * exits with the command's status: non-zero when a check it runs
  * fails, 2 with the usage text for an unknown command.
  *
  * Usage: runMain graft.Tool <command> [args...]
  */
object Tool {

  /** One command: its name, argument synopsis, default core count and
    * body (the exit status). */
  private final case class Command(name: String, synopsis: String, cpus: Int,
      run: (SparkSession, Array[String]) => Int)

  private val commands: Seq[Command] = Seq(
    Command("status", "[sfDir]", 4, Status.run),
    Command("explain", "<sfDir> <query>[,<query>...]|all [tree|metrics]", 4, Explain.run),
    Command("probe", "<sfDir> <query> [reps]", 32, Probe.run),
    Command("prune-rate", "<dataDir> [threshold] [numBlocks]", 32, PruneRate.run),
    Command("bpe-probe", "<sfDir> [scans] [batch] [window]", 32, BpeProbe.run),
    Command("scrub-probe", "[nDocs] [alsoOld]", 32, ScrubProbe.run),
    Command("sketch-bounds", "[dataDir]", 32, SketchBounds.run),
    Command("scale-up", "<srcSfDir> <outDir> <factor> [skew|longdoc]", 32, ScaleUp.run),
    Command("endurance", "<sfDir> [cycles] [lastclick|docdedup|chunkdedup]", 32,
      StreamEndurance.run))

  private def usage: String =
    commands.map(c => s"  ${c.name} ${c.synopsis}")
      .mkString("usage: graft.Tool <command> [args...]\n", "\n", "")

  def main(args: Array[String]): Unit =
    args.headOption.flatMap(n => commands.find(_.name == n)) match {
      case None =>
        System.err.println(usage)
        sys.exit(2)
      case Some(cmd) =>
        val spark = GraftSession.local(GraftSession.cpus(cmd.cpus), s"graft-${cmd.name}")
        val status = try cmd.run(spark, args.tail) finally spark.stop()
        if (status != 0) sys.exit(status)
    }
}
