package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Plan-dump helper for the optimization rounds: writes each declared
  * query's `.explain("formatted")` output to `<outDir>/<query>_<tag>.txt`
  * so before/after plan shapes can be committed and diffed.
  *
  * Usage: PlanDump <outDir> <tag> [query ...]   (no queries → all).
  * Same session policy ([[graft.Sessions]]), AQE default and shuffle-width
  * rule as Bench, so the dumped plan is the one the bench actually executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <tag> [query ...]")
    val outDir = args(0)
    val tag = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
      math.min(cpus.toInt, 16).toString)
    val spark = graft.Sessions.local(cpus.toInt, shuffle.toInt,
      sys.env.getOrElse("SPARK_GRAFT_AQE", "false").toBoolean)
    Files.createDirectories(Paths.get(outDir))
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      val txt =
        try graft.SparkEntry.queries(n)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        catch { case t: Throwable => s"PLAN FAILED: $t" }
      Files.writeString(Paths.get(s"$outDir/${n}_$tag.txt"), txt)
      println(s"[plandump] $n -> $outDir/${n}_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
