package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Stage-level profiler for one declared query (optimization rounds):
  * warms the query up, resets derived caches, runs it ONCE under a
  * SparkListener, and prints every stage's wall time, task count, and
  * name — the local-mode stand-in for the Spark UI's stage table.
  *
  * Usage: StageProf <query> [query ...]
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StageProf <query> [...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "16").toInt, aqe = false)

    final case class St(id: Int, name: String, tasks: Int,
                        submitted: Long, completed: Long)
    val stages = mutable.ArrayBuffer.empty[St]
    val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val jobStart = mutable.Map.empty[Int, Long]
    var enabled = false
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (enabled) {
          val i = e.stageInfo
          stages += St(i.stageId, i.name, i.numTasks,
            i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
        }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (enabled) jobStart(e.jobId) = e.time
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (enabled)
          jobs += ((e.jobId, jobStart.getOrElse(e.jobId, 0L), e.time))
    }
    spark.sparkContext.addSparkListener(listener)

    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    for (q <- args) {
      val fn = graft.SparkEntry.queries(q)
      val df = fn(spark, sfDir)
      run(df) // warmup (materializes input tables)
      run(df)
      graft.coverage.LlmOpQueries.resetDerivedCaches()
      stages.clear(); jobs.clear(); jobStart.clear()
      enabled = true
      val t0 = System.nanoTime()
      run(df)
      val wall = (System.nanoTime() - t0) / 1e9
      enabled = false
      // listener bus is async; give it a moment to drain
      Thread.sleep(500)
      println(s"════ $q wall=${f"$wall%.3f"}s jobs=${jobs.size} stages=${stages.size} " +
        s"stage_wall_sum=${f"${stages.map(s => s.completed - s.submitted).sum / 1e3}%.3f"}s")
      jobs.sortBy(_._2).foreach { case (id, s, e) =>
        println(f"  job $id%3d ${(e - s) / 1e3}%7.3f s")
      }
      stages.sortBy(s => -(s.completed - s.submitted)).take(30).foreach { s =>
        println(f"  stage ${s.id}%4d ${(s.completed - s.submitted) / 1e3}%7.3f s " +
          f"tasks=${s.tasks}%3d  ${s.name.take(110)}")
      }
    }
    spark.stop()
  }
}
