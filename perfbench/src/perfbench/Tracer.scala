package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

/**
 * The traced cycle's recorder: spans opened by the benchmark around each call
 * into a pipeline layer, plus one record per Spark job seen by the listener
 * while the tracer is attached. Everything stays in memory until [[records]]
 * is written out at the end of the run. Self time, driver time and the job-to-span
 * attribution are computed from these raw records by `perfbench/stats.py`.
 *
 * Times are epoch milliseconds. Span edges use a nanoTime offset from one
 * epoch reading, so they share the listener events' clock (`event.time` is
 * the epoch ms at which the scheduler posted the event).
 */
final class Tracer extends SparkListener {
  import Tracer._

  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageToJob = mutable.HashMap.empty[Int, Int]

  /** Run `f` inside a span named `name`, a child of the innermost open span. */
  def span[T](name: String)(f: => T): T = {
    val s = new Span(name, open.headOption.map(_.name), nowMs)
    spans += s
    open = s :: open
    try f
    finally {
      s.end = nowMs
      open = open.tail
    }
  }

  /** Attach a counter to the most recent span called `name`. */
  def count(name: String, counter: String, value: Double): Unit =
    spans.findLast(_.name == name) match {
      case Some(s) => s.counters(counter) = value
      case None => throw new IllegalStateException(s"no span named $name")
    }

  def wallMs(name: String): Double =
    spans.findLast(_.name == name).map(s => s.end - s.start)
      .getOrElse(throw new IllegalStateException(s"no span named $name"))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.jobId, e.time)
    e.stageIds.foreach(stageToJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (id <- stageToJob.get(e.stageId); j <- jobs.get(id)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** The raw records, as plain maps and sequences for the result file. */
  def records: Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.map(s => Map("name" -> s.name, "parent" -> s.parent.orNull,
        "start_ms" -> s.start, "end_ms" -> s.end, "counters" -> s.counters.toMap)).toSeq,
      "jobs" -> jobs.values.map(j => Map("id" -> j.id, "start_ms" -> j.start,
        "end_ms" -> (if (j.end < 0) j.start else j.end), "tasks" -> j.tasks,
        "input_bytes" -> j.inputBytes, "shuffle_bytes" -> j.shuffleBytes,
        "spill_bytes" -> j.spillBytes)).toSeq)
  }
}

object Tracer {
  final class Span(val name: String, val parent: Option[String], val start: Double) {
    var end: Double = Double.NaN
    val counters = mutable.LinkedHashMap.empty[String, Double]
  }

  final class Job(val id: Int, val start: Long) {
    var end: Long = -1L
    var tasks: Long = 0L
    var inputBytes: Long = 0L
    var shuffleBytes: Long = 0L
    var spillBytes: Long = 0L
  }
}
