package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ingest.RawLoader
import graft.model.LogisticsEvent
import graft.models.Warehouse
import graft.pipeline.Pipeline
import graft.pipeline.Pipeline.RunResult
import graft.quality.{DbtStyleTests, DqChecks}
import graft.serve.{ConnectServe, DashboardQueries => D}
import graft.sources.EventGenerator
import graft.streaming.EventStreamIngest

/** The one place the benchmark pins its engine session and load shape; all of
  * it is stamped into every result. */
object Settings {
  val nproc: Int = Runtime.getRuntime.availableProcessors
  val shufflePartitions = 8
  val aqe = true
  /** Dashboard clients. Each page load opens its own connection, as the
    * reference dashboards do on every rerun; the two pages load in turn. */
  val clients = 1

  val conf: Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$nproc]",
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.adaptive.enabled" -> aqe.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // ConnectServe.start(readOnly = true) requires the ReadOnlyGuard rule
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.ui.enabled" -> "false")

  def session(): SparkSession =
    conf.foldLeft(SparkSession.builder().appName("perfbench")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()

  def loadavg1: Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
    catch { case NonFatal(_) => Double.NaN }

  def stamp: Map[String, Any] = Map(
    "conf" -> conf.toMap, "nproc" -> nproc, "clients" -> clients,
    "loadavg1" -> loadavg1)
}

/**
 * One workload's landing shape. Every event is generated by
 * `EventGenerator.events`; `baseEvents` are drained and loaded into raw
 * before timing starts, then each cycle lands `newEvents` fresh events plus
 * `redelivered` copies of base events in `newFiles` flat parquet files.
 */
final case class Workload(name: String, baseEvents: Long, baseFiles: Int,
                          newEvents: Long, newFiles: Int, redelivered: Long)

object Workload {
  val all: Seq[Workload] = Seq(
    // the hourly steady state: a 5 % delta in 20 small files, plus 5 % of
    // it redelivered, over an existing raw table
    Workload("hourly_incremental", baseEvents = 10000, baseFiles = 4,
      newEvents = 500, newFiles = 20, redelivered = 25),
    // the same raw size, all of it new, in few large files: the first-run
    // path of RawLoader.load (no anti-join)
    Workload("backfill_full", baseEvents = 0, baseFiles = 0,
      newEvents = 10000, newFiles = 4, redelivered = 0))

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name (known: ${all.map(_.name).mkString(", ")})"))
}

/** The eight published dashboard views, in the order the two pages read them. */
object Views {
  val kpiPage: Seq[(String, Warehouse => DataFrame)] = Seq(
    "dash_carrier_performance" -> D.carrierPerformance,
    "dash_active_shipments" -> D.activeShipments,
    "dash_weight_distribution" -> D.weightDistribution,
    "dash_events_by_status" -> D.eventsByStatus)
  val monitoringPage: Seq[(String, Warehouse => DataFrame)] = Seq(
    "dash_headline_kpis" -> D.headlineKpis,
    "dash_ingestion_trend" -> D.ingestionTrend,
    "dash_dq_issues" -> D.dqIssues,
    "dash_recent_raw" -> D.recentRaw)
  val all: Seq[(String, Warehouse => DataFrame)] = kpiPage ++ monitoringPage

  def short(view: String): String = view.stripPrefix("dash_")

  type Table = (Seq[String], Seq[Seq[String]])

  /** Rows in a form both read paths agree on. `dash_recent_raw` keeps its
    * ordering column only: it is a top-20 by `ingestion_timestamp`, and every
    * row one load writes carries the same timestamp, so which 20 rows win the
    * tie is up to the engine. The other views are compared as row multisets. */
  def canonical(view: String, t: Table): Table = {
    val (cols, rows) = t
    if (view == "dash_recent_raw") {
      val i = cols.indexOf("ingestion_timestamp")
      (Seq("ingestion_timestamp"), rows.map(r => Seq(r(i))).sortBy(_.mkString("\u0001")))
    } else (cols, rows.sortBy(_.mkString("\u0001")))
  }

  def inProcess(df: DataFrame): Table =
    (df.columns.toSeq, df.collect().toSeq.map(r =>
      (0 until r.length).map(i => String.valueOf(r.get(i)))))
}

/** What one cycle did: timings in seconds and milliseconds, plus its result. */
final case class Cycle(runS: Double, publishS: Double, refreshS: Double,
                       freshnessS: Double, runCpuS: Double, cycleCpuS: Double,
                       queryMs: Seq[(String, Double)],
                       inProcessMs: Seq[(String, Double)], result: RunResult) {
  def json: Map[String, Any] = Map(
    "run_s" -> runS, "publish_s" -> publishS, "refresh_s" -> refreshS,
    "freshness_s" -> freshnessS, "run_cpu_s" -> runCpuS,
    "cycle_cpu_s" -> cycleCpuS, "query_ms" -> queryMs.toMap,
    "new_raw_rows" -> result.newRawRows,
    "tests" -> result.testResults.size,
    "tests_failed" -> result.testResults.count(!_.passed))
}

final class PipelineBench(spark: SparkSession, wl: Workload, seed: Long,
                          work: File, port: Int) {
  private val inputsBase = new File(work, "inputs/base")
  private val inputsNew = new File(work, "inputs/new")
  private val live = new File(work, "live")
  private val snap = new File(work, "snap")
  private def liveDir(n: String) = new File(live, n).getAbsolutePath
  private val landing = liveDir("landing")
  private val bronze = liveDir("bronze")
  private val ckpt = liveDir("ckpt")
  private val raw = liveDir("raw")

  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  var expectedNew = -1L
  var expectedRaw = -1L

  private def fail(msg: String): Unit = { failed += 1; errors += msg }

  // ------------------------------------------------------------- inputs

  private val baseStart = Instant.parse("2026-02-23T08:00:00Z")
  private def iso(i: Instant) =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'+00:00'")
      .withZone(java.time.ZoneOffset.UTC).format(i)

  /** Write `df` as exactly the parquet files of `n` hash partitions, flat in
    * `dir`: the file stream source does not list subdirectories. */
  private def writeFlat(df: DataFrame, n: Int, dir: File, tag: String): Unit = {
    val tmp = new File(dir.getParentFile, dir.getName + ".tmp")
    df.repartition(n, col("event_id")).write.mode("overwrite").parquet(tmp.getPath)
    dir.mkdirs()
    val parts = tmp.listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).sortBy(_.getName)
    require(parts.length == n, s"$tag: expected $n files, got ${parts.length}")
    parts.zipWithIndex.foreach { case (f, i) =>
      Files.move(f.toPath, new File(dir, f"$tag-$seed-$i%03d.parquet").toPath)
    }
    deleteTree(tmp)
  }

  /** Generate the seeded inputs and build the base state (untimed per
    * cycle: every cycle starts from a copy of it). */
  def prepare(): Unit = {
    deleteTree(work)
    val newSeed = if (wl.baseEvents > 0) seed + 7919L else seed
    val newStart = iso(baseStart.plusSeconds(wl.baseEvents))
    if (wl.baseEvents > 0)
      writeFlat(EventGenerator.events(spark, wl.baseEvents, seed, iso(baseStart)),
        wl.baseFiles, inputsBase, "base")
    // redelivered events: the first `redelivered` base events, byte-identical
    // (same seed, same start, same ids)
    val fresh = EventGenerator.events(spark, wl.newEvents, newSeed, newStart)
    val landed =
      if (wl.redelivered > 0)
        fresh.union(EventGenerator.events(spark, wl.redelivered, seed, iso(baseStart)))
      else fresh
    writeFlat(landed, wl.newFiles, inputsNew, "new")

    // fresh ids are md5-derived from a seed no base event uses, so every
    // fresh event is new and every redelivered one is already in raw
    expectedNew = wl.newEvents

    deleteTree(live)
    Seq("landing", "bronze", "ckpt", "raw").foreach(n => new File(live, n).mkdirs())
    val baseRaw =
      if (wl.baseEvents > 0) {
        copyFlat(inputsBase, new File(landing))
        drain()
        RawLoader.load(spark, bronze, raw)
      } else 0L
    expectedRaw = baseRaw + expectedNew
    copyTree(live.toPath, snap.toPath)
  }

  private def drain(): org.apache.spark.sql.streaming.StreamingQuery = {
    val q = EventStreamIngest.bronzeSink(
      EventStreamIngest.fromFiles(spark, landing), bronze, ckpt)
    if (!q.awaitTermination(600000)) {
      q.stop()
      throw new IllegalStateException("bronze drain did not finish within 600s")
    }
    q
  }

  /** Restore the identical on-disk base state and land the cycle's files. */
  private def restore(): Unit = {
    deleteTree(live)
    copyTree(snap.toPath, live.toPath)
    copyFlat(inputsNew, new File(landing))
  }

  // ------------------------------------------------------------- cycle

  /** `Pipeline.run`'s stages called one by one, in its order, each in a span. */
  private def stagedRun(tr: Tracer): RunResult = {
    val q = tr.span("streaming.drain")(drain())
    val progress = q.recentProgress
    tr.count("streaming.drain", "batches", progress.count(_.numInputRows > 0))
    tr.count("streaming.drain", "rows", progress.map(_.numInputRows).sum)
    val newRows = tr.span("ingest.load")(RawLoader.load(spark, bronze, raw))
    val (rawDf, dq) = tr.span("quality.dq") {
      val r = spark.read.schema(LogisticsEvent.rawSchema).parquet(raw)
      (r, DqChecks.runAll(r))
    }
    val w = tr.span("models.define") {
      val w = Warehouse.fromRaw(rawDf, cacheShared = true)
      w.registerViews()
      w
    }
    val tests = tr.span("quality.tests")(DbtStyleTests.suite(w))
    RunResult(newRows, dq, w, tests)
  }

  private def within[T](tr: Option[Tracer], name: String)(f: => T): T =
    tr.fold(f)(_.span(name)(f))

  private def loadPage(views: Seq[String], tr: Option[Tracer])
      : Seq[(String, Double, Views.Table)] =
    ConnectServe.withConnection(port) { conn =>
      views.map { v =>
        val t0 = System.nanoTime()
        val t = within(tr, s"serve.query.${Views.short(v)}") {
          ConnectServe.querySeq(conn, s"SELECT * FROM global_temp.$v")
        }
        (v, (System.nanoTime() - t0) / 1e6, t)
      }
    }

  def startServer(): Unit = ConnectServe.start(spark, port)

  /** CPU time of every thread of this process: Spark tasks, the driver, the
    * Connect server, JIT and GC. Other tenants of the host do not add to it. */
  private def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Land, run, publish and read every view once; then check the outputs.
    * A traced cycle also compares every view read over Connect with the
    * in-process `DashboardQueries` result, timing the latter for `wire_ms`. */
  def cycle(tr: Option[Tracer] = None): Cycle = {
    restore()
    val c0 = cpuNanos()
    val t0 = System.nanoTime()
    val r = tr.fold(Pipeline.run(spark, landing, bronze, ckpt, raw))(stagedRun)
    val t1 = System.nanoTime()
    val c1 = cpuNanos()
    within(tr, "serve.publish")(Pipeline.serve(spark, r.warehouse, port))
    val t2 = System.nanoTime()
    val reads = within(tr, "serve.refresh") {
      loadPage(Views.kpiPage.map(_._1), tr) ++ loadPage(Views.monitoringPage.map(_._1), tr)
    }
    val t3 = System.nanoTime()
    val c3 = cpuNanos()
    val inProcessMs = check(r, reads.map(x => x._1 -> x._3), compare = tr.nonEmpty)
    Cycle((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, (t3 - t0) / 1e9,
      (c1 - c0) / 1e9, (c3 - c0) / 1e9, reads.map(x => x._1 -> x._2), inProcessMs, r)
  }

  /** Check a cycle's outputs; with `compare`, return the in-process time of
    * each view. */
  private def check(r: RunResult, reads: Seq[(String, Views.Table)],
                    compare: Boolean): Seq[(String, Double)] = {
    attempted += 1 + reads.size
    val rawRows = spark.read.schema(LogisticsEvent.rawSchema).parquet(raw).count()
    val runErrors = Seq(
      (r.newRawRows != expectedNew) -> s"newRawRows ${r.newRawRows} != expected $expectedNew",
      r.dqResults.exists(d => d.severity == "ERROR" && d.violations > 0) ->
        s"DQ ERROR fired: ${r.dqResults}",
      !r.testsPassed -> s"tests failed: ${r.testResults.filterNot(_.passed)}",
      (rawRows != expectedRaw) -> s"raw rows $rawRows != expected $expectedRaw"
    ).collect { case (true, m) => m }
    if (runErrors.nonEmpty) fail(runErrors.mkString("; "))

    reads.flatMap { case (view, table @ (cols, rows)) =>
      val bad = mutable.ArrayBuffer.empty[String]
      if (view == "dash_headline_kpis") {
        val total = rows.headOption.map(_(cols.indexOf("total_events")))
        if (!total.contains(rawRows.toString))
          bad += s"$view.total_events $total != raw rows $rawRows"
      }
      val ms = if (!compare) None else {
        val fn = Views.all.find(_._1 == view).get._2
        val t0 = System.nanoTime()
        val want = Views.inProcess(fn(r.warehouse))
        val ms = (System.nanoTime() - t0) / 1e6
        val (w, got) = (Views.canonical(view, want), Views.canonical(view, table))
        if (got != w)
          bad += s"$view over Connect differs from DashboardQueries: " +
            s"${got._2.size} vs ${w._2.size} rows, first " +
            s"${got._2.headOption} vs ${w._2.headOption}"
        Some(view -> ms)
      }
      if (bad.nonEmpty) fail(bad.mkString("; "))
      ms
    }
  }

  def bronzeRows(): Long =
    spark.read.schema(LogisticsEvent.schema).parquet(bronze).count()

  // ------------------------------------------------------------- files

  private def copyFlat(from: File, to: File): Unit = {
    to.mkdirs()
    from.listFiles().filter(_.getName.endsWith(".parquet")).foreach(f =>
      Files.copy(f.toPath, new File(to, f.getName).toPath))
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val d = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

/**
 * Benchmark process: one workload, one seed. Writes one JSON document to
 * `--out`; `perfbench/run.py` turns it into metrics.
 *
 * Each run is one fresh driver process, as an hourly scheduler launches
 * one: set-up (session, seeded inputs, base state, Connect endpoint), then
 * timed cycles until `--seconds` have passed, at least one. The first timed
 * cycle is the process's first pipeline run.
 *
 * Traced (`--trace 1`): the same first cycle, then an untraced cycle, a
 * cycle that calls `Pipeline.run`'s stages one by one inside spans with the
 * listener attached, and another untraced cycle. All start from the same
 * state; the traced one must agree with the last on rows loaded, DQ results
 * and test results (the drift guard), and its `run_s` minus the mean of its
 * two neighbours is the tracing overhead. After its
 * clock stops, the traced cycle compares every view read over Connect with
 * the in-process `DashboardQueries` result, whose time gives `wire_ms`.
 */
object PipelineBenchMain {
  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workload(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work")).getAbsoluteFile
    val out = new File(opts("out"))

    val spark = Settings.session()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val port = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
    val b = new PipelineBench(spark, wl, seed, work, port)
    val fields = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> seed, "trace" -> trace,
      "sizes" -> Map("base_events" -> wl.baseEvents, "new_events" -> wl.newEvents,
        "new_files" -> wl.newFiles, "redelivered" -> wl.redelivered),
      "session_s" -> sessionS)
    try {
      val tPrep = System.nanoTime()
      b.prepare()
      val tServe = System.nanoTime()
      b.startServer()
      val tReady = System.nanoTime()
      fields ++= Seq("setup_s" -> (tReady - t0) / 1e9,
        "inputs_base_s" -> (tServe - tPrep) / 1e9, "server_s" -> (tReady - tServe) / 1e9,
        "expected_new" -> b.expectedNew, "expected_raw" -> b.expectedRaw)

      val tStart = System.nanoTime()
      val first = b.cycle()
      if (!trace) {
        val cycles = mutable.ArrayBuffer(first)
        while ((System.nanoTime() - tStart) / 1e9 < seconds) cycles += b.cycle()
        fields("cycles") = cycles.map(_.json).toSeq
        fields("heap_mb") = heapMbAfterGc()
      } else {
        val before = b.cycle()
        val tr = new Tracer
        spark.sparkContext.addSparkListener(tr)
        val traced = try {
          val c = b.cycle(Some(tr))
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          c
        } finally spark.sparkContext.removeSparkListener(tr)
        traced.queryMs.zip(traced.inProcessMs).foreach { case ((v, wire), (_, local)) =>
          tr.count(s"serve.query.${Views.short(v)}", "wire_ms", wire - local)
        }
        val after = b.cycle()

        val read = b.bronzeRows()
        val loaded = traced.result.newRawRows
        tr.count("ingest.load", "rows_read", read)
        tr.count("ingest.load", "rows_loaded", loaded)
        tr.count("ingest.load", "yield", if (read == 0) 0.0 else loaded.toDouble / read)
        tr.count("quality.tests", "count", traced.result.testResults.size)
        tr.count("quality.tests", "failed", traced.result.testResults.count(!_.passed))
        val stages = Seq("streaming.drain", "ingest.load", "quality.dq",
          "models.define", "quality.tests").map(tr.wallMs).sum / 1e3
        driftGuard(b, after.result, traced.result)
        fields ++= Seq("first" -> first.json, "before" -> before.json,
          "traced" -> traced.json, "after" -> after.json,
          "pipeline" -> Map(
            "uncovered_s" -> (traced.runS - stages),
            // the untraced cycles either side cancel the process's warm-up drift
            "trace_overhead_s" -> (traced.runS - (before.runS + after.runS) / 2)),
          "trace" -> tr.records)
      }
    } catch {
      case NonFatal(e) =>
        b.failed += 1
        b.errors += s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    } finally {
      fields ++= Seq("attempted" -> math.max(b.attempted, 1L), "failed" -> b.failed,
        "errors" -> b.errors.toSeq, "settings" -> Settings.stamp)
      Files.writeString(out.toPath,
        org.json4s.jackson.Serialization.write(fields.toMap)(org.json4s.DefaultFormats))
      try ConnectServe.stop() finally spark.stop()
    }
  }

  /** The traced stage sequence must compute what `Pipeline.run` computes. */
  private def driftGuard(b: PipelineBench, plain: RunResult, traced: RunResult): Unit = {
    b.attempted += 1
    val diffs = Seq(
      (plain.newRawRows != traced.newRawRows) ->
        s"rows loaded ${plain.newRawRows} vs ${traced.newRawRows}",
      (plain.dqResults != traced.dqResults) ->
        s"DQ results ${plain.dqResults} vs ${traced.dqResults}",
      (plain.testResults != traced.testResults) -> "test results differ"
    ).collect { case (true, m) => m }
    if (diffs.nonEmpty) {
      b.failed += 1
      b.errors += "drift guard: traced stages differ from Pipeline.run: " + diffs.mkString("; ")
    }
  }

  /** Heap in use after full collections. Spark releases unpersisted blocks
    * and listener-held state asynchronously, so collect a few times, a
    * moment apart, and keep the lowest reading. */
  private def heapMbAfterGc(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }
}
