package graft.streaming

import graft.SparkSuite
import graft.model.LogisticsEvent
import java.nio.file.Files

class StatefulOpsSpec extends SparkSuite {

  private def ev(id: Int, order: String, minute: Int, status: String) =
    LogisticsEvent(
      Some(f"e$id%03d"), Some(order),
      Some(f"2026-02-23T01:$minute%02d:00+00:00"), Some(status),
      Some("A, AA"), Some("B, BB"), Some("DHL"),
      Some(10.0), Some(20.0), Some(5.5), Some("2026-03-01"))

  test("batch mode: one update per order, status from the latest event") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ev(1, "o1", 1, "Created"), ev(2, "o1", 5, "In Transit"),
      ev(3, "o2", 2, "Created")).toDS()
    val out = StatefulOps.orderProgress(df).collect()
      .map(u => u.order_id -> u).toMap
    assert(out("o1").n_events == 2 && out("o1").status == "In Transit")
    assert(out("o2").n_events == 1 && out("o2").status == "Created")
    assert(out.values.forall(_.status_changed))
  }

  test("state carries across micro-batches; unchanged status is flagged") {
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("graft-state").toString
    val srcDir = s"$tmp/landing"; new java.io.File(srcDir).mkdirs()

    def writeFile(name: String, events: Seq[LogisticsEvent]): Unit = {
      val stage = Files.createTempDirectory("graft-state-stage").toString
      spark.createDataFrame(events).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, new java.io.File(s"$srcDir/$name").toPath)
    }

    // batch 1: o1 created+moving; batch 2: one more o1 event, SAME status
    writeFile("b1.parquet",
      Seq(ev(1, "o1", 1, "Created"), ev(2, "o1", 5, "In Transit")))
    writeFile("b2.parquet", Seq(ev(3, "o1", 9, "In Transit")))

    val stream = spark.readStream
      .schema(LogisticsEvent.schema)
      .option("maxFilesPerTrigger", 1)   // one file per micro-batch
      .parquet(srcDir).as[LogisticsEvent]
    val q = StatefulOps.orderProgress(stream)
      .writeStream.format("memory").queryName("order_progress")
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val rows = spark.table("order_progress")
      .as[OrderUpdate].collect().sortBy(_.n_events)
    assert(rows.map(_.n_events).toSeq == Seq(2L, 3L),
      s"expected per-batch updates, got ${rows.toSeq}")
    assert(rows(0).status_changed)      // "" → "In Transit"
    assert(!rows(1).status_changed)     // stayed "In Transit" — needs state
    assert(rows(1).status == "In Transit")
  }

  test("a late replay batch never regresses the stored status") {
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("graft-state2").toString
    val srcDir = s"$tmp/landing"; new java.io.File(srcDir).mkdirs()
    def writeFile(name: String, events: Seq[LogisticsEvent]): Unit = {
      val stage = Files.createTempDirectory("graft-state2-stage").toString
      spark.createDataFrame(events).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, new java.io.File(s"$srcDir/$name").toPath)
    }
    writeFile("b1.parquet", Seq(ev(5, "o1", 30, "Delivered")))
    writeFile("b2.parquet", Seq(ev(1, "o1", 1, "Created")))   // late replay
    val stream = spark.readStream
      .schema(LogisticsEvent.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir).as[LogisticsEvent]
    val q = StatefulOps.orderProgress(stream)
      .writeStream.format("memory").queryName("order_progress_late")
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val last = spark.table("order_progress_late")
      .as[OrderUpdate].collect().maxBy(_.n_events)
    assert(last.n_events == 2 && last.status == "Delivered" && !last.status_changed)
  }

  test("restart recovery: a fresh query restores per-order state") {
    // Phase 1: a query over batch 1 runs to completion and STOPS. Phase 2: a
    // NEW query instance on the same checkpoint processes batch 2 — the
    // restart-recovery contract a real cluster invokes on driver loss.
    // o1's batch-2 update must count 3 events (2 recovered + 1 new) with an
    // UNCHANGED status flag, and o2 must see its status change; a recovery
    // bug (state recounted from zero) would read (1, "In Transit", true) /
    // (1, "Delivered", true) instead.
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("graft-restart").toString
    val srcDir = s"$tmp/landing"; new java.io.File(srcDir).mkdirs()
    def writeFile(name: String, events: Seq[LogisticsEvent]): Unit = {
      val stage = Files.createTempDirectory("graft-restart-stage").toString
      spark.createDataFrame(events).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, new java.io.File(s"$srcDir/$name").toPath)
    }
    // the memory sink refuses checkpoint recovery by design; foreachBatch
    // is the recoverable sink a production restart would use
    def phase(): Seq[OrderUpdate] = {
      val buf = scala.collection.mutable.ArrayBuffer[OrderUpdate]()
      val stream = spark.readStream.schema(LogisticsEvent.schema)
        .parquet(srcDir).as[LogisticsEvent]
      val q = StatefulOps.orderProgress(stream)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[OrderUpdate], _: Long) =>
          val rows = b.collect()
          buf.synchronized { buf ++= rows }
          ()
        }
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      buf.synchronized(buf.toSeq)
    }
    writeFile("b1.parquet", Seq(
      ev(1, "o1", 1, "Created"), ev(2, "o1", 5, "In Transit"),
      ev(3, "o2", 2, "Created")))
    phase()
    writeFile("b2.parquet",
      Seq(ev(4, "o1", 9, "In Transit"), ev(5, "o2", 11, "Delivered")))
    val restarted = phase() // fresh query instance: batch-2 rows only
    assert(restarted.map(u => (u.order_id, u.n_events, u.status, u.status_changed)).toSet
      === Set(("o1", 3L, "In Transit", false), ("o2", 2L, "Delivered", true)))
  }
}
