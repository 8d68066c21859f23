package graft.quality

import graft.SparkSuite
import graft.models.Warehouse
import org.apache.spark.sql.functions._

/**
 * The dbt-style suite's exact violation counts over the replayed reference
 * warehouse, clean and with planted faults — every (model, test) pinned, so
 * a change to how the suite evaluates its tests cannot move a count or the
 * report order unnoticed.
 */
class DbtStyleTestsSpec extends SparkSuite {

  private def fixtureWarehouse(): Warehouse = Warehouse.fromRaw(
    spark.read.parquet(fixturePath("raw_logistics.parquet")), cacheShared = true)

  // the report order: each model's not_null then unique tests (schema.yml
  // model order), then accepted_values, then fact_event's relationships
  private val names: Seq[String] = {
    def nn(m: String, cs: String*) = cs.map(c => s"$m/not_null:$c")
    def uq(m: String, cs: String*) = cs.map(c => s"$m/unique:$c")
    val stg = "stg_logistics_events"
    val valid = "int_valid_logistics_events"
    val invalid = "int_invalid_logistics_events"
    val fact = "fact_event"
    nn(stg, "event_id", "order_id", "timestamp", "ingestion_timestamp") ++
      uq(stg, "event_id") ++
      nn(valid, "event_id") ++ uq(valid, "event_id") ++
      nn(invalid, "event_id", "invalid_reason") ++
      nn("dq_invalid_delivery_summary", "event_date", "invalid_reason", "invalid_count") ++
      Seq("dim_order" -> Seq("order_sk", "order_id"),
        "dim_time" -> Seq("time_sk", "full_timestamp"),
        "dim_status" -> Seq("status_sk", "status_name"),
        "dim_location" -> Seq("location_sk", "location_name"),
        "dim_carrier" -> Seq("carrier_sk", "carrier_name")).flatMap {
        case (dim, keys) => nn(dim, keys: _*) ++ uq(dim, keys: _*)
      } ++
      nn(fact, "event_sk", "event_id", "order_sk", "time_sk", "status_sk",
        "origin_location_sk", "destination_location_sk", "carrier_sk",
        "is_late_delivery") ++
      uq(fact, "event_sk", "event_id") ++
      Seq(s"$invalid/accepted_values:invalid_reason",
        s"$fact/accepted_values:is_late_delivery",
        "dim_status/accepted_values:status_name") ++
      Seq("order_sk", "time_sk", "status_sk", "carrier_sk", "origin_location_sk",
        "destination_location_sk").map(c => s"$fact/relationships:$c")
  }

  private def counts(w: Warehouse): Seq[(String, Long)] =
    DbtStyleTests.suite(w).map(r => s"${r.model}/${r.test}" -> r.violations)

  test("clean fixture: the 52 tests in report order, every count zero") {
    assert(names.length == 52)
    assert(counts(fixtureWarehouse()) == names.map(_ -> 0L))
  }

  test("planted faults: exact counts per (model, test); NULL FKs exempt from relationships") {
    val w = fixtureWarehouse()
    val Array(nullCarrierId, orphanOrderId) = w.factEvent.select("event_id")
      .orderBy("event_id").limit(2).collect().map(_.getString(0))
    val badReasonId = w.invalid.select(min("event_id")).head().getString(0)

    val planted = w.copy(
      // one duplicated dim_status row
      dimStatus = w.dimStatus.union(w.dimStatus.filter(col("status_name") === "Delivered")),
      // a NULL-keyed dim_carrier row: never matches, so relationships is unmoved
      dimCarrier = w.dimCarrier.union(
        w.dimCarrier.limit(1).select(lit(null).cast("string").as("carrier_sk"),
          lit("Nobody").as("carrier_name"))),
      // a fact row with a NULL carrier_sk and one with an orphan order_sk
      factEvent = w.factEvent
        .withColumn("carrier_sk", when(col("event_id") === nullCarrierId,
          lit(null).cast("string")).otherwise(col("carrier_sk")))
        .withColumn("order_sk", when(col("event_id") === orphanOrderId,
          lit("no-such-order")).otherwise(col("order_sk"))),
      // an invalid_reason outside the enumeration
      invalid = w.invalid.withColumn("invalid_reason",
        when(col("event_id") === badReasonId, lit("NOT_A_REASON"))
          .otherwise(col("invalid_reason"))))

    val expected = Map(
      "dim_status/unique:status_sk" -> 1L,
      "dim_status/unique:status_name" -> 1L,
      "dim_carrier/not_null:carrier_sk" -> 1L,
      "fact_event/not_null:carrier_sk" -> 1L,
      "fact_event/relationships:order_sk" -> 1L,
      "int_invalid_logistics_events/accepted_values:invalid_reason" -> 1L)
    assert(counts(planted) == names.map(n => n -> expected.getOrElse(n, 0L)))
  }
}
