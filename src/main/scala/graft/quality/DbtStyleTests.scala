package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * dbt's four generic schema-test kinds as reusable DataFrame assertions, run
 * post-transform — the Spark analogue of `dbt test` over
 * `logistics_pipeline/models/layer/schema.yml` (40+ declared tests).
 * `not_null` has no standalone function: [[suite]] folds every not_null
 * column of a model into one aggregate pass.
 *
 * Each test returns the VIOLATION COUNT (dbt's convention: a test passes iff
 * its compiled SELECT returns zero rows).
 */
object DbtStyleTests {

  /** `unique` — number of duplicated non-null key values. */
  def unique(df: DataFrame, column: String): Long =
    df.filter(col(column).isNotNull)
      .groupBy(column).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()

  /** `accepted_values` — rows whose value falls outside the enumeration. */
  def acceptedValues(df: DataFrame, column: String, values: Seq[Any]): Long =
    df.filter(col(column).isNotNull && !col(column).isin(values: _*)).count()

  /**
   * `relationships` — child FK values with no matching parent PK
   * (referential integrity; an anti-join, null FKs exempt per dbt).
   */
  def relationships(child: DataFrame, fk: String,
                    parent: DataFrame, pk: String): Long =
    child.filter(col(fk).isNotNull)
      .join(parent.select(col(pk).as(fk)).distinct(), Seq(fk), "left_anti")
      .count()

  final case class TestResult(model: String, test: String, violations: Long) {
    def passed: Boolean = violations == 0L
  }

  /**
   * The FULL schema.yml test roster over a built warehouse, mirrored
   * declaration by declaration from
   * `logistics_pipeline/models/layer/schema.yml:1-192` (51 tests), plus one
   * beyond-schema bonus (status_name accepted_values against the conformed
   * status enumeration). Test names are `kind:column` per model, so the
   * suite output reads like `dbt test`'s.
   */
  def suite(w: graft.models.Warehouse): Seq[TestResult] = {
    // (model, frame, not_null columns, unique columns) — schema.yml order
    val columnTests: Seq[(String, DataFrame, Seq[String], Seq[String])] = Seq(
      ("stg_logistics_events", w.stg,
        Seq("event_id", "order_id", "timestamp", "ingestion_timestamp"),
        Seq("event_id")),
      ("int_valid_logistics_events", w.valid,
        Seq("event_id"), Seq("event_id")),
      ("int_invalid_logistics_events", w.invalid,
        Seq("event_id", "invalid_reason"), Seq.empty),
      ("dq_invalid_delivery_summary", w.dqInvalidDeliverySummary,
        Seq("event_date", "invalid_reason", "invalid_count"), Seq.empty),
      ("dim_order", w.dimOrder,
        Seq("order_sk", "order_id"), Seq("order_sk", "order_id")),
      ("dim_time", w.dimTime,
        Seq("time_sk", "full_timestamp"), Seq("time_sk", "full_timestamp")),
      ("dim_status", w.dimStatus,
        Seq("status_sk", "status_name"), Seq("status_sk", "status_name")),
      ("dim_location", w.dimLocation,
        Seq("location_sk", "location_name"), Seq("location_sk", "location_name")),
      ("dim_carrier", w.dimCarrier,
        Seq("carrier_sk", "carrier_name"), Seq("carrier_sk", "carrier_name")),
      ("fact_event", w.factEvent,
        Seq("event_sk", "event_id", "order_sk", "time_sk", "status_sk",
          "origin_location_sk", "destination_location_sk", "carrier_sk",
          "is_late_delivery"),
        Seq("event_sk", "event_id")))

    // Persist every model frame for the suite's duration (r11 review): each
    // test is its own action, and an unpersisted lazy model re-executes its
    // full staging+join DAG per test — ~60 full plan executions for 51
    // tests at the scale this package targets. With the frames cached, each
    // action scans the materialized model once; additionally, ALL not_null
    // checks of one model collapse into ONE conditional-aggregation pass
    // (the DqChecks.runAll pattern — '7× less I/O'). unique/relationships
    // keep their own jobs: they need groupBys/anti-joins a single aggregate
    // cannot express, but they now run over the cached frames.
    // columnTests already contains every model frame the relationship
    // tests touch (fact_event and dim_location are rows of it; Warehouse is
    // a case class of vals, so the references are identical) — appending
    // them again only looked load-bearing (r12 review)
    val frames = columnTests.map(_._2).distinct
    frames.foreach(_.persist())
    try {
      suiteChecks(columnTests, w)
    } finally frames.foreach(_.unpersist())
  }

  private def suiteChecks(
      columnTests: Seq[(String, DataFrame, Seq[String], Seq[String])],
      w: graft.models.Warehouse): Seq[TestResult] = {
    import graft.model.LogisticsEvent.validStatuses

    def cnt(pred: org.apache.spark.sql.Column) =
      coalesce(sum(when(pred, 1L).otherwise(0L)), lit(0L))

    val keyTests = columnTests.flatMap { case (m, df, nn, uq) =>
      val nnResults =
        if (nn.isEmpty) Seq.empty[TestResult]
        else {
          val row = df.agg(
            cnt(col(nn.head).isNull).as("c0"),
            nn.tail.zipWithIndex.map { case (c, i) =>
              cnt(col(c).isNull).as(s"c${i + 1}") }: _*).head()
          nn.zipWithIndex.map { case (c, i) =>
            TestResult(m, s"not_null:$c", row.getLong(i)) }
        }
      nnResults ++ uq.map(c => TestResult(m, s"unique:$c", unique(df, c)))
    }

    val enumTests = Seq(
      TestResult("int_invalid_logistics_events", "accepted_values:invalid_reason",
        acceptedValues(w.invalid, "invalid_reason", Seq(
          "INVALID_WEIGHT", "MISSING_COORDINATES", "INVALID_ESTIMATED_DELIVERY",
          "MISSING_STATUS", "MISSING_LOCATION"))),
      TestResult("fact_event", "accepted_values:is_late_delivery",
        acceptedValues(w.factEvent, "is_late_delivery", Seq(true, false))),
      // beyond schema.yml: the conformed status enumeration
      TestResult("dim_status", "accepted_values:status_name",
        acceptedValues(w.dimStatus, "status_name", validStatuses)))

    val relTests = Seq(
      ("order_sk", w.dimOrder), ("time_sk", w.dimTime),
      ("status_sk", w.dimStatus), ("carrier_sk", w.dimCarrier)
    ).map { case (fk, dim) =>
      TestResult("fact_event", s"relationships:$fk",
        relationships(w.factEvent, fk, dim, fk))
    } ++ Seq(
      TestResult("fact_event", "relationships:origin_location_sk",
        relationships(w.factEvent, "origin_location_sk", w.dimLocation, "location_sk")),
      TestResult("fact_event", "relationships:destination_location_sk",
        relationships(w.factEvent, "destination_location_sk", w.dimLocation, "location_sk")))

    keyTests ++ enumTests ++ relTests
  }
}
