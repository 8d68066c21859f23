package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * dbt's four generic schema-test kinds as DataFrame assertions, run
 * post-transform — the Spark analogue of `dbt test` over
 * `logistics_pipeline/models/layer/schema.yml` (51 declared tests). Also the
 * one home of the two counting shapes the pre-transform gate
 * ([[DqChecks]]) shares: [[countRows]] and [[unique]].
 *
 * Each test returns the VIOLATION COUNT (dbt's convention: a test passes iff
 * its compiled SELECT returns zero rows).
 */
object DbtStyleTests {

  /**
   * Rows matching each of one or more predicates, counted in ONE aggregate
   * pass, in `preds` order. A NULL predicate counts as false; an empty frame
   * counts 0.
   */
  def countRows(df: DataFrame, preds: Seq[Column]): Seq[Long] = {
    val row = df.agg(count_if(preds.head), preds.tail.map(count_if): _*).head()
    preds.indices.map(row.getLong)
  }

  /** `unique` — number of duplicated non-null key values. */
  def unique(df: DataFrame, column: String): Long =
    df.filter(col(column).isNotNull)
      .groupBy(column).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()

  /**
   * `relationships` — child FK values with no matching parent PK
   * (referential integrity; an anti-join, null FKs exempt per dbt). The
   * parent side needs no dedup: duplicate or NULL parent keys cannot change
   * which child rows find a match.
   */
  def relationships(child: DataFrame, fk: String,
                    parent: DataFrame, pk: String): Long =
    child.filter(col(fk).isNotNull)
      .join(parent.select(col(pk).as(fk)), Seq(fk), "left_anti")
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
   *
   * Each model's row-level tests (`not_null`, `accepted_values`) run as one
   * [[countRows]] pass; `unique` and `relationships` run one action each.
   */
  def suite(w: graft.models.Warehouse): Seq[TestResult] = {
    def notNull(columns: String*) = columns.map(c => s"not_null:$c" -> col(c).isNull)
    def acceptedValues(c: String, values: Any*) = // NULL exempt, as in dbt
      s"accepted_values:$c" -> (col(c).isNotNull && !col(c).isin(values: _*))

    // (model, frame, row-level tests, unique columns) — schema.yml order
    val models: Seq[(String, DataFrame, Seq[(String, Column)], Seq[String])] = Seq(
      ("stg_logistics_events", w.stg,
        notNull("event_id", "order_id", "timestamp", "ingestion_timestamp"),
        Seq("event_id")),
      ("int_valid_logistics_events", w.valid, notNull("event_id"), Seq("event_id")),
      ("int_invalid_logistics_events", w.invalid,
        notNull("event_id", "invalid_reason") :+ acceptedValues("invalid_reason",
          "INVALID_WEIGHT", "MISSING_COORDINATES", "INVALID_ESTIMATED_DELIVERY",
          "MISSING_STATUS", "MISSING_LOCATION"),
        Seq.empty),
      ("dq_invalid_delivery_summary", w.dqInvalidDeliverySummary,
        notNull("event_date", "invalid_reason", "invalid_count"), Seq.empty),
      ("dim_order", w.dimOrder,
        notNull("order_sk", "order_id"), Seq("order_sk", "order_id")),
      ("dim_time", w.dimTime,
        notNull("time_sk", "full_timestamp"), Seq("time_sk", "full_timestamp")),
      ("dim_status", w.dimStatus,
        // accepted_values beyond schema.yml: the conformed status enumeration
        notNull("status_sk", "status_name") :+ acceptedValues("status_name",
          graft.model.LogisticsEvent.validStatuses: _*),
        Seq("status_sk", "status_name")),
      ("dim_location", w.dimLocation,
        notNull("location_sk", "location_name"), Seq("location_sk", "location_name")),
      ("dim_carrier", w.dimCarrier,
        notNull("carrier_sk", "carrier_name"), Seq("carrier_sk", "carrier_name")),
      ("fact_event", w.factEvent,
        notNull("event_sk", "event_id", "order_sk", "time_sk", "status_sk",
          "origin_location_sk", "destination_location_sk", "carrier_sk",
          "is_late_delivery") :+ acceptedValues("is_late_delivery", true, false),
        Seq("event_sk", "event_id")))

    // Persist every model frame for the suite's duration: each frame is read
    // by several actions, and an unpersisted lazy model re-executes its full
    // staging+join DAG per action. The table holds every frame the
    // relationships tests touch too (Warehouse is a case class of vals, so
    // the references are identical).
    val frames = models.map(_._2).distinct
    frames.foreach(_.persist())
    try {
      val columnTests = models.flatMap { case (m, df, rowTests, uniqueColumns) =>
        val counts = countRows(df, rowTests.map(_._2))
        rowTests.map(_._1).zip(counts).map { case (test, n) => TestResult(m, test, n) } ++
          uniqueColumns.map(c => TestResult(m, s"unique:$c", unique(df, c)))
      }
      val relTests = Seq(
        ("order_sk", w.dimOrder, "order_sk"), ("time_sk", w.dimTime, "time_sk"),
        ("status_sk", w.dimStatus, "status_sk"),
        ("carrier_sk", w.dimCarrier, "carrier_sk"),
        ("origin_location_sk", w.dimLocation, "location_sk"),
        ("destination_location_sk", w.dimLocation, "location_sk")
      ).map { case (fk, dim, pk) =>
        TestResult("fact_event", s"relationships:$fk",
          relationships(w.factEvent, fk, dim, pk))
      }
      // report order: not_null/unique per model, then accepted_values (the
      // beyond-schema dim_status one last), then relationships
      val (enumTests, keyTests) =
        columnTests.partition(_.test.startsWith("accepted_values:"))
      keyTests ++ enumTests.sortBy(_.model == "dim_status") ++ relTests
    } finally frames.foreach(_.unpersist())
  }
}
