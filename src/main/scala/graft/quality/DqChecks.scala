package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.LogisticsEvent

/**
 * The 7-check pre-transform data-quality gate.
 *
 * Reference: `src/warehouse/data_quality_check.py:33-212`. Checks 1-5 are
 * ERRORs (any violation halts the pipeline); 6-7 are WARNINGs (logged,
 * pipeline proceeds). The reference signals via process exit code; we raise
 * `DqGateFailure` carrying the per-check counts.
 *
 * Each check is a row predicate counted over the raw scan, except check 6,
 * dbt's `unique` test. `runAll` counts all six predicates in ONE aggregate
 * pass rather than six scans; both counting shapes live in [[DbtStyleTests]].
 */
object DqChecks {

  final case class CheckResult(name: String, severity: String, violations: Long)

  final case class DqGateFailure(results: Seq[CheckResult])
      extends RuntimeException(
        "DQ gate failed: " + results.filter(r => r.severity == "ERROR" && r.violations > 0)
          .map(r => s"${r.name}=${r.violations}").mkString(", "))

  // Each check's predicate has ONE definition (r11 review), shared by the
  // standalone count and runAll's single-scan aggregate — copies could
  // silently drift, making the gate and the per-check API report different
  // violation counts for the same data.
  private[quality] def nullIdPred =
    col("order_id").isNull || col("order_id") === ""
  private[quality] def badWeightPred =
    col("weight_kg").isNull || col("weight_kg") <= 0 || col("weight_kg") > 5000
  private[quality] def malformedTsPred =
    col("timestamp").isNull || try_to_timestamp(col("timestamp")).isNull
  private[quality] def invalidStatusPred =
    col("status").isNotNull && !col("status").isin(LogisticsEvent.validStatuses: _*)
  private[quality] def oobCoordPred =
    col("latitude").isNull || col("longitude").isNull ||
      col("latitude") < -90 || col("latitude") > 90 ||
      col("longitude") < -180 || col("longitude") > 180

  /** Check 1 (ERROR): NULL or empty order_id (`data_quality_check.py:76-88` — order_id only). */
  def nullIds(raw: DataFrame): Long = raw.filter(nullIdPred).count()

  /** Check 2 (ERROR): weight NULL, <= 0 or > 5000 (`data_quality_check.py:93-104`). */
  def badWeights(raw: DataFrame): Long = raw.filter(badWeightPred).count()

  /** Check 3 (ERROR): NULL or unparseable timestamp (`data_quality_check.py:106-118`). */
  def malformedTimestamps(raw: DataFrame): Long = raw.filter(malformedTsPred).count()

  /** Check 4 (ERROR): status outside the 6-value enum. NOT IN semantics:
    * NULL status is NOT counted (three-valued logic, `data_quality_check.py:121-135`). */
  def invalidStatuses(raw: DataFrame): Long = raw.filter(invalidStatusPred).count()

  /** Check 5 (ERROR): coordinates out of bounds (`data_quality_check.py:140-153`). */
  def outOfBoundsCoords(raw: DataFrame): Long = raw.filter(oobCoordPred).count()

  /** Check 6 (WARNING): duplicate event_ids (`data_quality_check.py:157-173`). */
  def duplicateEventIds(raw: DataFrame): Long = DbtStyleTests.unique(raw, "event_id")

  /** Check 7 (WARNING): estimated_delivery unparseable or in the past (`data_quality_check.py:177-189`). */
  private val tryDeliveryDate = expr("try_cast(estimated_delivery AS DATE)")
  private[quality] def badDeliveryPred =
    tryDeliveryDate.isNull || tryDeliveryDate < current_date()
  def badDeliveryDates(raw: DataFrame): Long =
    raw.filter(badDeliveryPred).count()

  /**
   * All seven checks: the six row predicates in a single scan, plus the
   * duplicate check (needs its own groupBy). Throws `DqGateFailure`, which carries every check's result,
   * when any ERROR-severity count is nonzero, mirroring `sys.exit(1)` at
   * `data_quality_check.py:197-200`.
   */
  def runAll(raw: DataFrame): Seq[CheckResult] = {
    val Seq(nullIds, badWeights, malformedTs, badStatuses, badCoords, badDelivery) =
      DbtStyleTests.countRows(raw, Seq(nullIdPred, badWeightPred, malformedTsPred,
        invalidStatusPred, oobCoordPred, badDeliveryPred))
    val results = Seq(
      CheckResult("null_ids", "ERROR", nullIds),
      CheckResult("bad_weights", "ERROR", badWeights),
      CheckResult("malformed_timestamps", "ERROR", malformedTs),
      CheckResult("invalid_statuses", "ERROR", badStatuses),
      CheckResult("out_of_bounds_coords", "ERROR", badCoords),
      CheckResult("duplicate_event_ids", "WARNING", duplicateEventIds(raw)),
      CheckResult("bad_delivery_dates", "WARNING", badDelivery))

    if (results.exists(r => r.severity == "ERROR" && r.violations > 0))
      throw DqGateFailure(results)
    results
  }
}
