package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.LogisticsEvent

/**
 * Bronze → `raw_logistics` incremental load with key-based dedup.
 *
 * Reference: `src/warehouse/_init_duckdb.py:24-73` — CTAS on first run, then
 * `INSERT … WHERE event_id NOT IN (SELECT event_id FROM raw_logistics)`.
 *
 * `NOT IN (subquery)` is null-hostile (one NULL key ⇒ zero rows insert) while
 * Spark's `left_anti` is NOT EXISTS; we add the explicit `event_id IS NOT
 * NULL` guard on the existing side so behavior matches exactly even on
 * corrupt fixtures (SURVEY §2.1 S7 note).
 *
 * Scale notes: the anti-join shuffles both sides on `event_id` — at 100 TB
 * the "existing keys" side should be a compacted key index (or the dedup
 * moved into the streaming ingest via `dropDuplicates` + watermark,
 * `graft.streaming`); here we keep the reference's load-time semantics.
 */
object RawLoader {

  /** Read a bronze parquet glob with the canonical schema (schema-on-read, never inferred). */
  def readBronze(spark: SparkSession, glob: String): DataFrame =
    spark.read.schema(LogisticsEvent.schema).parquet(glob)

  /** bronze + ingestion_timestamp — the CTAS projection (`_init_duckdb.py:50-56`). */
  def withIngestionTs(bronze: DataFrame): DataFrame =
    bronze.withColumn("ingestion_timestamp", current_timestamp())

  /**
   * Rows of `incoming` whose event_id is not already present in `existing`:
   * NOT EXISTS (left_anti), so a NULL key in `existing` blocks nothing. The
   * reference's NOT IN would load zero rows in that case (null-hostile
   * three-valued logic); the two agree on all non-corrupt data.
   */
  def dedupAgainst(incoming: DataFrame, existing: DataFrame): DataFrame =
    incoming.join(existing.select("event_id").filter(col("event_id").isNotNull),
      Seq("event_id"), "left_anti")

  /**
   * Full incremental load: create-or-append into a parquet table directory.
   * First run = CTAS; subsequent runs = anti-join append (`_init_duckdb.py:43-69`).
   *
   * The loaded-row count rides the write itself via `observe()` — counting
   * first and then writing would evaluate the incoming-scan + anti-join
   * twice, i.e. two full passes over the load at scale (round-1 verdict
   * finding #2). The trade: an empty increment still performs the (empty)
   * append, which may leave a zero-row part file — semantically invisible
   * to readers.
   */
  def load(spark: SparkSession, bronzeGlob: String, tableDir: String): Long = {
    val incoming = withIngestionTs(readBronze(spark, bronzeGlob))
    // ONLY path-not-found means "first run" (r11 review): a catch-all here
    // turned any transient read failure (object-store 503, credential
    // hiccup, one corrupt footer) into exists=false — appending the whole
    // increment WITHOUT the anti-join and permanently duplicating events.
    // Every other error must propagate and fail the load.
    val exists = try {
      spark.read.schema(LogisticsEvent.rawSchema).parquet(tableDir).head(1).nonEmpty
    } catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(_.startsWith("PATH_NOT_FOUND")) =>
        false
    }
    val toWrite =
      if (!exists) incoming
      else dedupAgainst(incoming,
        spark.read.schema(LogisticsEvent.rawSchema).parquet(tableDir))
    val obs = org.apache.spark.sql.Observation("raw_load")
    toWrite.observe(obs, count(lit(1)).as("n_loaded"))
      .write.mode("append").parquet(tableDir)
    obs.get("n_loaded").asInstanceOf[Long]
  }
}
