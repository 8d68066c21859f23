package graft

import org.apache.spark.sql.SparkSession

/**
 * The engine-session policy every main shares; mains choose only the core
 * count, shuffle width and AQE.
 *
 * Fixed for every session:
 *  - UTC session time zone;
 *  - `spark.sql.legacy.parquet.nanosAsLong`: `events.parquet` carries
 *    nanosecond timestamps, which Spark otherwise refuses to read;
 *  - codec trims on shuffle, spill, broadcast and the cached-table store:
 *    for sub-second stages over megabyte-scale data, codec startup per
 *    block costs more than the bytes it saves;
 *  - UI off and WARN logging.
 */
object Sessions {
  def local(cpus: Int, shufflePartitions: Int, aqe: Boolean): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.broadcast.compress", "false")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
