package graft

import org.apache.spark.sql.SparkSession

/** The one local-session contract every graft main (and the test
  * session) is built from. Callers chain only the confs that differ —
  * an app name, a warehouse dir, `GraftExtensions`, a fixed shuffle
  * width — and call `getOrCreate()` themselves.
  *
  *  - `local[cpus]` with shuffle partitions = cpus;
  *  - session time zone UTC, so timestamp plans and dumps do not
  *    depend on the host's zone;
  *  - both fixture timestamp encodings read as LTZ timestamps:
  *    TIMESTAMP(NANOS) via `legacy.parquet.nanosAsLong` (`Tables.table`
  *    converts ns to us) and TIMESTAMP(MICROS, isAdjustedToUTC=false)
  *    via `inferTimestampNTZ` off — Spark 4 would otherwise infer
  *    TIMESTAMP_NTZ and break `unix_micros`/window plans;
  *  - UI off, AQE on.
  *
  * No extensions are registered here: Bench and Verify run without
  * `GraftExtensions`. */
object GraftSession {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")

  /** `SPARK_GRAFT_CPUS`, or the caller's default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)
}
