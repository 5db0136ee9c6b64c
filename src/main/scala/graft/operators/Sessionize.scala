package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Gap-based sessionization: events of one user belong to the same
 * session while consecutive events are within `gapSeconds`. Classic
 * lag + cumulative-sum-of-boundaries plan: one shuffle on the user key,
 * two ordered window passes, no state on the driver.
 */
object Sessionize {

  /** Adds `session_id` (0-based per user) to the event rows. */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
      gapSeconds: Long, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol).asc, col(tieBreak).asc)
    events
      .withColumn("__prev_ts", lag(col(tsCol), 1).over(w))
      .withColumn("__new_session",
        when(col("__prev_ts").isNull, 1)
          .when(unix_timestamp(col(tsCol)) - unix_timestamp(col("__prev_ts")) > gapSeconds, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("__new_session")).over(w) - 1)
      .drop("__prev_ts", "__new_session")
  }
}
