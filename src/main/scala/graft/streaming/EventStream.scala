package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Event-stream transforms that run on both batch and streaming
 * DataFrames (beyond-parity extension, SURVEY.md §2.8): the watermarked
 * tumbling-window aggregate (EventQueries.q41 computes the batch hourly
 * window with its own plan).
 */
object EventStream {

  /** Watermark + tumbling window counts per type, on batch and
    * streaming DataFrames alike; kept for MultimodalStreamingSpec's
    * stream-vs-batch equivalence. */
  def tumblingCounts(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("value_sum"))
  }

}
