package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Watermarked SESSION-window aggregation — the declarative streaming
  * sessionizer (`session_window` under `groupBy`), complementing
  * StatefulSessions' imperative flatMapGroupsWithState state machine.
  * Spark merges open session windows across micro-batches in the state
  * store: an event landing within `gap` of a user's open session EXTENDS
  * that session (one merged row downstream), which is exactly what the
  * hand-rolled state machine does imperatively — the spec pins that the
  * two tiers agree with the batch gap rule.
  *
  * Append mode again carries the exactly-once contract: a session row
  * emits only after the watermark passes `session end = last event + gap`
  * (a session can no longer grow once no on-time event can extend it),
  * with its final count/sum. State is one open-session row per active
  * (user, session) and is evicted at the watermark — bounded by ACTIVE
  * users, not history, the property that keeps this runnable forever on
  * an unbounded stream.
  */
object StreamingSessionWindow {

  def sessionAggAvailableNow(
      spark: org.apache.spark.sql.SparkSession,
      landingDir: String,
      outDir: String,
      checkpointDir: String,
      schema: StructType,
      tsCol: String = "ts",
      delay: String = "30 minutes",
      gap: String = "30 minutes",
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    Streams.toParquet(
      Streams.landed(spark, landingDir, schema, maxFilesPerTrigger)
        .withWatermark(tsCol, delay)
        .groupBy(col("user_id"), session_window(col(tsCol), gap))
        // DECIMAL(18,6) matches EventOps.sessions (the q34 batch body)
        // exactly, so a replay over a closed corpus is graded by the SAME
        // oracle arithmetic as the batch sessionizer
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value").cast(DecimalType(18, 6))), 2).cast("double")
            .as("sum_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("sum_value")),
      outDir, checkpointDir)
}
