package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Watermarked tumbling-window aggregation — the canonical Structured
  * Streaming operator (readStream → withWatermark → groupBy(window) → agg)
  * and the streaming tier of q33's batch tumbling windows.
  *
  * Append output mode is the load-bearing choice: a window row is emitted
  * EXACTLY ONCE, only after the watermark passes the window end, carrying
  * its final aggregate — the contract a downstream table wants (no
  * retracted partials, no upsert sink needed). The cost is the same
  * watermark contract as the other streaming tiers: events later than
  * `delay` behind the max seen event time are dropped, and windows still
  * ahead of the watermark stay in state until a later run finalizes them.
  * State is bounded by (in-flight windows × group keys) and evicted at
  * the watermark — without the watermark clause, window state grows
  * forever, the unbounded-state hazard at continuous ingest scale.
  *
  * The value sum goes through DECIMAL(18,4) before the final double cast,
  * same as every batch money aggregate (util/Tables): partial aggregation
  * order across micro-batches must not change the result.
  */
object StreamingWindowedAgg {

  def windowedAggAvailableNow(
      spark: org.apache.spark.sql.SparkSession,
      landingDir: String,
      outDir: String,
      checkpointDir: String,
      schema: StructType,
      tsCol: String = "ts",
      delay: String = "30 minutes",
      width: String = "1 hour",
      slide: String = null,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    Streams.toParquet(
      Streams.landed(spark, landingDir, schema, maxFilesPerTrigger)
        .withWatermark(tsCol, delay)
        // slide == null -> tumbling; a shorter slide gives HOPPING windows
        // (q160's batch mode under the same watermark/append contract —
        // each of the width/slide overlapping windows finalizes and emits
        // independently once the watermark passes ITS end)
        .groupBy(window(col(tsCol), width,
          if (slide == null) width else slide), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value").cast(DecimalType(18, 4))), 2).cast("double")
            .as("sum_value"))
        .select(col("window.start").as("window_start"),
          col("window.end").as("window_end"),
          col("event_type"), col("n_events"), col("sum_value")),
      outDir, checkpointDir)
}
