package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming exact dedup for a continuously-landing corpus: the streaming
  * tier of the q23 batch dedup (reference pattern: incremental append,
  * 03:88-91, re-expressed as a stream).
  *
  * `dropDuplicatesWithinWatermark` keys state on `keys` but evicts entries
  * once the watermark passes their event time + `delay` — WITHOUT the
  * watermark clause the dedup state grows with every key ever seen, which
  * is the unbounded-state hazard at 100 TB/day ingest. Within-delay
  * re-arrivals (retries, at-least-once upstreams) are dropped exactly
  * once; re-arrivals older than the watermark are the upstream's contract
  * to avoid, matching the usual log-retention window.
  */
object StreamingDedup {

  def dedupAvailableNow(
      spark: SparkSession,
      landingDir: String,
      outDir: String,
      checkpointDir: String,
      schema: StructType,
      tsCol: String,
      delay: String,
      keys: Seq[String]): StreamingQuery =
    Streams.toParquet(
      Streams.landed(spark, landingDir, schema)
        .withWatermark(tsCol, delay)
        .dropDuplicatesWithinWatermark(keys),
      outDir, checkpointDir)
}
