package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.util.Tables

/** The skeleton of every streamed maintain, takedown and unlearn tier,
  * on [[Streams]]: parquet files landed under `landingDir` are read as a
  * stream, drained once (`AvailableNow`), and every micro-batch runs the
  * tier's `gate` and then, when the gate kept any row, its `apply`.
  *
  * The gate is the only plan on the stream's batch, which belongs to
  * the stream's cloned session. It drops what an earlier delivery
  * already applied (the tier's exactly-once rule) and returns the rows
  * left, materialized and re-rooted on the caller's long-lived session
  * by `GraftBridge.checkpointOn`, with their count. The apply then
  * plans only on the caller's session: its generated classes compile
  * once per JVM, and its table writes invalidate that session's own
  * relation cache, so the next batch's gate and any later reader see
  * them without a refresh.
  */
object TierStream {

  def availableNow(
      spark: SparkSession,
      landingDir: String,
      checkpointDir: String,
      schema: StructType,
      maxFilesPerTrigger: Option[Int])(
      gate: DataFrame => (DataFrame, Long))(
      apply: DataFrame => Unit): StreamingQuery =
    Streams.foreachBatch(
      Streams.landed(spark, landingDir, schema, maxFilesPerTrigger),
      checkpointDir) { (batch, _) =>
      val (rows, n) = gate(batch)
      if (n > 0) {
        require(rows.sparkSession eq spark,
          "a tier gate must return its rows re-rooted on the caller's session")
        apply(rows)
      }
    }

  /** The gate of the five doc tiers, whose exactly-once rule is one
    * doc_id watermark: the batch rows above the historical max doc_id
    * pinned on `pinnedTable` ([[Tables.pinnedMaxDocId]]), re-rooted on
    * `spark`. A redelivered batch, or one a batch append already
    * applied, leaves nothing; a table without the pin throws.
    */
  def aboveWatermark(spark: SparkSession, pinnedTable: String)(
      batch: DataFrame): (DataFrame, Long) =
    GraftBridge.checkpointOn(spark,
      batch.where(col("doc_id") > Tables.pinnedMaxDocId(spark, pinnedTable)))
}
