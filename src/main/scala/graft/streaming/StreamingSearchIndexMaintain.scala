package graft.streaming

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.CorpusStatsOps

/** Streamed SEARCH-INDEX MAINTENANCE — the 28th streaming component:
  * document batches arrive as a stream and every micro-batch's postings
  * and doc-length rows are APPENDED to the stored index
  * ([[CorpusStatsOps.searchIndexAppend]] — distinct docs contribute
  * disjoint rows, so the fold is pure row appends, the cheapest
  * maintenance cell in the engine). BM25 scoring derives df and the
  * corpus totals at read time, so the grown index is
  * batching-independent and the q370 replay grades the served top-k
  * against q245's OWN full SQL oracle — streamed, batch-append, and
  * from-scratch indexing are one contract.
  *
  * Exactly-once: appends are not idempotent (a redelivered batch would
  * double its docs' tf mass), so each micro-batch drops rows at or
  * below the doc_id HIGH-WATERMARK read from the stored dl relation —
  * every doc with at least one token leaves a dl row, and a doc with
  * none writes nothing anywhere, so re-processing it is a no-op
  * (pinned by StreamingSearchIndexMaintainSpec's wiped-checkpoint
  * re-run).
  */
object StreamingSearchIndexMaintain {

  def maintainAvailableNow(
      spark: SparkSession,
      landingDir: String,
      prefix: String,
      checkpointDir: String,
      schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    TierStream.availableNow(spark, landingDir, checkpointDir, schema,
        maxFilesPerTrigger) { batch =>
      val wmRow = spark.table(CorpusStatsOps.searchIndexTables(prefix).dl)
        .agg(max(col("doc_id"))).head()
      val wm = if (wmRow.isNullAt(0)) Long.MinValue else wmRow.getLong(0)
      GraftBridge.checkpointOn(spark, batch.where(col("doc_id") > wm))
    } (CorpusStatsOps.searchIndexAppend(spark, _, prefix))
}
