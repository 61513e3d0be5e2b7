package graft.streaming

import org.apache.spark.sql.SparkSession
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
  * below the doc_id HIGH-WATERMARK pinned on the dl relation
  * ([[graft.util.Tables.pinnedMaxDocId]]). The pin is historical: a doc taken
  * down after it was appended stays down when its batch is redelivered
  * (pinned by SearchIndexSpec's wiped-checkpoint re-runs).
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
        maxFilesPerTrigger)(TierStream.aboveWatermark(spark,
        CorpusStatsOps.searchIndexTables(prefix).dl))(
      CorpusStatsOps.searchIndexAppend(spark, _, prefix))
}
