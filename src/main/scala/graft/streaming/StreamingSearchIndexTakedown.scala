package graft.streaming

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.CorpusStatsOps

/** Streamed SEARCH-INDEX TAKEDOWN — the 31st streaming component,
  * extending streamed-deletion symmetry beyond the ANN tier
  * ([[StreamingAnnTakedown]], the 25th): right-to-be-forgotten
  * requests (doc_ids) arrive as a stream, and every micro-batch lands
  * them as TOMBSTONES ([[CorpusStatsOps.addSearchTombstones]]) rather
  * than rewriting the corpus-sized postings relation per batch — the
  * same LSM amortization argument, one tier over. The serve anti-joins
  * the pending set BEFORE df/dl totals derive, so a tombstoned doc is
  * not merely hidden: every ranking statistic shifts exactly as a
  * from-scratch index on the survivors would, which is what q378's
  * full SQL rebuild oracle proves. A scheduled
  * [[CorpusStatsOps.applySearchTombstones]] folds the accumulated set
  * into one physical rewrite; serves are byte-identical before and
  * after the apply (compaction invisible to readers — the q347/q356
  * doctrine, pinned by SearchIndexSpec).
  *
  * Exactly-once: deletion is idempotent by nature; the add-side
  * anti-join just keeps the pending set duplicate-free under
  * at-least-once delivery (wiped-checkpoint redelivery lands nothing).
  */
object StreamingSearchIndexTakedown {

  def takedownAvailableNow(
      spark: SparkSession,
      landingDir: String,
      prefix: String,
      checkpointDir: String,
      schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    TierStream.availableNow(spark, landingDir, checkpointDir, schema,
        maxFilesPerTrigger) { batch =>
      GraftBridge.checkpointOn(spark, batch.select(col("doc_id")))
    } (CorpusStatsOps.addSearchTombstones(spark, _, prefix))
}
