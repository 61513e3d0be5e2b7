package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.VocabModelOps

/** Streamed LANGUAGE-MODEL MAINTENANCE — the 27th streaming component:
  * train-document batches arrive as a stream and every micro-batch is
  * FOLDED into the stored q328 count relations
  * ([[VocabModelOps.learnLm]] — additive monoids, O(batch) deltas,
  * vocabulary-bounded rewrites). The grown model is
  * batching-independent because addition is associative and
  * commutative, so the q367 replay scores from the streamed model
  * against q328's OWN full SQL oracle — incremental, batch-append, and
  * from-scratch training are one contract.
  *
  * Exactly-once: counts are NOT idempotent under re-delivery (a
  * re-added batch double-counts — the opposite failure mode of the
  * anti-join appends, where a re-delivered row is simply already
  * present). Under id-ordered delivery the doc_id HIGH-WATERMARK is
  * the dedup key: the model relations carry no doc ids, so
  * [[VocabModelOps.lmMaterialize]] pins the highest train doc_id on the
  * c12 relation and every [[VocabModelOps.learnLm]], batch or streamed,
  * raises it ([[graft.util.Tables.pinnedMaxDocId]]). A redelivered batch, or one
  * a batch fold already applied, filters itself to nothing before any
  * count is touched (pinned by StreamingLmMaintainSpec). Known bound:
  * the two count rewrites and the pin are separate commits, so a crash
  * INSIDE a micro-batch could replay a partially-folded batch — and no
  * commit order closes the hole without a transactional format
  * (pin-last double-counts the partial fold on replay; pin-first
  * silently LOSES the batch instead). The exactly-once contract here
  * covers re-triggered (at-least-once) delivery of completed batches,
  * which is what AvailableNow replays exercise. RECOVERY after a
  * mid-batch crash: the model is a pure fold of the corpus, so rebuild
  * it exactly with [[VocabModelOps.lmMaterialize]] over the landed
  * documents and re-point the stream at the remaining landing files.
  */
object StreamingLmMaintain {

  def maintainAvailableNow(
      spark: SparkSession,
      landingDir: String,
      prefix: String,
      checkpointDir: String,
      schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    TierStream.availableNow(spark, landingDir, checkpointDir, schema,
        maxFilesPerTrigger)(TierStream.aboveWatermark(spark,
        VocabModelOps.lmTables(prefix).c12))(
      VocabModelOps.learnLm(spark, _, prefix))
}
