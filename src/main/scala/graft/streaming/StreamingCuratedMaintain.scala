package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.TakedownOps

/** Streamed CURATED-CORPUS MAINTENANCE — the 26th streaming component,
  * closing the last batch-only seam of the curated lifecycle (VERDICT
  * r14 #3): document batches arrive as a stream and every micro-batch
  * is scrubbed against the STORED paragraph-bucket provenance and
  * appended ([[TakedownOps.appendToCurated]] — one key-pruned join per
  * batch, no corpus re-banding), exactly the q355 batch doctrine
  * deployed continuously. The grown table is batching-independent
  * under the id-ordered append contract, so the q361 replay grades the
  * readback census against q348's OWN golden — one result contract
  * across from-scratch, batch-append, and streamed-append
  * materialization.
  *
  * Exactly-once: foreachBatch delivery is at-least-once, and a blind
  * re-append would duplicate curated rows (and corrupt keep-first
  * verdicts via the interleave guard firing mid-stream). The append
  * contract — batch ids strictly above every stored id — makes a
  * doc_id HIGH-WATERMARK the exact dedup key: rows at or below the
  * stored maximum have already been processed, so each micro-batch
  * drops them first and a fully-redelivered batch is a no-op. The
  * watermark is the pars table's pinned historical max doc_id
  * ([[graft.util.Tables.pinnedMaxDocId]]; docs that left no paragraphs reassemble
  * to nothing and re-gate to a no-op, so missing them from the
  * watermark is harmless — pinned by StreamingCuratedMaintainSpec's
  * wiped-checkpoint re-run).
  */
object StreamingCuratedMaintain {

  def maintainAvailableNow(
      spark: SparkSession,
      landingDir: String,
      prefix: String,
      checkpointDir: String,
      schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    TierStream.availableNow(spark, landingDir, checkpointDir, schema,
        maxFilesPerTrigger)(TierStream.aboveWatermark(spark,
        TakedownOps.curatedTables(prefix).pars))(
      TakedownOps.appendToCurated(spark, _, prefix))
}
