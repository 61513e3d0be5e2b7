package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.TakedownOps

/** Streamed MEDIA-FINGERPRINT MAINTENANCE — the 30th streaming
  * component, closing the one asymmetric cell of the artifact matrix
  * (VERDICT r15 #4): upload batches arrive as a stream and every
  * micro-batch is folded into the STORED q293 media tier
  * ([[TakedownOps.appendToMedia]] — ownership rows append as-is, the
  * DECODE runs only for payload keys the fingerprint table has never
  * seen, and exactly the batch's signature groups recompute). The
  * grown tier is batching-independent — ownership is row-disjoint,
  * fingerprints are content-keyed and idempotent, cluster groups are
  * exact group minima/counts over whatever ownership exists — so the
  * q376 replay grades the streamed readback against q293's OWN full
  * SQL oracle: from-scratch, batch-append, and streamed-append media
  * dedup are one contract.
  *
  * Exactly-once: the keyed relation's pinned historical max doc_id
  * ([[graft.util.Tables.pinnedMaxDocId]]) is the high-watermark — the q371
  * argument, one tier over. A redelivered batch
  * filters itself to nothing before any table is touched, and whatever
  * survives the filter satisfies appendToMedia's own strictly-above
  * freshness contract by construction (pinned by
  * StreamingMediaMaintainSpec's wiped-checkpoint re-run).
  */
object StreamingMediaMaintain {

  def maintainAvailableNow(
      spark: SparkSession,
      landingDir: String,
      prefix: String,
      checkpointDir: String,
      schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    TierStream.availableNow(spark, landingDir, checkpointDir, schema,
        maxFilesPerTrigger)(TierStream.aboveWatermark(spark,
        TakedownOps.mediaTables(prefix).keyed))(
      TakedownOps.appendToMedia(spark, _, prefix))
}
