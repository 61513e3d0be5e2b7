package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
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
  * Exactly-once: every processed doc leaves an ownership row, so the
  * stored keyed relation's max doc_id IS the high-watermark — the
  * q371 self-watermarking argument, one tier over. A redelivered batch
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
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader
      .parquet(landingDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val tn = TakedownOps.mediaTables(prefix)
        // watermark from the pinned table property (O(1) catalog
        // metadata); one job materializes the fresh rows and re-roots
        // them on the caller's session (see StreamingClusterMaintain)
        val wm = TakedownOps.pinnedMaxDocId(spark, tn.keyed)
        val (fresh, n) =
          GraftBridge.checkpointOn(spark, batch.where(col("doc_id") > wm))
        if (n > 0) {
          TakedownOps.appendToMedia(spark, fresh, prefix)
          // cloned-session relation-cache refresh (the q351 lesson):
          // the next batch's watermark read and the post-stream
          // readback must see this batch's writes
          Seq(tn.keyed, tn.sigs, tn.clusters)
            .foreach(spark.catalog.refreshTable)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
