package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
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
  * watermark is the pars table's pinned max pid (docs that left no
  * paragraphs reassemble to nothing and re-gate to a no-op, so missing
  * them from the watermark is harmless — pinned by
  * StreamingCuratedMaintainSpec's wiped-checkpoint re-run).
  */
object StreamingCuratedMaintain {

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
        val tn = TakedownOps.curatedTables(prefix)
        // watermark from the pinned max-pid property (O(1) catalog
        // metadata); pid >> 20 recovers the owning doc_id
        val wm = TakedownOps.pinnedMaxDocId(spark, tn.pars) >> 20
        // materialized once (the fresh slice is consumed several times
        // inside the append: contract min, banding, verdicts, writes) and
        // re-rooted on the caller's session, so the append's plans hit
        // its code-generation cache instead of recompiling per stream
        val (fresh, n) =
          GraftBridge.checkpointOn(spark, batch.where(col("doc_id") > wm))
        if (n > 0) {
          TakedownOps.appendToCurated(spark, fresh, prefix)
          // the micro-batch runs on the stream's CLONED session, whose
          // catalog invalidation does not reach the outer session's
          // relation cache (the q351 lesson): without explicit
          // refreshes the next batch's watermark (and any post-stream
          // readback) reads the pre-append file listing and the append
          // is silently invisible
          spark.catalog.refreshTable(tn.curated)
          spark.catalog.refreshTable(tn.pars)
          spark.catalog.refreshTable(tn.buckets)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
