package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.ops.TakedownOps

/** Streamed CLUSTER-MAP MAINTENANCE — the 29th streaming component:
  * document batches arrive as a stream and every micro-batch is merged
  * into the STORED transitive dedup clusters
  * ([[TakedownOps.appendToClusters]] — one key-pruned join against the
  * stored bucket relation, a star closure over the affected subgraph
  * only), q360's batch doctrine deployed continuously. Labels are
  * component minima recomputed exactly over each affected subgraph, so
  * the grown map is batching-independent and the q371 replay grades
  * the readback against q51's OWN golden — from-scratch, batch-merge,
  * and streamed-merge closures are one contract.
  *
  * Exactly-once: every processed doc leaves a cluster row (isolated
  * docs label self), so the stored map's max doc_id IS the
  * high-watermark — a redelivered batch filters itself to nothing, and
  * anything above the watermark satisfies appendToClusters' own
  * strictly-above freshness contract by construction (pinned by
  * StreamingClusterMaintainSpec's wiped-checkpoint re-run).
  */
object StreamingClusterMaintain {

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
        val tn = TakedownOps.clusterTables(prefix)
        // watermark from the pinned table property (O(1) catalog
        // metadata). The gate is the only work on the stream's session:
        // one job materializes and counts the fresh rows and re-roots
        // them on the caller's session, whose code-generation cache the
        // merge's plans then hit
        val wm = TakedownOps.pinnedMaxDocId(spark, tn.clusters)
        val (fresh, n) =
          GraftBridge.checkpointOn(spark, batch.where(col("doc_id") > wm))
        if (n > 0) {
          TakedownOps.appendToClusters(spark, fresh, prefix)
          // cloned-session relation-cache refresh (the q351 lesson)
          spark.catalog.refreshTable(tn.clusters)
          spark.catalog.refreshTable(tn.dbuckets)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
