package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
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
  * Exactly-once: the map's pinned historical max doc_id
  * ([[graft.util.Tables.pinnedMaxDocId]]) is the high-watermark — a redelivered
  * batch filters itself to nothing, and anything above the watermark
  * satisfies appendToClusters' own strictly-above freshness contract
  * by construction (pinned by StreamingClusterMaintainSpec's
  * wiped-checkpoint re-run).
  */
object StreamingClusterMaintain {

  def maintainAvailableNow(
      spark: SparkSession,
      landingDir: String,
      prefix: String,
      checkpointDir: String,
      schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    TierStream.availableNow(spark, landingDir, checkpointDir, schema,
        maxFilesPerTrigger)(TierStream.aboveWatermark(spark,
        TakedownOps.clusterTables(prefix).clusters))(
      TakedownOps.appendToClusters(spark, _, prefix))
}
