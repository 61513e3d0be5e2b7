package graft.streaming

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.TakedownOps

/** Streamed CLUSTER-MAP TAKEDOWN — the 32nd streaming component:
  * right-to-be-forgotten requests (doc_ids) arrive as a stream and
  * every micro-batch runs [[TakedownOps.takedownClusters]]'s
  * component-local repair (splits where a deleted doc bridged, label
  * migration where the deleted doc WAS the component minimum).
  *
  * Why NOT the tombstone/LSM shape the ANN (q356) and search-index
  * (q378) tiers use: a read-side anti-join cannot make cluster reads
  * correct — labels are component MINIMA, so hiding a deleted
  * canonical's row still leaves every surviving member pointing at a
  * doc that no longer exists; correctness requires the relabel, and
  * the relabel work is already O(batch + affected components). The
  * known write-amplification bound is the rewrite each batch commits:
  * both relations are partitioned into `pb` doc buckets, and every
  * bucket holding a deleted or relabeled doc is rewritten whole (a
  * transactional format would commit the same logical delta as a
  * delete file); the LABEL work, which is what scales with the corpus,
  * stays component-local.
  *
  * Exactly-once: deletion is idempotent — a redelivered batch
  * semi-joins against the stored map to nothing and the fold is
  * skipped entirely (no rewrite, no relabel), which also keeps
  * replayed AvailableNow runs cheap.
  */
object StreamingClusterTakedown {

  def takedownAvailableNow(
      spark: SparkSession,
      landingDir: String,
      prefix: String,
      checkpointDir: String,
      schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    TierStream.availableNow(spark, landingDir, checkpointDir, schema,
        maxFilesPerTrigger) { batch =>
      // only ids still PRESENT in the stored map need work: a redelivered
      // batch drains to nothing here. The batch ids are re-rooted first,
      // so the bucket-pruned probe plans on the caller's session
      val (ids, n) = GraftBridge.checkpointOn(spark, batch.select(col("doc_id")))
      if (n == 0) (ids, 0L)
      else TakedownOps.presentIds(spark, ids, TakedownOps.clusterTables(prefix).clusters)
    } (TakedownOps.takedownClusters(spark, _, prefix))
}
