package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
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
  * known write-amplification bound is the table rewrite each batch
  * commits (the bucket/cluster relations are unpartitioned managed
  * parquet — a transactional format would commit the same logical
  * delta as a delete file); the LABEL work, which is what scales with
  * the corpus, stays component-local.
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
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader
      .parquet(landingDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val tn = TakedownOps.clusterTables(prefix)
        // idempotency gate: only ids still PRESENT in the stored map
        // need work — a redelivered batch drains to nothing here. The
        // batch ids are materialized once and re-rooted on the caller's
        // session, so the bucket-pruned probe and the repair compile
        // against its code-generation cache, not the stream's
        val (ids, n) = GraftBridge.checkpointOn(spark, batch.select(col("doc_id")))
        val (present, nPresent) =
          if (n == 0) (ids, 0L) else TakedownOps.presentIds(spark, ids, tn.clusters)
        if (nPresent > 0) {
          TakedownOps.takedownClusters(spark, present, prefix)
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
