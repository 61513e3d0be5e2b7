package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.ops.AnnIndexOps

/** Streamed ANN INDEX MAINTENANCE — the 24th streaming component, and
  * the last batch-only seam in the index lifecycle (VERDICT r13 #3):
  * vector batches arrive as a stream and every micro-batch is APPENDED
  * to the stored index against the FROZEN coarse quantizer and
  * codebooks ([[AnnIndexOps.appendToIndex]] — assign to cells, encode
  * residuals, append to the cell-partitioned codes/vectors tables).
  * Centroids and codebooks are never touched, exactly the q330 batch
  * doctrine, so the grown index is independent of how arrivals were
  * batched and the q351 replay grades serve-after-stream against
  * q330's OWN golden — one result contract across batch append and
  * streamed append. Post-append drift stays
  * [[AnnIndexOps.indexCellCensus]]'s job; fragmentation stays
  * [[AnnIndexOps.compactIndex]]'s.
  *
  * Exactly-once: foreachBatch delivery is at-least-once, and a blind
  * re-append would duplicate vectors in the index (a correctness bug a
  * served shortlist would expose). Vector ids are unique and immutable
  * (the corpus contract), so the append is made idempotent by anti-
  * joining the batch against the ids already indexed — a re-delivered
  * batch is a no-op. Ids above the census's id watermark skip the
  * lookup outright; the rest read ONE column of the vectors table — at
  * production scale a bucket-pruned id probe, the same shape as the
  * serve's rerank fetch.
  *
  * `censusSplit` (VERDICT r15 #5) closes the observe→repair loop in
  * the shape where drift actually ACCUMULATES — continuous ingest:
  * after each appended micro-batch the census runs and any flagged
  * cell is split in place ([[AnnIndexOps.splitFatCells]] — O(cell)
  * sub-fits, canonical rewrite of split cells only, frozen quantizers
  * untouched). The repair changes list BOUNDARIES, never membership of
  * the vector set, so the maintained index stays exactly the appended
  * content; splits assign FRESH cell ids, so a split mid-stream is
  * invisible to the idempotency anti-join (vec_ids are unchanged) and
  * later batches simply encode against the grown centroid table — the
  * same serve contract as a post-hoc batch split (q377 grades streamed
  * split-on-ingest against the batch-unsplit twin).
  */
object StreamingAnnMaintain {

  def maintainAvailableNow(
      spark: SparkSession,
      landingDir: String,
      indexPrefix: String,
      checkpointDir: String,
      schema: StructType,
      maxFilesPerTrigger: Option[Int] = None,
      m: Int = 8,
      dim: Int = 64,
      buckets: Int = 4,
      censusSplit: Boolean = false): StreamingQuery = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader
      .parquet(landingDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val tn = AnnIndexOps.tables(indexPrefix)
        // the idempotency gate, the only work on the stream's session.
        // Ids are unique and immutable (the corpus contract), so an id
        // above the census watermark (VERDICT r16 #4) is fresh by
        // construction: ONE job materializes the batch, counting its rows
        // and those at or below the watermark, and only when there are
        // such rows (a redelivery, or arrivals interleaving with the
        // stored ids) does the gate pay the anti-join against the stored
        // ids, a read of the vectors table's vec_id column. The rows come
        // back rooted on the caller's long-lived session: the append's
        // plans then compile once per JVM instead of once per stream, and
        // the vectors write never reads tn.vectors through its own plan.
        val seen = AnnIndexOps.maxIndexedId(spark, indexPrefix)
          .fold(lit(true))(wm => col("vec_id") <= wm)
        val (landed, n, nSeen) = GraftBridge.checkpointOn(spark, batch, seen)
        val (fresh, nFresh) =
          if (nSeen == 0) (landed, n)
          else GraftBridge.checkpointOn(spark,
            landed.join(spark.table(tn.vectors).select(col("vec_id")),
              Seq("vec_id"), "left_anti"))
        if (nFresh > 0) {
          AnnIndexOps.appendToIndex(spark, fresh, indexPrefix,
            m = m, dim = dim, buckets = buckets)
          // the next batch's gate and any post-stream serve must list the
          // appended files: a stale relation-cache entry would make the
          // append silently invisible (caught by StreamingAnnMaintainSpec)
          spark.catalog.refreshTable(tn.codes)
          spark.catalog.refreshTable(tn.vectors)
          spark.catalog.refreshTable(AnnIndexOps.cellPopsTable(indexPrefix))
          if (censusSplit) {
            // observe→repair per trigger: splitFatCells starts with the
            // census and returns empty when nothing is flagged, so the
            // drift-free steady state costs one census pass per batch
            val split = AnnIndexOps.splitFatCells(
              spark, indexPrefix, iters = 2, m = m, dim = dim,
              buckets = buckets)
            if (split.nonEmpty) {
              spark.catalog.refreshTable(tn.centroids)
              spark.catalog.refreshTable(tn.codes)
              spark.catalog.refreshTable(tn.vectors)
              spark.catalog.refreshTable(
                AnnIndexOps.cellPopsTable(indexPrefix))
            }
          }
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
