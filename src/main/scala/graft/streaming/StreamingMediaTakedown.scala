package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.ops.TakedownOps

/** Streamed MEDIA-ARTIFACT TAKEDOWN — the 33rd streaming component,
  * completing streamed-deletion symmetry across the artifact tiers:
  * deletion requests arrive as a stream and every micro-batch runs
  * [[TakedownOps.takedownMedia]] — ownership rows leave, fingerprints
  * whose LAST owner died retire (the content-forgetting step a DMCA
  * takedown requires: a payload with no surviving upload must not
  * survive as a searchable fingerprint), and exactly the signature
  * groups that owned a deleted doc recompute.
  *
  * Like the cluster tier (q379) and unlike the ANN/search tiers, a
  * read-side tombstone cannot make media reads correct: cluster
  * canonicals are group minima and fingerprint retirement is a
  * last-owner EXISTENCE question — both need the repair, and the
  * repair is already O(deletion batch + affected groups).
  *
  * Exactly-once: deletion is idempotent; a redelivered batch
  * semi-joins against the stored ownership relation to nothing and
  * the fold is skipped entirely.
  */
object StreamingMediaTakedown {

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
        val tn = TakedownOps.mediaTables(prefix)
        // idempotency probe pruned to the batch ids' pb partitions, on
        // the caller's session (see StreamingClusterTakedown)
        val (ids, n) = GraftBridge.checkpointOn(spark, batch.select(col("doc_id")))
        val (present, nPresent) =
          if (n == 0) (ids, 0L) else TakedownOps.presentIds(spark, ids, tn.keyed)
        if (nPresent > 0) {
          TakedownOps.takedownMedia(spark, present, prefix)
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
