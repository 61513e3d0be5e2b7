package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftBridge, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.ops.VocabModelOps

/** Streamed LANGUAGE-MODEL MAINTENANCE — the 27th streaming component:
  * train-document batches arrive as a stream and every micro-batch is
  * FOLDED into the stored q328 count relations
  * ([[VocabModelOps.learnLm]] — additive monoids, O(batch) deltas,
  * vocabulary-bounded rewrites). The grown model is
  * batching-independent because addition is associative and
  * commutative, so the q367 replay scores from the streamed model
  * against q328's OWN full SQL oracle — incremental, batch-append, and
  * from-scratch training are one contract.
  *
  * Exactly-once: counts are NOT idempotent under re-delivery (a
  * re-added batch double-counts — the opposite failure mode of the
  * anti-join appends, where a re-delivered row is simply already
  * present). Under id-ordered delivery the doc_id HIGH-WATERMARK is
  * the dedup key, but the model relations carry no doc ids, so the
  * watermark is PERSISTED as a one-row side table updated in the same
  * micro-batch — a redelivered batch filters itself to nothing before
  * any count is touched (pinned by StreamingLmMaintainSpec's
  * wiped-checkpoint re-run). Known bound: the three count rewrites and
  * the watermark write are separate table commits, so a crash INSIDE a
  * micro-batch could replay a partially-folded batch — and neither
  * commit order closes the hole without a transactional format
  * (watermark-last double-counts the partial fold on replay;
  * watermark-first silently LOSES the batch instead). A production
  * deployment stages all four in one table-format transaction; the
  * exactly-once contract here covers re-triggered (at-least-once)
  * delivery of completed batches, which is what AvailableNow replays
  * exercise. RECOVERY after a mid-batch crash: the model is a pure
  * fold of the corpus, so rebuild it exactly with
  * [[VocabModelOps.lmMaterialize]] over the landed documents (then
  * [[resetWatermark]] + re-point the stream at the remaining landing
  * files) — cheap relative to the failure's rarity, and exact by the
  * same additive-monoid argument that makes the fold correct.
  */
object StreamingLmMaintain {

  def watermarkTable(prefix: String): String = s"${prefix}_wm"

  /** Drop a stale watermark from an earlier life of this prefix — a
    * leftover high-watermark would silently filter a fresh stream's
    * batches to nothing (the cloneIndex stale-tombstone hazard, one
    * tier over). Callers reset it right after materializing the base
    * model.
    */
  def resetWatermark(spark: SparkSession, prefix: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${watermarkTable(prefix)}")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), watermarkTable(prefix))
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(loc, true)
  }

  private def watermark(spark: SparkSession, prefix: String): Long =
    if (spark.catalog.tableExists(watermarkTable(prefix))) {
      val r = spark.table(watermarkTable(prefix))
        .agg(max(col("max_doc_id"))).head()
      if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
    } else Long.MinValue

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
        val wm = watermark(spark, prefix)
        // one job materializes the fresh rows and re-roots them on the
        // caller's session (see StreamingClusterMaintain)
        val (fresh, n) =
          GraftBridge.checkpointOn(spark, batch.where(col("doc_id") > wm))
        if (n > 0) {
          VocabModelOps.learnLm(spark, fresh, prefix)
          val newWm = fresh.agg(max(col("doc_id")).as("max_doc_id"))
            .localCheckpoint(true)
          newWm.write.mode(SaveMode.Overwrite).format("parquet")
            .saveAsTable(watermarkTable(prefix))
          // cloned-session relation-cache refresh (the q351 lesson):
          // the next batch's watermark read and the post-stream
          // scoring must see this batch's writes
          val tn = VocabModelOps.lmTables(prefix)
          Seq(tn.c12, tn.cw, watermarkTable(prefix))
            .foreach(spark.catalog.refreshTable)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
