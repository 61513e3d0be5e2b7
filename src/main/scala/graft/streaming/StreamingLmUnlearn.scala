package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftBridge, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.ops.VocabModelOps

/** Streamed LM UNLEARNING — the 34th streaming component, the deletion
  * side of the trained-model lifecycle ([[StreamingLmMaintain]] is the
  * learn side): right-to-be-forgotten requests arrive as a stream of
  * deleted TRAIN documents and every micro-batch subtracts exactly
  * their count contributions from the stored q328 relations
  * ([[VocabModelOps.unlearnLm]] — deletion-bounded delta, vocabulary-
  * bounded rewrites, zero-count rows dropped so deleted vocabulary
  * cannot leak through the smoothing denominator). Subtraction equals
  * a retrain on the survivors exactly, which is what q381's full SQL
  * oracle (DuckDB retraining from scratch on the survivors) proves.
  *
  * Exactly-once: subtraction is NOT idempotent (a re-delivered batch
  * would subtract twice — the mirror of [[StreamingLmMaintain]]'s
  * double-count), and deletion ids arrive in NO order, so a
  * high-watermark cannot gate them. The dedup state is a persisted
  * PROCESSED-IDS relation, deletion-set sized, written in the same
  * micro-batch: a redelivered batch anti-joins itself to nothing
  * before any count is touched. The same two-commit bound as the
  * learn side applies (the two subtractions and the processed-ids
  * write are separate table commits); RECOVERY after a mid-batch
  * crash is the same too — the model is a pure fold, so rebuild with
  * [[VocabModelOps.lmMaterialize]] over the surviving train docs,
  * then [[resetProcessed]] and re-point the stream.
  */
object StreamingLmUnlearn {

  def processedTable(prefix: String): String = s"${prefix}_unl"

  /** Drop a stale processed-ids relation from an earlier life of this
    * prefix — a leftover set would silently gate a fresh stream's
    * deletions to nothing (the resetWatermark hazard, deletion-side).
    */
  def resetProcessed(spark: SparkSession, prefix: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${processedTable(prefix)}")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), processedTable(prefix))
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(loc, true)
  }

  def unlearnAvailableNow(
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
        val pt = processedTable(prefix)
        // intra-batch duplicate rows of the same doc would subtract
        // that doc twice; rows are (doc_id, text) so duplicates are
        // identical and any one representative is exact
        val deduped = batch.dropDuplicates("doc_id")
        // one job materializes the unprocessed rows and re-roots them on
        // the caller's session (see StreamingClusterMaintain)
        val (fresh, n) = GraftBridge.checkpointOn(spark,
          if (spark.catalog.tableExists(pt))
            deduped.join(spark.table(pt), Seq("doc_id"), "left_anti")
          else deduped)
        if (n > 0) {
          VocabModelOps.unlearnLm(spark, fresh, prefix)
          fresh.select(col("doc_id")).write.mode(SaveMode.Append)
            .format("parquet").saveAsTable(pt)
          // cloned-session relation-cache refresh (the q351 lesson)
          val tn = VocabModelOps.lmTables(prefix)
          Seq(tn.c12, tn.cw, pt).foreach(spark.catalog.refreshTable)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
