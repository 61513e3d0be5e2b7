package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Continuous merge-upsert into a SERVING table via `foreachBatch` — the
  * streaming tier of q98's CDC compaction. Each micro-batch folds into a
  * key-bucket-partitioned parquet table holding the LATEST change per
  * user (ts desc, event_id desc tie-break), with 'error' rows kept as
  * TOMBSTONES so an out-of-order straggler in a later batch cannot
  * resurrect a deleted key; `serve` filters tombstones at read time.
  *
  * The scale property is bucket locality: the table partitions on
  * `bucket = pmod(hash(user_id), nBuckets)`, a batch only ever touches
  * the buckets its keys hash into, the merge READS only those partitions
  * (partition pruning) and dynamic partition overwrite REWRITES only
  * them. Per-batch cost is O(touched buckets), never O(table) — the
  * property that keeps a continuously-updated 100 TB serving table
  * affordable. (The bucket list is a driver-side collect, bounded by
  * nBuckets, not by data.)
  */
object StreamingUpsert {

  /** Latest state per user over current-state ∪ batch rows; tombstones
    * retained. Same ordering rule as ShapeOps.cdcCompact.
    */
  private def latestPerKey(rows: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    rows.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .drop("rn")
  }

  def upsertBatch(tableDir: String, nBuckets: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    val b = batch.withColumn("bucket",
      pmod(hash(col("user_id")), lit(nBuckets)).cast("int"))
    val touched = b.select("bucket").distinct().collect().map(_.getInt(0))

    val fs = new Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val current =
      if (fs.exists(new Path(tableDir)) &&
        fs.listStatus(new Path(tableDir)).exists(_.getPath.getName.startsWith("bucket=")))
        spark.read.parquet(tableDir)
          .where(col("bucket").isin(touched.map(Integer.valueOf): _*))
      else b.limit(0)

    // merge = latest row per key across old state + new changes. The
    // write reads the same partitions it replaces, so the merged result
    // must be DURABLY cut off from its lineage before the overwrite:
    // cache() is not enough (an evicted block or lost executor would
    // recompute from the very parquet files the overwrite is deleting,
    // corrupting the table mid-write). localCheckpoint(eager) writes the
    // blocks out and truncates lineage, so recomputation can never reach
    // the overwritten files.
    val merged = latestPerKey(current.unionByName(b)).localCheckpoint(eager = true)

    // dynamic overwrite scoped to THIS write via the writer option —
    // mutating the session-global conf (even try/finally-restored) races
    // with concurrent writers sharing the session, which could observe
    // dynamic semantics they never asked for
    try merged.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(tableDir)
    finally merged.unpersist()
  }

  /** Read the serving table as consumers see it: tombstones filtered. */
  def serve(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.parquet(tableDir)
      .where(col("event_type") =!= "error")
      .select(col("user_id"), col("event_type").as("last_type"),
        col("value").as("last_value"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"))

  def upsertAvailableNow(
      spark: SparkSession,
      landingDir: String,
      tableDir: String,
      checkpointDir: String,
      schema: StructType,
      nBuckets: Int = 16,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    Streams.foreachBatch(
      Streams.landed(spark, landingDir, schema, maxFilesPerTrigger),
      checkpointDir)(upsertBatch(tableDir, nBuckets))
}
