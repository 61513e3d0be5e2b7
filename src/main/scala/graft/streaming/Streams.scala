package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max_by, struct}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode,
  StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}

/** The one skeleton of every file-source stream in graft (the reference
  * simulates arrival with batch appends, 03:88-91; graft re-expresses it
  * as streams drained once with `Trigger.AvailableNow`). A stream is
  * [[landed]] plus one sink:
  *
  *  - [[foreachBatch]]: a per-micro-batch function, e.g. a tier's gate
  *    and apply ([[TierStream.availableNow]]) or an upsert merge;
  *  - [[stamped]]: the at-least-once parquet append with `batch_id`,
  *    read back idempotently by [[latest]];
  *  - [[toParquet]]: Spark's exactly-once parquet file sink (append).
  *
  * Source progress lives in the checkpoint, so a re-run with the same
  * checkpoint processes only files landed since the last run.
  */
object Streams {

  /** The parquet files landed under `landingDir`, read as a stream.
    * `Trigger.AvailableNow` honors `maxFilesPerTrigger`, so a replay can
    * force several micro-batches (cross-batch state, watermark eviction,
    * per-batch joins) instead of one catch-all batch.
    */
  def landed(spark: SparkSession, landingDir: String, schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(landingDir)
  }

  /** Drain `stream` once through `sink`, one call per micro-batch.
    * `cached` are relations the caller cached for this query's lifetime
    * (a stream-static component's broadcast side): they are unpersisted
    * when the query terminates, however the caller waits for it.
    */
  def foreachBatch[T](stream: Dataset[T], checkpointDir: String,
      outputMode: OutputMode = OutputMode.Append(),
      cached: Seq[Dataset[_]] = Nil)(
      sink: (Dataset[T], Long) => Unit): StreamingQuery =
    unpersistOnTermination(
      availableNow(stream.writeStream.foreachBatch(sink), checkpointDir)
        .outputMode(outputMode)
        .start(),
      cached)

  /** Drain `stream` once into parquet files under `outDir` through
    * Spark's file sink: append mode, exactly once per row.
    */
  def toParquet(stream: Dataset[_], outDir: String,
      checkpointDir: String): StreamingQuery =
    availableNow(stream.writeStream.format("parquet"), checkpointDir)
      .outputMode(OutputMode.Append())
      .start(outDir)

  /** The stamped sink: every micro-batch is `transform`ed, stamped with
    * its `batch_id` and appended to parquet under `outDir`. The append is
    * at-least-once (a batch re-run after a mid-batch failure re-appends),
    * so readers keep one row per key: [[latest]].
    */
  def stamped[T](stream: Dataset[T], outDir: String, checkpointDir: String,
      outputMode: OutputMode = OutputMode.Append(),
      cached: Seq[Dataset[_]] = Nil)(
      transform: Dataset[T] => DataFrame): StreamingQuery =
    foreachBatch(stream, checkpointDir, outputMode, cached) { (batch, id) =>
      transform(batch).withColumn("batch_id", lit(id))
        .write.mode("append").parquet(outDir)
    }

  /** The reader of a [[stamped]] sink: for every `keys` value, the row of
    * the latest batch that emitted it, as the columns of `ddl` (the
    * stamped columns without `batch_id`), keys first. An update-mode
    * stream re-emits a key whenever it changes, so this is its final
    * value; a re-appended batch repeats its rows, so this is idempotent.
    */
  def latest(spark: SparkSession, outDir: String, ddl: String,
      keys: String*): DataFrame = {
    val schema = StructType.fromDDL(ddl)
    val values = schema.fieldNames.filterNot(keys.contains).map(col)
    spark.read.schema(schema.add("batch_id", LongType)).parquet(outDir)
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct(values: _*), col("batch_id")).as("latest"))
      .select(keys.map(col) :+ col("latest.*"): _*)
  }

  private def availableNow[T](writer: DataStreamWriter[T],
      checkpointDir: String): DataStreamWriter[T] =
    writer.option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())

  /** A daemon thread blocks on the query's own `awaitTermination` and
    * unpersists in a finally: cleanup runs exactly once per query,
    * whether the caller waits with a timeout, without one or not at all,
    * and with no listener-registration race against an AvailableNow
    * query that finishes before a listener could attach. Without it a
    * session that runs a component repeatedly (bench loops,
    * ScaleRehearsal) accumulates the cached blocks for its whole life.
    */
  private def unpersistOnTermination(query: StreamingQuery,
      cached: Seq[Dataset[_]]): StreamingQuery = {
    if (cached.nonEmpty) {
      val t = new Thread(() => {
        try query.awaitTermination()
        catch { case _: Throwable => () } // a failed query still unpersists
        finally cached.foreach(_.unpersist())
      })
      t.setName(s"graft-unpersist-${query.id}")
      t.setDaemon(true)
      t.start()
    }
    query
  }
}
