package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.etl.Pipeline
import graft.model.Sales

/** Structured Streaming re-expression of the daily bronze→silver ingest
  * (SURVEY §2.11: the reference simulates arrival with batch appends; the
  * scale-path equivalent is a file-source stream over a landing directory
  * with `Trigger.AvailableNow`, giving exactly-once incremental processing
  * via the checkpoint instead of full recomputes).
  */
object StreamingIngest {

  /** Start a run that drains all currently-available landing files through
    * the silver transform into `outDir`, then stops. Re-running with the
    * same checkpoint processes only files that arrived since the last run —
    * the streaming analogue of `Pipeline.silverIncrement`.
    */
  def silverAvailableNow(spark: SparkSession, landingDir: String,
      outDir: String, checkpointDir: String): StreamingQuery =
    Streams.toParquet(
      Pipeline.silverTransform(
        Streams.landed(spark, landingDir, Sales.bronzeSchema)),
      outDir, checkpointDir)
}
