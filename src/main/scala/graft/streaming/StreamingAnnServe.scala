package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.AnnIndexOps

/** The ANN serve path deployed as a QUERY SERVICE — the 23rd streaming
  * component, and the run-mode the q326 build/serve split exists for:
  * query vectors arrive as a stream, and every micro-batch is answered
  * from the STORED index ([[AnnIndexOps.serveTopK]] — partition-pruned
  * inverted-list reads, broadcast LUTs, decimal ADC, exact rerank) with
  * NO refit anywhere. Each query's top-k depends only on the frozen
  * index and its own vector, so the drained results are independent of
  * batching — the q345 replay grades them against q309's OWN golden,
  * the same oracle the batch serve (q326) is held to: one result
  * contract across inline-fit, stored-serve, and streamed-serve.
  *
  * The service holds NO streaming state; delivery is the standard
  * contract (checkpointed source progress, at-least-once foreachBatch
  * appends, `batch_id` for idempotent readback).
  */
object StreamingAnnServe {

  def serveAvailableNow(
      spark: SparkSession,
      landingDir: String,
      indexPrefix: String,
      outDir: String,
      checkpointDir: String,
      schema: StructType,
      topK: Int = 5,
      probes: Int = 8,
      shortlist: Int = 100,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    Streams.stamped(
      Streams.landed(spark, landingDir, schema, maxFilesPerTrigger),
      outDir, checkpointDir)(
      AnnIndexOps.serveTopK(spark, _, indexPrefix,
        topK = topK, probes = probes, shortlist = shortlist))
}
