package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.EmbedStatsOps

/** Streaming tier of the q233 incremental index maintenance: every
  * landing micro-batch of NEW vectors is assigned to the nearest
  * existing label centroid — the continuous "index the new data without
  * re-clustering the corpus" pass a vector store runs as embeddings
  * arrive, and the streaming sibling of [[StreamingIncrementalDedup]]'s
  * stream-static shape applied to the ANN tier.
  *
  * The centroid relation is built ONCE from the static corpus
  * ([[EmbedStatsOps.ratCentroids]], cached here; a stored dimension in
  * production — |labels|·dim rows, broadcast into every micro-batch)
  * and the per-batch scoring is [[EmbedStatsOps.assignToCentroids]] —
  * the IDENTICAL cross-multiplied integer arithmetic as the batch tier,
  * so the continuous and batch paths cannot drift (the replay grade
  * holds them to the same full SQL oracle). Assignment is stateless
  * row-local work against the broadcast relation: this query holds NO
  * streaming state, within-batch scope only, exactly like the batch
  * tier's one-sidedness.
  *
  * Delivery: source progress is tracked in the checkpoint, so under
  * AvailableNow each landing file is processed once across restarts.
  * The foreachBatch parquet append is at-least-once on a mid-batch
  * failure; `batch_id` rides in the output so a downstream consumer
  * keeps max one copy per (batch_id, vec_id) — the same idempotent-
  * consumer contract as the other foreachBatch sinks here.
  */
object StreamingCentroidAssign {

  def assignAvailableNow(
      spark: SparkSession,
      landingDir: String,
      staticCorpus: DataFrame,
      outDir: String,
      checkpointDir: String,
      schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val centN = EmbedStatsOps.ratCentroids(
      EmbedStatsOps.quantElems(staticCorpus)
        .join(staticCorpus.select(col("vec_id"), col("label")), Seq("vec_id")))
      .cache()
    Streams.stamped(
      Streams.landed(spark, landingDir, schema, maxFilesPerTrigger),
      outDir, checkpointDir, cached = Seq(centN)) { batch =>
      EmbedStatsOps.assignToCentroids(EmbedStatsOps.quantElems(batch), centN)
    }
  }
}
