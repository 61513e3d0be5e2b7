package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.DedupOps

/** Streaming tier of the q73 incremental dedup: every landing micro-batch
  * is flagged against a STATIC existing corpus with the same banded
  * MinHash family as the batch tier — the stream-static join shape for
  * continuous curation (reference pattern: daily incremental append,
  * 03:88-91, re-expressed as a stream over the corpus-dedup extension).
  *
  * The existing side is banded ONCE up front ([[DedupOps.bucketTable]],
  * cached here; a bucketed stored table in production) — each micro-batch
  * bands only itself and joins the precomputed relation, so per-batch cost
  * is proportional to the batch, never the corpus. Banding is stateless
  * row-local work, so unlike the watermark-keyed [[StreamingDedup]] this
  * query holds NO streaming state: within-stream duplicates are by
  * contract the landing stream's own dedup pass (compose with
  * [[StreamingDedup]]), exactly like the batch tier's one-sidedness.
  *
  * Delivery: source progress is tracked in the checkpoint, so under
  * AvailableNow each landing file is processed once across restarts. The
  * foreachBatch parquet append is at-least-once on a mid-batch failure
  * (re-run of the same batchId re-appends); `batch_id` is carried in the
  * output so an exactly-once downstream can keep max-one copy per
  * (batch_id, doc_id) — the standard idempotent-consumer contract for
  * non-transactional sinks.
  */
object StreamingIncrementalDedup {

  def flagAvailableNow(
      spark: SparkSession,
      landingDir: String,
      existing: DataFrame,
      outDir: String,
      checkpointDir: String,
      schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val buckets = DedupOps.bucketTable(existing).cache()
    Streams.stamped(
      Streams.landed(spark, landingDir, schema, maxFilesPerTrigger),
      outDir, checkpointDir, cached = Seq(buckets))(
      DedupOps.incrementalAssignAgainst(buckets, _))
  }
}
