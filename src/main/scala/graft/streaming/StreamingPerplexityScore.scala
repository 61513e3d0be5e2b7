package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.VocabModelOps

/** Stream-static deployment of the q328 bigram-LM perplexity filter —
  * the 20th streaming component, and the quality gate a live ingest
  * pipeline actually runs: the LM is TRAINED IN BATCH on the trusted
  * static slice ([[VocabModelOps.bigramModel]], cached here; stored
  * relations in production — both vocabulary-bounded, broadcast-scale),
  * and every landing micro-batch of documents is scored continuously
  * with [[VocabModelOps.scoreBigramsPerDoc]] — the IDENTICAL exact
  * micro-bits arithmetic as the batch tier, so the continuous and batch
  * paths cannot drift (the q333 replay grade holds the drained stream
  * to q328's own full SQL oracle). Scoring is within-batch row-local
  * work plus joins against the cached model: this query holds NO
  * streaming state.
  *
  * Delivery: source progress is tracked in the checkpoint, so under
  * AvailableNow each landing file is processed once across restarts.
  * The foreachBatch parquet append is at-least-once on a mid-batch
  * failure; `batch_id` rides in the output so a downstream consumer
  * keeps max one copy per (batch_id, doc_id) — the same idempotent-
  * consumer contract as the other foreachBatch sinks here. Documents
  * with < 2 tokens score no rows, exactly like the batch tier.
  */
object StreamingPerplexityScore {

  def scoreAvailableNow(
      spark: SparkSession,
      landingDir: String,
      staticTrain: DataFrame,
      outDir: String,
      checkpointDir: String,
      schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val (c12r, c1r, vvr) = VocabModelOps.bigramModel(staticTrain)
    val c12 = c12r.cache(); val c1 = c1r.cache(); val vv = vvr.cache()
    c12.count(); c1.count(); vv.count() // train once, not per micro-batch
    Streams.stamped(
      Streams.landed(spark, landingDir, schema, maxFilesPerTrigger),
      outDir, checkpointDir, cached = Seq(c12, c1, vv))(
      VocabModelOps.scoreBigramsPerDoc(_, c12, c1, vv))
  }
}
