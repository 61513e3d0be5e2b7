package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.VocabModelOps

/** Streaming tier of the q262/q301 classifier loop — the deploy step:
  * every landing micro-batch of NEW documents is scored by the model
  * TRAINED IN BATCH on the static corpus (q301's two exact-integer
  * hard-sigmoid epochs, via [[VocabModelOps.trainedWeights]] — the
  * deployed weights ARE the graded trajectory's epoch-2 row), against
  * the static corpus's vocabulary relation
  * ([[VocabModelOps.tokenWeights]]). This is the train-offline /
  * infer-online shape every production quality filter runs: the model
  * and vocabulary are built ONCE here (cached; stored artifacts in
  * production — vocabulary-sized and 1-row respectively, broadcast into
  * every micro-batch), and per-batch scoring is
  * [[VocabModelOps.inferP4]] — the IDENTICAL integer arithmetic as the
  * batch tier, so the continuous and batch paths cannot drift (the
  * replay grade holds them to one full SQL oracle). Out-of-vocabulary
  * tokens drop per the inference contract; the query holds NO streaming
  * state — stateless row-local work against broadcast relations, the
  * q307 shape.
  *
  * Delivery: source progress is tracked in the checkpoint, so under
  * AvailableNow each landing file is processed once across restarts.
  * The foreachBatch parquet append is at-least-once on a mid-batch
  * failure; `batch_id` rides in the output so a downstream consumer
  * keeps max one copy per (batch_id, doc_id) — the same idempotent-
  * consumer contract as the other foreachBatch sinks here.
  */
object StreamingClassifierScore {

  def scoreAvailableNow(
      spark: SparkSession,
      landingDir: String,
      staticCorpus: DataFrame,
      outDir: String,
      checkpointDir: String,
      schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val weights = VocabModelOps.tokenWeights(staticCorpus).cache()
    val trained = VocabModelOps.trainedWeights(staticCorpus).cache()
    weights.count(); trained.count() // train once, not per micro-batch
    Streams.stamped(
      Streams.landed(spark, landingDir, schema, maxFilesPerTrigger),
      outDir, checkpointDir, cached = Seq(weights, trained))(
      VocabModelOps.inferP4(_, weights, trained))
  }
}
