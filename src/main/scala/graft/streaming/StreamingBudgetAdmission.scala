package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** STATEFUL token-budget admission control — the 21st streaming
  * component, and the quota gate a live ingest pipeline runs in front
  * of a fixed training budget: each language carries a token budget,
  * and an arriving document is ADMITTED iff its language's running
  * admitted-token total plus its own tokens still fits; a rejected
  * document consumes NOTHING and the stream moves on. The skip makes
  * this a true sequential fold — NOT a prefix-sum window (after one
  * oversized rejection, later smaller documents may still fit), which
  * is exactly why it lives in a stateful stream: the batch-SQL
  * equivalent is a per-language recursive fold (the q338 oracle is a
  * RECURSIVE CTE), while the stream pays one Long of state per
  * language.
  *
  * Order contract: admission depends on arrival order. Within a
  * micro-batch the group fold sorts by doc_id; across micro-batches
  * the q338 replay delivers id-ordered time slices — so the drained
  * verdicts equal the oracle's doc_id-ordered fold. State shape: ONE
  * long per language (quota spent) — admission memory at its floor,
  * no watermark needed (a budget never un-spends).
  *
  * Delivery: source progress is checkpointed (each file once across
  * restarts); the foreachBatch parquet append is at-least-once, with
  * `batch_id` riding for the idempotent-consumer readback.
  */
object StreamingBudgetAdmission {

  final case class DocTokens(lang: String, doc_id: Long, n_toks: Long,
      budget: Long)
  final case class Admission(doc_id: Long, lang: String, n_toks: Long,
      admitted: Boolean)

  /** Per-language admission fold: members sorted within the batch,
    * state = tokens spent so far.
    */
  def foldAdmissions(rows: Dataset[DocTokens]): Dataset[Admission] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.lang)
      .flatMapGroupsWithState[Long, Admission](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (lang, it, state: GroupState[Long]) =>
          val members = it.toArray.sortBy(_.doc_id)
          var spent = state.getOption.getOrElse(0L)
          val out = members.map { d =>
            val ok = spent + d.n_toks <= d.budget
            if (ok) spent += d.n_toks
            Admission(d.doc_id, lang, d.n_toks, ok)
          }
          state.update(spent)
          out.iterator
      }
  }

  val outputMode: OutputMode = OutputMode.Update()

  /** `budgets` is the (lang, budget) quota relation — computed in batch
    * from the corpus (or policy), broadcast into every micro-batch.
    */
  def admitAvailableNow(
      spark: SparkSession,
      landingDir: String,
      budgets: DataFrame,
      outDir: String,
      checkpointDir: String,
      schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    import spark.implicits._
    val b = budgets.cache()
    b.count() // materialize once, not per micro-batch
    val docs = Streams.landed(spark, landingDir, schema, maxFilesPerTrigger)
      .select(col("doc_id"), col("lang"),
        expr("""CAST(size(filter(split(coalesce(text, ''), ' '),
          | t -> t <> '')) AS BIGINT)""".stripMargin).as("n_toks"))
      .join(broadcast(b), Seq("lang"))
      .select(col("lang"), col("doc_id"), col("n_toks"), col("budget"))
      .as[DocTokens]
    Streams.stamped(foldAdmissions(docs), outDir, checkpointDir, outputMode,
      cached = Seq(b))(_.toDF())
  }
}
