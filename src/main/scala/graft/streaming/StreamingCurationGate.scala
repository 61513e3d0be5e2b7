package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** STATEFUL curation-gate pipeline — the 22nd streaming component, and
  * the shape a live ingest actually chains: every arriving document
  * first passes a ROW-LOCAL quality gate (the content-shape subset of
  * q335's Gopher battery: word count ≥ 20, mean word length in [3, 10],
  * ≥ 80% alphabetic words — the rules a single-line synthetic corpus
  * can meaningfully pass), and only gate-passing documents reach the
  * per-language token-budget admission fold (q338's skip semantics:
  * a rejected or gated document consumes NOTHING). One stateful query,
  * one Long of state per language; the gate itself is stateless.
  *
  * Order contract and delivery are q338's: members sort by doc_id
  * within a micro-batch, id-ordered slices across batches, checkpointed
  * source progress, at-least-once foreachBatch appends with `batch_id`
  * for idempotent readback. The q344 replay grades the drained
  * per-language census against a RECURSIVE-CTE oracle that replays the
  * same gate + skip-fold in doc_id order.
  */
object StreamingCurationGate {

  final case class GateDoc(lang: String, doc_id: Long, n_toks: Long,
      gated: Boolean, budget: Long)
  final case class GateVerdict(doc_id: Long, lang: String, n_toks: Long,
      gated: Boolean, admitted: Boolean)

  /** Row-local gate + token count over a (doc_id, lang, text) frame —
    * shared verbatim by the batch budget computation and the streaming
    * path (one arithmetic, two execution modes): returns
    * (doc_id, lang, n_toks, gated).
    */
  def gateFrame(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      expr("filter(split(coalesce(text, ''), ' '), x -> x <> '')").as("ws"))
      .select(col("doc_id"), col("lang"),
        size(col("ws")).cast("long").as("w"),
        expr("CAST(aggregate(ws, 0, (a, x) -> a + length(x)) AS BIGINT)")
          .as("sumlen"),
        expr("CAST(size(filter(ws, x -> x RLIKE '[A-Za-z]')) AS BIGINT)")
          .as("n_alpha"))
      .select(col("doc_id"), col("lang"), col("w").as("n_toks"),
        (!(col("w") >= 20L &&
          col("sumlen") >= lit(3L) * col("w") &&
          col("sumlen") <= lit(10L) * col("w") &&
          lit(10L) * col("n_alpha") >= lit(8L) * col("w"))).as("gated"))

  /** Per-language fold: gated documents emit admitted = false and
    * consume nothing; passing documents run the q338 skip-fold.
    */
  def foldGate(rows: Dataset[GateDoc]): Dataset[GateVerdict] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.lang)
      .flatMapGroupsWithState[Long, GateVerdict](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (lang, it, state: GroupState[Long]) =>
          val members = it.toArray.sortBy(_.doc_id)
          var spent = state.getOption.getOrElse(0L)
          val out = members.map { d =>
            if (d.gated)
              GateVerdict(d.doc_id, lang, d.n_toks, gated = true,
                admitted = false)
            else {
              val ok = spent + d.n_toks <= d.budget
              if (ok) spent += d.n_toks
              GateVerdict(d.doc_id, lang, d.n_toks, gated = false,
                admitted = ok)
            }
          }
          state.update(spent)
          out.iterator
      }
  }

  val outputMode: OutputMode = OutputMode.Update()

  def gateAvailableNow(
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
    val docs =
      gateFrame(Streams.landed(spark, landingDir, schema, maxFilesPerTrigger))
      .join(broadcast(b), Seq("lang"))
      .select(col("lang"), col("doc_id"), col("n_toks"), col("gated"),
        col("budget"))
      .as[GateDoc]
    Streams.stamped(foldGate(docs), outDir, checkpointDir, outputMode,
      cached = Seq(b))(_.toDF())
  }
}
