package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.VocabModelOps
import graft.streaming.StreamingLmMaintain

/** Streamed LM maintenance (q367): per-micro-batch count folds must
  * equal from-scratch training exactly, and a redelivered batch (wiped
  * checkpoint) must fold NOTHING — counts are not idempotent, so the
  * exactly-once contract lives in the doc_id high-watermark pinned on
  * the c12 relation, not the checkpoint. The pin is shared with the
  * batch fold: a stream never re-counts docs a batch learn applied.
  */
class StreamingLmMaintainSpec extends SparkSpec {

  private val schema = StructType.fromDDL("doc_id BIGINT, text STRING")

  test("streamed folds == from-scratch training; redelivery folds nothing") {
    val docs = graft.util.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val train = docs.where(col("doc_id") % 2 === 0)
    val cut = docs.agg(expr("max(doc_id) * 4 div 5").as("t")).head()
      .getLong(0)
    val tn = VocabModelOps.lmTables("graft_lmsspec")
    VocabModelOps.lmMaterialize(spark,
      train.where(col("doc_id") <= cut), "graft_lmsspec")

    val tail = train.where(col("doc_id") > cut)
    val mid = docs.agg(expr("max(doc_id) * 9 div 10").as("t")).head()
      .getLong(0)
    val landing = Files.createTempDirectory("graft-lms-landing").toString
    tail.where(col("doc_id") <= mid).coalesce(1)
      .write.mode("append").parquet(landing)
    tail.where(col("doc_id") > mid).coalesce(1)
      .write.mode("append").parquet(landing)
    def run(cp: String): Unit =
      StreamingLmMaintain.maintainAvailableNow(spark, landing,
        "graft_lmsspec", cp, schema, maxFilesPerTrigger = Some(1))
        .awaitTermination(120000)
    run(Files.createTempDirectory("graft-lms-ckpt").toString)

    val (r12, r1, rv) = VocabModelOps.bigramModel(train)
    assert(spark.table(tn.c12).collect().toSet === r12.collect().toSet,
      "streamed c12 must equal from-scratch training on the full slice")
    assert(spark.table(tn.c12).groupBy("w1").agg(sum(col("c12")).as("c1"))
      .collect().toSet === r1.collect().toSet)
    assert(spark.table(tn.cw).count() === rv.head().getLong(0))

    // redelivery: a FRESH checkpoint replays every landed file; the
    // persisted watermark must make every re-fold a no-op — a single
    // double-counted row would break the set equality below
    run(Files.createTempDirectory("graft-lms-ckpt2").toString)
    assert(spark.table(tn.c12).collect().toSet === r12.collect().toSet,
      "redelivered batches must not double-count any bigram")
    assert(spark.table(tn.cw).count() === rv.head().getLong(0))
  }

  test("a stream over docs a batch fold already learned counts them once") {
    val docs = graft.util.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val train = docs.where(col("doc_id") % 2 === 0)
    val cut = docs.agg(expr("max(doc_id) * 4 div 5").as("t")).head()
      .getLong(0)
    val mid = docs.agg(expr("max(doc_id) * 9 div 10").as("t")).head()
      .getLong(0)
    val tn = VocabModelOps.lmTables("graft_lmmix")
    VocabModelOps.lmMaterialize(spark,
      train.where(col("doc_id") <= cut), "graft_lmmix")
    val tail = train.where(col("doc_id") > cut)
    // the first slice is folded by a batch learn, then landed again
    // together with the rest of the tail
    VocabModelOps.learnLm(spark, tail.where(col("doc_id") <= mid),
      "graft_lmmix")
    val landing = Files.createTempDirectory("graft-lmmix-landing").toString
    tail.where(col("doc_id") <= mid).coalesce(1)
      .write.mode("append").parquet(landing)
    tail.where(col("doc_id") > mid).coalesce(1)
      .write.mode("append").parquet(landing)
    StreamingLmMaintain.maintainAvailableNow(spark, landing, "graft_lmmix",
      Files.createTempDirectory("graft-lmmix-ckpt").toString, schema,
      maxFilesPerTrigger = Some(1)).awaitTermination(120000)

    val (r12, _, rv) = VocabModelOps.bigramModel(train)
    assert(spark.table(tn.c12).collect().toSet === r12.collect().toSet,
      "the batch-learned slice must not be counted again by the stream")
    assert(spark.table(tn.cw).count() === rv.head().getLong(0))
  }
}
