package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.streaming._

/** The stream-static components cache their static side (centroids,
  * model, bucket relation, budgets) for one query's lifetime; the
  * skeleton unpersists it when the query terminates, so a session that
  * runs a component repeatedly (bench loops, ScaleRehearsal) does not
  * accumulate cached blocks.
  */
class StreamStaticCacheSpec extends SparkSpec {

  test("stream-static components release their cached frames on termination") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val budgets = docs.groupBy("lang").agg(lit(1000L).as("budget"))
    val docText = StructType.fromDDL("doc_id BIGINT, text STRING")
    val docLangText =
      StructType.fromDDL("doc_id BIGINT, lang STRING, text STRING")
    val static = docs.where(col("doc_id") % 5 =!= 0)
    val delta = docs.where(col("doc_id") % 5 === 0)
    // (component, landed rows, start(landing, out, checkpoint))
    val components: Seq[(String, DataFrame,
        (String, String, String) => StreamingQuery)] = Seq(
      ("CentroidAssign",
        emb.where(col("vec_id") % 5 === 0)
          .select(col("vec_id"), col("embedding")),
        StreamingCentroidAssign.assignAvailableNow(spark, _,
          emb.where(col("vec_id") % 5 =!= 0), _, _,
          StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>"))),
      ("ClassifierScore", delta.select(col("doc_id"), col("text")),
        StreamingClassifierScore.scoreAvailableNow(spark, _, static, _, _,
          docText)),
      ("PerplexityScore", delta.select(col("doc_id"), col("text")),
        StreamingPerplexityScore.scoreAvailableNow(spark, _, static, _, _,
          docText)),
      ("IncrementalDedup", delta.select(col("doc_id"), col("text")),
        StreamingIncrementalDedup.flagAvailableNow(spark, _,
          static.select(col("doc_id"), col("text")), _, _, docText)),
      ("BudgetAdmission", docs,
        StreamingBudgetAdmission.admitAvailableNow(spark, _, budgets, _, _,
          docLangText)),
      ("CurationGate", docs,
        StreamingCurationGate.gateAvailableNow(spark, _, budgets, _, _,
          docLangText)))

    components.foreach { case (name, rows, start) =>
      spark.catalog.clearCache()
      val dir = Files.createTempDirectory(s"graft-cache-$name").toString
      rows.write.parquet(s"$dir/landing")
      val q = start(s"$dir/landing", s"$dir/out", s"$dir/ckpt")
      q.awaitTermination(120000)
      assert(q.exception.isEmpty, s"$name failed: ${q.exception}")
      assert(spark.read.parquet(s"$dir/out").count() > 0,
        s"$name emitted nothing")
      // the cleanup runs on its own thread after termination: poll
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!spark.sharedState.cacheManager.isEmpty &&
          System.nanoTime() < deadline) Thread.sleep(50)
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left cached frames after its stream terminated")
    }
  }
}
