package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.CorpusStatsOps
import graft.streaming.StreamingSearchIndexMaintain

/** Persisted search-index lifecycle (q368/q369/q370): the stored
  * postings + dl relations must score exactly like q245's inline
  * pipeline, appends must equal from-scratch indexing, a takedown must
  * shift idf/length normalization exactly like an index that never saw
  * the deleted docs, and streamed redelivery must append nothing, not
  * even a doc taken down after its append.
  */
class SearchIndexSpec extends SparkSpec {
  import spark.implicits._

  private def docs = graft.util.Tables.t(spark, sf, "documents")
    .select(col("doc_id"), col("text"))

  private def served(prefix: String): Seq[(String, Int, Long)] =
    CorpusStatsOps.bm25FromStored(spark, CorpusStatsOps.Bm25Queries, 10,
        prefix)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq

  test("stored-index scoring == inline q245; append == from-scratch") {
    val inline = CorpusStatsOps.bm25TopK(docs, CorpusStatsOps.Bm25Queries, 10)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    CorpusStatsOps.searchIndexMaterialize(spark, docs, "graft_sispec")
    assert(served("graft_sispec") === inline,
      "the persistence layer must not move a single ranked row")

    val cut = docs.agg(expr("max(doc_id) * 4 div 5").as("t")).head()
      .getLong(0)
    CorpusStatsOps.searchIndexMaterialize(spark,
      docs.where(col("doc_id") <= cut), "graft_sispec2")
    CorpusStatsOps.searchIndexAppend(spark,
      docs.where(col("doc_id") > cut), "graft_sispec2")
    assert(served("graft_sispec2") === inline,
      "the appended index must score exactly like a from-scratch one")

    // the freshness contract fails loudly on an interleaved id
    val e = intercept[IllegalArgumentException] {
      CorpusStatsOps.searchIndexAppend(spark,
        Seq((0L, "join merge sort")).toDF("doc_id", "text"), "graft_sispec2")
    }
    assert(e.getMessage.contains("interleaves"))

    // an INTRA-batch duplicate passes the ordering check but would
    // double-count that doc's tf mass — the guard must catch it too
    // (ADVICE r15)
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val dup = intercept[IllegalArgumentException] {
      CorpusStatsOps.searchIndexAppend(spark,
        Seq((maxId + 1, "join merge sort"), (maxId + 1, "join merge sort"))
          .toDF("doc_id", "text"), "graft_sispec2")
    }
    assert(dup.getMessage.contains("duplicated"))
  }

  test("takedown: deleted docs leave results AND the model forgets their mass") {
    CorpusStatsOps.searchIndexMaterialize(spark, docs, "graft_sispec3")
    val pre = served("graft_sispec3")
    // delete every doc the pre-takedown ranking surfaced for q1: the
    // post-takedown ranking must contain none of them and must equal
    // a from-scratch index on the survivors (idf/dl mass forgotten)
    val delIds = pre.filter(_._1 == "q1").map(_._3).distinct
    CorpusStatsOps.searchIndexTakedown(spark,
      delIds.toDF("doc_id"), "graft_sispec3")
    val post = served("graft_sispec3")
    assert(post.nonEmpty && !post.exists(r => delIds.contains(r._3)),
      "a deleted doc must never be served again")
    CorpusStatsOps.searchIndexMaterialize(spark,
      docs.join(delIds.toDF("doc_id"), Seq("doc_id"), "left_anti"),
      "graft_sispec4")
    assert(post === served("graft_sispec4"),
      "swept-index scoring must equal an index that never saw the docs")
  }

  test("streamed takedown: tombstoned docs unservable with survivor-exact mass; apply is invisible; redelivery lands nothing") {
    val tn = CorpusStatsOps.searchIndexTables("graft_sitspec")
    CorpusStatsOps.searchIndexMaterialize(spark, docs, "graft_sitspec")
    val pre = served("graft_sitspec")
    val delIds = pre.filter(_._1 == "q1").map(_._3).distinct
    val landing = Files.createTempDirectory("graft-sit-landing").toString
    delIds.take(delIds.size / 2 max 1).toDF("doc_id").coalesce(1)
      .write.mode("append").parquet(landing)
    delIds.drop(delIds.size / 2 max 1).toDF("doc_id").coalesce(1)
      .write.mode("append").parquet(landing)
    def run(cp: String): Unit =
      graft.streaming.StreamingSearchIndexTakedown.takedownAvailableNow(
        spark, landing, "graft_sitspec", cp,
        StructType.fromDDL("doc_id BIGINT"),
        maxFilesPerTrigger = Some(1))
        .awaitTermination(120000)
    run(Files.createTempDirectory("graft-sit-ckpt").toString)

    // BEFORE the apply: tombstoned docs are unservable, and the serve
    // equals a from-scratch index on the survivors — the anti-join
    // runs before df/dl totals derive, so the mass is survivor-exact
    val filtered = served("graft_sitspec")
    assert(filtered.nonEmpty && !filtered.exists(r => delIds.contains(r._3)),
      "a tombstoned doc must be unservable the moment its tombstone lands")
    CorpusStatsOps.searchIndexMaterialize(spark,
      docs.join(delIds.toDF("doc_id"), Seq("doc_id"), "left_anti"),
      "graft_sitspec2")
    assert(filtered === served("graft_sitspec2"),
      "the tombstone-filtered serve must equal an index that never saw the docs")

    // redelivery with a wiped checkpoint lands nothing new
    val pendingRows = spark.table(
      CorpusStatsOps.searchTombTable("graft_sitspec")).count()
    run(Files.createTempDirectory("graft-sit-ckpt2").toString)
    assert(spark.table(CorpusStatsOps.searchTombTable("graft_sitspec"))
      .count() === pendingRows,
      "redelivered tombstone batches must not grow the pending set")

    // the apply folds physically, retires the pending set, and is
    // invisible to readers
    val postRowsBefore = spark.table(tn.postings).count()
    CorpusStatsOps.applySearchTombstones(spark, "graft_sitspec")
    assert(!spark.catalog.tableExists(
      CorpusStatsOps.searchTombTable("graft_sitspec")),
      "the apply must retire the folded tombstone table")
    assert(spark.table(tn.postings).count() < postRowsBefore,
      "the apply must physically remove the tombstoned docs' rows")
    assert(served("graft_sitspec") === filtered,
      "serves must be byte-identical before and after the apply")
    // idempotent: applying with no pending set is a no-op
    CorpusStatsOps.applySearchTombstones(spark, "graft_sitspec")
    assert(served("graft_sitspec") === filtered)
  }

  test("streamed maintenance == batch; redelivery appends nothing") {
    val cut = docs.agg(expr("max(doc_id) * 4 div 5").as("t")).head()
      .getLong(0)
    val tn = CorpusStatsOps.searchIndexTables("graft_sispec5")
    CorpusStatsOps.searchIndexMaterialize(spark,
      docs.where(col("doc_id") <= cut), "graft_sispec5")
    val tail = docs.where(col("doc_id") > cut)
    val mid = docs.agg(expr("max(doc_id) * 9 div 10").as("t")).head()
      .getLong(0)
    val landing = Files.createTempDirectory("graft-si-landing").toString
    tail.where(col("doc_id") <= mid).coalesce(1)
      .write.mode("append").parquet(landing)
    tail.where(col("doc_id") > mid).coalesce(1)
      .write.mode("append").parquet(landing)
    def run(cp: String): Unit =
      StreamingSearchIndexMaintain.maintainAvailableNow(spark, landing,
        "graft_sispec5", cp,
        StructType.fromDDL("doc_id BIGINT, text STRING"),
        maxFilesPerTrigger = Some(1))
        .awaitTermination(120000)
    run(Files.createTempDirectory("graft-si-ckpt").toString)
    val inline = CorpusStatsOps.bm25TopK(docs, CorpusStatsOps.Bm25Queries, 10)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(served("graft_sispec5") === inline,
      "the streamed index must score exactly like the inline pipeline")
    val postRows = spark.table(tn.postings).count()
    val dlRows = spark.table(tn.dl).count()
    run(Files.createTempDirectory("graft-si-ckpt2").toString)
    assert(spark.table(tn.postings).count() === postRows,
      "redelivered batches must not duplicate posting rows")
    assert(spark.table(tn.dl).count() === dlRows,
      "redelivered batches must not duplicate dl rows")

    // physically take the highest streamed doc down, then redeliver
    // every landed file again: the watermark is historical, so the doc
    // must stay gone
    val top = spark.table(tn.dl).agg(max(col("doc_id"))).head().getLong(0)
    CorpusStatsOps.searchIndexTakedown(spark, Seq(top).toDF("doc_id"),
      "graft_sispec5")
    run(Files.createTempDirectory("graft-si-ckpt3").toString)
    assert(spark.table(tn.dl).where(col("doc_id") === top).isEmpty &&
      spark.table(tn.postings).where(col("doc_id") === top).isEmpty,
      "a redelivered batch must not bring a taken-down doc back")
    assert(spark.table(tn.dl).count() === dlRows - 1)
  }
}
