package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import org.apache.spark.sql.types.StructType

import graft.ops.{AnnIndexOps, CorpusStatsOps, DedupOps, SimilarityOps, TakedownOps, VocabModelOps}
import graft.streaming.{StreamingAnnMaintain, StreamingClusterMaintain, StreamingLmMaintain,
  StreamingSearchIndexMaintain}

/** Streamed cluster-map maintenance (q371): per-micro-batch
  * component-local merges must equal the from-scratch transitive
  * closure exactly, and a redelivered batch (wiped checkpoint) must
  * merge nothing — the exactly-once contract lives in the cluster
  * table's own max-doc_id watermark.
  */
class StreamingClusterMaintainSpec extends SparkSpec {

  test("streamed merges == from-scratch closure; redelivery merges nothing") {
    val docs = graft.util.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val cut = docs.agg(expr("max(doc_id) * 4 div 5").as("t")).head()
      .getLong(0)
    val tn = TakedownOps.clusterTables("graft_clmspec")
    TakedownOps.clustersMaterializeWithProvenance(spark,
      docs.where(col("doc_id") <= cut), "graft_clmspec")

    val tail = docs.where(col("doc_id") > cut)
    val mid = docs.agg(expr("max(doc_id) * 9 div 10").as("t")).head()
      .getLong(0)
    val landing = Files.createTempDirectory("graft-clm-landing").toString
    tail.where(col("doc_id") <= mid).coalesce(1)
      .write.mode("append").parquet(landing)
    tail.where(col("doc_id") > mid).coalesce(1)
      .write.mode("append").parquet(landing)
    def run(cp: String): Unit =
      StreamingClusterMaintain.maintainAvailableNow(spark, landing,
        "graft_clmspec", cp,
        StructType.fromDDL("doc_id BIGINT, text STRING"),
        maxFilesPerTrigger = Some(1))
        .awaitTermination(120000)
    run(Files.createTempDirectory("graft-clm-ckpt").toString)

    def labelSet = spark.table(tn.clusters)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val truth = DedupOps.starClusters(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(labelSet == truth,
      "the streamed merges must reproduce the full-corpus closure")

    // redelivery: a FRESH checkpoint replays every landed file; the
    // watermark must make every re-merge a no-op
    val bucketRows = spark.table(tn.dbuckets).count()
    run(Files.createTempDirectory("graft-clm-ckpt2").toString)
    assert(labelSet == truth, "labels must be unchanged after redelivery")
    assert(spark.table(tn.dbuckets).count() === bucketRows,
      "redelivered batches must not duplicate bucket rows")
  }

  test("a map without the pinned watermark fails the stream instead of scanning") {
    import spark.implicits._
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING")
    val docRows = Seq((2L, "a b c")).toDF("doc_id", "text")
    // each doc tier's gate table, written without the pin (a copy this
    // code did not materialize): (the table left as it was, its setup,
    // what the failure names, a landed batch, the tier's stream)
    def unpinned(tbl: String, rows: DataFrame): () => Unit = () => {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      rows.write.format("parquet").saveAsTable(tbl)
    }
    val clusters = TakedownOps.clusterTables("graft_clmlegacy").clusters
    val dl = CorpusStatsOps.searchIndexTables("graft_silegacy").dl
    val c12 = VocabModelOps.lmTables("graft_lmlegacy").c12
    // and an ANN index whose census relation was dropped
    val vecs = SimilarityOps.vectors(spark, sf)
    val ann = AnnIndexOps.tables("graft_amlegacy")
    val tiers = Seq[(String, () => Unit, String, DataFrame,
        (String, String) => StreamingQuery)](
      (clusters, unpinned(clusters, Seq((1L, 1L, 0)).toDF("doc_id", "cluster_id", "is_dup")),
        "no graft.maxDocId property", docRows,
        StreamingClusterMaintain.maintainAvailableNow(spark, _, "graft_clmlegacy", _, schema)),
      (dl, unpinned(dl, Seq((1L, 3L)).toDF("doc_id", "dl")),
        "no graft.maxDocId property", docRows,
        StreamingSearchIndexMaintain.maintainAvailableNow(spark, _, "graft_silegacy", _, schema)),
      (c12, unpinned(c12, Seq(("a", "b", 1L)).toDF("w1", "w2", "c12")),
        "no graft.maxDocId property", docRows,
        StreamingLmMaintain.maintainAvailableNow(spark, _, "graft_lmlegacy", _, schema)),
      (ann.vectors, () => {
          AnnIndexOps.buildResidualIndex(spark, vecs, "graft_amlegacy")
          spark.sql(s"DROP TABLE ${AnnIndexOps.cellPopsTable("graft_amlegacy")}")
        },
        AnnIndexOps.cellPopsTable("graft_amlegacy"),
        vecs.where(col("vec_id") < 3)
          .select((col("vec_id") + lit(9200000000L)).as("vec_id"), col("label"), col("v")),
        StreamingAnnMaintain.maintainAvailableNow(spark, _, "graft_amlegacy", _,
          StructType.fromDDL("vec_id BIGINT, label INT, v ARRAY<DOUBLE>"))))
    tiers.foreach { case (tbl, setup, says, arrivals, stream) =>
      setup()
      val rows = spark.table(tbl).count()
      val landing = Files.createTempDirectory("graft-legacy-landing").toString
      arrivals.write.mode("append").parquet(landing)
      val e = intercept[StreamingQueryException] {
        stream(landing, Files.createTempDirectory("graft-legacy-ckpt").toString)
          .awaitTermination(120000)
      }
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(c => String.valueOf(c.getMessage).contains(says)), s"$tbl: $e")
      assert(spark.table(tbl).count() === rows, s"the legacy $tbl must be left as it was")
    }
  }
}
