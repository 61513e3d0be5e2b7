package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.{DedupOps, TakedownOps}
import graft.streaming.{StreamingClusterTakedown, StreamingMediaTakedown}

/** Streamed cluster-map (q379) and media-artifact (q380) takedown:
  * per-micro-batch sweeps must equal the from-scratch state on the
  * survivors, and a redelivered batch (wiped checkpoint) must be
  * SKIPPED entirely — the idempotency gate semi-joins the batch
  * against the stored relation, so a replay triggers no rewrite at
  * all (proven by the tables' data files not moving).
  */
class StreamingTierTakedownSpec extends SparkSpec {

  private def dataFiles(tbl: String): Set[String] = {
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), tbl)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(loc, true)
    val out = Set.newBuilder[String]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet"))
        out += f.getPath.toString
    }
    out.result()
  }

  test("streamed cluster takedown == survivors' closure; redelivery is a full skip") {
    import spark.implicits._
    val docs = graft.util.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val tn = TakedownOps.clusterTables("graft_ctdspec")
    TakedownOps.clustersMaterializeWithProvenance(spark, docs,
      "graft_ctdspec")
    val dels = docs.where(col("doc_id") % 13 === 0).select(col("doc_id"))
    val landing = Files.createTempDirectory("graft-ctd-landing").toString
    val mid = docs.agg(expr("max(doc_id) div 2").as("t")).head().getLong(0)
    dels.where(col("doc_id") <= mid).coalesce(1)
      .write.mode("append").parquet(landing)
    dels.where(col("doc_id") > mid).coalesce(1)
      .write.mode("append").parquet(landing)
    def run(cp: String): Unit =
      StreamingClusterTakedown.takedownAvailableNow(spark, landing,
        "graft_ctdspec", cp, StructType.fromDDL("doc_id BIGINT"),
        maxFilesPerTrigger = Some(1))
        .awaitTermination(120000)
    run(Files.createTempDirectory("graft-ctd-ckpt").toString)

    def labels(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("cluster_id"), col("is_dup"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val truth = labels(
      DedupOps.starClusters(docs.where(col("doc_id") % 13 =!= 0)))
    assert(labels(spark.table(tn.clusters)) === truth,
      "the streamed sweeps must equal the from-scratch survivors' closure")

    // redelivery: the idempotency gate must SKIP the fold — no rewrite,
    // the tables' data files do not move
    val filesBefore = (dataFiles(tn.clusters), dataFiles(tn.dbuckets))
    run(Files.createTempDirectory("graft-ctd-ckpt2").toString)
    assert((dataFiles(tn.clusters), dataFiles(tn.dbuckets)) === filesBefore,
      "a redelivered deletion batch must trigger no table rewrite at all")
    assert(labels(spark.table(tn.clusters)) === truth)
  }

  test("streamed media takedown == survivors' materialization; redelivery is a full skip") {
    import spark.implicits._
    val docs = graft.util.Tables.t(spark, sf, "documents")
      .select(col("doc_id"))
    val tn = TakedownOps.mediaTables("graft_mtdsspec")
    TakedownOps.mediaMaterialize(spark, docs, "graft_mtdsspec")
    // q365's composed deletion shape: RTBF sweep + all owners of one
    // payload (the fingerprint-retirement path must be exercised)
    val dels = docs
      .where(col("doc_id") % 13 === 0 || col("doc_id") % 97 === 7)
    val landing = Files.createTempDirectory("graft-mtds-landing").toString
    val mid = docs.agg(expr("max(doc_id) div 2").as("t")).head().getLong(0)
    dels.where(col("doc_id") <= mid).coalesce(1)
      .write.mode("append").parquet(landing)
    dels.where(col("doc_id") > mid).coalesce(1)
      .write.mode("append").parquet(landing)
    def run(cp: String): Unit =
      StreamingMediaTakedown.takedownAvailableNow(spark, landing,
        "graft_mtdsspec", cp, StructType.fromDDL("doc_id BIGINT"),
        maxFilesPerTrigger = Some(1))
        .awaitTermination(120000)
    run(Files.createTempDirectory("graft-mtds-ckpt").toString)

    // swept state == from-scratch materialization on the survivors
    TakedownOps.mediaMaterialize(spark,
      docs.join(broadcast(dels), Seq("doc_id"), "left_anti"),
      "graft_mtdsspec2")
    def rows(t: String) = spark.table(t).collect().map(_.toSeq).toSet
    assert(rows(tn.keyed) === rows("graft_mtdsspec2_mkeyed"))
    assert(rows(tn.sigs) === rows("graft_mtdsspec2_msigs"),
      "last-owner fingerprints must retire exactly as a rebuild would")
    assert(rows(tn.clusters) === rows("graft_mtdsspec2_mclusters"))
    // key 7's fingerprint must actually be gone (non-vacuous retirement)
    assert(spark.table(tn.sigs).where(col("media_key") === 7L).isEmpty,
      "every owner of key 7 died — its fingerprint must not survive")

    val filesBefore =
      (dataFiles(tn.keyed), dataFiles(tn.sigs), dataFiles(tn.clusters))
    run(Files.createTempDirectory("graft-mtds-ckpt2").toString)
    assert((dataFiles(tn.keyed), dataFiles(tn.sigs),
      dataFiles(tn.clusters)) === filesBefore,
      "a redelivered deletion batch must trigger no table rewrite at all")
  }

  test("a map without the pb partition column fails the stream instead of scanning it whole") {
    import spark.implicits._
    val tn = TakedownOps.clusterTables("graft_ctdlegacy")
    spark.sql(s"DROP TABLE IF EXISTS ${tn.clusters}")
    Seq((1L, 1L, 0)).toDF("doc_id", "cluster_id", "is_dup")
      .write.format("parquet").saveAsTable(tn.clusters)
    val landing = Files.createTempDirectory("graft-ctdlegacy-landing").toString
    Seq(1L).toDF("doc_id").write.mode("append").parquet(landing)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamingClusterTakedown.takedownAvailableNow(spark, landing, "graft_ctdlegacy",
        Files.createTempDirectory("graft-ctdlegacy-ckpt").toString,
        StructType.fromDDL("doc_id BIGINT")).awaitTermination(120000)
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("no pb partition column")), e)
    assert(spark.table(tn.clusters).count() === 1, "the legacy map must be left as it was")
  }
}
