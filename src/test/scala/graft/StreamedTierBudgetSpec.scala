package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.{AnnIndexOps, CorpusStatsOps, SimilarityOps, TakedownOps, VocabModelOps}
import graft.streaming.{StreamingAnnTakedown, StreamingClusterMaintain, StreamingClusterTakedown,
  StreamingLmMaintain, StreamingSearchIndexMaintain}

/** What one streamed micro-batch of a maintained tier costs the driver:
  * Spark jobs, and classes compiled by a warm call. The gate is the
  * only work on the stream's cloned session; the tier body runs on the
  * caller's session and hits its code-generation cache, so a warm call
  * recompiles little more than the gate's classes. The ceilings are the measured
  * counts: a tier body planned on the cloned session again, or an extra
  * job per batch, fails here. */
class StreamedTierBudgetSpec extends SparkSpec with DriverBudget {

  // measured: 52 and 31 jobs (53 and 32 with the gate's isEmpty probe
  // on the stream's session); 3-15 and 5 classes (148 and 47 with the
  // tier body planned on the stream's session). The ANN tombstone tier:
  // 4 jobs and 2 classes (5 when the append checkpointed the gate's
  // rows again; 4 and 8 with the append planned on the stream's
  // session). The search-index tier: 8 jobs and 2 classes (12 when the
  // gate and the append each scanned the dl relation for its max
  // doc_id). The LM tier: 11 jobs and 3 classes (14 with the watermark
  // kept in a side table, read and rewritten per batch)
  private val MaintainJobs = 52
  private val TakedownJobs = 31
  private val MaintainCompiled = 30L
  private val TakedownCompiled = 20L
  private val AnnTakedownJobs = 4
  private val AnnTakedownCompiled = 2L
  private val SearchMaintainJobs = 8
  private val SearchMaintainCompiled = 10L
  private val LmMaintainJobs = 11
  private val LmMaintainCompiled = 10L

  private def docs = graft.util.Tables.t(spark, sf, "documents")
    .select(col("doc_id"), col("text"))

  private lazy val tailCut = docs.agg(expr("max(doc_id) * 7 div 10").as("t")).head().getLong(0)
  private lazy val tailStep = docs.agg(expr("max(doc_id) div 10").as("t")).head().getLong(0)

  /** Three batches of `rows` above `tailCut`, each `tailStep` ids wide. */
  private def tailBatches(rows: org.apache.spark.sql.DataFrame) = (0 until 3).map(k =>
    rows.where(col("doc_id") > tailCut + k * tailStep && col("doc_id") <= tailCut + (k + 1) * tailStep))

  /** Runs `stream` over three landed batches, the first two to warm up,
    * and returns the jobs and compilations of the third call. */
  private def thirdCall(batches: Seq[org.apache.spark.sql.DataFrame],
      stream: (String, String) => Unit): (Int, Long) = {
    val landing = Files.createTempDirectory("graft-tierbudget-landing").toString
    val ckpt = Files.createTempDirectory("graft-tierbudget-ckpt").toString
    def land(k: Int): Unit = batches(k).coalesce(1).write.mode("append").parquet(landing)
    land(0)
    stream(landing, ckpt)
    land(1)
    stream(landing, ckpt)
    land(2)
    val c0 = compilations
    val jobs = jobsOf(stream(landing, ckpt))
    (jobs, compilations - c0)
  }

  test("a cluster-map maintain micro-batch stays within its job budget; a later call compiles only the gate") {
    val tn = TakedownOps.clustersMaterializeWithProvenance(spark,
      docs.where(col("doc_id") <= tailCut), "graft_clbudget")
    val (jobs, compiled) = thirdCall(tailBatches(docs), (landing, ckpt) =>
      StreamingClusterMaintain.maintainAvailableNow(spark, landing, "graft_clbudget", ckpt,
        StructType.fromDDL("doc_id BIGINT, text STRING")).awaitTermination(120000))
    info(s"micro-batch jobs $jobs, compilations $compiled")
    assert(spark.table(tn.clusters).count() ===
      docs.where(col("doc_id") <= tailCut + 3 * tailStep).count(), "fixture: every batch must land")
    assert(jobs <= MaintainJobs, s"one micro-batch ran $jobs Spark jobs")
    assert(compiled <= MaintainCompiled,
      s"a later maintain call compiled $compiled classes: the merge recompiles per call")
  }

  test("a cluster-map takedown micro-batch stays within its job budget; a later call compiles only the gate") {
    val tn = TakedownOps.clustersMaterializeWithProvenance(spark, docs, "graft_ctbudget")
    val batches = (0 until 3).map(k =>
      docs.where(col("doc_id") % 17 === k).select(col("doc_id")))
    val (jobs, compiled) = thirdCall(batches, (landing, ckpt) =>
      StreamingClusterTakedown.takedownAvailableNow(spark, landing, "graft_ctbudget", ckpt,
        StructType.fromDDL("doc_id BIGINT")).awaitTermination(120000))
    info(s"micro-batch jobs $jobs, compilations $compiled")
    assert(spark.table(tn.clusters).count() ===
      docs.where(col("doc_id") % 17 > 2).count(), "fixture: every batch must land")
    assert(jobs <= TakedownJobs, s"one micro-batch ran $jobs Spark jobs")
    assert(compiled <= TakedownCompiled,
      s"a later takedown call compiled $compiled classes: the repair recompiles per call")
  }

  test("an ANN takedown micro-batch stays within its job budget; a later call compiles only the gate") {
    val v = SimilarityOps.vectors(spark, sf)
    AnnIndexOps.buildResidualIndex(spark, v, "graft_atbudget")
    val batches = (0 until 3).map(k =>
      v.where(col("vec_id") % 17 === k).select(col("vec_id")))
    val (jobs, compiled) = thirdCall(batches, (landing, ckpt) =>
      StreamingAnnTakedown.takedownAvailableNow(spark, landing, "graft_atbudget", ckpt,
        StructType.fromDDL("vec_id BIGINT")).awaitTermination(120000))
    info(s"micro-batch jobs $jobs, compilations $compiled")
    assert(spark.table(AnnIndexOps.tombstoneTable("graft_atbudget")).count() ===
      v.where(col("vec_id") % 17 < 3).count(), "fixture: every batch must land")
    assert(jobs <= AnnTakedownJobs, s"one micro-batch ran $jobs Spark jobs")
    assert(compiled <= AnnTakedownCompiled,
      s"a later takedown call compiled $compiled classes: the tombstone append recompiles per call")
  }

  test("a search-index maintain micro-batch stays within its job budget; a later call compiles only the gate") {
    val tn = CorpusStatsOps.searchIndexMaterialize(spark,
      docs.where(col("doc_id") <= tailCut), "graft_sibudget")
    val (jobs, compiled) = thirdCall(tailBatches(docs), (landing, ckpt) =>
      StreamingSearchIndexMaintain.maintainAvailableNow(spark, landing, "graft_sibudget", ckpt,
        StructType.fromDDL("doc_id BIGINT, text STRING")).awaitTermination(120000))
    info(s"micro-batch jobs $jobs, compilations $compiled")
    assert(graft.util.Tables.pinnedMaxDocId(spark, tn.dl) ===
      graft.util.Tables.maxDocId(tailBatches(docs)(2)), "fixture: every batch must land")
    assert(jobs <= SearchMaintainJobs, s"one micro-batch ran $jobs Spark jobs")
    assert(compiled <= SearchMaintainCompiled,
      s"a later maintain call compiled $compiled classes: the append recompiles per call")
  }

  test("an LM maintain micro-batch stays within its job budget; a later call compiles only the gate") {
    val train = docs.where(col("doc_id") % 2 === 0)
    val tn = VocabModelOps.lmMaterialize(spark,
      train.where(col("doc_id") <= tailCut), "graft_lmbudget")
    val (jobs, compiled) = thirdCall(tailBatches(train), (landing, ckpt) =>
      StreamingLmMaintain.maintainAvailableNow(spark, landing, "graft_lmbudget", ckpt,
        StructType.fromDDL("doc_id BIGINT, text STRING")).awaitTermination(120000))
    info(s"micro-batch jobs $jobs, compilations $compiled")
    assert(graft.util.Tables.pinnedMaxDocId(spark, tn.c12) ===
      graft.util.Tables.maxDocId(tailBatches(train)(2)), "fixture: every batch must land")
    assert(jobs <= LmMaintainJobs, s"one micro-batch ran $jobs Spark jobs")
    assert(compiled <= LmMaintainCompiled,
      s"a later maintain call compiled $compiled classes: the fold recompiles per call")
  }
}
