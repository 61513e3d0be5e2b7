package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.TakedownOps
import graft.streaming.{StreamingClusterMaintain, StreamingClusterTakedown}

/** What one streamed micro-batch of a doc-keyed tier costs the driver:
  * Spark jobs, and classes compiled by a warm call. The gate is the
  * only work on the stream's cloned session; the tier body runs on the
  * caller's session and hits its code-generation cache, so a warm call
  * recompiles little more than the gate's classes. The ceilings are the measured
  * counts: a tier body planned on the cloned session again, or an extra
  * job per batch, fails here. */
class StreamedTierBudgetSpec extends SparkSpec with DriverBudget {

  // measured: 52 and 31 jobs (53 and 32 with the gate's isEmpty probe
  // on the stream's session); 7-15 and 5 classes (148 and 47 with the
  // tier body planned on the stream's session)
  private val MaintainJobs = 52
  private val TakedownJobs = 31
  private val MaintainCompiled = 30L
  private val TakedownCompiled = 20L

  private def docs = graft.util.Tables.t(spark, sf, "documents")
    .select(col("doc_id"), col("text"))

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
    val cut = docs.agg(expr("max(doc_id) * 7 div 10").as("t")).head().getLong(0)
    val step = docs.agg(expr("max(doc_id) div 10").as("t")).head().getLong(0)
    val tn = TakedownOps.clustersMaterializeWithProvenance(spark,
      docs.where(col("doc_id") <= cut), "graft_clbudget")
    val batches = (0 until 3).map(k =>
      docs.where(col("doc_id") > cut + k * step && col("doc_id") <= cut + (k + 1) * step))
    val (jobs, compiled) = thirdCall(batches, (landing, ckpt) =>
      StreamingClusterMaintain.maintainAvailableNow(spark, landing, "graft_clbudget", ckpt,
        StructType.fromDDL("doc_id BIGINT, text STRING")).awaitTermination(120000))
    info(s"micro-batch jobs $jobs, compilations $compiled")
    assert(spark.table(tn.clusters).count() ===
      docs.where(col("doc_id") <= cut + 3 * step).count(), "fixture: every batch must land")
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
}
