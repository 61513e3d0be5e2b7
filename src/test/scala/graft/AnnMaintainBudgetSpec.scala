package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.{AnnIndexOps, SimilarityOps}
import graft.streaming.StreamingAnnMaintain
import graft.util.Parallel

/** What one streamed ANN maintenance operation costs the driver: Spark
  * jobs per 20-vector micro-batch and per serve, and code generation
  * per call. The ceilings are the counts of the fused-kernel design, so
  * a change that adds a job or brings back per-call compilation (a tier
  * body planned on the stream's cloned session recompiles every class
  * on every call) fails here before it shows in a benchmark. Also pins
  * [[graft.util.Parallel.inParallel]]'s failure contract.
  */
class AnnMaintainBudgetSpec extends SparkSpec with DriverBudget {

  private val schema = StructType.fromDDL("vec_id BIGINT, label INT, v ARRAY<DOUBLE>")

  test("a 20-vector micro-batch and a serve stay within their job budgets; a second call compiles almost nothing") {
    val v = SimilarityOps.vectors(spark, sf)
    // held-out ids interleave with the indexed ones, so every batch pays
    // the gate's anti-join, as streamed traffic below the watermark does
    val held = v.where(col("vec_id") % 10 === 3)
    AnnIndexOps.buildResidualIndex(spark, v.where(col("vec_id") % 10 =!= 3),
      "graft_ambudget")
    val landing = Files.createTempDirectory("graft-ambudget-landing").toString
    val ckpt = Files.createTempDirectory("graft-ambudget-ckpt").toString
    def batch(k: Int) = held.where(col("vec_id").between(200 * k, 200 * k + 199))
    def land(k: Int): Unit = batch(k).coalesce(1).write.mode("append").parquet(landing)
    def maintain(): Unit =
      StreamingAnnMaintain.maintainAvailableNow(spark, landing, "graft_ambudget",
        ckpt, schema).awaitTermination(120000)
    def serve(k: Int) = AnnIndexOps.serveTopK(spark,
      batch(k).select(col("vec_id").as("q_id"), col("v").as("qv")), "graft_ambudget")

    land(0)
    maintain()
    serve(0).collect()
    land(1)
    val c0 = compilations
    val maintainJobs = jobsOf(maintain())
    val compiled = compilations - c0
    val serveJobs = jobsOf(serve(1).collect())
    info(s"micro-batch jobs $maintainJobs, serve jobs $serveJobs, compilations $compiled")
    assert(spark.table("graft_ambudget_vectors").count() === v.count() - held.count() +
      batch(0).count() + batch(1).count(), "fixture: both batches must land")
    assert(maintainJobs <= 12, s"one micro-batch ran $maintainJobs Spark jobs")
    assert(serveJobs <= 9, s"one serve collect ran $serveJobs Spark jobs")
    // a call planned on the stream's cloned session recompiles its whole
    // write path, ~100 classes; the gate alone recompiles a handful (7
    // measured; 10-30 when the codegen cache held only 100 entries and
    // evicted the write path's classes between calls)
    assert(compiled <= 20,
      s"a second maintain call compiled $compiled classes: per-call codegen is back")
  }

  test("arrivals above the id watermark skip the stored-id lookup; a redelivery pays it and is a no-op") {
    val v = SimilarityOps.vectors(spark, sf)
    AnnIndexOps.buildResidualIndex(spark, v, "graft_amwm")
    val landing = Files.createTempDirectory("graft-amwm-landing").toString
    val ckpt = Files.createTempDirectory("graft-amwm-ckpt").toString
    val arrivals = v.where(col("vec_id") < 40)
      .select((col("vec_id") + lit(9200000000L)).as("vec_id"), col("label"), col("v"))
      .coalesce(1)
    def maintain(): Unit =
      StreamingAnnMaintain.maintainAvailableNow(spark, landing, "graft_amwm",
        ckpt, schema).awaitTermination(120000)
    def scansStoredIds(plans: Seq[String]): Boolean =
      plans.exists(_.contains("Scan parquet spark_catalog.default.graft_amwm_vectors"))

    arrivals.write.mode("append").parquet(landing)
    val fresh = plansOf(maintain())
    assert(spark.table("graft_amwm_vectors").count() === v.count() + 40)
    assert(!scansStoredIds(fresh),
      "a batch wholly above the watermark read the vectors table")

    // the same ids land again in a new file: at or below the watermark now
    arrivals.write.mode("append").parquet(landing)
    val redelivered = plansOf(maintain())
    assert(scansStoredIds(redelivered), "a redelivery must be checked against the stored ids")
    assert(spark.table("graft_amwm_vectors").count() === v.count() + 40,
      "a redelivered batch must append nothing")
  }

  test("inParallel waits for every task before rethrowing; later failures are suppressed") {
    val finished = new ConcurrentLinkedQueue[String]()
    val boom = new IllegalStateException("task 2 failed")
    val thrown = intercept[IllegalStateException] {
      Parallel.inParallel(spark, Seq(
        () => { Thread.sleep(300); finished.add("task 1") },
        () => throw boom,
        () => { Thread.sleep(600); finished.add("task 3") }))
    }
    assert(thrown eq boom)
    assert(finished.asScala.toSet === Set("task 1", "task 3"),
      "both sibling tasks must have finished before the failure is rethrown")

    val first = intercept[RuntimeException] {
      Parallel.inParallel(spark, Seq(
        () => { Thread.sleep(200); throw new RuntimeException("first") },
        () => throw new IllegalArgumentException("second")))
    }
    assert(first.getMessage === "first")
    assert(first.getSuppressed.map(_.getMessage).toSeq === Seq("second"))
  }

  test("inParallel bounds a call's concurrency and outlasts an interrupt of its caller") {
    val running = new AtomicInteger()
    val peak = new AtomicInteger()
    Parallel.inParallel(spark, Seq.fill(6)(() => {
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      Thread.sleep(100)
      running.decrementAndGet()
    }), width = 2)
    assert(peak.get <= 2, s"${peak.get} tasks of a width-2 call ran at once")

    val finished = new AtomicInteger()
    @volatile var finishedAtReturn = -1
    @volatile var interruptKept = false
    val caller = new Thread(() => {
      Parallel.inParallel(spark,
        Seq.fill(2)(() => { Thread.sleep(500); finished.incrementAndGet() }))
      finishedAtReturn = finished.get
      interruptKept = Thread.currentThread().isInterrupted
    })
    caller.start()
    Thread.sleep(100)
    caller.interrupt()
    caller.join()
    assert(finishedAtReturn === 2, "the call returned while a task was still running")
    assert(interruptKept, "the caller's interrupt must be re-asserted")
  }

  test("inParallel tasks run with the caller's job group, also on reused threads") {
    val sc = spark.sparkContext
    try {
      for (g <- Seq("graft-budget-a", "graft-budget-b")) {
        sc.setJobGroup(g, g)
        val seen = Parallel.inParallel(spark,
          Seq.fill(3)(() => sc.getLocalProperty("spark.jobGroup.id")))
        assert(seen === Seq.fill(3)(g))
      }
    } finally sc.clearJobGroup()
  }
}
