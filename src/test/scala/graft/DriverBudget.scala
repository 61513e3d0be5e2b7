package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.plans.WindowGuard

/** What a body costs the driver, for the budget specs: Spark jobs and
  * SQL executions started while it runs, and classes compiled by code
  * generation. The listener bus is drained before and after, as
  * WindowGuard does between queries. */
trait DriverBudget { self: SparkSpec =>

  private def observed[T](l: SparkListener)(body: => Unit)(read: => T): T = {
    WindowGuard.drain(spark)
    spark.sparkContext.addSparkListener(l)
    try { body; WindowGuard.drain(spark); read }
    finally spark.sparkContext.removeSparkListener(l)
  }

  /** Jobs started while `body` runs. */
  protected def jobsOf(body: => Unit): Int = {
    val n = new AtomicInteger()
    observed(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    })(body)(n.get)
  }

  /** Physical plans of the SQL executions started while `body` runs. */
  protected def plansOf(body: => Unit): Seq[String] = {
    val plans = new ConcurrentLinkedQueue[String]()
    observed(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case _ =>
      }
    })(body)(plans.asScala.toSeq)
  }

  /** Classes compiled so far in this JVM (code-generation cache misses). */
  protected def compilations: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
