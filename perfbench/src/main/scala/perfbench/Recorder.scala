package perfbench

import java.time.Instant

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.catalog.{AlterTableEvent, CreateTableEvent, DropTableEvent, RenameTableEvent}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** What the traced run records from the session's listener buses.
  *
  * The benchmark registers one instance as a `SparkListener` and as a
  * `StreamingQueryListener`; nothing in graft is changed for it. Every
  * record keeps its own wall-clock times (epoch milliseconds) so that
  * run.py can attribute it to the operation that caused it. All
  * callbacks run on the listener-bus threads; [[snapshot]] is read on
  * the main thread after the bus has been drained.
  */
final class Recorder extends StreamingQueryListener {

  private val jobs = mutable.LinkedHashMap[Int, mutable.Map[String, Any]]()
  private val stages = mutable.LinkedHashMap[(Int, Int), mutable.Map[String, Any]]()
  private val batches = mutable.ArrayBuffer[Map[String, Any]]()
  private val sqlStarts = mutable.ArrayBuffer[Long]()
  private val ddl = mutable.ArrayBuffer[Long]()
  private val filesWritten = mutable.ArrayBuffer[(Long, Long)]()
  private val fileAccums = mutable.Set[Long]()

  private val taskCounters = Seq("tasks", "task_failures", "run_ms", "cpu_ns", "gc_ms",
    "shuffle_read_b", "shuffle_write_b", "spill_b", "input_b", "output_b", "output_rows")

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs(e.jobId) = mutable.Map("id" -> e.jobId, "group" -> group.orNull,
        "submit_ms" -> e.time, "end_ms" -> e.time, "stage_ids" -> e.stageIds, "ok" -> true)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j("end_ms") = e.time
        j("ok") = e.jobResult == JobSucceeded
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Recorder.this.synchronized {
        val s = e.stageInfo
        val rec = stage(s.stageId, s.attemptNumber())
        rec("submit_ms") = s.submissionTime.getOrElse(0L)
        rec("end_ms") = s.completionTime.getOrElse(0L)
        rec("failed") = s.failureReason.isDefined
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      val rec = stage(e.stageId, e.stageAttemptId)
      def add(k: String, v: Long): Unit = rec(k) = rec(k).asInstanceOf[Long] + v
      add("tasks", 1)
      if (e.reason != org.apache.spark.Success || e.taskInfo.attemptNumber > 0)
        add("task_failures", 1)
      Option(e.taskMetrics).foreach { m =>
        add("run_ms", m.executorRunTime)
        add("cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
        add("spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("input_b", m.inputMetrics.bytesRead)
        add("output_b", m.outputMetrics.bytesWritten)
        add("output_rows", m.outputMetrics.recordsWritten)
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = Recorder.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          sqlStarts += s.time
          noteFileAccums(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => noteFileAccums(u.sparkPlanInfo)
        case u: SparkListenerDriverAccumUpdates =>
          val n = u.accumUpdates.collect { case (id, v) if fileAccums(id) => v }.sum
          if (n > 0) filesWritten += ((System.currentTimeMillis(), n))
        case _: CreateTableEvent | _: DropTableEvent | _: AlterTableEvent |
            _: RenameTableEvent =>
          ddl += System.currentTimeMillis()
        case _ =>
      }
    }
  }

  private def stage(id: Int, attempt: Int): mutable.Map[String, Any] =
    stages.getOrElseUpdate((id, attempt), mutable.Map[String, Any](
      "id" -> id, "attempt" -> attempt, "submit_ms" -> 0L, "end_ms" -> 0L,
      "failed" -> false) ++ taskCounters.map(_ -> 0L))

  // the write commands' "number of written files" metric reaches the
  // listener only as a driver accumulator update keyed by accumulator id
  private def noteFileAccums(p: SparkPlanInfo): Unit = {
    p.metrics.filter(_.name == "number of written files").foreach(fileAccums += _.accumulatorId)
    p.children.foreach(noteFileAccums)
  }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val start = Instant.parse(p.timestamp).toEpochMilli
      batches += Map("start_ms" -> start, "end_ms" -> (start + ms("triggerExecution")),
        "add_batch_ms" -> ms("addBatch"), "input_rows" -> p.numInputRows,
        "batch_id" -> p.batchId)
    }

  def snapshot(): Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.values.map(_.toMap).toSeq,
      "stages" -> stages.values.map(_.toMap).toSeq,
      "batches" -> batches.toSeq,
      "sql_executions_ms" -> sqlStarts.toSeq,
      "table_ddl_ms" -> ddl.toSeq,
      "files_written" -> filesWritten.map { case (t, n) => Map("t_ms" -> t, "n" -> n) }.toSeq)
  }
}
