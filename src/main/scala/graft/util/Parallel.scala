package graft.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Concurrent submission of independent Spark actions. */
object Parallel {

  /** The daemon threads [[inParallel]] runs on, shared by every call.
    * Cached, not fixed: each call bounds its own concurrency, a nested
    * call never waits for a thread its caller holds, and idle threads
    * exit after a minute.
    */
  private lazy val pool = java.util.concurrent.Executors.newCachedThreadPool {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    r: Runnable => {
      val t = new Thread(r, s"graft-parallel-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  /** Run independent actions concurrently (guide §2.6 — overlap
    * independent jobs): the maintenance paths commit several
    * mutually-independent table writes, and the replay harness lands
    * several independent slice files, whose sequential submission left
    * the cluster idle between jobs. Each task runs with the caller's
    * session, local properties (job group, description, SQL execution)
    * and artifact state, as Spark's own broadcast threads do: a pooled
    * thread would otherwise keep those of the call that created it.
    * At most `width` tasks of one call run at once. Every task finishes
    * before this returns or throws, an interrupt of the caller included
    * (it is re-asserted on return): the first failure (in `work` order)
    * is rethrown with the others attached as suppressed, so no sibling
    * write is still running when the caller sees the error.
    */
  def inParallel[T](spark: SparkSession, work: Seq[() => T],
      width: Int = 4): Seq[T] =
    if (work.size <= 1) work.map(_())
    else {
      val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val slots = new java.util.concurrent.Semaphore(width)
      val futs = work.map { w =>
        slots.acquireUninterruptibly()
        SQLExecution.withThreadLocalCaptured(session, pool) {
          try w() finally slots.release()
        }
      }
      val done = futs.map(outcome)
      done.collect { case Left(e) => e } match {
        case first +: rest =>
          rest.foreach(first.addSuppressed)
          throw first
        case _ => done.collect { case Right(r) => r }
      }
    }

  /** A task's result or failure, waited for through interrupts. */
  private def outcome[T](f: java.util.concurrent.Future[T]): Either[Throwable, T] = {
    var r: Either[Throwable, T] = null
    var interrupted = false
    while (r == null)
      try r = Right(f.get())
      catch {
        case e: java.util.concurrent.ExecutionException => r = Left(e.getCause)
        case _: InterruptedException => interrupted = true
      }
    if (interrupted) Thread.currentThread().interrupt()
    r
  }
}
