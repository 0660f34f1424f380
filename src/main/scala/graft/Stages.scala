package graft

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicLong
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.Try
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge

/** The one way graft runs independent stages concurrently.
  *
  * `Stages.all(spark)("label" -> (() => work), …)` runs each thunk on
  * its own thread of a pool owned by the call (nested calls never
  * starve each other), submitted in argument order — under FIFO
  * scheduling the first, dominant stage keeps resource priority — and
  * returns the results in argument order.
  *
  * Stage threads inherit the caller's local properties: the stream's
  * run-id job group and `streaming.sql.batchId`, which `query.stop()`
  * cancels through and listeners attribute jobs by, so nothing here
  * calls `setJobGroup`. Each stage adds the call's job tag and sets
  * its label as the job description; nested calls inherit the outer
  * tag, so cancelling the outer call reaches their jobs.
  *
  * The first stage to fail, in completion order, decides: the
  * siblings' jobs are cancelled by tag and their threads interrupted,
  * the cancel repeating until the threads stop (a tag cancel misses
  * jobs submitted after it) or [[drainBound]] passes; then the first
  * failure is rethrown with the others suppressed. An interrupt of the
  * caller is handled the same way. Success waits without a bound — a
  * stage may legitimately run for hours.
  */
object Stages {
  private[graft] val tagPrefix = "graft-stages-"
  private val calls = new AtomicLong
  private val drainBound = 30.seconds
  private val cancelEveryMs = 50L

  def all[A](spark: SparkSession)(stages: (String, () => A)*): Seq[A] = {
    val sc = spark.sparkContext
    val tag = tagPrefix + calls.incrementAndGet()
    val pool = Executors.newFixedThreadPool(math.max(1, stages.size))
    try {
      val done = new ExecutorCompletionService[A](pool)
      val futures = stages.map { case (label, thunk) =>
        done.submit { () =>
          sc.addJobTag(tag)
          sc.setJobDescription(label)
          thunk()
        }
      }

      def fail(first: Throwable): Nothing = {
        val reason = s"because a sibling stage failed: $first"
        val deadline = drainBound.fromNow
        var interrupted = false
        def waited(wait: => Boolean): Boolean =
          try wait catch {
            case _: InterruptedException => interrupted = true; false
            case _: TimeoutException => false
          }
        sc.cancelJobsWithTag(tag, reason)
        pool.shutdownNow() // interrupts every stage thread
        while (!waited(pool.awaitTermination(cancelEveryMs, TimeUnit.MILLISECONDS)) &&
            deadline.hasTimeLeft())
          sc.cancelJobsWithTag(tag, reason)
        // once the threads are gone this cancel reaches whatever they
        // submitted last; after the scheduler has run it, no job of
        // this call is running
        waited(Await.ready(Bridge.cancelJobsWithTag(sc, tag, reason),
          deadline.timeLeft.max(1.second)).isCompleted)
        for (f <- futures if f.isDone; e <- Try(f.get()).failed) e match {
          case e: ExecutionException if e.getCause ne first => first.addSuppressed(e.getCause)
          case _ =>
        }
        if (interrupted && !first.isInstanceOf[InterruptedException])
          Thread.currentThread().interrupt()
        throw first
      }

      try stages.foreach(_ => done.take().get())
      catch {
        case e: ExecutionException => fail(e.getCause)
        case e: InterruptedException => fail(e)
      }
      futures.map(_.get())
    } finally pool.shutdown()
  }
}
