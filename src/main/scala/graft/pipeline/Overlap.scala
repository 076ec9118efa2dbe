package graft.pipeline

import java.util.UUID
import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}

import scala.util.Try

import org.apache.spark.sql.SparkSession

/** Runs independent Spark jobs concurrently, so one job's tasks back-fill
  * executors freed by another's tail.
  *
  * Width: `min(tasks.size, 8)` — enough in-flight jobs to fill a tail of
  * many small stages, few enough not to thrash the scheduler. The pool is
  * built per call, so its threads inherit the caller's Spark local
  * properties (a stream's job group, the SQL execution root, a tracer's
  * span id). Each task is labelled `"$label: $name"` and carries one
  * per-call job tag; the job group is left alone, so a stream's `stop()`,
  * which cancels its group, still reaches these jobs.
  *
  * Failure: on the first failure (or an interrupt of the caller) the call
  * cancels its tagged jobs, interrupts the other tasks and waits for them,
  * cancels again (for a job submitted in between), then rethrows the first
  * failure with the others suppressed. No sibling job outlives the call.
  */
object Overlap {

  private val MaxWidth = 8

  /** Results in task order. `label` must not contain a comma (job tags can't). */
  def run[A](spark: SparkSession, label: String)(tasks: Seq[(String, () => A)]): Seq[A] =
    if (tasks.isEmpty) Nil
    else {
      val sc = spark.sparkContext
      val tag = s"$label ${UUID.randomUUID()}"
      val pool = Executors.newFixedThreadPool(math.min(tasks.size, MaxWidth))
      val done = new ExecutorCompletionService[A](pool)
      val futures = tasks.map { case (name, task) =>
        done.submit { () => sc.setJobDescription(s"$label: $name"); sc.addJobTag(tag); task() }
      }
      try {
        tasks.foreach(_ => done.take().get()) // completion order: a failure as it happens
        futures.map(_.get())
      } catch {
        case e: Throwable =>
          val first = e match { case x: ExecutionException => x.getCause; case x => x }
          sc.cancelJobsWithTag(tag)
          pool.shutdownNow()
          pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
          sc.cancelJobsWithTag(tag)
          futures.filter(_.isDone).flatMap(f => Try(f.get()).failed.toOption).collect {
            case x: ExecutionException if x.getCause ne first => x.getCause
          }.foreach(first.addSuppressed)
          throw first
      } finally pool.shutdown()
    }
}
