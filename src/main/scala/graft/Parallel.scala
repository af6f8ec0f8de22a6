package graft

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}
import scala.util.{Failure, Success, Try}

/** Bounded fan-out of independent work over a fixed thread pool that
  * lives for one call. Shared by the commit path's per-file staging
  * ([[graft.lake.LakeTable]]) and the pipeline's per-model
  * materialization ([[Pipeline]]).
  *
  * Contract: results come back in item order; EVERY task is awaited,
  * even after one fails, so no task is still running when the call
  * returns or throws (a caller's cleanup — deleting a staging
  * directory, publishing a catalog — never races work in flight); then
  * the first failure in item order is rethrown, with any later
  * failures attached to it as suppressed exceptions.
  *
  * Pool threads are created by the calling thread, so they inherit its
  * Spark local properties (job group, description, scheduler pool).
  */
object Parallel {

  /** Run `body` over `items` on at most `threads` threads. */
  def mapAll[A, B](items: Seq[A], threads: Int)(body: A => B): Seq[B] =
    mapAllBeside(items, threads)(body)(())._1

  /** [[mapAll]], running `meanwhile` on the calling thread while the
    * pool works. Its outcome comes back beside the results, never
    * thrown, so a task failure always outranks it.
    */
  def mapAllBeside[A, B, C](items: Seq[A], threads: Int)(body: A => B)(
      meanwhile: => C): (Seq[B], Try[C]) = {
    def attempt[T](t: => T): Try[T] =
      try Success(t) catch { case e: Throwable => Failure(e) }
    if (items.size <= 1) return (items.map(body), attempt(meanwhile))
    val pool = Executors.newFixedThreadPool(math.min(threads, items.size))
    try {
      val futures = items.map(a => pool.submit(new Callable[B] { def call(): B = body(a) }))
      val aside = attempt(meanwhile)
      val outcomes = futures.map { fu =>
        try Success(fu.get())
        catch { case e: ExecutionException => Failure(e.getCause) }
      }
      val failures = outcomes.collect { case Failure(e) => e }
      failures.headOption.foreach { first =>
        failures.tail.foreach(e => if (e ne first) first.addSuppressed(e))
        throw first
      }
      (outcomes.map(_.get), aside)
    } catch {
      case e: InterruptedException =>
        // the caller was interrupted while awaiting: cancel, and still
        // wait the tasks out before unwinding
        pool.shutdownNow()
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
        throw e
    } finally pool.shutdown()
  }
}
