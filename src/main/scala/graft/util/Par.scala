package graft.util

import scala.concurrent.{Await, ExecutionContext, Future, blocking}
import scala.concurrent.duration.Duration

/** Concurrent driver-side evaluation of INDEPENDENT Spark actions (guide
  * §2.6: actions are only sequential because driver code calls them
  * sequentially; submitting independent jobs together lets one job's task
  * tail back-fill the executors the other frees). Used for the paired
  * localCheckpoint barriers operators take on independent inputs.
  * Exceptions propagate to the caller.
  *
  * Each expression runs on the global pool inside `blocking`: it waits on a
  * Spark job (or on a nested `Par` call), so the pool adds a thread for it
  * instead of letting nested calls starve its `availableProcessors` threads. */
object Par {

  def run(fs: (() => Unit)*): Unit = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence(fs.map(f => Future(blocking(f())))), Duration.Inf)
  }

  /** Evaluate two independent expressions concurrently. */
  def eval2[A, B](a: => A, b: => B): (A, B) = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    // zip fails as soon as either side fails: a fast failure in `b` does
    // not wait on a slow `a`
    Await.result(Future(blocking(a)).zip(Future(blocking(b))), Duration.Inf)
  }
}
