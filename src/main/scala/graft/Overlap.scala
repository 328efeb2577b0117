package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

/** Two independent driver-side Spark actions run at once, so one job's
  * idle tail backfills the other's compute.
  */
private[graft] object Overlap {

  /** Runs `a` and `b` on two fresh daemon threads created by the calling
    * thread, awaits BOTH, then returns both results or rethrows the first
    * failure (`a`'s before `b`'s).
    *
    * Fresh threads, never a shared pool: a new Thread inherits the
    * caller's Spark local properties (job group, SQL execution id) via
    * InheritableThreadLocal, while a pooled thread keeps those of
    * whichever caller created it — so a later caller's jobs would carry
    * an earlier caller's group and escape a job-group cancel. Awaiting
    * both before rethrowing keeps a failed side from leaving its sibling
    * running as a detached job past the caller's scope.
    */
  def both[A, B](a: => A, b: => B): (A, B) = {
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutor((r: Runnable) => {
        val t = new Thread(r, "graft-overlap")
        t.setDaemon(true)
        t.start()
      })
    val fa = Future(a)
    val fb = Future(b)
    val ra = Try(Await.result(fa, Duration.Inf))
    val rb = Try(Await.result(fb, Duration.Inf))
    (ra.get, rb.get)
  }
}
