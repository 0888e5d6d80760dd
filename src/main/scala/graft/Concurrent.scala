package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.concurrent.ExecutionContext.Implicits.global
import scala.util.Failure

/** Independent driver actions (index-table writes) submitted together,
  * so Spark's scheduler runs their jobs side by side — one application
  * schedules concurrent jobs natively, and job descriptions are
  * thread-local.
  *
  * Failure contract: every action SETTLES before anything propagates.
  * A fail-fast `Await.result(Future.sequence(…))` would rethrow the
  * first failure while a sibling write kept running detached — a
  * caller's retry (or cleanup of the half-written directory) could
  * then race a live job still writing into it. Here the first failure
  * (by position) is rethrown only after all actions finished, with any
  * later failures attached as suppressed. */
object Concurrent {
  def runAll(actions: (() => Unit)*): Unit = {
    val running = actions.map(a => Future(a()))
    val failures = running
      .map(f => Await.ready(f, Duration.Inf).value.get)
      .collect { case Failure(e) => e }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }
}
