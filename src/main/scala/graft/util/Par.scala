package graft.util

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

/** Overlap independent EAGER subplan constructions (guide §2.6: the
  * scheduler happily runs several jobs at once; composites were only
  * sequential because construction code called one eager action —
  * localCheckpoint / count — after another, leaving the cluster idle
  * in each subtree's stage tails).
  *
  * `Par(a, b, c)` runs the thunks on separate threads and returns
  * their results in order. Every thunk is awaited before anything
  * propagates, so no job outlives the call; then the failure of the
  * earliest failed thunk in argument order is rethrown, whichever
  * failed first in time. The thunks must be independent — nothing here
  * changes what any of them computes, only when their jobs are
  * submitted — and none may wait on another (no `Promise` passed
  * between them): a thunk that fails would leave its waiter hanging.
  */
object Par {
  def apply[T](thunks: (() => T)*): Seq[T] = {
    if (thunks.lengthCompare(1) <= 0) thunks.map(_())
    else {
      implicit val ec: ExecutionContext = ExecutionContext.global
      // a Future left incomplete by a fatal error would hang the await,
      // so each thunk's outcome, fatal or not, is its future's value
      val fs = thunks.map(t => Future[Try[T]](
        try Success(t()) catch { case e: Throwable => Failure(e) }))
      fs.map(Await.result(_, Duration.Inf)).map(_.get)
    }
  }
}
