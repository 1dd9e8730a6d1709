package graft.operators

/** Overlap INDEPENDENT driver actions (guide §2.6): Spark happily runs
  * several jobs at once inside one application — actions are only
  * sequential because driver code calls them sequentially. Used where
  * two or more sub-pipelines share no state (different output
  * directories, different relations): the later job's tasks back-fill
  * executors freed by the earlier job's tail.
  *
  * Each body runs inside the CALLING thread's CacheScope: whatever a
  * body registers (persisted intermediates, an iterative loop's
  * checkpoint blocks) lands in the caller's scope and is released at its
  * boundary, exactly as if the body had run on the calling thread. */
private[graft] object Par {

  /** Run the given thunks concurrently and wait for ALL to settle
    * (never leaves a write running past the call); the first failure
    * then propagates. */
  def all[A](fs: (() => A)*): Seq[A] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val scope = CacheScope.current
    val futs = fs.map(f => Future(CacheScope.within(scope)(f())))
    val settled = futs.map(f => scala.util.Try(Await.result(f, Duration.Inf)))
    settled.map(_.get)
  }
}
