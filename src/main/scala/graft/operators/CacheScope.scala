package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD

/** Call-scoped registry for operator-internal caches.
  *
  * Several dedup operators persist a multi-read intermediate (the hashed
  * shingle relation, the banded MinHash signatures, the multi-assigned
  * IVF relation) that both sides of a self-join consume. The operator
  * itself can never unpersist it: the returned DataFrame is lazy and
  * still reads the intermediate whenever the caller finally acts on it.
  * Left alone, those caches outlive the call and accumulate in a
  * long-lived session (VERDICT r4 hygiene finding).
  *
  * The iterative operators (connectedComponents, PageRank/PPR, label
  * propagation, the refined-pairs lineage cut, prepareTraining's stage
  * cuts) have a second kind of residue: `localCheckpoint` RDD blocks.
  * Those are invisible to the SQL cacheManager AND to
  * `DataFrame.unpersist` — they are freed only when the ContextCleaner
  * happens to GC the RDD object, which in a long-lived session (or a
  * 3×159-query bench loop in one 8 GB JVM — the round-10 exit-137
  * SIGKILL) is far too late. Operators route each checkpointed Dataset
  * through `registerCheckpoint`, which captures the underlying RDD
  * handle for explicit release.
  *
  * The seam: operators pass each such intermediate through `register` /
  * `registerCheckpoint`. A pipeline that MATERIALIZES its result (so the
  * intermediates are provably no longer needed) wraps the building code
  * in `collect`, runs one eager action on the result, then calls
  * `release()` on everything the scope captured. Without an active
  * scope, both register calls are no-ops and the session-level behavior
  * is exactly what it always was — interactive users keep their warm
  * intermediates (and the ContextCleaner keeps owning checkpoint
  * blocks).
  *
  * Releasing a checkpoint's blocks is safe under the same contract as
  * releasing a persisted intermediate — the scope's result is
  * materialized (into its own MEMORY_AND_DISK cache) first. A local
  * checkpoint's blocks were already lost on executor death, so release
  * narrows nothing: recompute-after-loss failed before and after.
  *
  * Driver-side and per-thread; scopes nest — an inner `collect` hides
  * the outer one, so an operator composed inside another scoped pipeline
  * cleans up at the innermost boundary that owns materialization.
  * [[Par.all]] carries the calling thread's scope into its bodies
  * ([[current]] / [[within]]), so the buffers are synchronized.
  */
private[graft] object CacheScope {

  /** Everything one scope captured. `release()` after the scope's result
    * is materialized; idempotent (unpersist on unpersisted is a no-op). */
  final class Captured(dfs: Seq[DataFrame], rdds: Seq[RDD[_]]) {
    def release(): Unit = {
      dfs.foreach(_.unpersist(blocking = false))
      rdds.foreach(_.unpersist(blocking = false))
    }
  }

  /** One scope's buffers; shared by the threads [[Par.all]] spawns. */
  final class Bufs private[CacheScope] {
    private val dfs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    private val rdds = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    private[CacheScope] def add(df: DataFrame): Unit = synchronized(dfs += df)
    private[CacheScope] def add(rdd: RDD[_]): Unit = synchronized(rdds += rdd)
    private[CacheScope] def captured: Captured =
      synchronized(new Captured(dfs.toList, rdds.toList))
  }

  private val active = new ThreadLocal[Bufs]

  /** The calling thread's scope (null outside any) — for [[within]]. */
  private[operators] def current: Bufs = active.get()

  /** Run `body` on this thread inside `scope` (as captured by [[current]]
    * on another thread), restoring this thread's own scope after. */
  private[operators] def within[A](scope: Bufs)(body: => A): A = {
    val prev = active.get()
    active.set(scope)
    try body finally active.set(prev)
  }

  /** Operators: route a just-persisted intermediate through here. */
  private[graft] def register(df: DataFrame): DataFrame = {
    val buf = active.get()
    if (buf != null) buf.add(df)
    df
  }

  /** The RDD blocks behind a just-`localCheckpoint`ed Dataset — the
    * blocks live at RDD level, where no SQL-side unpersist can reach
    * them. None if the plan isn't the bare LogicalRDD leaf
    * `Dataset.localCheckpoint` returns; the ONE place this extraction
    * lives (iterative loops that free superseded rounds use it too, so
    * a Spark plan-shape change is a single fix, not a silent leak in
    * one of two copies). */
  private[graft] def checkpointBlocksOf[T](ds: Dataset[T]): Option[RDD[_]] =
    ds.queryExecution.logical match {
      case l: LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Operators: route a just-`localCheckpoint`ed Dataset through here.
    * Anything not matching the checkpoint shape is left to the
    * ContextCleaner. */
  private[graft] def registerCheckpoint[T](ds: Dataset[T]): Dataset[T] = {
    val buf = active.get()
    if (buf != null) checkpointBlocksOf(ds).foreach(r => buf.add(r))
    ds
  }

  /** Sinks: run `body` with a fresh scope and release everything it
    * captured when it returns OR throws. Correct ONLY for bodies that
    * fully materialize their effects internally (every consumer action
    * — writes, counts — happens inside `body`); a body that returns a
    * lazy frame must use [[collect]] instead, or the release would pull
    * caches out from under the caller's later action. Exists for the
    * streaming `foreachBatch` sinks (ADVICE r12: the micro-batch thread
    * opens no scope, so `register` was a no-op there and a rolling
    * crawl accumulated two cached relations per batch without bound). */
  private[graft] def scoped[A](body: => A): A = {
    val buf = new Bufs
    try within(buf)(body) finally buf.captured.release()
  }

  /** Pipelines: run `body` with a fresh scope; returns (result, captured
    * intermediates). The caller MUST materialize the result before
    * `release()` — for persisted frames dropping them early merely
    * forfeits reuse, for checkpoint blocks it would break the result's
    * remaining lineage. */
  private[graft] def collect[A](body: => A): (A, Captured) = {
    val buf = new Bufs
    val a = within(buf)(body)
    (a, buf.captured)
  }
}
