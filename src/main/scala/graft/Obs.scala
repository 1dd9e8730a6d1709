package graft

import org.apache.spark.sql.SparkSession

/** Operator observability events — the `[width]` exchange-sizing
  * decisions, the `[pq-exact]` expansion counts, the `[cc]` convergence
  * rounds. These decisions are invisible in post-AQE `.explain` output
  * (AQE renumbers stages and coalesces exchanges), so the operators
  * surface them as events; this object routes them somewhere a
  * deployment can capture.
  *
  * Channels, in order:
  *   - slf4j logger `graft.obs` at INFO — a Spark deployment's log4j2
  *     config captures these per-level, per-appender (raw stdout, the
  *     previous channel, is capturable by nobody once the driver log is
  *     multiplexed).
  *   - the Spark listener bus — every event is also posted to the
  *     active SparkContext as an [[org.apache.spark.graft.GraftObsEvent]],
  *     so a CLUSTER deployment captures decisions with a standard
  *     `SparkListener.onOtherEvent` (metrics sink, structured pipeline)
  *     instead of scraping driver logs. Posting is an async enqueue
  *     (no Spark action, no listener work on the calling thread) and a
  *     no-op when no context is running.
  *   - an optional in-process capture hook ([[withCapture]]) — specs and
  *     harnesses assert on the structured event, not on parsed stdout.
  *
  * Cost contract: [[event]] itself is driver-side and free, but some
  * stats exist only if the operator runs an EXTRA Spark action (the
  * pq-exact expansion counts are `count()`s over the probed code
  * relation). Operators gate that optional work on [[statsWanted]]:
  * true when a capture hook is installed on this thread or when the
  * session sets `spark.graft.obs=true`; false by default, so the
  * serving path pays zero stat-only actions (ADVICE r12: two
  * unconditional counts + a println per probe on the path Run serve
  * times).
  *
  * The capture hook is a ThreadLocal: operator plans are built on the
  * calling thread, so a spec's capture sees exactly its own query's
  * events even when suites run in parallel in one JVM.
  */
object Obs {

  /** One event: tag + ordered key/value pairs. */
  type Event = (String, Seq[(String, Any)])

  private val log = org.slf4j.LoggerFactory.getLogger("graft.obs")
  private val capture =
    new ThreadLocal[scala.collection.mutable.Buffer[Event]]

  /** Operators: should stat-only Spark actions run? True iff someone
    * will see the result — a capture hook on this thread, or the
    * session opting in via `spark.graft.obs=true`. */
  def statsWanted(spark: SparkSession): Boolean =
    capture.get() != null ||
      spark.conf.getOption("spark.graft.obs").exists(_.equalsIgnoreCase("true"))

  /** Emit one event. Driver-side, no Spark actions (the listener-bus
    * post is an asynchronous enqueue). */
  def event(tag: String, kv: (String, Any)*): Unit = {
    if (log.isInfoEnabled())
      log.info(s"[$tag] " +
        kv.map { case (k, v) => s"$k=$v" }.mkString(" "))
    org.apache.spark.graft.ObsBus.postActive(tag, kv)
    val buf = capture.get()
    if (buf != null) buf += ((tag, kv))
  }

  /** Run `body` capturing every event fired on this thread; returns
    * (result, events in firing order). Nests: the inner capture wins,
    * the outer resumes after. While active, [[statsWanted]] is true on
    * this thread, so gated stats are computed. */
  def withCapture[A](body: => A): (A, Seq[Event]) = {
    val prev = capture.get()
    val buf = scala.collection.mutable.Buffer.empty[Event]
    capture.set(buf)
    try {
      val a = body
      (a, buf.toList)
    } finally capture.set(prev)
  }
}
