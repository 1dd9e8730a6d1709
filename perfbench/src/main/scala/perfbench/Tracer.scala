package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, made from the benchmark's own code.
  * `op` ties the spans of one closed-loop operation together; 0 marks
  * set-up work outside the measured window. */
final case class Span(id: Long, name: String, parent: Long, op: Long,
                      startMs: Long, endMs: Long, wallS: Double)

/** One Spark job with the task metrics summed over its stages.
  * `callSite` is Spark's short form, `<action> at <File>.scala:<line>`;
  * `stack` is the long form, one frame a line. */
final class JobRec(val id: Int, val startMs: Long, val callSite: String,
                   val stack: String) {
  var endMs: Long = -1L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var bytesRead = 0L
  var bytesWritten = 0L

  /** The engine module that submitted the job: the file of its call
    * site (`Dedup` for `count at Dedup.scala:1820`). */
  def module: String = JobRec.Site.findFirstMatchIn(callSite)
    .map(_.group(1)).getOrElse("")
}

object JobRec {
  private val Site = """ at (\w+)\.scala:\d+""".r
}

/** Layer totals over a set of spans (see [[Tracer.totals]]). */
final case class Totals(spans: Int, wallS: Double, jobs: Int, planS: Double,
                        gapS: Double, tasks: Long, cpuS: Double,
                        runS: Double, gcS: Double, shuffleWriteMb: Double,
                        spillMb: Double, readMb: Double, writtenMb: Double)

/** Benchmark-side tracing. With `enabled` false every method is a plain
  * pass-through, so the untraced run registers no listener and records
  * nothing; the same holds while the listeners are detached. With it on, spans are kept in memory, jobs and tasks come
  * from a SparkListener, Catalyst phase times from a
  * QueryExecutionListener, and everything is written to a sidecar at
  * exit. Nothing under the engine's sources is touched. With one client
  * thread, spans never overlap except by nesting, so a job belongs to
  * the innermost span whose interval holds the job's submission time;
  * this also catches jobs the engine submits from its own threads. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Long]
  private var nextId = 1L
  private var opId = 0L
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  // SQL execution id -> (short, long) call site of the action
  private val execSite = mutable.HashMap.empty[Long, (String, String)]
  // (phase start ms, summed Catalyst phase seconds, action name)
  private val plans = mutable.ArrayBuffer.empty[(Long, Double, String)]

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        execSite(s.executionId) = (s.description, s.details) }
      case _ =>
    }
    // A job of a SQL action takes the action's call site: the jobs AQE
    // submits from its own threads would otherwise name a frame of
    // those threads' stacks.
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val last = e.stageInfos.sortBy(_.stageId).lastOption
      val (site, stack) = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execSite.get(id.toLong))
        .getOrElse((last.map(_.name).getOrElse(""),
          last.map(_.details).getOrElse("")))
      jobs(e.jobId) = new JobRec(e.jobId, e.time, site, stack)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get);
           m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.bytesRead += m.inputMetrics.bytesRead
        j.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(name: String, qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) Tracer.this.synchronized {
        plans += ((ph.map(_.startTimeMs).min,
          ph.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3, name))
      }
    }
    override def onSuccess(name: String, qe: QueryExecution,
                           durationNs: Long): Unit = record(name, qe)
    override def onFailure(name: String, qe: QueryExecution,
                           e: Exception): Unit = record(name, qe)
  }

  private var attached = false
  attach()

  /** Register the listeners (a no-op when tracing is off or they are
    * already registered). */
  def attach(): Unit = if (enabled && !attached) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  /** Unregister the listeners after delivering what is queued. */
  def detach(): Unit = if (attached) {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** Start the next closed-loop operation; its spans carry its id. */
  def nextOp(): Unit = opId += 1

  def span[A](name: String)(f: => A): A =
    if (!attached) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val s0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try f
      finally {
        val wall = (System.nanoTime() - n0) / 1e9
        stack = stack.tail
        spans += Span(id, name, parent, opId, s0, System.currentTimeMillis(),
          wall)
      }
    }

  private def innermostAt(ms: Long): Long = spans
    .filter(s => s.startMs <= ms && ms <= s.endMs)
    .sortBy(s => (-s.startMs, -s.id)).headOption.map(_.id).getOrElse(-1L)

  private def ownerOf(j: JobRec): Long = innermostAt(j.startMs)

  /** Totals over the spans matching `pick`; a matching span nested in
    * another matching span counts as part of its outermost one, so no
    * job or second of wall time is counted twice. `jobPick` narrows the
    * job-derived totals to some of those spans' jobs (the driver gap
    * still counts them all). Call after the work has ended. */
  def totals(pick: Span => Boolean,
             jobPick: JobRec => Boolean = _ => true): Totals = synchronized {
    PerfbenchBus.drain(sc)
    val byId = spans.map(s => s.id -> s).toMap
    val picked = spans.filter(pick).map(_.id).toSet
    def outermost(id: Long): Option[Long] = {
      var cur = id
      var found = Option.empty[Long]
      while (cur > 0) {
        if (picked(cur)) found = Some(cur)
        cur = byId.get(cur).map(_.parent).getOrElse(0L)
      }
      found
    }
    val roots = spans.filter(s => picked(s.id) && outermost(s.id).contains(s.id))
    val js = jobs.values.toSeq.flatMap(j => outermost(ownerOf(j)).map(_ -> j))
    val plan = plans.toSeq.flatMap { case (ms, s, _) =>
      outermost(innermostAt(ms)).map(_ => s) }.sum
    // driver gap: span wall time not covered by any of its jobs
    val gap = roots.map { r =>
      val iv = js.collect { case (id, j) if id == r.id && j.endMs >= 0 =>
        (math.max(j.startMs, r.startMs), math.min(j.endMs, r.endMs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
      math.max(0.0, r.wallS - covered / 1e3)
    }.sum
    val j = js.map(_._2).filter(jobPick)
    val mb = 1024.0 * 1024.0
    Totals(roots.size, roots.map(_.wallS).sum, j.size, plan, gap,
      j.map(_.tasks).sum, j.map(_.cpuNs).sum / 1e9, j.map(_.runMs).sum / 1e3,
      j.map(_.gcMs).sum / 1e3, j.map(_.shuffleWrite).sum / mb,
      j.map(_.spill).sum / mb, j.map(_.bytesRead).sum / mb,
      j.map(_.bytesWritten).sum / mb)
  }

  def named(name: String): Totals = totals(s => s.name == name && s.op > 0)

  /** Spans, jobs and plan records as one JSON document. */
  def sidecar(): String = synchronized {
    PerfbenchBus.drain(sc)
    def q(s: String) = Json.str(s)
    val ss = spans.map(s =>
      s"""{"id":${s.id},"name":${q(s.name)},"parent":${s.parent},""" +
        s""""op":${s.op},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""wall_s":${s.wallS}}""").mkString("[", ",\n", "]")
    val js = jobs.values.map(j =>
      s"""{"job":${j.id},"span":${ownerOf(j)},"call_site":${q(j.callSite)},""" +
        s""""stack":${q(j.stack)},""" +
        s""""start_ms":${j.startMs},"end_ms":${j.endMs},"tasks":${j.tasks},""" +
        s""""cpu_ns":${j.cpuNs},"run_ms":${j.runMs},"gc_ms":${j.gcMs},""" +
        s""""shuffle_write":${j.shuffleWrite},"spill":${j.spill},""" +
        s""""read":${j.bytesRead},"written":${j.bytesWritten}}""")
      .mkString("[", ",\n", "]")
    val ps = plans.map { case (ms, s, n) =>
      s"""{"start_ms":$ms,"plan_s":$s,"action":${q(n)}}""" }
      .mkString("[", ",\n", "]")
    s"""{"spans":$ss,\n"jobs":$js,\n"plans":$ps}"""
  }
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
