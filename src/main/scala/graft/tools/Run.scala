package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import scala.collection.mutable

import graft.{Obs, SparkEntry, Tables, VectorIndex, operators}
import graft.operators.Dedup
import graft.streaming.EventWindows

/** The dev harness: every measurement and inspection tool on the one
  * session Bench uses (`Tables.session`), so a number taken here
  * explains the benched number.
  *
  * Usage: runMain graft.tools.Run <mode> [--passes N] [args…]
  *   bench [queries…]             Bench's protocol (sf0.001 warm-up, N
  *                                timed passes, per-query MIN) for the
  *                                named queries, or all; put an untouched
  *                                control query in the list for an A/B
  *   profile queries…             per-job / per-stage wall breakdown,
  *                                Catalyst phases, driver-thread samples
  *   plans <outDir> <suffix> queries…
  *                                `.explain("formatted")` of each query to
  *                                <outDir>/<query>_<suffix>.txt
  *   serve                        at-rest serving: build each saved layout
  *                                once, then time its probes and its fsck
  *                                audit alone (min of N), one JSON line
  *   stream [--compact-every N] [--takedown-every N]
  *                                micro-batch streaming: the streaming
  *                                funnel, then the rolling crawl against a
  *                                standing LSH index with interleaved
  *                                compacts / takedowns, one JSON line
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4).
  * --passes defaults to 2 (Bench's protocol); --compact-every and
  * --takedown-every (stream only) default to 0 (never). */
object Run {
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
  val WarmDir = "/root/testdata/sf0.001"
  /** Micro-batch arrivals per `stream` run. */
  val StreamBatches = 8
  val Usage = "usage: Run <bench|profile|plans|serve|stream> [--passes N] " +
    "[--compact-every N] [--takedown-every N] [args…]"
  private val Modes = Set("bench", "profile", "plans", "serve", "stream")

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse(sys.error(Usage))
    if (!Modes(mode)) sys.error(s"unknown mode $mode\n$Usage")
    val (passes, r0) = intFlag(args.toSeq.drop(1), "--passes", 2, min = 1)
    val (compactEvery, r1) = intFlag(r0, "--compact-every", 0, min = 0)
    val (takedownEvery, rest) = intFlag(r1, "--takedown-every", 0, min = 0)
    if (mode == "stream" && rest.nonEmpty)
      sys.error(s"unexpected arguments: ${rest.mkString(" ")}\n$Usage")
    val spark = Tables.session(cpus, sfDir)
    try mode match {
      case "bench" =>
        val names = if (rest.nonEmpty) known(rest)
          else SparkEntry.queries.keys.toSeq.sorted
        val rs = bench(spark, sfDir, names, passes)
        rs.foreach(r => println(
          f"${r.name}%-32s ${r.secs}%8.3f s rows=${r.rows} (min of $passes)"))
        println(f"TOTAL ${rs.map(_.secs).sum}%8.3f s")
      case "profile" => known(rest).foreach(profile(spark, sfDir, _))
      case "plans" =>
        val Seq(outDir, suffix, names @ _*) = rest
        Files.createDirectories(Paths.get(outDir))
        known(names).foreach { q =>
          val out = Paths.get(outDir, s"${q}_$suffix.txt")
          Files.writeString(out, SparkEntry.queries(q)(spark, sfDir)
            .queryExecution.explainString(FormattedMode))
          Tables.sweep(spark)
          println(s"wrote $out")
        }
      case "serve" => println(serve(spark, sfDir, passes))
      case "stream" =>
        println(stream(spark, sfDir, compactEvery, takedownEvery))
    } finally spark.stop()
  }

  /** `flag N` out of `args`: (N, or `default` when the flag is absent;
    * the remaining args). A missing, non-integer or below-`min` value
    * fails with the usage line. */
  private def intFlag(args: Seq[String], flag: String, default: Int,
                      min: Int): (Int, Seq[String]) = {
    val i = args.indexOf(flag)
    if (i < 0) (default, args)
    else args.lift(i + 1).flatMap(_.toIntOption).filter(_ >= min) match {
      case Some(n) => (n, args.patch(i, Nil, 2))
      case None => sys.error(s"$flag needs an integer >= $min\n$Usage")
    }
  }

  private def known(names: Seq[String]): Seq[String] = {
    val bad = names.filterNot(SparkEntry.queries.contains)
    require(bad.isEmpty, s"unknown queries: ${bad.mkString(" ")}")
    names
  }

  final case class Timed(name: String, secs: Double, rows: Long)

  /** The bench protocol. A warm-up pass at sf0.001 runs every query once
    * first: a cold JVM spends ~7 s on JIT + whole-stage-codegen
    * compilation + classloading that would otherwise be billed to
    * whichever query runs first (measured: q19 8.4 s cold vs 1.5 s warm).
    * Then `passes` timed passes, per-query MIN: the host shows load
    * spikes from outside the container that inflate single queries 3-5×
    * (BASELINE.md "host noise"), so the min of steady-state passes
    * measures the engine, not the neighbour. A failing query counts its
    * time to failure with rows = -1. Progress goes to stderr. */
  def bench(spark: SparkSession, sfDir: String, names: Seq[String],
            passes: Int): Seq[Timed] = {
    if (new java.io.File(WarmDir).isDirectory) names.foreach { n =>
      try SparkEntry.queries(n)(spark, WarmDir).count()
      catch { case _: Throwable => () }
      Tables.sweep(spark)
    }
    val best = mutable.Map[String, Timed]()
    for (p <- 1 to passes; name <- names) {
      val t0 = System.nanoTime()
      val rows = try SparkEntry.queries(name)(spark, sfDir).count()
        catch { case _: Throwable => -1L }
      val dt = (System.nanoTime() - t0) / 1e9
      Tables.sweep(spark)
      // rdds/heap sampled AFTER the sweep: a leak shows here long before
      // it becomes an out-of-memory kill
      val rt = Runtime.getRuntime
      System.err.println(f"[bench] pass $p $name%-32s $dt%8.2f s " +
        f"rows=$rows rdds=${spark.sparkContext.getPersistentRDDs.size}%3d " +
        f"heap=${(rt.totalMemory - rt.freeMemory) / (1 << 20)}%5dM")
      if (best.get(name).forall(_.secs > dt)) best(name) = Timed(name, dt, rows)
    }
    names.map(best)
  }

  private case class StageRec(id: Int, name: String, tasks: Int,
                              wallMs: Long, runMs: Long, gcMs: Long,
                              shufReadMB: Double, shufWriteMB: Double,
                              inputMB: Double)
  private case class JobRec(id: Int, desc: String, wallMs: Long,
                            startMs: Long, endMs: Long,
                            stages: Seq[StageRec])

  /** One warm run at sf0.001, then one collected run at `sfDir`: job
    * timeline, the slowest jobs' slowest stages, Catalyst phase totals,
    * and a 20 ms driver-thread sampler bucketed by the deepest non-JDK
    * frame — what the driver does between jobs, without a JVM attach. */
  def profile(spark: SparkSession, sfDir: String, name: String): Unit = {
    val jobs = mutable.ArrayBuffer[JobRec]()
    val jobStart = mutable.Map[Int, (Long, String, Seq[Int])]()
    val stages = mutable.Map[Int, StageRec]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobStart(js.jobId) = (js.time,
          Option(js.properties.getProperty("spark.job.description"))
            .getOrElse(""), js.stageIds)
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val tm = si.taskMetrics
        stages(si.stageId) = StageRec(si.stageId, si.name, si.numTasks,
          (for {c <- si.completionTime; s <- si.submissionTime}
            yield c - s).getOrElse(0L),
          tm.executorRunTime, tm.jvmGCTime,
          tm.shuffleReadMetrics.totalBytesRead / 1e6,
          tm.shuffleWriteMetrics.bytesWritten / 1e6,
          tm.inputMetrics.bytesRead / 1e6)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobStart.remove(je.jobId).foreach { case (t0, desc, sids) =>
          jobs += JobRec(je.jobId, desc, je.time - t0, t0, je.time,
            sids.flatMap(stages.get))
        }
    }
    val phaseTotals = mutable.Map[String, Long]().withDefaultValue(0L)
    var actions = 0
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        actions += 1
        qe.tracker.phases.foreach { case (p, s) => phaseTotals(p) += s.durationMs }
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          error: Exception): Unit = ()
    }

    try SparkEntry.queries(name)(spark, WarmDir).count()
    catch { case _: Throwable => () }
    Tables.sweep(spark)

    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    val samples = mutable.Map[String, Int]().withDefaultValue(0)
    @volatile var sampling = true
    val sampler = new Thread(() => {
      import scala.jdk.CollectionConverters._
      while (sampling) {
        Thread.getAllStackTraces.asScala.foreach { case (th, st) =>
          if (th.getState == Thread.State.RUNNABLE && st.nonEmpty &&
              th.getName != "profile-sampler" &&
              !th.getName.startsWith("Executor task launch")) {
            st.iterator
              .find(f => !Seq("java.", "scala.", "jdk.", "sun.")
                .exists(f.getClassName.startsWith))
              .foreach(f => samples.synchronized {
                samples(s"${f.getClassName.split('.').last}.${f.getMethodName}") += 1
              })
          }
        }
        Thread.sleep(20)
      }
    }, "profile-sampler")
    sampler.setDaemon(true); sampler.start()
    val t0 = System.nanoTime()
    val n = try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case e: Throwable => println(s"ERR $e"); -1L }
    val wall = (System.nanoTime() - t0) / 1e9
    sampling = false; sampler.join(200)
    org.apache.spark.graft.ObsBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    Tables.sweep(spark)

    println(f"%n===== $name  wall=$wall%.2f s  rows=$n  jobs=${jobs.size}")
    val jobWall = jobs.map(_.wallMs).sum
    println(f"  sum(job wall)=${jobWall / 1e3}%.2f s   " +
      f"gap(driver/plan)=${wall - jobWall / 1e3}%.2f s")
    println(s"  sql-actions=$actions  catalyst phases (ms): " +
      phaseTotals.toSeq.sortBy(-_._2)
        .map { case (p, ms) => s"$p=$ms" }.mkString(" "))
    if (jobs.nonEmpty) {
      val base = jobs.map(_.startMs).min
      println("  timeline (job start-end, s since first job):")
      jobs.sortBy(_.startMs).foreach { j =>
        println(f"    job ${j.id}%3d  ${(j.startMs - base) / 1e3}%7.2f -> " +
          f"${(j.endMs - base) / 1e3}%7.2f  ${j.desc.take(50)}")
      }
    }
    val samp = samples.synchronized(samples.toSeq)
    val nSamp = samp.map(_._2).sum.max(1)
    println(s"  driver-thread samples (20ms each, $nSamp total):")
    samp.sortBy(-_._2).take(12).foreach { case (k, c) =>
      println(f"    ${c * 100.0 / nSamp}%5.1f%%  $k")
    }
    jobs.sortBy(-_.wallMs).take(18).foreach { j =>
      println(f"  job ${j.id}%3d ${j.wallMs / 1e3}%7.2f s  ${j.desc.take(70)}")
      j.stages.sortBy(-_.wallMs).take(4).foreach { s =>
        println(f"    stage ${s.id}%4d ${s.wallMs / 1e3}%7.2f s " +
          f"tasks=${s.tasks}%4d run=${s.runMs / 1e3}%7.2f gc=${s.gcMs / 1e3}%5.2f " +
          f"sr=${s.shufReadMB}%8.1fMB sw=${s.shufWriteMB}%8.1fMB " +
          f"in=${s.inputMB}%8.1fMB  ${s.name.take(60)}")
      }
    }
  }

  /** The AT-REST serving bench — build-once / probe-forever, timed
    * separately. The declared lifecycle queries (q75–q82, q170–q172)
    * rebuild their index inside the query, so build dominates and both
    * the partition-pruning claims and the standing index's integrity
    * sweep cost stay invisible. Each saved layout is built once here;
    * its probes and its fsck audit are then timed alone, min of
    * `passes` with the SQL cache cleared between runs (steady-state
    * serving with a warm OS page cache).
    *
    * Build knobs scale with the data the way a deployment's do:
    *   - vector: nlist = n/4096 (bounded lists) → an nProbe=4 probe reads
    *     ~16k vectors at ANY corpus size;
    *   - text: nBuckets = nDocs/3125 → a 3-term query reads ≤3 bucket
    *     directories of shrinking corpus fraction;
    *   - LSH: the q172 crawl-reference geometry.
    * The certified-exact vector probe (annSearchPqExact) is the honest
    * linear bound the pruned probes beat: on this near-uniform fixture
    * its expansion is the whole collection by contract. */
  def serve(spark: SparkSession, sfDir: String, passes: Int): String = {
    def probeMin(body: => Long): (Double, Long) = {
      var best = Double.MaxValue; var rows = -1L
      for (_ <- 1 to passes) {
        spark.sharedState.cacheManager.clearCache()
        val t0 = System.nanoTime()
        rows = body
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      (best, rows)
    }
    // the one build step per saved layout, timed; the path is fresh
    // because the scratch root is private to this JVM
    def build(tag: String)(body: String => Unit): (String, Double) = {
      val path = Tables.scratch(s"serve_$tag", sfDir)
      val t0 = System.nanoTime(); body(path)
      (path, (System.nanoTime() - t0) / 1e9)
    }

    // ---------------- vector: IVF layout, list-pruned serving
    val e = Tables.load(spark, sfDir, "embeddings")
    val n = e.count()
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val nlist = math.max(16L, n / 4096L).toInt
    // topUpNlist: hash-stride sampling is ~Poisson(nlist) and can halve
    // the quantizer a deployment sized; serving benches honor the
    // requested geometry
    val (vecPath, buildVec) = build("vec") { p =>
      VectorIndex.create(e, "embedding", "vec_id", dim, nlist = nlist,
        topUpNlist = true).save(p)
    }
    val q = e.filter(col("vec_id") === 11).select(col("embedding")).head()
      .getSeq[Float](0).map(_.toDouble)
    val idx = VectorIndex.load(spark, vecPath)
    val (probeAnn, annRows) = probeMin {
      idx.annSearch(q, k = 12, nProbe = 4).count()
    }
    val (probeExact, exactRows) = probeMin {
      idx.annSearchPqExact(q, k = 12, seed = 48).count()
    }
    val (fsckVec, _) = probeMin(VectorIndex.fsckSaved(spark, vecPath).count())

    // ---------------- filtered: predicate-attached EXACT serving, top-12
    // among ~10% of rows, certificate-escalated until provably
    // brute-force-equal. probed/nlist (from the filtered-knn Obs event)
    // is the cost of exactness: high on the near-uniform fixture, low on
    // the clustered corpus below, where the ring certificate has teeth.
    def filteredProbe(ix: VectorIndex, qv: Seq[Double], pred: Column)
        : (Double, Map[String, Any]) = {
      var ev: Map[String, Any] = Map.empty
      var best = Double.MaxValue
      for (_ <- 1 to passes) {
        spark.sharedState.cacheManager.clearCache()
        val t0 = System.nanoTime()
        val (cnt, evs) = Obs.withCapture {
          ix.annSearchFiltered(qv, k = 12, pred = pred, nProbe0 = 4).count()
        }
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        ev = evs.filter(_._1 == "filtered-knn").last._2.toMap
        require(cnt > 0, "filtered probe returned no rows")
      }
      (best, ev)
    }
    def filteredJson(s: Double, ev: Map[String, Any]): String =
      s"""{"probe_secs":$s,"probed":${ev("probed")},"nlist":${ev("nlist")},""" +
        s""""rounds":${ev("rounds")},"matched":${ev("matched")}}"""
    val (probeFiltered, filtEv) = filteredProbe(idx, q, col("label") === 3)

    // ---------------- recall: is the fast pruned probe also GOOD at these
    // knobs? 64 corpus vectors as queries; truth = brute-force top-k
    // (Search.knnBatch); approx = the SAME annSearch the timing row runs.
    val recallK = 12
    def recall(ix: VectorIndex, corpus: org.apache.spark.sql.DataFrame,
               qs: Array[org.apache.spark.sql.Row], nProbe: Int): (Double, Double) = {
      val approx = qs.map { r =>
        ix.annSearch(r.getSeq[Number](1).map(_.doubleValue), k = recallK,
            nProbe = nProbe)
          .select(lit(r.getLong(0)).as("qid"), col("vec_id"))
      }.reduce(_ unionByName _)
      val exact = operators.Search.knnBatch(corpus, "embedding", "vec_id",
        corpus.orderBy(col("vec_id")).limit(64)
          .select(col("vec_id").as("qid"), col("embedding")),
        "embedding", "qid", k = recallK)
      val r = operators.Search.recallAtK(approx,
          exact.select(col("qid"), col("vec_id")), "qid", "vec_id")
        .agg(avg(col("recall")), min(col("recall"))).head()
      (r.getDouble(0), r.getDouble(1))
    }
    def queries(corpus: org.apache.spark.sql.DataFrame) = corpus
      .orderBy(col("vec_id")).limit(64)
      .select(col("vec_id"), col("embedding")).collect()
    val qRows = queries(e)
    val (recMean, recMin) = recall(idx, e, qRows, 4)
    // the recall/nProbe curve: what one more probe buys and costs
    val curve = Seq(4, 8, 16, math.max(nlist / 2, 24)).distinct
      .filter(_ <= nlist).map { np =>
        val (pSecs, _) = probeMin(idx.annSearch(q, k = 12, nProbe = np).count())
        s"""{"n_probe":$np,"probe_secs":$pSecs,"mean_recall":${recall(idx, e, qRows, np)._1}}"""
      }.mkString("[", ",", "]")

    // ---------------- clustered: the favorable regime at the same n and
    // dim. Every vector is pulled 4:1 toward one of nlist anchor vectors
    // (anchor = vec_id % nlist — engine arithmetic only, no RNG), saved
    // and loaded with the SAME knobs, so the rows measure the at-rest
    // path where the data has the structure IVF exploits.
    val anchors = e.orderBy(col("vec_id")).limit(nlist)
      .select((col("vec_id") % nlist).as("__a"),
        col("embedding").cast("array<double>").as("__av"))
    val clustered = e
      .select(col("vec_id"), (col("vec_id") % nlist).as("__a"),
        col("embedding").cast("array<double>").as("__v"))
      .join(broadcast(anchors), "__a")
      .select(col("vec_id"), zip_with(col("__av"), col("__v"),
        (a, x) => a * 4.0 + x).as("embedding"))
      .persist()
    clustered.count()
    val (cPath, _) = build("vecc") { p =>
      VectorIndex.create(clustered, "embedding", "vec_id", dim,
        nlist = nlist, topUpNlist = true).save(p)
    }
    val cIdx = VectorIndex.load(spark, cPath)
    val (cMean, cMin) = recall(cIdx, clustered, queries(clustered), 4)
    val cqv = clustered.filter(col("vec_id") === 11)
      .select(col("embedding")).head().getSeq[Double](0)
    val (probeFilteredC, filtEvC) =
      filteredProbe(cIdx, cqv, col("vec_id") % 10 === 3)
    clustered.unpersist()

    // ---------------- text: postings index, bucket-pruned serving
    val docs = Tables.load(spark, sfDir, "documents")
    val nDocs = docs.count()
    val nBuckets = math.max(16L, nDocs / 3125L).toInt
    val (textPath, buildText) = build("text") { p =>
      operators.TextSearch.buildIndex(docs, "doc_id", "text", p,
        nBuckets = nBuckets)
    }
    val (probeText, textRows) = probeMin {
      operators.TextSearch.bm25Indexed(spark, textPath,
        Seq("spark", "vector", "query"), k = 20).count()
    }
    val (fsckText, _) =
      probeMin(operators.TextSearch.fsckIndex(spark, textPath).count())

    // ---------------- LSH: the crawl reference layout, audit only
    val (lshPath, buildLsh) = build("lsh") { p =>
      operators.Dedup.buildRefIndex(docs, "doc_id", "text", p, k = 8,
        rowsPerBand = 2, shingleN = 3, nBuckets = 16)
    }
    val (fsckLsh, _) =
      probeMin(operators.Dedup.fsckRefIndex(spark, lshPath).count())

    s"""{"metric":"serve","sf":"$sfDir","n_vecs":$n,"n_docs":$nDocs,""" +
    s""""vector":{"nlist":$nlist,"build_secs":$buildVec,""" +
    s""""probe_ann_secs":$probeAnn,"ann_rows":$annRows,""" +
    s""""probe_exact_secs":$probeExact,"exact_rows":$exactRows,""" +
    s""""fsck_secs":$fsckVec,""" +
    s""""recall":{"k":$recallK,"n_queries":64,"n_probe":4,""" +
    s""""mean":$recMean,"min":$recMin},""" +
    s""""recall_sweep":$curve,""" +
    s""""recall_clustered":{"k":$recallK,"n_queries":64,"n_probe":4,""" +
    s""""mean":$cMean,"min":$cMin},""" +
    s""""filtered":${filteredJson(probeFiltered, filtEv)},""" +
    s""""filtered_clustered":${filteredJson(probeFilteredC, filtEvC)}},""" +
    s""""text":{"n_buckets":$nBuckets,"build_secs":$buildText,""" +
    s""""probe_secs":$probeText,"rows":$textRows,"fsck_secs":$fsckText},""" +
    s""""lsh":{"build_secs":$buildLsh,"fsck_secs":$fsckLsh}}"""
  }

  /** Micro-batch streaming over the sf tables, `StreamBatches` arrivals
    * per face; one JSON line (records go to BASELINE.md, not Bench).
    *   - funnel: the events table cut into time-range micro-batches,
    *     landed one at a time under `EventWindows.streamingFunnel`
    *     (flatMapGroupsWithState); rows/s and the peak state-store rows.
    *   - crawl: the documents table streamed through
    *     `dedupAgainstIndexSink` against an LSH index seeded from a 10%
    *     slice. `compactEvery` > 0 compacts the index every N batches;
    *     `takedownEvery` > 0 tombstone-deletes ~1% of the kept docs every
    *     N batches, and `probe_parity` then checks that the index answers
    *     a probe exactly like one rebuilt over the survivors.
    *   - epilogue: compactRefIndex on the crawled index, with file counts
    *     and the same probe timed either side of it. */
  def stream(spark: SparkSession, sfDir: String, compactEvery: Int,
             takedownEvery: Int): String = {
    val work = Tables.scratch("stream", sfDir)
    // batch i of `df` (tagged "__b") lands as one file: a file-source arrival
    def land(df: DataFrame, dir: String, i: Int): Unit =
      df.filter(col("__b") === i).drop("__b")
        .coalesce(1).write.mode("append").parquet(dir)

    // ---------- face 1: streamingFunnel over time-ordered micro-batches
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    val tsUs = unix_micros(col("ts").cast("timestamp"))
    val (loUs, hiUs) = {
      val r = ev.agg(min(tsUs), max(tsUs)).head()
      (r.getLong(0), r.getLong(1))
    }
    val batched = ev.withColumn("__b",
      ((tsUs - loUs) * StreamBatches / (hiUs - loUs + 1)).cast("int"))
      .persist()
    val nEvents = batched.count()
    val evDir = s"$work/events"
    land(batched, evDir, 0) // schema probe target for readStream
    val t0 = System.nanoTime()
    val q = EventWindows.streamingFunnel(
        EventWindows.readStream(spark, evDir),
        Seq("view", "click", "purchase"), maxGapSeconds = 86400L)
      .toDF().writeStream.outputMode("append")
      .option("checkpointLocation", s"$work/funnel_ckpt")
      .format("memory").queryName("sb_funnel").start()
    var stateMax = 0L
    // sampled after EVERY drain, the first included, so a run where
    // batch 0 dominates does not under-report state_rows_max
    def drain(): Unit = {
      q.processAllAvailable()
      stateMax = math.max(stateMax, q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsTotal)).foldLeft(0L)(math.max))
    }
    try {
      drain()
      for (i <- 1 until StreamBatches) { land(batched, evDir, i); drain() }
    } finally q.stop()
    val funnelSecs = (System.nanoTime() - t0) / 1e9
    val funnelOut = spark.table("sb_funnel").count()
    batched.unpersist()

    // ---------- face 2: rolling-crawl dedup against a standing LSH index
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val refCut = docs.count() / 10
    val idxPath = s"$work/lsh_idx"
    Dedup.buildRefIndex(docs.filter(col("doc_id") < refCut), "doc_id", "text",
      idxPath)
    val streamDocs = docs.filter(col("doc_id") >= refCut)
      .withColumn("__b", (col("doc_id") % StreamBatches).cast("int")).persist()
    val nStream = streamDocs.count()
    val probeDocs = streamDocs.filter(col("__b") === 0).drop("__b")
    val docDir = s"$work/docs"
    val crawlOut = s"$work/crawl_out"
    land(streamDocs, docDir, 0)
    var takedownSecs = 0.0
    // victims kept on the driver (~1% of kept per takedown): an
    // interleaved compact applies and removes the tombstone relation
    val deletedIds = mutable.ArrayBuffer.empty[Long]
    val t1 = System.nanoTime()
    val dq = EventWindows.dedupAgainstIndexSink(
      spark.readStream.schema(docs.schema).parquet(docDir),
      idxPath, "text", crawlOut, s"$work/crawl_ckpt",
      compactEvery = compactEvery)
    try {
      dq.processAllAvailable()
      for (i <- 1 until StreamBatches) {
        land(streamDocs, docDir, i); dq.processAllAvailable()
        if (takedownEvery > 0 && i % takedownEvery == 0) {
          val tT = System.nanoTime()
          // deterministic ~1% of the kept-so-far docs; the residue
          // rotates per batch so victims spread across the corpus
          val victims = spark.read.parquet(crawlOut)
            .filter(pmod(col("doc_id"), lit(97L)) === (i % 97))
            .select("doc_id")
          Dedup.deleteFromRefIndex(spark, idxPath, victims)
          deletedIds ++= victims.collect().map(_.getLong(0))
          takedownSecs += (System.nanoTime() - tT) / 1e9
        }
      }
    } finally dq.stop()
    val dedupSecs = (System.nanoTime() - t1) / 1e9
    val kept = spark.read.parquet(crawlOut).count()
    // takedown parity (q163's oracle contract at crawl scale and cadence)
    val takedownParity = takedownEvery == 0 || {
      def rows(df: DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .sortBy(t => (t._1, t._2)).toSeq
      import spark.implicits._
      val survivors = docs.filter(col("doc_id") < refCut)
        .unionByName(spark.read.parquet(crawlOut)
          .select(col("doc_id"), col("text")))
        .join(deletedIds.toSeq.toDF("doc_id"), Seq("doc_id"), "left_anti")
      rows(Dedup.minhashAgainstIndex(probeDocs, idxPath, "text")) ==
        rows(Dedup.minhashAgainst(probeDocs, survivors, "doc_id", "text"))
    }

    // ---------- epilogue: compact the index the crawl grew (appends add
    // up to one file per touched bucket per batch)
    def idxFiles(): Long = Seq(Dedup.LshBandsDir, Dedup.LshShinglesDir)
      .map { d =>
        val st = Files.walk(Paths.get(idxPath, d))
        try st.filter(_.toString.endsWith(".parquet")).count()
        finally st.close()
      }.sum
    def probeSecs(): Double = {
      val t = System.nanoTime()
      Dedup.minhashAgainstIndex(probeDocs, idxPath, "text").count()
      (System.nanoTime() - t) / 1e9
    }
    val filesBefore = idxFiles()
    val probeBefore = probeSecs()
    val tC = System.nanoTime()
    Dedup.compactRefIndex(spark, idxPath)
    val compactSecs = (System.nanoTime() - tC) / 1e9
    val filesAfter = idxFiles()
    val probeAfter = probeSecs()
    streamDocs.unpersist()

    s"""{"metric":"stream_total","value":${funnelSecs + dedupSecs},""" +
    s""""unit":"sec","batches":$StreamBatches,""" +
    s""""funnel":{"rows":$nEvents,"secs":$funnelSecs,""" +
    s""""rows_per_sec":${(nEvents / funnelSecs).round},""" +
    s""""out_rows":$funnelOut,"state_rows_max":$stateMax},""" +
    s""""dedup":{"rows":$nStream,"secs":$dedupSecs,""" +
    s""""rows_per_sec":${(nStream / dedupSecs).round},""" +
    s""""kept":$kept},""" +
    s""""takedown":{"every":$takedownEvery,"deleted":${deletedIds.size},""" +
    s""""secs":$takedownSecs,"probe_parity":$takedownParity},""" +
    s""""compact":{"every":$compactEvery,"files_before":$filesBefore,""" +
    s""""files_after":$filesAfter,"secs":$compactSecs,""" +
    s""""probe_before_secs":$probeBefore,""" +
    s""""probe_after_secs":$probeAfter},"sf":"$sfDir"}"""
  }
}
