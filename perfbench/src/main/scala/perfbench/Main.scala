package perfbench

import org.apache.spark.sql.SparkSession

import graft.Tables

/** One benchmark run in one JVM. Both engine families are built; the
  * workload's own family is warmed and driven for `--seconds` in a
  * closed loop with one client thread, then the other family runs its
  * fixed companion ops, so every end-to-end metric is measured in every
  * run. The traced run then drives the layer-only families (corpus
  * pipeline, graph) once each. Every answer is checked and the metrics
  * printed; the last stdout line is the result JSON. Invoked by run.py,
  * which generates the inputs and owns the scratch root; see
  * perfbench/README.md. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val input = a("input")
    val scratch = a("scratch")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt

    val spark = Tables.withGraftConf(Tables.withBenchShuffle(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$scratch/spark-local")
        .config("spark.sql.warehouse.dir", s"$scratch/warehouse"),
      cpus, input)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"$scratch/checkpoint")
    val tracer = new Tracer(spark, traced)
    val ctx = new Ctx(spark, tracer, input, scratch)
    val fams: Seq[(String, Family)] = Seq(
      "ann" -> new AnnFamily(ctx), "lifecycle" -> new LifecycleFamily(ctx))
    val mainFam = a("family")
    val (Seq((_, main)), companions) = fams.partition(_._1 == mainFam)
    val layerOnly: Seq[Family] =
      if (traced) Seq(new CorpusFamily(ctx), new GraphFamily(ctx)) else Nil
    val all = fams.map(_._2) ++ layerOnly
    fams.foreach { case (f, fam) => fam.setup(warm = f == mainFam) }
    // set-up: input generation (run.py) + JVM and session start + both
    // families' builds and warm-ups
    val setupS = a("gen-s").toDouble +
      (System.currentTimeMillis() - a("launched-ms").toLong) / 1e3

    var n = 0
    def drive(fam: Family): Unit = {
      n += 1
      tracer.nextOp()
      fam.step()
      ctx.sweep(s"op $n")
    }
    val windowStart = System.nanoTime()
    val end = windowStart + (seconds * 1e9).toLong
    do drive(main) while (System.nanoTime() < end && main.more)
    val windowS = (System.nanoTime() - windowStart) / 1e9
    val windowOps = n
    (companions.map(_._2) ++ layerOnly).foreach { fam =>
      (1 to fam.companionSteps).foreach(_ => drive(fam)) }
    val checkS = Stats.time(all.foreach(_.finish()))._2
    System.err.println(f"[perfbench] checks took $checkS%.1f s")

    val host = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "cpus" -> cpus.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "spark" -> spark.version,
      "java" -> System.getProperty("java.version"))
    println("host: " + host.map { case (k, v) => s"$k=$v" }.mkString(" "))
    println(f"window: $windowS%.1f s of $mainFam, $windowOps ops; " +
      f"set-up $setupS%.1f s")

    val metrics =
      if (!traced) Metric("setup_s", setupS, "s") +: fams.flatMap(_._2.metrics)
      else {
        // the spark.* values are over the window's ops only, so the
        // companion and layer-only ops do not change the mix
        val ops = tracer.totals(s => s.op > 0 && s.op <= windowOps)
        def per(v: Totals => Double) = v(ops) / windowOps
        val layers = all.flatMap(_.layers)
        val overhead = tracingOverhead(tracer, main, ctx)
        tracer.detach()
        Seq(
          Metric("spark.jobs", per(_.jobs), "count"),
          Metric("spark.plan_s", per(_.planS), "s"),
          Metric("spark.driver_gap_s", per(_.gapS), "s"),
          Metric("spark.executor_cpu_s", per(_.cpuS), "s"),
          Metric("spark.executor_run_s", per(_.runS), "s"),
          Metric("spark.gc_s", per(_.gcS), "s"),
          Metric("spark.shuffle_write_mb", per(_.shuffleWriteMb), "MB"),
          Metric("spark.spill_mb", per(_.spillMb), "MB"),
          Metric("spark.tasks", per(_.tasks.toDouble), "count"),
          Metric("jvm.heap_live_mb", Stats.median(ctx.heapSamples.toSeq), "MB"),
          Metric("trace.overhead_s", overhead, "s",
            s"per ${main.getClass.getSimpleName} read-only op")) ++ layers
      }
    metrics.foreach { m =>
      println(f"${m.name}%-52s ${m.value}%14.6f ${m.unit}%-6s ${m.note}")
    }
    a.get("trace-out").filter(_ => traced).foreach { p =>
      val w = new java.io.PrintWriter(p, "UTF-8")
      try w.write(tracer.sidecar()) finally w.close()
    }
    spark.stop()
    val body = metrics.map(m =>
      s"${Json.str(m.name)}: {\"value\": ${m.value}, \"unit\": ${Json.str(m.unit)}}")
      .mkString("{", ", ", "}")
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    val ok = failed == 0 && attempted > 0
    println(s"""{"correct": $ok, "attempted": $attempted, "failed": $failed, "metrics": $body}""")
  }

  /** Tracing overhead: traced minus untraced wall time of one of the
    * workload's own read-only ops (a single ANN query, or an LSH probe),
    * from two pairs of blocks, tracing on (spans and both listeners) in
    * one block of a pair and off in the other, in the order off-on then
    * on-off; the difference of the two sides' means, per op. It can read
    * below zero when the overhead is under the host's noise. */
  private def tracingOverhead(tracer: Tracer, fam: Family,
                              ctx: Ctx): Double = {
    def block(on: Boolean): Double = {
      if (on) tracer.attach() else tracer.detach()
      Stats.time((1 to fam.readOnlyPerBlock).foreach { i =>
        fam.readOnlyOp()
        ctx.sweep(s"overhead ${if (on) "on" else "off"} $i")
      })._2 / fam.readOnlyPerBlock
    }
    val (off1, on1) = { val off = block(false); (off, block(true)) }
    val (on2, off2) = { val on = block(true); (on, block(false)) }
    tracer.attach()
    (on1 + on2 - off1 - off2) / 2
  }
}
