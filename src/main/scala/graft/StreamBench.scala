package graft

import org.apache.spark.sql.functions._

/** Streaming throughput bench — the perf face of the streaming family
  * (every operator there is batch-parity spec-proven; this records what
  * the micro-batch loop actually sustains). Two faces:
  *
  *   - `streamingFunnel`: the custom-state flatMapGroupsWithState path.
  *     The sf events table is split into N time-range micro-batches,
  *     appended to a landing directory one at a time (the file-source
  *     arrival pattern), each followed by processAllAvailable(). Reports
  *     rows/s over the whole run and the peak state-store row count —
  *     the two numbers that decide whether the operator survives a
  *     continuous deployment (throughput and state growth).
  *
  *   - `dedupAgainstIndexSink`: the rolling-crawl foreachBatch loop
  *     (screen against the standing LSH index, append survivors). The
  *     documents table streams against a reference index seeded from a
  *     10% slice; each batch pays the real probe + append cost.
  *
  * Prints ONE JSON line (the Bench contract). Not part of the driver's
  * BENCH protocol — results are recorded in BASELINE.md.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = tools.Run.sfDir
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "8").toInt
    val spark = Tables.session(tools.Run.cpus, sfDir)
    val work = Tables.scratch("streambench", sfDir)

    // ---------- face 1: streamingFunnel over time-ordered micro-batches
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    val (loUs, hiUs) = {
      val r = ev.agg(min(unix_micros(col("ts").cast("timestamp"))),
        max(unix_micros(col("ts").cast("timestamp")))).head()
      (r.getLong(0), r.getLong(1))
    }
    val batched = ev.withColumn("__b",
      ((unix_micros(col("ts").cast("timestamp")) - loUs) * nBatches / (hiUs - loUs + 1))
        .cast("int")).persist()
    val nEvents = batched.count()
    val evDir = s"$work/events"
    def writeBatch(i: Int): Unit = batched.filter(col("__b") === i)
      .drop("__b").coalesce(1).write.mode("append").parquet(evDir)
    writeBatch(0) // schema probe target for readStream
    val steps = Seq("view", "click", "purchase")
    val t0 = System.nanoTime()
    val q = graft.streaming.EventWindows
      .streamingFunnel(graft.streaming.EventWindows.readStream(spark, evDir),
        steps, maxGapSeconds = 86400L)
      .toDF().writeStream.outputMode("append")
      .option("checkpointLocation", s"$work/funnel_ckpt")
      .format("memory").queryName("sb_funnel").start()
    var stateMax = 0L
    // sample after EVERY processAllAvailable, including the initial
    // batch-0 drain — a run where batch 0 dominates must not
    // under-report state_rows_max
    def sampleState(): Unit =
      stateMax = math.max(stateMax, q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsTotal)).foldLeft(0L)(math.max))
    try {
      q.processAllAvailable()
      sampleState()
      for (i <- 1 until nBatches) {
        writeBatch(i)
        q.processAllAvailable()
        sampleState()
      }
    } finally q.stop()
    val funnelSecs = (System.nanoTime() - t0) / 1e9
    val funnelOut = spark.table("sb_funnel").count()
    batched.unpersist()

    // ---------- face 2: rolling-crawl dedup against a standing LSH index
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    val refCut = nDocs / 10
    val idxPath = s"$work/lsh_idx"
    graft.operators.Dedup.buildRefIndex(
      docs.filter(col("doc_id") < refCut), "doc_id", "text", idxPath)
    val streamDocs = docs.filter(col("doc_id") >= refCut)
      .withColumn("__b", (col("doc_id") % nBatches).cast("int")).persist()
    val nStream = streamDocs.count()
    val docDir = s"$work/docs"
    def writeDocBatch(i: Int): Unit = streamDocs.filter(col("__b") === i)
      .drop("__b").coalesce(1).write.mode("append").parquet(docDir)
    writeDocBatch(0)
    // SPARK_GRAFT_CRAWL_COMPACT_EVERY > 0 interleaves compactRefIndex
    // with ingest at that batch cadence — measuring the SUSTAINED
    // maintenance loop, not just the one-shot epilogue sweep below
    val compactEvery = sys.env
      .getOrElse("SPARK_GRAFT_CRAWL_COMPACT_EVERY", "0").toInt
    // SPARK_GRAFT_CRAWL_TAKEDOWN_EVERY > 0 interleaves the DELETE verb
    // with ingest: every E batches, ~1% of the docs kept so far are
    // tombstone-deleted from the standing index (the GDPR/takedown
    // cadence a year-long crawl actually runs). Measures the tombstone
    // anti-join's probe cost under load; parity vs rebuild-on-survivors
    // is asserted after the run (see takedown JSON fields).
    val takedownEvery = sys.env
      .getOrElse("SPARK_GRAFT_CRAWL_TAKEDOWN_EVERY", "0").toInt
    var takedownSecs = 0.0
    // victims tracked driver-side (~1% of kept per takedown — bounded):
    // the index's own tombstone relation is NOT a durable record here,
    // because an interleaved compact applies and removes it
    val deletedIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val t1 = System.nanoTime()
    val dq = graft.streaming.EventWindows.dedupAgainstIndexSink(
      spark.readStream.schema(
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("text",
              org.apache.spark.sql.types.StringType))))
        .parquet(docDir),
      idxPath, "text", s"$work/crawl_out", s"$work/crawl_ckpt",
      compactEvery = compactEvery)
    try {
      dq.processAllAvailable()
      for (i <- 1 until nBatches) {
        writeDocBatch(i); dq.processAllAvailable()
        if (takedownEvery > 0 && i % takedownEvery == 0) {
          val tT = System.nanoTime()
          // deterministic ~1% of the kept-so-far docs (hash residue
          // rotates per batch so victims spread across the corpus)
          val victims = spark.read.parquet(s"$work/crawl_out")
            .filter(pmod(col("doc_id"), lit(97L)) === (i % 97))
            .select("doc_id")
          graft.operators.Dedup.deleteFromRefIndex(spark, idxPath, victims)
          deletedIds ++= victims.collect().map(_.getLong(0))
          takedownSecs += (System.nanoTime() - tT) / 1e9
        }
      }
    } finally dq.stop()
    val dedupSecs = (System.nanoTime() - t1) / 1e9
    val kept = spark.read.parquet(s"$work/crawl_out").count()
    // takedown parity: the index with tombstones applied must answer a
    // probe exactly like an index rebuilt over only the survivors —
    // the q163 oracle contract, proven here at crawl scale and cadence
    val takedownParity = if (takedownEvery == 0) true else {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .sortBy(t => (t._1, t._2)).toSeq
      val probeDocs = streamDocs.filter(col("__b") === 0).drop("__b")
      val viaIndex = rows(graft.operators.Dedup.minhashAgainstIndex(
        probeDocs, idxPath, "text"))
      import spark.implicits._
      val dead = deletedIds.toSeq.toDF("doc_id")
      val survivors = docs.filter(col("doc_id") < refCut)
        .unionByName(spark.read.parquet(s"$work/crawl_out")
          .select(col("doc_id"), col("text")))
        .join(dead, Seq("doc_id"), "left_anti")
      val viaRebuild = rows(graft.operators.Dedup.minhashAgainst(
        probeDocs, survivors, "doc_id", "text"))
      viaIndex == viaRebuild
    }

    // ---------- crawl epilogue: the COMPACT verb on the crawled index.
    // The write-geometry rule bounds appends at one file per touched
    // bucket per batch, so after nBatches the population is
    // O(buckets × batches); compact is the long-run floor (r13
    // VERDICT: the LSH layout was the one without the verb). Measured
    // here where it matters — on the index the crawl just grew — with
    // the same probe timed either side of it.
    def idxFiles(): Long = {
      def cnt(dir: String): Long = {
        val root = java.nio.file.Paths.get(idxPath, dir)
        val st = java.nio.file.Files.walk(root)
        try st.filter(f => f.toString.endsWith(".parquet")).count()
        finally st.close()
      }
      cnt(graft.operators.Dedup.LshBandsDir) +
        cnt(graft.operators.Dedup.LshShinglesDir)
    }
    def probeSecs(): Double = {
      val t = System.nanoTime()
      graft.operators.Dedup.minhashAgainstIndex(
        streamDocs.filter(col("__b") === 0).drop("__b"), idxPath, "text")
        .count()
      (System.nanoTime() - t) / 1e9
    }
    val filesBefore = idxFiles()
    val probeBefore = probeSecs()
    val tC = System.nanoTime()
    graft.operators.Dedup.compactRefIndex(spark, idxPath)
    val compactSecs = (System.nanoTime() - tC) / 1e9
    val filesAfter = idxFiles()
    val probeAfter = probeSecs()
    streamDocs.unpersist()

    val total = funnelSecs + dedupSecs
    println(
      s"""{"metric":"stream_total","value":$total,"unit":"sec",""" +
      s""""batches":$nBatches,""" +
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
      s""""probe_after_secs":$probeAfter},"sf":"$sfDir"}""")
    spark.stop()
  }
}
