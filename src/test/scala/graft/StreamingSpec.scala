package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventWindows

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("streaming session windows equal the batch computation") {
    val dir = SparkTestSession.sf0001
    val stream = EventWindows.readStream(spark, s"$dir/events.parquet")
    val q = stream.withWatermark("ts", "1 minute")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("session_window.start")).as("s"),
        col("user_id"), col("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("ev_sessions").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ev_sessions").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = Tables.events(spark, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("session_window.start")).as("s"),
          col("user_id"), col("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("stream-static join enriches events with dimension rows") {
    val dir = SparkTestSession.sf0001
    val stream = EventWindows.readStream(spark, s"$dir/events.parquet")
    // static dimension: per-user segment derived from customer (the
    // standard enrich-at-ingest shape; the static side is re-read per
    // micro-batch, no state store involved)
    val dim = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val q = stream.join(dim, Seq("user_id"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("ev_enriched").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ev_enriched")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val batch = Tables.events(spark, dir).join(dim, Seq("user_id"), "left")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming rolling crawl: each batch screens against AND grows " +
       "the saved LSH index (later batches dedup against earlier ones)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_crawl").toString
    val baseA = "spark shuffles data across executors during wide " +
      "transformations and the optimizer prunes columns at the scan"
    val baseB = "a completely different sentence about gardening and " +
      "rich loamy soil with earthworms and compost in early spring"
    operators.Dedup.buildRefIndex(Seq((100L, baseA)).toDF("doc_id", "text"),
      "doc_id", "text", s"$tmp/idx", nBuckets = 8)
    val srcDir = s"$tmp/src"
    Seq((1L, baseA + " extra"), (2L, baseB)) // 1 dups the standing ref
      .toDF("doc_id", "text").coalesce(1).write.parquet(srcDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir).schema).parquet(srcDir)
    val q = EventWindows.dedupAgainstIndexSink(stream, s"$tmp/idx", "text",
      s"$tmp/out", s"$tmp/ckpt")
    try {
      q.processAllAvailable()
      // batch 2: doc 3 near-dups doc 2 — a SURVIVOR of batch 1, never in
      // the original reference — so dropping it proves the index grew
      Seq((3L, baseB + " indeed"),
          (4L, "totally novel text about astronomy telescopes and the " +
            "moons of jupiter visible tonight"))
        .toDF("doc_id", "text").coalesce(1).write.mode("append")
        .parquet(srcDir)
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(s"$tmp/out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L))
  }

  test("rolling crawl with compactEvery: interleaved maintenance changes " +
       "no kept set, floors the file count, and later batches still " +
       "dedup against compacted state") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_crawlc").toString
    val baseA = "spark shuffles data across executors during wide " +
      "transformations and the optimizer prunes columns at the scan"
    val baseB = "a completely different sentence about gardening and " +
      "rich loamy soil with earthworms and compost in early spring"
    operators.Dedup.buildRefIndex(Seq((100L, baseA)).toDF("doc_id", "text"),
      "doc_id", "text", s"$tmp/idx", nBuckets = 8)
    val srcDir = s"$tmp/src"
    Seq((1L, baseA + " extra"), (2L, baseB))
      .toDF("doc_id", "text").coalesce(1).write.parquet(srcDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir).schema).parquet(srcDir)
    // compact after EVERY batch — the most adversarial cadence: every
    // later batch probes and presence-checks compacted state only
    val q = EventWindows.dedupAgainstIndexSink(stream, s"$tmp/idx", "text",
      s"$tmp/out", s"$tmp/ckpt", compactEvery = 1)
    try {
      q.processAllAvailable()
      Seq((3L, baseB + " indeed"),
          (4L, "totally novel text about astronomy telescopes and the " +
            "moons of jupiter visible tonight"))
        .toDF("doc_id", "text").coalesce(1).write.mode("append")
        .parquet(srcDir)
      q.processAllAvailable()
    } finally q.stop()
    // identical kept set to the uncompacted crawl test above
    val kept = spark.read.parquet(s"$tmp/out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L))
    // the file population sits at the compacted floor: at most one
    // parquet file per bucket dir in both relations
    Seq(operators.Dedup.LshBandsDir, operators.Dedup.LshShinglesDir)
      .foreach { d =>
        val dirs = new java.io.File(s"$tmp/idx/$d").listFiles()
          .filter(_.isDirectory)
        assert(dirs.nonEmpty)
        dirs.foreach { sub =>
          val n = sub.listFiles().count(_.getName.endsWith(".parquet"))
          assert(n <= 1, s"$d/${sub.getName}: $n files after compact")
        }
      }
    // and the compacted index still answers the batch probe exactly
    // (survivors 2 and 4 indexed; a fresh near-dup of 2 must match)
    val m = operators.Dedup.minhashAgainstIndex(
      Seq((9L, baseB + " truly")).toDF("doc_id", "text"),
      s"$tmp/idx", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(m == Set(9L))
  }

  test("crawlStep replay is idempotent: a re-run batch whose appends " +
       "already committed recomputes the identical kept set") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_replay").toString
    val refText = "spark shuffles data across executors during wide " +
      "transformations and the optimizer prunes columns at the scan"
    val baseB = "a completely different sentence about gardening and " +
      "rich loamy soil with earthworms and compost in early spring"
    operators.Dedup.buildRefIndex(
      Seq((100L, refText)).toDF("doc_id", "text"),
      "doc_id", "text", s"$tmp/idx", nBuckets = 8)
    // doc 1 dups the standing ref; docs 2 and 3 are within-batch
    // near-dups of EACH OTHER (the screen is index-only, so both are
    // kept); doc 4 is unique. The within-batch pair is the hard case:
    // after the appends commit, a replayed 3 would match 2's indexed
    // copy (a DIFFERENT id — self-pair exclusion alone cannot save it),
    // so idempotency requires excluding the batch's whole id set from
    // the reference side.
    val batch = Seq(
      (1L, refText + " extra"),
      (2L, baseB),
      (3L, baseB + " indeed"),
      (4L, "totally novel text about astronomy telescopes and the " +
        "moons of jupiter visible tonight")).toDF("doc_id", "text")
    def run(): Set[Long] = {
      var kept: Set[Long] = null
      operators.Dedup.crawlStep(batch, s"$tmp/idx", "text") { k =>
        kept = k.select("doc_id").collect().map(_.getLong(0)).toSet
      }
      kept
    }
    val first = run()
    assert(first == Set(2L, 3L, 4L), s"first pass kept $first")
    // at-least-once replay: the index now carries docs 2/3/4's bands and
    // shingles; without the batch-id exclusion every kept doc
    // self-matches at jaccard 1.0 and kept collapses to empty
    def idxRows() = (
      spark.read.parquet(s"$tmp/idx/bands").count(),
      spark.read.parquet(s"$tmp/idx/shingles").count())
    val rowsAfterFirst = idxRows()
    val second = run()
    assert(second == first, s"replay kept $second != original $first")
    // and the index itself is REPLAY-STABLE: the re-run appends nothing
    // (already-indexed kept docs are skipped). Duplicated rows would not
    // be benign — the exact-Jaccard verification reads the index shingle
    // relation and the hot-bucket cap counts band rows, so a doubled doc
    // would inflate later batches' scores into false duplicate drops
    // (r13 review finding)
    assert(idxRows() == rowsAfterFirst,
      s"replay grew the index: $rowsAfterFirst -> ${idxRows()}")
    // and a genuinely NEW near-dup of a batch survivor is still caught
    // (the exclusion is scoped to the probing batch's own ids)
    var kept3: Set[Long] = null
    operators.Dedup.crawlStep(
      Seq((7L, baseB + " truly")).toDF("doc_id", "text"),
      s"$tmp/idx", "text") { k =>
      kept3 = k.select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(kept3 == Set.empty[Long], s"doc 7 should dup doc 2: $kept3")
  }

  test("crawl presence check requires the FULL per-doc band count: a " +
       "partially-committed doc is re-appended whole, never skipped") {
    import spark.implicits._
    // the r13 review hole: any-row presence would treat a doc whose
    // bands append crashed mid job-commit (some files visible, some
    // not) as fully indexed, permanently losing its remaining bands —
    // silent recall loss no later batch can detect. Count-based
    // presence re-appends it whole instead.
    val nBands = 4
    val bands = Seq( // (__rid, band_idx) — band_val irrelevant here
      (1L, 0), (1L, 1),                   // doc 1: PARTIAL (2 of 4)
      (2L, 0), (2L, 1), (2L, 2), (2L, 3), // doc 2: complete
      (3L, 0), (3L, 0), (3L, 1), (3L, 1), // doc 3: complete + doubled
      (3L, 2), (3L, 2), (3L, 3), (3L, 3), //   (the shingles-twice window)
      (5L, 0), (5L, 1),                   // doc 5: partial commit (2 of 4)
      (5L, 0), (5L, 1), (5L, 2))          //   + PARTIAL re-append (3 of 4):
                                          //   5 raw rows >= 4, band 3 absent
      .toDF("__rid", "band_idx")
    // 4: not indexed at all
    val batch = Seq(1L, 2L, 3L, 4L, 5L).toDF("__rid")
    val present = operators.Dedup
      .alreadyIndexedIds(bands, batch, nBands)
      .collect().map(_.getLong(0)).toSet
    // doc 5 is the ADVICE r13 masking case: a raw ROW count (>= nBands)
    // would call it present and band 3 would be permanently invisible
    // to future collisions; the distinct-band_idx count re-appends it
    assert(present == Set(2L, 3L),
      s"docs 1/4/5 must be re-appended, 2/3 skipped: $present")
  }

  test("crawlStep releases every cache it takes (no per-micro-batch " +
       "accumulation on the scope-less foreachBatch thread)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_leak").toString
    operators.Dedup.buildRefIndex(
      Seq((100L, "standing reference document about distributed " +
        "query engines and shuffle exchanges")).toDF("doc_id", "text"),
      "doc_id", "text", s"$tmp/idx", nBuckets = 8)
    val batch = Seq(
      (1L, "first crawled page text mentions volcanoes and glaciers"),
      (2L, "second crawled page text mentions rivers and deltas"))
      .toDF("doc_id", "text")
    spark.catalog.clearCache()
    operators.Dedup.crawlStep(batch, s"$tmp/idx", "text") { kept =>
      kept.write.mode("overwrite").parquet(s"$tmp/out/batch_id=0")
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "crawlStep left cached relations behind (ADVICE r12: unbounded " +
        "growth in a long-running rolling crawl)")
  }

  test("streaming funnel equals the batch recurrence (strict, first-anchor)") {
    val dir = SparkTestSession.sf0001
    val tmp = java.nio.file.Files.createTempDirectory("graft_funnel").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.Paths.get(s"$tmp/ev0.parquet"))
    def sentinel(micros: Long): Unit = {
      import spark.implicits._
      // a STEP-typed sentinel: the operator filters to step types before
      // the watermark, so only step events can advance it
      Seq((9_000_000_000L, micros, -1L, "view", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", timestamp_micros(col("ts")))
        .coalesce(1).write.mode("append").parquet(tmp)
    }
    val steps = Seq("view", "click", "purchase")
    val stream = EventWindows.readStream(spark, tmp)
    val q = EventWindows.streamingFunnel(stream, steps, 86400L)
      .toDF().writeStream.outputMode("append")
      .format("memory").queryName("fn_stream").start()
    try {
      q.processAllAvailable()
      sentinel(4_000_000_000_000_000L)
      q.processAllAvailable()
      sentinel(4_100_000_000_000_000L)
      q.processAllAvailable()
      val streamed = spark.table("fn_stream")
        .filter(col("user_id") >= 0)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2)))
        .groupBy(_._1)
        .map { case (u, rows) => u -> rows.maxBy(_._2)._3.toSeq }
      // batch oracle: the recurrence computed directly in Scala
      val idx = steps.zipWithIndex.toMap
      val batch = Tables.events(spark, dir)
        .select(col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"),
          col("event_type"))
        .collect()
        .flatMap(r => idx.get(r.getString(2))
          .map(i => (r.getLong(0), r.getLong(1), i)))
        .groupBy(_._1)
        .map { case (u, evs) =>
          val folded = Array.fill(steps.size)(-1L)
          evs.map(e => (e._2, e._3)).sorted.foreach { case (t, i) =>
            if (i == 0) { if (folded(0) < 0) folded(0) = t }
            else if (folded(i) < 0 && folded(i - 1) >= 0 &&
              t > folded(i - 1) && t <= folded(i - 1) + 86400000000L)
              folded(i) = t
          }
          u -> folded.toSeq
        }
        .filter(_._2.exists(_ >= 0))
      assert(streamed == batch && batch.nonEmpty)
      // and the per-step user counts equal the declared batch operator's
      val counts = operators.Funnel.funnel(Tables.events(spark, dir),
          "user_id", "ts", "event_type", steps, 86400L)
        .orderBy(col("step")).collect().map(_.getLong(2)).toSeq
      val fromStream = (0 until steps.size).map(i =>
        streamed.values.count(_(i) >= 0).toLong)
      assert(fromStream == counts)
    } finally q.stop()
  }

  test("streaming funnel TTL evicts expired state, in-horizon parity intact") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_fn_ttl").toString
    val base = 1_000_000_000_000_000L // epoch micros
    def write(rows: Seq[(Long, Long, Long, String)]): Unit =
      rows.map { case (eid, us, uid, typ) => (eid, us, uid, typ, 0.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", timestamp_micros(col("ts")))
        .coalesce(1).write.mode("append").parquet(tmp)
    // u1 completes all steps; u2 anchors step 1 then stalls forever
    write(Seq(
      (1L, base, 1L, "view"), (2L, base + 100_000_000L, 1L, "click"),
      (3L, base + 200_000_000L, 1L, "purchase"),
      (4L, base, 2L, "view")))
    val steps = Seq("view", "click", "purchase")
    val stream = EventWindows.readStream(spark, tmp)
    val q = EventWindows.streamingFunnel(stream, steps,
        maxGapSeconds = 3600L, stateTtlSeconds = Some(86400L))
      .toDF().writeStream.outputMode("append")
      .format("memory").queryName("fn_ttl").start()
    def stateRows: Long = q.lastProgress.stateOperators(0).numRowsTotal
    try {
      q.processAllAvailable()
      // sentinel A: watermark passes the user events — both fold, both
      // retained (TTL horizon base+1d not reached; wm ≈ base+2h−1m)
      write(Seq((9_000L, base + 7_200_000_000L, -1L, "view")))
      q.processAllAvailable()
      assert(stateRows >= 3, s"u1, u2, sentinel user in state: $stateRows")
      // sentinel B: wm ≈ base+2d−1m > lastTs+TTL for u1 (complete) and
      // u2 (stalled) — both evicted; only the sentinel user remains
      write(Seq((9_001L, base + 172_800_000_000L, -1L, "view")))
      q.processAllAvailable()
      assert(stateRows == 1, s"expected only sentinel state, got $stateRows")
      // parity: emissions before eviction are the batch recurrence
      val last = spark.table("fn_ttl").filter(col("user_id") >= 0)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2)))
        .groupBy(_._1).map { case (u, rows) => u -> rows.maxBy(_._2) }
      assert(last(1L)._2 == 3 && last(1L)._3 ==
        Seq(base, base + 100_000_000L, base + 200_000_000L))
      assert(last(2L)._2 == 1 && last(2L)._3 == Seq(base, -1L, -1L))
    } finally q.stop()
  }
}
