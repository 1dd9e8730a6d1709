package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Structured-Streaming surface over the events table (SURVEY.md §2B
  * streaming): event-time tumbling/sliding window aggregation (batch or
  * streaming), the file-stream source, the streaming funnel and the
  * rolling-crawl dedup sink. The reference's online `insert`
  * (include/pktree.hpp:1262-1355) is served in batch by
  * `VectorIndex.appendSaved`, not by a stream.
  *
  * q14_events_window calls `tumblingCounts`, so the shared aggregation is
  * oracle-checked; the streaming-specific machinery (source, watermark,
  * state, sink) is covered by ScalaTest with a file source driven to
  * completion.
  */
object EventWindows {

  /** events schema when ts is TIMESTAMP(NANOS) at rest (nanosAsLong read
    * surfaces it as LongType; see Tables.events). When ts is micros at
    * rest it reads natively as TimestampType and readStream swaps the
    * field type accordingly. */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // nanos (nanosAsLong read)
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private def normalize(df: DataFrame): DataFrame =
    df.withColumn("ts", timestamp_micros((col("ts") / 1000L).cast("long")))

  /** The shared aggregation: tumbling event-time window counts + sums.
    * Works identically on a batch or streaming DataFrame. */
  def tumblingCounts(events: DataFrame, windowLen: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen).getField("start").as("wstart"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))

  /** Sliding event-time windows (length windowLen, hop slideLen): each
    * event lands in length/hop windows. Batch or streaming. */
  def slidingCounts(events: DataFrame, windowLen: String,
                    slideLen: String): DataFrame =
    events
      .groupBy(
        window(col("ts"), windowLen, slideLen).getField("start").as("wstart"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Rolling distinct-user counts (DAU/WAU-style): one row per sliding
    * window position with the number of DISTINCT users active in it.
    *
    * Scale: the corpus first collapses to DISTINCT (user, day) — one
    * shuffle, and the only one that touches raw events — so the
    * windowLen/slideLen explode that sliding windows inherently cost
    * multiplies user-DAYS, not events, and the per-window distinct runs
    * over the same bounded relation. For 100 TB roll-ups where exact
    * distincts stop paying, set approx=true (HLL partial-merge, the
    * q44/dupStats triage pattern); the exact form is the oracle. */
  def rollingActiveUsers(events: DataFrame, userCol: String, tsCol: String,
                         windowLen: String = "7 days",
                         slideLen: String = "1 day",
                         approx: Boolean = false): DataFrame = {
    val userDays = events.select(col(userCol).as("__u"),
        date_trunc("DAY", col(tsCol).cast("timestamp")).as("__d"))
      .distinct()
    userDays
      .groupBy(window(col("__d"), windowLen, slideLen)
        .getField("start").as("wstart"))
      .agg((if (approx) approx_count_distinct(col("__u"))
            else count_distinct(col("__u"))).as("n_users"))
  }

  /** Streaming source over parquet events. Accepts a directory, or a
    * single file (FileStreamSource requires a directory base path, so a
    * file is read via its parent + pathGlobFilter). */
  def readStream(spark: SparkSession, path: String): DataFrame = {
    val f = new java.io.File(path)
    // FileStreamSource needs a user schema, but the physical ts type is
    // the data's choice: TIMESTAMP(NANOS) surfaces as LongType (under
    // nanosAsLong) and needs the /1000 normalization, TIMESTAMP(MICROS)
    // reads natively as TimestampType and must NOT be divided. Probe
    // with a one-file batch read (footer-only, no data scan) — the same
    // type dispatch Tables.events does for the batch path.
    // An empty landing directory (the normal state of a file-stream
    // source at start) has nothing to probe — fall back to the micros
    // TimestampType layout (the driver's current physical type) and
    // let files adopt it as they arrive.
    val tsIsLong =
      try spark.read.parquet(path).schema("ts").dataType == LongType
      catch { case _: org.apache.spark.sql.AnalysisException => false }
    val sch =
      if (tsIsLong) schema
      else StructType(schema.map(fld =>
        if (fld.name == "ts") fld.copy(dataType = TimestampType) else fld))
    val reader = spark.readStream.schema(sch)
    val src =
      if (f.isFile)
        reader.option("pathGlobFilter", f.getName).parquet(f.getParent)
      else reader.parquet(path)
    if (tsIsLong) normalize(src) else src
  }

  case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp, step: Int)

  /** A user's funnel progress: times(i) = epoch-micros of step i's
    * anchor, -1 while unreached; emitted whenever the fold advances. */
  case class FunnelProgress(user_id: Long, reached: Int, times: Seq[Long])

  /** A buffered (not yet folded) step event, epoch micros. */
  case class PendingStep(ts: Long, step: Int)

  case class FunnelState(folded: Seq[Long], buffer: Seq[PendingStep],
                         lastTs: Long = -1L)

  /** Streaming strict ordered funnel — the streaming face of
    * Funnel.funnel, via flatMapGroupsWithState. Semantics are the batch
    * recurrence exactly: t₁ = FIRST step-1 event ever, tᵢ = earliest
    * step-i event with tᵢ₋₁ < ts ≤ tᵢ₋₁ + maxGap; no re-anchoring.
    *
    * Exactness under out-of-order delivery: an event is folded into the
    * recurrence only once the watermark passes its timestamp — below
    * the watermark event-time is totally ordered and final, so folding
    * in ascending (ts, step) order reproduces the batch recurrence;
    * above it events wait in the buffer (bounded by the watermark
    * horizon). Events arriving older than the watermark are dropped —
    * the standard late-data policy. A row is emitted each time a user's
    * fold ADVANCES (append mode); the latest row per user is their
    * current funnel state.
    *
    * State: the k anchor timestamps per user ever seen, plus the
    * in-horizon buffer. The anchors are the funnel's inherent floor —
    * t₁ anchors on the first view EVER, so forgetting a user would
    * re-anchor late arrivals and break batch parity. `stateTtlSeconds`
    * bounds that floor: a user whose last activity is more than the TTL
    * below the watermark is EVICTED (buffer permitting — buffered events
    * always fold first). With ttl >= maxGap the eviction is
    * emission-lossless: an evicted user was either complete or stalled
    * past the gap, so no retained state could ever emit again — the one
    * trade is the documented re-anchor risk (a step-1 event arriving
    * after eviction restarts that user's funnel, where retained state
    * would have ignored it). A smaller ttl additionally forgets
    * still-advanceable users — explicit data loss the caller opts into.
    * Users with NO anchor and an empty buffer are always dropped
    * (their state equals the fresh default — eviction is a no-op
    * semantically, so the state store only holds users with progress). */
  def streamingFunnel(events: DataFrame, steps: Seq[String],
                      maxGapSeconds: Long,
                      watermark: String = "1 minute",
                      stateTtlSeconds: Option[Long] = None): Dataset[FunnelProgress] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(stateTtlSeconds.forall(_ > 0), "stateTtlSeconds must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = maxGapSeconds * 1000000L
    val ttlUs = stateTtlSeconds.map(_ * 1000000L)
    val k = steps.size

    def tsUs(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000) % 1000

    def update(key: Long, it: Iterator[FunnelEvent],
               state: GroupState[FunnelState]): Iterator[FunnelProgress] = {
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val st = state.getOption.getOrElse(
        FunnelState(Seq.fill(k)(-1L), Nil))
      val fresh = it.map(e => PendingStep(tsUs(e.ts), e.step))
        .filter(_.ts >= wmUs).toList // late-data drop
      val lastTs = (st.lastTs +: fresh.map(_.ts)).max
      val (ready, hold) = (st.buffer ++ fresh).partition(_.ts < wmUs)
      val folded = st.folded.toArray
      ready.sortBy(p => (p.ts, p.step)).foreach { case PendingStep(t, i) =>
        if (i == 0) { if (folded(0) < 0) folded(0) = t }
        else if (folded(i) < 0 && folded(i - 1) >= 0 &&
          t > folded(i - 1) && t <= folded(i - 1) + gapUs) folded(i) = t
      }
      val next = FunnelState(folded.toSeq, hold, lastTs)
      // Eviction (buffer permitting): a no-anchor empty-buffer state
      // equals the fresh default (drop is free, always on); past the TTL
      // horizon the caller has opted into forgetting the user.
      val evict = hold.isEmpty && (folded.forall(_ < 0) ||
        ttlUs.exists(t => lastTs >= 0 && wmUs >= lastTs + t))
      if (evict) state.remove()
      else {
        state.update(next)
        // wake at the earliest actionable instant: the oldest buffered
        // event (to fold it once the watermark passes) or the TTL
        // horizon (to evict); without either, only new data wakes us
        val wake = (hold.map(_.ts).map(_ / 1000L) ++
          ttlUs.map(t => (lastTs + t) / 1000L).toList).minOption
        wake.foreach(w => state.setTimeoutTimestamp(
          math.max(w, state.getCurrentWatermarkMs() + 1)))
      }
      if (next.folded != st.folded)
        Iterator.single(FunnelProgress(key, folded.count(_ >= 0),
          folded.toSeq))
      else Iterator.empty
    }

    val stepIdx = steps.zipWithIndex.foldLeft(lit(-1)) {
      case (acc, (s, i)) => when(col("event_type") === s, i).otherwise(acc)
    }
    events
      .withColumn("step", stepIdx)
      .filter(col("step") >= 0)
      .select(col("user_id"), col("ts"), col("step"))
      .withWatermark("ts", watermark)
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** The STREAMING rolling crawl: each micro-batch of fresh documents is
    * (1) screened against the standing LSH reference index — matched
    * near-dup docs are dropped — and (2) the SURVIVORS are appended to
    * that same index, so later batches dedup against earlier ones too.
    * This is the full incremental-crawl loop (q68/q80's question, asked
    * continuously) as one foreachBatch sink: the saved index
    * (Dedup.buildRefIndex's layout) is both the filter and the sink.
    *
    * Batch-parity: each micro-batch's kept set equals what
    * Dedup.minhashAgainstIndex + anti-join would keep given the same
    * index state (spec-pinned in StreamingSpec). foreachBatch gives
    * at-least-once sink semantics on restart; a replayed batch is safe
    * by two mechanisms in Dedup.crawlStep, NOT because duplicate index
    * rows would be benign (they are not — doubled shingle rows inflate
    * later batches' exact-Jaccard into false drops, the r13 finding):
    * (1) the screen excludes reference rows whose id is in the batch
    * itself, so the replay sees exactly the reference set the original
    * run saw and recomputes the identical `kept` — the batch-id
    * parquet subdirectory of `outPath` then makes the rewrite a true
    * idempotent overwrite; (2) appends are presence-gated — kept docs
    * already fully indexed (all band indices visible) are skipped — so
    * the replay leaves the index byte-identical.
    *
    * `compactEvery = n` (0 = never) runs Dedup.compactRefIndex after
    * every n-th micro-batch — the maintenance loop a real deployment
    * interleaves with ingest, since each append adds ≤1 file per
    * touched bucket and the file population otherwise grows without
    * bound (r14 measurement: 8 appends left 1,152 files, compact
    * floors it at one per bucket dir = 128 and halved the next probe).
    * Safe under replay: compaction is probe-invariant by contract
    * (q162's oracle), so re-running it after a replayed batch changes
    * no answer; a crash mid-compact leaves the pre-compact layout
    * serviceable (the `.compacting` staging contract). */
  def dedupAgainstIndexSink(docs: DataFrame, indexPath: String,
                            textCol: String, outPath: String,
                            checkpoint: String,
                            minJaccard: Double = 0.5,
                            compactEvery: Int = 0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val b = batch.toDF().persist()
        // Dedup.crawlStep fuses the loop: the batch's signatures and
        // shingles are computed once and shared by the screen's
        // verification and both index appends (the unfused
        // minhashAgainstIndex + appendRefIndex form recomputed both
        // pipelines from raw text per batch — the fixed cost that
        // bounded docs/s at small batches).
        try {
          graft.operators.Dedup.crawlStep(b, indexPath, textCol,
            minJaccard) { kept =>
            kept.write.mode("overwrite").parquet(s"$outPath/batch_id=$id")
          }
          if (compactEvery > 0 && (id + 1) % compactEvery == 0)
            graft.operators.Dedup.compactRefIndex(b.sparkSession, indexPath)
        } finally b.unpersist()
      }
      .start()
}
