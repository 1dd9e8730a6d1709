package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{IndexMeta, VectorIndex}
import graft.operators.{Dedup, IvfIndex}

/** A reported number: end-to-end or per-layer. `note` carries what the
  * value alone does not say (a percentile's sample count). */
final case class Metric(name: String, value: Double, unit: String,
                        note: String = "")

/** What every family needs from the run: the session, the tracer, the
  * input and scratch roots, and the between-ops cache sweep. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val input: String, val scratch: String) {
  /** Drop every SQL cache entry and every persisted RDD (operator
    * localCheckpoint blocks included), as graft.Bench does between
    * queries, then log what is left so accumulation shows early. */
  def sweep(label: String): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    val rt = Runtime.getRuntime
    val heap = (rt.totalMemory - rt.freeMemory) / (1 << 20)
    heapSamples += heap.toDouble
    System.err.println(f"[perfbench] $label%-34s " +
      f"rdds=${spark.sparkContext.getPersistentRDDs.size}%3d heap=$heap%5dM")
  }
  val heapSamples = mutable.ArrayBuffer.empty[Double]
}

object Stats {
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** One engine family driven in a closed loop by a single client. */
abstract class Family(val ctx: Ctx) {
  var attempted = 0
  var failed = 0
  protected def spark: SparkSession = ctx.spark
  protected def span[A](name: String)(f: => A): A = ctx.tracer.span(name)(f)

  /** Build whatever the loop reads; not part of the window. `warm`
    * also runs the ops once untimed, so that the window's ops run warm. */
  def setup(warm: Boolean): Unit
  /** Ops run after the window when another family holds it. */
  def companionSteps: Int
  /** One operation of the closed loop. */
  def step(): Unit
  /** False once the family's generated inputs are used up. */
  def more: Boolean = true
  /** End-of-window checks; each failed check counts as a failed op. */
  def finish(): Unit
  def metrics: Seq[Metric]
  def layers: Seq[Metric]

  /** A checked op that changes no state, so it can be repeated after
    * the window: the traced run times it with tracing on and off. */
  def readOnlyOp(): Unit = ()
  /** How many [[readOnlyOp]]s make one timed block. */
  def readOnlyPerBlock: Int = 1

  /** Run one op: a throw or a false check counts as a failure. */
  protected def attempt(label: String)(body: => Boolean): Unit = {
    attempted += 1
    val ok = try body catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $label failed: $e")
        false
    }
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] $label: check failed")
    }
  }

  protected def perOp(t: Totals, v: Totals => Double): Double =
    if (t.spans == 0) 0.0 else v(t) / t.spans
}

/** Batch and single-query ANN over one IVF index built at set-up. */
final class AnnFamily(ctx: Ctx) extends Family(ctx) {
  val k = 10
  val nProbe = 4
  val batchSize = 64
  val singlesPerBatch = 6
  val companionSteps = 4 * (1 + singlesPerBatch)
  private val path = s"${ctx.scratch}/ivf"
  private var index: VectorIndex = _
  private var cents: IvfIndex.Centroids = _
  private var queries: Array[(Long, Seq[Double])] = _
  private var qNext = 0
  private var stepNo = 0
  var buildS = 0.0
  private val batchTimes = mutable.ArrayBuffer.empty[Double]
  private var batchQueries = 0
  private val singleTimes = mutable.ArrayBuffer.empty[Double]
  // sampled answers for the recall check: (op number, query vector,
  // ids, dists)
  private val sample =
    mutable.ArrayBuffer.empty[(Int, Seq[Double], Seq[Long], Seq[Double])]
  private val sampleCap = 256
  private var listSizes: Map[Int, Long] = Map.empty
  private var scanned = 0L
  private var scannedResults = 0L
  private var fitS = 0.0

  private def vectors: DataFrame = spark.read.parquet(s"${ctx.input}/ann/vectors.parquet")

  def setup(warm: Boolean): Unit = {
    queries = spark.read.parquet(s"${ctx.input}/ann/queries.parquet")
      .orderBy("qid").collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val n = vectors.count()
    val dim = queries.head._2.size
    val nlist = math.max(16, math.round(math.sqrt(n.toDouble) / 2).toInt)
    buildS = Stats.time {
      val built = span("VectorIndex.create") {
        VectorIndex.create(vectors, "vec", "id", dim, nlist = nlist) }
      span("VectorIndex.save") { built.save(path, fitPq = false) }
      index = VectorIndex.load(spark, path)
    }._2
    cents = IndexMeta.read(spark, path).flatMap(_.ivfCentroids).getOrElse(
      throw new IllegalStateException("saved index has no IVF centroids"))
    if (ctx.tracer.enabled) {
      // the quantizer fit on its own, outside create, for its layer time
      fitS = Stats.time(span("IvfIndex.fitCentroids") {
        IvfIndex.fitCentroids(vectors, "vec", "id", nlist) })._2
      listSizes = index.data.groupBy("list_id").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
    // warmed as a companion too: two cheap ops, and without them the
    // first single query's compile time lands in single_p90_s
    batch(timed = false)
    single(timed = false)
    ctx.sweep("ann warm-up")
  }

  private def nextQueries(m: Int): Seq[(Long, Seq[Double])] =
    (0 until m).map { _ =>
      val q = queries(qNext % queries.length)
      qNext += 1
      q
    }

  private def keep(q: Seq[Double], ids: Seq[Long], d: Seq[Double]): Unit =
    if (sample.size < sampleCap) sample += ((stepNo, q, ids, d))

  private def batch(timed: Boolean): Unit = {
    val qs = nextQueries(batchSize)
    attempt("ann batch") {
      val (rows, t) = Stats.time(span("op.ann.batch") {
        span("IvfIndex.searchBatch") {
          IvfIndex.searchBatch(index.data, "vec", "id", cents, qs, k, nProbe)
            .collect() } })
      if (timed) {
        batchTimes += t
        batchQueries += qs.size
        if (listSizes.nonEmpty) {
          scanned += qs.map { case (_, q) =>
            IvfIndex.probeLists(cents, q, nProbe)
              .map(listSizes.getOrElse(_, 0L)).sum }.sum
          scannedResults += qs.size.toLong * k
        }
      }
      val byQ = rows.groupBy(_.getAs[Long]("qid"))
      qs.forall { case (qid, q) =>
        val rs = byQ.getOrElse(qid, Array.empty).sortBy(_.getAs[Long]("rn"))
        val d = rs.map(_.getAs[Double]("dist")).toSeq
        if (timed) keep(q, rs.map(_.getAs[Long]("id")).toSeq, d)
        rs.length == k &&
          rs.map(_.getAs[Long]("rn")).toSeq == (1L to k.toLong) &&
          d.sliding(2).forall(p => p.size < 2 || p(0) <= p(1))
      }
    }
  }

  private def single(timed: Boolean): Unit = {
    val (_, q) = nextQueries(1).head
    attempt("ann single") {
      val (rows, t) = Stats.time(span("op.ann.single") {
        span("VectorIndex.annSearch") {
          index.annSearch(q, k, nProbe).select("id", "dist").collect() } })
      if (timed) singleTimes += t
      val d = rows.map(_.getDouble(1)).toSeq
      if (timed) keep(q, rows.map(_.getLong(0)).toSeq, d)
      rows.length == k && d.sliding(2).forall(p => p.size < 2 || p(0) <= p(1))
    }
  }

  def step(): Unit = {
    if (stepNo % (1 + singlesPerBatch) == 0) batch(timed = true)
    else single(timed = true)
    stepNo += 1
  }

  /** One single query: the floor-bound op, where tracing costs most. */
  override def readOnlyOp(): Unit = single(timed = false)
  override def readOnlyPerBlock: Int = 10

  private var recall = 0.0

  /** Ids of the exact k nearest by squared L2, ties by id: the
    * reference the recall check compares against. */
  private def exactKnn(base: Array[Array[Double]], ids: Array[Long],
                       q: Array[Double]): Set[Long] = {
    // bounded max-heap of the k best (dist, id) seen so far
    val heap = mutable.PriorityQueue.empty[(Double, Long)]
    var i = 0
    while (i < base.length) {
      val v = base(i)
      var s = 0.0
      var j = 0
      while (j < v.length) { val t = v(j) - q(j); s += t * t; j += 1 }
      if (heap.size < k) heap.enqueue((s, ids(i)))
      else if (Ordering[(Double, Long)].lt((s, ids(i)), heap.head)) {
        heap.dequeue()
        heap.enqueue((s, ids(i)))
      }
      i += 1
    }
    heap.map(_._2).toSet
  }

  /** Exact kNN on the driver for the sampled answers: recall@k, and
    * every returned distance equals the true one at the engine's
    * 6-digit rounding. */
  def finish(): Unit = {
    val base = vectors.select("id", "vec").collect()
    val ids = base.map(_.getLong(0))
    val vecs = base.map(_.getSeq[Double](1).toArray)
    val pos = ids.zipWithIndex.toMap
    val badOps = mutable.Set.empty[Int]
    val hits = sample.map { case (op, qs, got, d) =>
      val q = qs.toArray
      val exact = exactKnn(vecs, ids, q)
      val distOk = got.zip(d).forall { case (id, dist) =>
        val v = vecs(pos(id))
        var true2 = 0.0
        for (i <- v.indices) true2 += (v(i) - q(i)) * (v(i) - q(i))
        math.abs(true2 - dist) <= 1e-6 * math.max(1.0, true2)
      }
      if (!distOk) badOps += op
      got.count(exact).toDouble / k
    }
    failed += badOps.size
    recall = if (hits.isEmpty) 0.0 else hits.sum / hits.size
  }

  def metrics: Seq[Metric] = Seq(
    Metric("index_build_s", buildS, "s"),
    Metric("search_qps", batchQueries / batchTimes.sum, "1/s",
      s"${batchTimes.size} batches of $batchSize"),
    Metric("single_p50_s", Stats.median(singleTimes.toSeq), "s",
      s"n=${singleTimes.size}"),
    Metric("single_p90_s", Stats.quantile(singleTimes.toSeq, 0.9), "s",
      s"n=${singleTimes.size}"),
    Metric("recall_at_10", recall, "ratio", s"${sample.size} queries"))

  def layers: Seq[Metric] = {
    val tr = ctx.tracer
    val create = tr.totals(_.name == "VectorIndex.create")
    val sb = tr.named("IvfIndex.searchBatch")
    val ann = tr.named("VectorIndex.annSearch")
    Seq(
      Metric("VectorIndex.create.s", create.wallS, "s"),
      Metric("VectorIndex.create.jobs", create.jobs, "count"),
      Metric("IvfIndex.fitCentroids.s", fitS, "s"),
      Metric("IvfIndex.searchBatch.s", perOp(sb, _.wallS), "s"),
      Metric("IvfIndex.searchBatch.executor_cpu_s", perOp(sb, _.cpuS), "s"),
      Metric("IvfIndex.searchBatch.rows_scanned_per_result",
        scanned.toDouble / math.max(1L, scannedResults), "ratio"),
      Metric("VectorIndex.annSearch.s", perOp(ann, _.wallS), "s"),
      Metric("VectorIndex.annSearch.jobs", perOp(ann, _.jobs), "count"),
      Metric("VectorIndex.annSearch.plan_s", perOp(ann, _.planS), "s"),
      Metric("VectorIndex.annSearch.driver_gap_s", perOp(ann, _.gapS), "s"))
  }
}

/** Probe / append / delete / compact cycles on a saved LSH reference
  * index, fsck at the end. */
final class LifecycleFamily(ctx: Ctx) extends Family(ctx) {
  val deleteEvery = 2
  val compactEvery = 2
  val deletePerCycle = 10
  val companionSteps = 2
  private val path = s"${ctx.scratch}/lsh"
  private var batches: DataFrame = _
  private var docBytes: Map[Long, Long] = Map.empty
  private var batchIds: Map[Int, Seq[Long]] = Map.empty
  // planted near-duplicate -> the reference doc it was made from
  private var dupOf: Map[Long, Long] = Map.empty
  // each probed batch's hits: (id, max_jaccard)
  private val probeHits = mutable.LinkedHashMap.empty[Int, Seq[(Long, Double)]]
  private var nextBatch = 0
  private var cycle = 0
  private var live = 0L
  private var liveBytes = 0L
  private var appendedRows = 0L
  // appended ids in order; deletes take the oldest not yet deleted
  private val appendedIds = mutable.ArrayBuffer.empty[Long]
  private var deletedUpTo = 0
  private val probeTimes = mutable.ArrayBuffer.empty[Double]
  private val appendTimes = mutable.ArrayBuffer.empty[Double]
  private val compactTimes = mutable.ArrayBuffer.empty[Double]
  private val spaceAmp = mutable.ArrayBuffer.empty[Double]
  private var appendInputBytes = 0L
  private var fsckS = 0.0

  override def more: Boolean = batchIds.contains(nextBatch)

  def setup(warm: Boolean): Unit = {
    val ref = spark.read.parquet(s"${ctx.input}/lifecycle/ref.parquet")
    batches = spark.read.parquet(s"${ctx.input}/lifecycle/batches.parquet")
    val sizes = batches.select(col("id"), col("batch"),
      octet_length(col("text")).cast("long"), col("dup_of")).collect()
    batchIds = sizes.groupBy(_.getInt(1)).map { case (b, rs) =>
      b -> rs.map(_.getLong(0)).toSeq.sorted }
    docBytes = sizes.map(r => r.getLong(0) -> r.getLong(2)).toMap
    dupOf = sizes.filter(_.getLong(3) >= 0)
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val refStats = ref.agg(count(lit(1)),
      sum(octet_length(col("text")).cast("long"))).head()
    live = refStats.getLong(0)
    liveBytes = refStats.getLong(1)
    span("Dedup.buildRefIndex") { Dedup.buildRefIndex(ref, "id", "text", path) }
    if (warm) runCycle(timed = false, delete = true, compact = true)
    ctx.sweep("lifecycle set-up")
  }

  private def bytesOnDisk(): (Long, Long) = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val fs = walk(new java.io.File(path))
      .filterNot(f => f.getName.endsWith(".crc"))
    (fs.size.toLong, fs.map(_.length).sum)
  }

  private def fresh(b: Int): DataFrame =
    batches.filter(col("batch") === b).select("id", "text")

  private def probe(b: Int): (Seq[(Long, Double)], Double) = {
    val (rows, t) = Stats.time(span("Dedup.minhashAgainstIndex") {
      Dedup.minhashAgainstIndex(fresh(b), path, "text")
        .select("id", "max_jaccard").collect() })
    (rows.map(r => r.getLong(0) -> r.getDouble(1)).toSeq, t)
  }

  /** Every hit is a planted near-duplicate of the batch, at a Jaccard
    * the probe's 0.5 threshold admits; that the hits cover the planted
    * ones is checked in [[finish]]. */
  private def hitsOk(b: Int, hits: Seq[(Long, Double)]): Boolean = {
    val planted = batchIds(b).filter(dupOf.contains).toSet
    hits.forall { case (id, j) => planted(id) && j >= 0.5 && j <= 1.0 }
  }

  private def runCycle(timed: Boolean, delete: Boolean,
                       compact: Boolean): Unit = {
    val b = nextBatch
    nextBatch += 1
    val ids = batchIds(b)
    attempt(s"lifecycle cycle $b") {
      val (hits, tp) = probe(b)
      probeHits(b) = hits
      ctx.sweep(s"lifecycle probe $b")
      val (_, ta) = Stats.time(span("Dedup.appendRefIndex") {
        Dedup.appendRefIndex(fresh(b), "text", path) })
      val inBytes = ids.map(docBytes).sum
      appendedIds ++= ids
      live += ids.size
      liveBytes += inBytes
      if (timed) {
        probeTimes += tp
        appendTimes += ta
        appendedRows += ids.size
        appendInputBytes += inBytes
      }
      if (delete) {
        val gone = appendedIds.slice(deletedUpTo, deletedUpTo + deletePerCycle)
          .toSeq
        deletedUpTo += gone.size
        val s = spark
        import s.implicits._
        span("Dedup.deleteFromRefIndex") {
          Dedup.deleteFromRefIndex(spark, path, gone.toDF("id")) }
        live -= gone.size
        liveBytes -= gone.map(docBytes).sum
      }
      if (compact) {
        val (_, tc) = Stats.time(span("Dedup.compactRefIndex") {
          Dedup.compactRefIndex(spark, path) })
        if (timed) compactTimes += tc
      }
      if (timed) spaceAmp += bytesOnDisk()._2.toDouble / liveBytes
      hitsOk(b, hits)
    }
  }

  /** Probe the next batch without appending it: the index is only
    * read, and the hits are checked as a cycle's are. */
  override def readOnlyOp(): Unit = {
    val b = nextBatch
    attempt(s"lifecycle probe-only $b") {
      require(batchIds.contains(b), "no batch left to probe")
      hitsOk(b, probe(b)._1)
    }
  }

  def step(): Unit = {
    cycle += 1
    span("op.lifecycle.cycle") {
      runCycle(timed = true, delete = (cycle - 1) % deleteEvery == 0,
        compact = cycle % compactEvery == 0)
    }
  }

  /** Shingle set as the index builds it: word 3-grams of the text
    * split on single spaces. */
  private def shingles(text: String): Set[String] =
    text.split(" ").sliding(3).map(_.mkString(" ")).toSet

  /** The planted near-duplicates each probe must find: those whose exact
    * shingle Jaccard J with their source, computed here on the driver,
    * is at least 0.5. LSH banding misses one with probability
    * p = (1 - J^r)^b (b bands of r rows: buildRefIndex's default k = 8,
    * r = 2), so a probe fails if it misses more than mu + 5 sigma + 1 of
    * them, where mu and sigma^2 sum p and p(1 - p) over the batch. */
  private def checkRecall(): Unit = {
    val (rows, bands) = (2, 4)
    val ref = spark.read.parquet(s"${ctx.input}/lifecycle/ref.parquet")
      .select("id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap
    val text = batches.filter(col("dup_of") >= 0).select("id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    var expected = 0
    var found = 0
    probeHits.foreach { case (b, hits) =>
      val want = batchIds(b).filter(dupOf.contains).map { id =>
        val a = shingles(text(id))
        val s = shingles(ref(dupOf(id)))
        id -> (a & s).size.toDouble / (a | s).size
      }.filter(_._2 >= 0.5)
      val miss = want.map { case (_, j) => math.pow(1 - math.pow(j, rows), bands) }
      val allowed = miss.sum + 5 * math.sqrt(miss.map(p => p * (1 - p)).sum) + 1
      val hitIds = hits.map(_._1).toSet
      val got = want.count(w => hitIds(w._1))
      expected += want.size
      found += got
      if (want.size - got > allowed) {
        failed += 1
        System.err.println(s"[perfbench] probe of batch $b found $got of " +
          f"${want.size} planted near-duplicates; $allowed%.1f misses allowed")
      }
    }
    println(s"lifecycle probes found $found of $expected planted " +
      "near-duplicates")
  }

  /** A compact when the window held none (so compact_s always has a
    * sample), the probes' recall, then fsck: every check passes and the
    * live doc count is build + appends - deletes. */
  def finish(): Unit = {
    checkRecall()
    if (compactTimes.isEmpty) {
      attempted += 1
      compactTimes += Stats.time(span("Dedup.compactRefIndex") {
        Dedup.compactRefIndex(spark, path) })._2
    }
    val (rows, t) = Stats.time(span("Dedup.fsckRefIndex") {
      Dedup.fsckRefIndex(spark, path).collect() })
    fsckS = t
    attempted += 1
    val bad = rows.filterNot(_.getBoolean(1))
    val liveSeen = rows.find(_.getString(0) == "shingles_present")
      .map(_.getLong(2))
    if (bad.nonEmpty || !liveSeen.contains(live)) {
      failed += 1
      System.err.println(s"[perfbench] fsck failed: ${bad.mkString(" ")} " +
        s"live=$liveSeen expected=$live")
    }
  }

  def metrics: Seq[Metric] = Seq(
    Metric("append_rows_per_s", appendedRows / appendTimes.sum, "1/s",
      s"${appendTimes.size} appends"),
    Metric("probe_p50_s", Stats.median(probeTimes.toSeq), "s",
      s"n=${probeTimes.size}"),
    Metric("probe_p90_s", Stats.quantile(probeTimes.toSeq, 0.9), "s",
      s"n=${probeTimes.size}"),
    Metric("compact_s", Stats.median(compactTimes.toSeq), "s",
      s"n=${compactTimes.size}"),
    Metric("space_amp", Stats.median(spaceAmp.toSeq), "ratio",
      s"n=${spaceAmp.size}"))

  def layers: Seq[Metric] = {
    val tr = ctx.tracer
    val ap = tr.named("Dedup.appendRefIndex")
    val pr = tr.named("Dedup.minhashAgainstIndex")
    val cp = tr.named("Dedup.compactRefIndex")
    val dl = tr.named("Dedup.deleteFromRefIndex")
    val (files, bytes) = bytesOnDisk()
    Seq(
      Metric("Dedup.appendRefIndex.s", perOp(ap, _.wallS), "s"),
      Metric("Dedup.appendRefIndex.jobs", perOp(ap, _.jobs), "count"),
      Metric("Dedup.appendRefIndex.bytes_written_per_input_byte",
        ap.writtenMb * 1024 * 1024 / math.max(1L, appendInputBytes), "ratio"),
      Metric("Dedup.minhashAgainstIndex.s", perOp(pr, _.wallS), "s"),
      Metric("Dedup.minhashAgainstIndex.jobs", perOp(pr, _.jobs), "count"),
      Metric("Dedup.minhashAgainstIndex.bytes_read_mb",
        perOp(pr, _.readMb), "MB"),
      Metric("Dedup.minhashAgainstIndex.plan_s", perOp(pr, _.planS), "s"),
      Metric("Dedup.minhashAgainstIndex.driver_gap_s", perOp(pr, _.gapS), "s"),
      Metric("Dedup.compactRefIndex.s", perOp(cp, _.wallS), "s"),
      Metric("Dedup.compactRefIndex.bytes_rewritten_mb",
        perOp(cp, _.writtenMb), "MB"),
      Metric("Dedup.deleteFromRefIndex.s", perOp(dl, _.wallS), "s"),
      Metric("Dedup.fsckRefIndex.s", fsckS, "s"),
      Metric("store.files_on_disk", files.toDouble, "count"),
      Metric("store.bytes_on_disk_mb", bytes / 1048576.0, "MB"))
  }
}
