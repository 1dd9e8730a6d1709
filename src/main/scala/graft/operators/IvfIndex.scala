package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.sqDist

/** IVF (inverted-file) approximate nearest-neighbor index — the high-dim
  * scale path (dim ≥ ~8, where GridIndex's cell enumeration explodes).
  *
  * Structure: a small centroid table (the coarse quantizer) partitions the
  * collection into nlist cluster lists; a query probes only the nProbe
  * nearest lists. This is the standard IVF-Flat design (Johnson et al.,
  * "Billion-scale similarity search with GPUs", IEEE Big Data 2019) mapped
  * to Spark:
  *   - centroids: deterministic stratified sample by id — broadcast-sized
  *     driver metadata (nlist rows), NEVER the data side of a shuffle;
  *   - assignment: broadcast join + argmin — map-side only, no shuffle of
  *     the collection beyond the final partitionBy(list_id) write;
  *   - search: `list_id IN (probed)` filter (partition pruning at scale)
  *     then exact distances within the probed lists.
  *
  * Deterministic by construction (sampling by id order, no iterative
  * refinement): identical inputs give identical indexes on any cluster
  * layout. Lloyd iterations would sharpen recall but make centroid floats
  * partition-order-dependent; recall is instead tuned via nProbe.
  * Exactness is NOT guaranteed (ANN); tests assert recall vs the
  * brute-force baseline (Search.knn / Search.cosineTopK).
  */
object IvfIndex {

  /** Driver-side centroid table: (list_id, centroid). nlist × dim doubles —
    * metadata-sized, embedded as literals in expressions (never a shuffle
    * side). */
  type Centroids = Seq[(Int, Seq[Double])]

  /** Sentinel for fitCentroids' nlist: size the quantizer from the data
    * (nlist ∝ n) instead of pinning it. */
  val AutoNlist = 0

  /** The production sizing rule (nlist ∝ n): expected rows per list stays
    * ~targetListSize as the corpus grows, so a blocked self-join's
    * within-list candidate pairs grow LINEARLY (≈ n·targetListSize), not
    * quadratically — the distributed analog of the reference's
    * node-capacity re-split (/root/reference/include/pktree.hpp:587-635:
    * a node whose bucket overflows subdivides). Clamped to [1, maxNlist]:
    * centroids ride query plans as literal arrays (driver metadata), so
    * past maxNlist·dim doubles the quantizer belongs in a broadcast
    * relation and the build should shard — a different regime than one
    * fit call. */
  def autoNlist(n: Long, targetListSize: Int = 32,
                maxNlist: Int = WriteGeometry.MaxDirFanOut): Int = {
    require(targetListSize > 0 && maxNlist > 0)
    math.min(maxNlist.toLong,
      math.max(1L, (n + targetListSize - 1) / targetListSize)).toInt
  }

  /** Deterministic nlist-point coarse quantizer: hash-stride sample by id
    * (≈ every (n/nlist)-th id by xxhash64 bucket — NO global sort, no
    * single-partition window; scan + tiny collect only), stable list ids
    * by ascending id.
    *
    * `refineIters > 0` adds seeded Lloyd refinement: a LARGER hash-stride
    * sample (sampleFactor·nlist rows, CAPPED at 32768 so the driver
    * collect stays bounded — ~200 MB at dim 768 worst case) is collected
    * once in ascending-id order, and k-means iterations run ENTIRELY
    * driver-side over that fixed-order sample — so the result is
    * bit-for-bit deterministic on any cluster layout (no distributed
    * float sums, whose partition order would leak into the centroid
    * doubles; that partition-order hazard is why refinement is not a
    * distributed aggregate). Driver cost is O(iters·sample·nlist·dim)
    * single-threaded — sized for nlist up to ~1024; beyond that prefer
    * refineIters=0 (the cap also bounds quality, not just memory).
    * Sharper centroids raise low-nProbe recall on clustered data;
    * refineIters=0 preserves the sample-only quantizer exactly.
    *
    * `nlist = AutoNlist` applies the autoNlist sizing rule
    * (ceil(n / targetListSize), clamped) — pass it wherever the corpus
    * size isn't known up front; a pinned nlist stays bit-identical to
    * previous behavior. */
  def fitCentroids(df: DataFrame, vecCol: String, idCol: String,
                   nlist: Int, refineIters: Int = 0,
                   sampleFactor: Int = 32,
                   targetListSize: Int = 32,
                   topUp: Boolean = false): Centroids = {
    require(nlist == AutoNlist || nlist > 0,
      "nlist must be positive or AutoNlist")
    val n = df.count()
    val k = if (nlist == AutoNlist) autoNlist(n, targetListSize) else nlist
    val stride = math.max(n / k, 1L)
    def take(src: DataFrame, lim: Int) = src
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .orderBy(col(idCol))
      .limit(lim)
      .collect()
    val sampled =
      take(df.filter(pmod(xxhash64(col(idCol)), lit(stride)) === 0), k)
    // hash-stride sampling can (rarely, tiny inputs) miss every row; an
    // empty quantizer would route every vector to a null list — fall
    // back to the first k rows by id, still deterministic.
    // topUp extends that guard to UNDER-fills: the stride draw is
    // ~Poisson(k), so an unlucky hash can return k/2 lists and silently
    // halve the quantizer a serving deployment sized (observed: a
    // 20k-vector corpus asked for 16, drew 8). Opt-in because the
    // default sampling is frozen into existing oracle texts (q115
    // rebuilds it in SQL) — new serving indexes should pass true.
    // Under topUp the seeding is value-DISTINCT (r14 ADVICE, closed
    // r16; pool made value-distinct AT THE SOURCE per the r16 ADVICE):
    // a duplicate-heavy corpus used to seat coincident centroids
    // — nominally "exactly k" but with permanently empty lists (each
    // duplicate centroid's twin captures every assignment). The draw is
    // deduped by vector value with order preserved (a distinct-valued
    // draw survives verbatim at the front — the spec-pinned prefix
    // property), then topped up from a pool of DISTINCT vector values
    // (groupBy value, min-id as the deterministic order — a bounded
    // id-window pool could exhaust its window on duplicates of the base
    // values while fresh values sat beyond it, re-seating coincident
    // centroids through the fallback). Only a corpus holding fewer
    // than k distinct vectors in total falls back to id-distinct fill
    // so the "exactly k" contract still holds where it can.
    val rows =
      if (sampled.isEmpty) take(df, k)
      else if (topUp) {
        val seen = scala.collection.mutable.Set.empty[Seq[Double]]
        val base = sampled.filter(r => seen.add(r.getSeq[Double](1)))
        if (base.length >= k) base
        else {
          // one value-keyed shuffle, paid only on an under-filled draw;
          // k rows collected (each value's earliest id is its rank)
          val pool = df
            .select(col(idCol).cast("long").as("__id"),
              col(vecCol).cast("array<double>").as("__v"))
            .groupBy(col("__v")).agg(min(col("__id")).as("__id"))
            .select(col("__id"), col("__v"))
            .orderBy(col("__id"))
            .limit(k)
            .collect()
          val filled = base ++ pool
            .filter(r => seen.add(r.getSeq[Double](1)))
            .take(k - base.length)
          if (filled.length >= k) filled
          else {
            // fewer than k distinct vectors in the corpus: id-distinct
            // fill (the pre-r16 behavior) honors the count contract
            val haveIds = filled.map(_.getLong(0))
            val pad = take(df.filter(!col(idCol).cast("long")
              .isin(haveIds: _*)), math.max(4 * k, 256))
            val ids2 = filled.map(_.getLong(0)).toSet
            filled ++ pad.filter(r => !ids2.contains(r.getLong(0)))
              .take(k - filled.length)
          }
        }
      } else sampled
    val init = rows.map(_.getSeq[Double](1).toArray).toArray
    val cents =
      if (refineIters <= 0) init
      else {
        val sn = math.min(k.toLong * sampleFactor, 32768L)
        val stride2 = math.max(n / sn, 1L)
        val sampleRows =
          take(df.filter(pmod(xxhash64(col(idCol)), lit(stride2)) === 0),
            sn.toInt)
        val sample = (if (sampleRows.nonEmpty) sampleRows
                      else take(df, sn.toInt))
          .map(_.getSeq[Double](1).toArray)
        lloyd(init, sample, refineIters)
      }
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
  }

  /** Fixed-iteration driver-side Lloyd over a deterministically ordered
    * sample: nearest centroid by squared L2 (ties to the lowest list id),
    * means accumulated in sample order, empty lists keep their previous
    * centroid. Pure, order-stable double arithmetic — no rounding needed
    * for determinism. */
  private def lloyd(init: Array[Array[Double]], sample: Array[Array[Double]],
                    iters: Int): Array[Array[Double]] = {
    val k = init.length
    if (k == 0 || sample.isEmpty) return init
    val dim = init(0).length
    var cents = init.map(_.clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue; var j = 0
        while (j < k) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = v(i) - cents(j)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k) { j =>
        if (counts(j) == 0) cents(j)
        else { val c = new Array[Double](dim); var i = 0
          while (i < dim) { c(i) = sums(j)(i) / counts(j); i += 1 }; c }
      }
    }
    cents
  }

  /** The centroid table as ONE Catalyst literal (array<struct<list_id,
    * centroid>>), not a tree of nlist×dim `lit` nodes. The distinction
    * is load-bearing at auto-sized nlist: a 625-centroid × 64-dim
    * quantizer built from individual lits is a ~40,000-node expression
    * — analysis passes walk it repeatedly and codegen inlines every
    * constant (blowing the 64 KB method limit into interpreted
    * fallback); measured MINUTES of plan time on q51 at sf1. A single
    * Literal carries the same data as one boxed value in the codegen
    * references array: plan size O(1), analysis instant, codegen
    * intact. */
  private def centroidArray(centroids: Centroids): Column = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val schema = ArrayType(StructType(Seq(
      StructField("list_id", IntegerType, nullable = false),
      StructField("centroid", ArrayType(DoubleType, containsNull = false),
        nullable = false))), containsNull = false)
    val value = new GenericArrayData(centroids.map { case (id, v) =>
      InternalRow(id, new GenericArrayData(v.toArray)): Any
    }.toArray)
    org.apache.spark.sql.GraftColumn(Literal(value, schema))
  }

  /** Assign every vector to its nearest centroid (squared L2) — fully
    * map-side: the centroid table rides along as a literal array and the
    * argmin is array_min over (dist, list_id) structs. No join, no shuffle
    * of the collection; at 100 TB the only wide operation left is the
    * optional partitionBy(list_id) at write time. */
  def assign(df: DataFrame, vecCol: String, idCol: String,
             centroids: Centroids): DataFrame = {
    val cands = transform(centroidArray(centroids),
      c => struct(sqDist(col(vecCol), c.getField("centroid")).as("d"),
        c.getField("list_id").as("list_id")))
    df.withColumn("list_id", array_min(cands).getField("list_id"))
  }

  /** Multi-assignment with a completeness guarantee: each vector joins
    * EVERY list whose centroid lies within (distance to its nearest
    * centroid + slack). For any pair (a, b) with ||a−b|| <= slack, the two
    * expansion sets share a list — proof: let d*_a <= d*_b WLOG and c_a be
    * a's nearest centroid; then ||b − c_a|| <= ||b − a|| + d*_a
    * <= slack + d*_b, so b also assigns to c_a. This turns IVF lists into
    * a LOSSLESS blocking key for fixed-radius problems (near-dup), unlike
    * nProbe probing which is approximate. Output: one row per (vector,
    * list) membership — row multiplication is the expected number of
    * centroids within the slack ring, ≈1 for near-dup-tight thresholds.
    * Map-side only, like assign. */
  def assignMulti(df: DataFrame, vecCol: String, centroids: Centroids,
                  slack: Double): DataFrame = {
    require(slack >= 0, "slack must be non-negative")
    val cands = transform(centroidArray(centroids),
      c => struct(sqDist(col(vecCol), c.getField("centroid")).as("d"),
        c.getField("list_id").as("list_id")))
    val dmin = sqrt(array_min(col("__cand")).getField("d"))
    df.withColumn("__cand", cands)
      .withColumn("list_id", explode(transform(
        filter(col("__cand"),
          s => sqrt(s.getField("d")) <= dmin + lit(slack)),
        s => s.getField("list_id"))))
      .drop("__cand")
  }

  /** assignMulti plus an `is_home` flag marking each vector's single
    * nearest-centroid membership — the input shape for the ASYMMETRIC
    * blocked self-join (one side home-only, one side expanded). Why it
    * exists: the symmetric join (both sides expanded) costs
    * Σ_list (expansion members)², which explodes when nlist overshoots
    * the data's natural cluster count — every sub-centroid of a true
    * cluster ends up holding the whole cluster, multiplying the
    * quadratic term by (nlist / clusters). Joining home×expanded
    * instead costs Σ_list |home| · |probe|: the per-list home count
    * SHRINKS as nlist grows, cancelling the overshoot — cost becomes
    * ≈ n × (cluster population / within-slack reach), independent of
    * nlist past the cluster count. Measured: the q51 fixture at sf1
    * went 638 s → tens of seconds on this change alone.
    *
    * Losslessness needs DOUBLE slack on the probe side: for a pair
    * (u, v) with ‖u−v‖ ≤ r, v's probe set contains u's home c_u
    * because d(v, c_u) ≤ d(v,u) + d(u, c_u) ≤ r + (d(u,v) + d*_v)
    * ≤ d*_v + 2r — so callers pass slack = 2r where the symmetric
    * form passed r. Each qualifying (u, v), u < v, then appears
    * EXACTLY once: in u's unique home list. Ties in the nearest
    * centroid break to the smallest list_id (array_min on (d, id)
    * structs), so the home is deterministic. */
  def assignMultiHomed(df: DataFrame, vecCol: String, centroids: Centroids,
                       slack: Double): DataFrame = {
    require(slack >= 0, "slack must be non-negative")
    val sorted = centroids.sortBy(_._1)
    val expr = graft.functions.IvfMemberships(
      org.apache.spark.sql.GraftColumn.expr(
        col(vecCol).cast("array<double>")),
      sorted.map(_._1).toArray, sorted.map(_._2.toArray).toArray, slack)
    // The assignment is CPU-bound per row (nlist × dim flops); spread it
    // across all cores even when the input is a handful of small parquet
    // partitions — compute parallelism must not be coupled to file
    // layout (the shingles() rationale). Skipped when the input is
    // already at least as wide as the session's parallelism: at 100 TB
    // the scan is wide and the extra exchange would be pure cost.
    val par = df.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (df.rdd.getNumPartitions >= par) df else df.repartition(par)
    spread
      .withColumn("__m", explode(org.apache.spark.sql.GraftColumn(expr)))
      .withColumn("list_id", col("__m.list_id"))
      .withColumn("is_home", col("__m.is_home"))
      .drop("__m")
  }

  /** Materialize the inverted lists: partitioned by list_id so a probe
    * reads only its lists' files. */
  def buildIndex(df: DataFrame, vecCol: String, idCol: String,
                 centroids: Centroids, path: String): Unit =
    assign(df, vecCol, idCol, centroids)
      // one writer task per list -> one file per list directory (the
      // r13 geometry rule: assign()'s spread layout would otherwise
      // write tasks x lists tiny files, paid by every probe's listing)
      .repartition(col("list_id"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", WriteGeometry.MaxFileRows)
      .partitionBy("list_id").parquet(path)

  /** The nProbe list ids nearest to the query vector — pure driver math
    * on the metadata-sized centroid table. */
  def probeLists(centroids: Centroids, q: Seq[Double],
                 nProbe: Int): Seq[Int] = {
    def sq(v: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < v.size) { val d = v(i) - q(i); s += d * d; i += 1 }
      s
    }
    centroids.map { case (id, v) => (sq(v), id) }
      .sorted.take(nProbe).map(_._2)
  }

  /** ANN top-k: prune to the probed lists, exact distances inside. */
  def search(index: DataFrame, vecCol: String, idCol: String,
             centroids: Centroids, q: Seq[Double], k: Int,
             nProbe: Int, roundTo: Int = 6): DataFrame = {
    val lists = probeLists(centroids, q, nProbe)
    val qVec = array(q.map(lit): _*)
    index
      .filter(col("list_id").isin(lists: _*))
      .withColumn("dist", round(sqDist(col(vecCol), qVec), roundTo))
      .orderBy(col("dist"), col(idCol))
      .limit(k)
  }

  /** ANN top-k for a BATCH of queries in ONE job: the per-query probe
    * sets are enumerated driver-side (queries are metadata-sized), sent
    * as a broadcast (qid, list_id, qv) relation, and equi-joined with the
    * index on list_id — the index is scanned once, and only in lists some
    * query probes. Per-query top-k runs through the bounded Aggregator
    * (k rows per mapper per query cross the shuffle). */
  def searchBatch(index: DataFrame, vecCol: String, idCol: String,
                  centroids: Centroids, queries: Seq[(Long, Seq[Double])],
                  k: Int, nProbe: Int, roundTo: Int = 6): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val probes = queries.flatMap { case (qid, q) =>
      probeLists(centroids, q, nProbe).map(l => (qid, l, q))
    }.toDF("qid", "list_id", "__qv")
    val tk = graft.functions.TopK.topK(k)
    index.join(broadcast(probes), Seq("list_id"))
      .withColumn("dist",
        round(sqDist(col(vecCol).cast("array<double>"), col("__qv")), roundTo))
      .groupBy(col("qid"))
      .agg(tk(col("dist"), col(idCol).cast("long")).as("__top"))
      .select(col("qid"), posexplode(col("__top")))
      .select(col("qid"), col("col.id").as(idCol),
        col("col.score").as("dist"),
        (col("pos") + 1).cast("long").as("rn"))
  }

  // ===========================================================================
  // Scalar quantization (SQ8) — the standard at-rest compression for vector
  // corpora at 100 TB: 1 byte per dimension instead of 8, probe on the
  // codes, re-rank the shortlist exactly on the full-precision vectors.
  // ===========================================================================

  /** Per-dimension SQ8 parameters: a code c in [-128, 127] reconstructs as
    * vmin_d + (c + 128) · step_d, where step_d = (vmax_d − vmin_d)/255. A
    * constant dimension (span 0) gets step 1 and all-min codes, which
    * reconstruct the constant exactly. Metadata-sized (2·dim doubles) —
    * rides in the sidecar, embedded as literals in expressions. */
  case class SqParams(vmin: Seq[Double], step: Seq[Double])

  /** The int8 code column in SQ-enabled index layouts. */
  val SqCol = "__sq"

  /** Fit per-dimension (min, max) in one pass. posexplode + groupBy(pos)
    * shuffles only the map-side partial aggregates — numPartitions × dim
    * tiny rows — never the collection; the driver collects dim rows. */
  def fitSq(df: DataFrame, vecCol: String): SqParams = {
    val mm = df
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "v")))
      .groupBy(col("pos")).agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .orderBy(col("pos"))
      .collect()
    val vmin = mm.map(_.getDouble(1)).toSeq
    val step = mm.map { r =>
      val s = (r.getDouble(2) - r.getDouble(1)) / 255.0
      if (s > 0) s else 1.0
    }.toSeq
    SqParams(vmin, step)
  }

  private def sqParamArray(p: SqParams): Column =
    array(p.vmin.zip(p.step).map { case (m, s) =>
      struct(lit(m).as("m"), lit(s).as("s"))
    }: _*)

  /** Encode a vector column to int8 codes — pure builtin expressions
    * (zip_with against the literal param array), map-side, codegen'd. */
  def sqEncode(vec: Column, p: SqParams): Column =
    zip_with(vec.cast("array<double>"), sqParamArray(p), (v, q) =>
      (least(greatest(round((v - q.getField("m")) / q.getField("s")),
        lit(0.0)), lit(255.0)) - 128.0).cast("tinyint"))

  /** Reconstruct approximate doubles from int8 codes. */
  def sqDecode(codes: Column, p: SqParams): Column =
    zip_with(codes, sqParamArray(p), (c, q) =>
      q.getField("m") + (c.cast("double") + 128.0) * q.getField("s"))

  /** Add the SQ code column alongside the full-precision vectors. */
  def withSqCodes(df: DataFrame, vecCol: String, p: SqParams): DataFrame =
    df.withColumn(SqCol, sqEncode(col(vecCol), p))

  /** Product-quantization parameters: `m` subspaces of `subDim` dims,
    * each with its own codebook (code → sub-centroid). At rest a vector
    * is `m` small codes (1 byte each at ksub <= 256) instead of
    * 8·dim bytes — the compression regime BELOW SQ8 (64-dim doubles:
    * 512 B → 8 B at m=8), which is what makes exhaustive candidate scans
    * affordable over 100 TB vector corpora. */
  case class PqParams(m: Int, subDim: Int, codebooks: Seq[Centroids])

  /** The PQ code column (array<int>, length m) in PQ-enabled layouts. */
  val PqCol = "__pq"

  /** Fit per-subspace codebooks by the same deterministic hash-stride
    * sample + seeded driver-side Lloyd used for IVF coarse centroids.
    * The FULL vectors are sampled ONCE and sliced driver-side — the
    * id-keyed stride filter picks identical rows for every subspace, so
    * this produces bit-identical codebooks to per-subspace fitting at
    * one count + two sample collects instead of m of each (3 jobs, not
    * 3m — the whole fit is metadata-sized driver work either way).
    * dim must divide evenly into m subspaces. */
  def fitPq(df: DataFrame, vecCol: String, idCol: String, m: Int,
            ksub: Int = 16, refineIters: Int = 2): PqParams = {
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    require(ksub <= 256, "ksub > 256 would not fit byte codes at rest")
    val subDim = dim / m
    val n = df.count()
    def take(src: DataFrame, k: Int): Array[Array[Double]] = src
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .orderBy(col(idCol)).limit(k).collect()
      .map(_.getSeq[Double](1).toArray)
    def strideSample(k: Long): Array[Array[Double]] = {
      val stride = math.max(n / k, 1L)
      val s = take(df.filter(
        pmod(xxhash64(col(idCol)), lit(stride)) === 0), k.toInt)
      if (s.nonEmpty) s else take(df, k.toInt) // tiny-input fallback
    }
    val init = strideSample(ksub.toLong)
    val sample =
      if (refineIters <= 0) Array.empty[Array[Double]]
      else strideSample(math.min(ksub.toLong * 32, 32768L))
    def slices(rows: Array[Array[Double]], j: Int) =
      rows.map(_.slice(j * subDim, (j + 1) * subDim))
    val books = (0 until m).map { j =>
      val cents =
        if (refineIters <= 0) slices(init, j)
        else lloyd(slices(init, j), slices(sample, j), refineIters)
      cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
    }
    PqParams(m, subDim, books)
  }

  /** Encode a vector to its m nearest-sub-centroid codes. Evaluated by
    * the primitive-loop [[graft.functions.PqEncodeCodes]] expression —
    * bit-identical to [[pqEncodeLiteral]] (the argmin/accumulation-order
    * proof lives on the expression; PqExpressionSpec pins the parity) —
    * because the literal form costs ~200 µs/row in per-row candidate
    * structs: the ×100 bench measured the encode pass at 43 s over 200k
    * rows, 85% of q76's scale-budget excess. Map-side, no shuffle. */
  def pqEncode(vec: Column, p: PqParams): Column =
    org.apache.spark.sql.GraftColumn(graft.functions.PqEncodeCodes(
      org.apache.spark.sql.GraftColumn.expr(vec.cast("array<double>")),
      codebookTensor(p)))

  /** The original literal-codebook argmin formulation — the REFERENCE
    * semantics [[pqEncode]]'s expression must match (same shape as
    * `assign`, once per subspace). Retained for the parity spec. */
  private[graft] def pqEncodeLiteral(vec: Column, p: PqParams): Column =
    array((0 until p.m).map { j =>
      val sub = slice(vec.cast("array<double>"), j * p.subDim + 1, p.subDim)
      val cands = transform(centroidArray(p.codebooks(j)), c =>
        struct(sqDist(sub, c.getField("centroid")).as("d"),
          c.getField("list_id").as("list_id")))
      array_min(cands).getField("list_id")
    }: _*)

  private def codebookTensor(p: PqParams): Array[Array[Array[Double]]] =
    p.codebooks.map(_.sortBy(_._1).map(_._2.toArray).toArray).toArray

  /** Add the PQ code column alongside the full-precision vectors. */
  def withPqCodes(df: DataFrame, vecCol: String, p: PqParams): DataFrame =
    df.withColumn(PqCol, pqEncode(col(vecCol), p))

  /** Reconstruct the quantized vector from its m codes: the concatenation
    * of each subspace's coded sub-centroid (codebooks as literal arrays —
    * map-side, no shuffle). The ADC score of a stored vector is exactly
    * the squared distance from the query to THIS reconstruction, which is
    * what makes the residual-bound certificate in [[certifyPqProbed]]
    * sound. */
  def pqDecode(codes: Column, p: PqParams): Column =
    flatten(array((0 until p.m).map { j =>
      val book = array(p.codebooks(j).sortBy(_._1).map { case (_, c) =>
        array(c.map(lit): _*)
      }: _*)
      element_at(book, element_at(codes, j + 1) + 1)
    }: _*))

  /** ANN top-k by asymmetric distance computation (ADC) with exact
    * re-ranking: the query builds one lookup table per subspace (squared
    * distance from its sub-vector to every sub-centroid — m·ksub doubles
    * computed driver-side and shipped as literals), so scoring a stored
    * vector is m array lookups + adds on the CODE column alone — the
    * double column stays out of the candidate scan entirely. The
    * `shortlist` best ADC candidates re-rank on true vectors (broadcast
    * semi-join), exactly like searchSq; shortlist >= collection size
    * degenerates to exact kNN. Composes with IVF: run over a probed
    * list subset instead of the full index to stack both prunings. */
  def searchPq(index: DataFrame, vecCol: String, idCol: String,
               p: PqParams, q: Seq[Double], k: Int, shortlist: Int,
               roundTo: Int = 6): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    val cand = index
      .select(col(idCol), adcExpr(p, q).as("__adist"))
      .orderBy(col("__adist"), col(idCol))
      .limit(shortlist)
      .select(col(idCol))
    val qVec = array(q.map(lit): _*)
    index.join(broadcast(cand), Seq(idCol))
      .withColumn("dist",
        round(sqDist(col(vecCol).cast("array<double>"), qVec), roundTo))
      .orderBy(col("dist"), col(idCol))
      .limit(k)
  }

  /** The ADC scoring expression for one query: per-subspace lookup tables
    * (squared distance from the query's sub-vector to every sub-centroid
    * — m·ksub doubles computed driver-side, shipped as literals) indexed
    * by the stored code column. Equals sqDist(q, pqDecode(codes)) by
    * construction, evaluated as m array lookups + adds. */
  private[graft] def adcExpr(p: PqParams, q: Seq[Double]): Column = {
    val luts: Seq[Seq[Double]] = (0 until p.m).map { j =>
      val qs = q.slice(j * p.subDim, (j + 1) * p.subDim)
      p.codebooks(j).sortBy(_._1).map { case (_, c) =>
        qs.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum }
    }
    (0 until p.m).map { j =>
      element_at(array(luts(j).map(lit): _*),
        element_at(col(PqCol), j + 1) + 1)
    }.reduce(_ + _)
  }

  /** The STACKED 100 TB serving shape: coarse probe (only nProbe lists'
    * partitions are read) × ADC candidate scan on the code column alone ×
    * exact re-rank of the `shortlist` survivors. Both prunings compose:
    * I/O is the probed lists' code columns plus `shortlist` full vectors.
    * Approximate in general; [[certifyPqProbed]] states the checkable
    * conditions under which the result is provably the exact kNN (the
    * proveRadius bound-argument family). */
  def searchPqProbed(index: DataFrame, vecCol: String, idCol: String,
                     centroids: Centroids, p: PqParams, q: Seq[Double],
                     k: Int, nProbe: Int, shortlist: Int,
                     roundTo: Int = 6): DataFrame = {
    val lists = probeLists(centroids, q, nProbe)
    searchPq(index.filter(col("list_id").isin(lists: _*)),
      vecCol, idCol, p, q, k, shortlist, roundTo)
  }

  /** The per-vector PQ reconstruction-residual column in exact-serving
    * layouts: ||x − decode(code(x))||, one double at rest. Turns the ADC
    * score into SOUND per-vector distance bounds (true dist within
    * ±residual of sqrt(adc)) — what [[searchPqExact]]'s certificates
    * consume. */
  val PqResCol = "__pqres"

  /** Add the residual column alongside the PQ codes (map-side, one
    * distance expression — build-time work, like the codes). Evaluated
    * by the primitive-loop [[graft.functions.PqResidualFromCodes]] over
    * the STORED code column — bit-identical to the reference form
    * `sqrt(sqDist(vec, pqDecode(codes)))` (identical ascending partial
    * sums; PqExpressionSpec pins it) without the per-row decode
    * materialization that dominated the ×100 encode pass. */
  def withPqResiduals(df: DataFrame, vecCol: String, p: PqParams): DataFrame =
    df.withColumn(PqResCol, org.apache.spark.sql.GraftColumn(
      graft.functions.PqResidualFromCodes(
        org.apache.spark.sql.GraftColumn.expr(
          col(vecCol).cast("array<double>")),
        org.apache.spark.sql.GraftColumn.expr(col(PqCol)),
        codebookTensor(p))))

  /** PROVABLY-EXACT stacked ANN serving over an IVF+PQ layout: returns
    * the exact global top-k while scanning only code/residual columns
    * plus a bounded set of full vectors. Unlike [[searchPqProbed]]
    * (fixed nProbe/shortlist, approximate unless [[certifyPqProbed]]'s
    * margins clear), every pruning step here carries its own
    * data-independent certificate, so the result is exact on ANY
    * collection — the knobs tune COST, never correctness:
    *
    *   1. Ball radius proof (the proveRadius family, collapsed to ONE
    *      job): r* = the k-th smallest certain-distance upper bound
    *      sqrt(adc) + residual, read off the code columns alone — by
    *      construction >= k vectors lie certainly within r*, so the true
    *      d_k is <= r*, and r* is the TIGHTEST radius these upper bounds
    *      can prove (a doubling loop would converge to a looser one in
    *      ~10 driver jobs; measured 10.2 s → the job count, not data,
    *      dominated at sf0.1).
    *   2. Lossless list pruning: any x with ||q−x|| <= r lives in a list
    *      whose centroid satisfies ||q−c|| <= r + radius(c) (triangle
    *      inequality), so restricting to those lists loses nothing from
    *      the ball — on clustered corpora this is the partition-pruning
    *      win; on overlapping clusters it degrades to more lists, never
    *      to a wrong answer.
    *   3. ADC seed + certified expansion: exact-rank the `seed` best ADC
    *      candidates (full vectors, broadcast semi-join) giving d_k0;
    *      then exact-rank every probed vector whose LOWER bound
    *      sqrt(adc) − residual is <= d_k0. A vector outside that set has
    *      true distance > d_k0 >= final d_k, so it cannot belong to the
    *      top-k; the k vectors achieving d_k0 are inside it by
    *      construction. Seed size only shifts work between the two
    *      passes.
    *
    * Driver cost: a few count/scalar jobs (the doubling loop + d_k0),
    * all metadata-sized collects. At 100 TB the radii come from the
    * sidecar (build-time listRadii) and step 3's vector reads are the
    * only full-precision I/O.
    *
    * @param seed ADC shortlist size for the first exact pass (>= k);
    *             larger seed → tighter d_k0 → smaller expansion pass
    * @param radii per-list max member-to-centroid distances; None
    *              computes them (one job) — at scale pass the sidecar's
    */
  def searchPqExact(index: DataFrame, vecCol: String, idCol: String,
                    centroids: Centroids, p: PqParams, q: Seq[Double],
                    k: Int, seed: Int,
                    radii: Option[Map[Int, Double]] = None,
                    roundTo: Int = 6): DataFrame = {
    require(seed >= k, s"seed $seed < k $k")
    require(index.columns.contains(PqCol) && index.columns.contains(PqResCol),
      s"index must carry $PqCol and $PqResCol (withPqCodes + withPqResiduals)")
    val radiiM = radii.getOrElse(listRadii(index, vecCol, centroids))
    def qDist(c: Seq[Double]): Double = math.sqrt(
      c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum)
    val centDists = centroids.map { case (id, c) => id -> qDist(c) }
    def listsFor(r: Double): Seq[Int] = centDists.collect {
      case (id, d) if d <= r + radiiM.getOrElse(id, 0.0) => id
    }
    val adc = adcExpr(p, q)
    // 1+2. prove the ball radius and its lossless list set in ONE
    // code-column job: the k-th smallest upper bound is a radius with
    // >= k certain members. (Any vector x achieving one of those k
    // bounds lives in a list with ||q−c|| <= ||q−x|| + radius(c)
    // <= r* + radius(c), so the pruned list set is never empty.)
    val rStar = index
      .select((sqrt(adc) + col(PqResCol)).as("__u"))
      .orderBy(col("__u")).limit(k)
      .agg(max(col("__u"))).head().getDouble(0)
    val lists = listsFor(rStar)
    // the candidate relation carries ONLY id + code-derived scalars —
    // column pruning keeps the 8×-bigger double column out of this scan
    // and out of the cache (the at-rest I/O win searchSq documents)
    val codes = CacheScope.register(index
      .filter(col("list_id").isin(lists: _*))
      .select(col(idCol), adc.as("__adist"), col(PqResCol))
      .persist())
    val probedVecs = index.filter(col("list_id").isin(lists: _*))
    // 3a. exact-rank the ADC seed (vector reads: seed rows only, via
    // broadcast semi-join on id)
    val qVec = array(q.map(lit): _*)
    val seedIds = codes
      .orderBy(col("__adist"), col(idCol))
      .limit(seed).select(col(idCol))
    val dk0 = probedVecs.join(broadcast(seedIds), Seq(idCol))
      .select(sqrt(sqDist(col(vecCol).cast("array<double>"), qVec)).as("__d"))
      .orderBy(col("__d")).limit(k)
      .agg(max(col("__d"))).head().getDouble(0)
    // 3b. certified expansion: every probed vector whose lower bound
    // undercuts d_k0 gets the exact treatment; the rest provably cannot
    // place. (Includes the relevant seed members: lower <= true <= d_k0.)
    // The expansion id set is ball-occupancy-bounded, not broadcast-
    // forced — AQE picks the join strategy.
    val expandIds = codes
      .filter(sqrt(col("__adist")) - col(PqResCol) <= lit(dk0))
      .select(col(idCol))
    // DEGRADATION OBSERVABILITY: the exactness contract holds on ANY
    // collection, but when PQ lower bounds cannot prune (unclusterable
    // data), "expand = N of N" means the certified path paid a full
    // vector scan — a cost regime the caller should see, not infer.
    // The two counts scan the persisted code relation (cheap but real
    // actions), so they run only when someone will see them
    // (Obs.withCapture on this thread, or spark.graft.obs=true); the
    // default serving path pays zero stat-only actions (ADVICE r12).
    if (graft.Obs.statsWanted(index.sparkSession)) {
      val expandN = expandIds.count()
      val probedN = codes.count()
      graft.Obs.event("pq-exact", "expand" -> expandN,
        "probed" -> probedN, "lists" -> lists.size,
        "nlist" -> centroids.size, "seed" -> seed)
    }
    probedVecs.join(expandIds, Seq(idCol))
      .withColumn("dist",
        round(sqDist(col(vecCol).cast("array<double>"), qVec), roundTo))
      .select(col(idCol), col("dist"))
      .orderBy(col("dist"), col(idCol))
      .limit(k)
  }

  /** Per-list max member-to-centroid distance — the list radii the
    * probe-ring pruning certificate needs. One map-side distance + one
    * groupBy(list_id) shuffle of nlist partial maxes; the collect is
    * nlist rows (metadata-sized). At scale this is a build-time artifact
    * (computed once per index build, stored in the sidecar), not
    * per-query work. */
  def listRadii(index: DataFrame, vecCol: String,
                centroids: Centroids): Map[Int, Double] = {
    val cents = centroidArray(centroids)
    index
      .withColumn("__cd", sqrt(sqDist(col(vecCol),
        element_at(filter(cents,
          c => c.getField("list_id") === col("list_id")), 1)
          .getField("centroid"))))
      .groupBy(col("list_id")).agg(max(col("__cd")).as("__r"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
  }

  /** Max PQ reconstruction residual max_i ||x_i − decode(code_i)|| over
    * the collection — one map-side distance + a scalar max (build-time
    * sidecar material, like listRadii). */
  def maxPqResidual(index: DataFrame, vecCol: String, p: PqParams): Double =
    index.agg(max(org.apache.spark.sql.GraftColumn(
      graft.functions.PqResidualFromCodes(
        org.apache.spark.sql.GraftColumn.expr(
          col(vecCol).cast("array<double>")),
        org.apache.spark.sql.GraftColumn.expr(col(PqCol)),
        codebookTensor(p))))).head().getDouble(0)

  /** Exactness certificate for [[searchPqProbed]] at given parameters:
    * returns (probeMargin, shortlistMargin); BOTH strictly positive
    * proves the stacked result IS the exact global kNN. Let d_k be the
    * k-th exact distance among the re-ranked shortlist.
    *
    *   - probe ring: a vector x in unprobed list c' satisfies
    *     ||q−x|| >= ||q−c'|| − radius(c') (triangle inequality via its
    *     centroid), so probeMargin = min over unprobed lists of that
    *     lower bound minus d_k > 0 ⇒ no unprobed vector beats the top-k.
    *     +Infinity when every list is probed.
    *   - shortlist: ADC is the exact distance to the RECONSTRUCTION, and
    *     ||q−x|| >= ||q−decode(x)|| − ||x−decode(x)|| >= sqrt(adc) − R
    *     (R = max residual). Every probed vector outside the top-s ADC
    *     shortlist has sqrt(adc) >= T (the SMALLEST excluded ADC), so
    *     shortlistMargin = (T − R) − d_k > 0 ⇒ none of them beats it.
    *     +Infinity when the shortlist covers the whole probed set
    *     (nothing is excluded — trivially exact within the ring).
    *
    * Driver cost: the same metadata-sized jobs the search itself runs
    * (plus listRadii / maxPqResidual, build-time artifacts at scale).
    * Used by specs and capacity planning to PROVE a (nProbe, shortlist)
    * operating point exact on a given collection rather than hoping. */
  def certifyPqProbed(index: DataFrame, vecCol: String, idCol: String,
                      centroids: Centroids, p: PqParams, q: Seq[Double],
                      k: Int, nProbe: Int,
                      shortlist: Int): (Double, Double) = {
    val lists = probeLists(centroids, q, nProbe).toSet
    val probed = index.filter(col("list_id").isin(lists.toSeq: _*))
    val adcs = probed
      .select(col(idCol), adcExpr(p, q).as("__adist"))
      .orderBy(col("__adist"), col(idCol))
      .limit(shortlist + 1) // one past the cut: the smallest EXCLUDED adc
      .collect()
    val candIds = adcs.take(shortlist).map(_.get(0))
    // d_k from the un-rounded exact re-rank of the ADC shortlist
    val qVec = array(q.map(lit): _*)
    val dk = probed
      .filter(col(idCol).isin(candIds: _*))
      .select(sqrt(sqDist(col(vecCol).cast("array<double>"), qVec)).as("__d"))
      .orderBy(col("__d")).limit(k)
      .agg(max(col("__d"))).head().getDouble(0)
    val shortlistBound =
      if (adcs.length <= shortlist) Double.PositiveInfinity // nothing excluded
      else {
        val t = math.sqrt(adcs.last.getDouble(1)) // smallest excluded adc
        t - maxPqResidual(probed, vecCol, p)
      }
    val radii = listRadii(index, vecCol, centroids)
    def qDist(c: Seq[Double]): Double = math.sqrt(
      c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum)
    val ringBound = centroids.collect {
      case (id, c) if !lists.contains(id) =>
        qDist(c) - radii.getOrElse(id, 0.0)
    } match {
      case Seq() => Double.PositiveInfinity // every list probed
      case bs => bs.min
    }
    (ringBound - dk, shortlistBound - dk)
  }

  /** ANN top-k over SQ codes with exact re-ranking: the candidate phase
    * scans ONLY (id, list_id, codes) of the probed lists — column pruning
    * keeps the 8×-bigger double column out of that scan entirely (the
    * at-rest I/O win) — takes the `shortlist` best by reconstructed
    * distance, then re-reads full vectors for just those rows (broadcast
    * semi-join on id) and ranks them exactly. shortlist >= the probed row
    * count degenerates to exact in-list search. */
  def searchSq(index: DataFrame, vecCol: String, idCol: String,
               centroids: Centroids, p: SqParams, q: Seq[Double], k: Int,
               nProbe: Int, shortlist: Int, roundTo: Int = 6): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    val lists = probeLists(centroids, q, nProbe)
    val qVec = array(q.map(lit): _*)
    val probed = index.filter(col("list_id").isin(lists: _*))
    val cand = probed
      .select(col(idCol),
        sqDist(sqDecode(col(SqCol), p), qVec).as("__adist"))
      .orderBy(col("__adist"), col(idCol))
      .limit(shortlist)
      .select(col(idCol))
    probed.join(broadcast(cand), Seq(idCol))
      .withColumn("dist",
        round(sqDist(col(vecCol).cast("array<double>"), qVec), roundTo))
      .orderBy(col("dist"), col(idCol))
      .limit(k)
  }

  /** FILTERED exact kNN: the top-k nearest rows AMONG THOSE SATISFYING
    * `pred` (language = 'en', date range, tenant id — the predicate
    * every real serving deployment attaches), certified exact while
    * probing as few lists as the data allows.
    *
    * Filtered ANN cannot reuse a fixed nProbe: the predicate thins each
    * probed list by an unknown selectivity, so any static probe count
    * either under-fills k (selective predicates) or over-scans
    * (permissive ones). This operator adapts per query, driver-planned
    * like [[searchPqExact]]:
    *
    *   1. probe the nProbe0 nearest lists; compute the filtered in-list
    *      top-k (ONE pruned job; `pred` sits directly on the scan, so
    *      simple predicates reach the parquet reader as PushedFilters
    *      BELOW the `list_id IN` partition pruning);
    *   2. certificate: any vector in an unprobed list c' satisfies
    *      ||q−x|| >= ||q−c'|| − radius(c') (triangle inequality via its
    *      centroid — the [[searchPqExact]] ring bound). If the k-th
    *      found FILTERED distance d_k undercuts every unprobed list's
    *      bound, no unprobed row — filtered or not — can place, and the
    *      result equals brute force over the filtered collection;
    *   3. otherwise escalate: probe exactly the unprobed lists whose
    *      bound² <= d_k² + 10^-roundTo — inclusive and padded by one
    *      unit of display precision, because the OUTPUT ranks by the
    *      rounded distance (the family convention): an unprobed row
    *      whose true distance barely exceeds d_k can still tie it at
    *      roundTo decimals and win the (dist, id) tie-break, and two
    *      values more than 10^-roundTo apart cannot round equal, so
    *      the slack is exactly sufficient. While fewer than k rows
    *      match (d_k = ∞, the certificate cannot fire), DOUBLE the
    *      probe set by centroid distance instead — log2(nlist) rounds
    *      worst-case before degenerating to the brute-force scan a
    *      sub-k match count makes unavoidable.
    *
    * Driver state per round: k (id, dist) rows + the nlist-sized bound
    * table — metadata, never the collection. At rest the radii come
    * from the build-time sidecar ([[listRadii]] is one job otherwise)
    * and each round scans only newly probed partitions' row groups that
    * survive the predicate's min/max stats. The returned DataFrame is
    * the final probed-set plan (lazy, re-optimizable by the caller);
    * the loop's own actions are the per-round top-k collects.
    *
    * Emits an `Obs` `filtered-knn` event (rounds, probed, matched) —
    * the selectivity/escalation decision is invisible in the final
    * plan, and it is exactly what a deployment tunes nProbe0 against. */
  def searchFilteredExact(index: DataFrame, vecCol: String, idCol: String,
                          centroids: Centroids, q: Seq[Double], k: Int,
                          pred: Column, nProbe0: Int = 4,
                          radii: Option[Map[Int, Double]] = None,
                          roundTo: Int = 6): DataFrame = {
    val radiiM = radii.getOrElse(listRadii(index, vecCol, centroids))
    def qDist(c: Seq[Double]): Double = math.sqrt(
      c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum)
    // ascending centroid distance: both the seed probe order and the
    // doubling order when the filtered match count is still under k
    val centDists = centroids.map { case (id, c) => (qDist(c), id) }
    val order = centDists.sorted.map(_._2)
    val bound: Map[Int, Double] = centDists.map { case (d, id) =>
      id -> math.max(0.0, d - radiiM.getOrElse(id, 0.0))
    }.toMap
    val qVec = array(q.map(lit): _*)
    val filtered = index.filter(pred)
    // unrounded squared distances inside the loop: the certificate must
    // compare TRUE distances (display rounding could shave d_k below an
    // unprobed bound it actually exceeds). The RETURNED plan instead
    // ranks by the rounded distance like every exact search in this
    // family — ties at the display precision break by id the same way
    // in both engines, so the oracle's row order is reproduced. The
    // certificate therefore carries a one-ulp-of-display slack: two
    // values more than 10^-roundTo apart cannot round equal, so a list
    // is escalated iff it could hold a row whose ROUNDED distance ties
    // or beats the k-th (an exact-boundary row in an unprobed list
    // could otherwise win the rounded (dist, id) tie-break unseen).
    def topk(lists: Seq[Int]): DataFrame = filtered
      .filter(col("list_id").isin(lists: _*))
      .withColumn("__d2", sqDist(col(vecCol), qVec))
      .orderBy(col("__d2"), col(idCol))
      .limit(k)
    def result(lists: Seq[Int]): DataFrame = filtered
      .filter(col("list_id").isin(lists: _*))
      .withColumn("dist", round(sqDist(col(vecCol), qVec), roundTo))
      .orderBy(col("dist"), col(idCol))
      .limit(k)
      .select(col(idCol), col("dist"))
    val slack = math.pow(10.0, -roundTo)
    var probed = order.take(math.max(1, nProbe0)).toVector
    var probedSet = probed.toSet
    // each round scans ONLY the newly escalated lists; the running
    // top-k merges driver-side (k (d2, id) pairs — metadata), so a
    // probed partition is read once by the loop, not once per round
    var best = Vector.empty[(Double, Long)]
    def scan(lists: Seq[Int]): Vector[(Double, Long)] = topk(lists)
      .select(col("__d2"), col(idCol).cast("long"))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toVector
    var newLists: Seq[Int] = probed
    var rounds = 0
    while (true) { // exits by certificate or full coverage
      rounds += 1
      best = (best ++ scan(newLists)).sorted.take(k)
      val matched = best.size
      val unprobed = order.filterNot(probedSet) // stays centroid-ordered
      val escalate =
        if (unprobed.isEmpty) Seq.empty // brute force already — exact
        else if (matched < k) unprobed.take(math.max(probed.size, 1))
        else {
          val dk2 = best.last._1
          unprobed.filter(l => bound(l) * bound(l) <= dk2 + slack)
        }
      if (escalate.isEmpty) {
        graft.Obs.event("filtered-knn", "rounds" -> rounds,
          "probed" -> probed.size, "nlist" -> centroids.size,
          "matched" -> matched)
        return result(probed)
      }
      probed = probed ++ escalate
      probedSet = probedSet ++ escalate
      newLists = escalate
    }
    result(probed) // unreachable
  }

  /** The APPROXIMATE single-round face of [[searchFilteredExact]]: the
    * filtered in-list top-k over exactly the `nProbe` nearest lists —
    * no certificate, no escalation, so the probe cost is FIXED and the
    * answer is approximate (recall < 1 whenever a true neighbor sits in
    * an unprobed list). This is the operating point a latency-bound
    * deployment actually tunes: nProbe buys recall at linear scan cost,
    * and the q185 harness pins that trade as numbers (recall@k swept
    * over predicate selectivity × nProbe) against the filtered
    * brute-force truth. Ranking and output shape match the exact face
    * — (id, rounded dist), (dist, id) order — so swapping
    * exact ↔ approx in a serving path changes recall, never schema or
    * tie semantics. One job; `pred` sits on the scan below the
    * `list_id IN` partition pruning exactly as in the exact face. */
  def searchFilteredApprox(index: DataFrame, vecCol: String, idCol: String,
                           centroids: Centroids, q: Seq[Double], k: Int,
                           pred: Column, nProbe: Int,
                           roundTo: Int = 6): DataFrame = {
    require(nProbe >= 1, "nProbe must be >= 1")
    def qDist2(c: Seq[Double]): Double =
      c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum
    // probe ranking matches the q185 harness EXACTLY — squared distance
    // rounded at display precision (Spark round = HALF_UP), ties by
    // list id — so the published cost/recall sweep predicts THIS
    // operator's probe set even when two centroids tie at 6 decimals
    val probe = centroids.map { case (id, c) =>
        (BigDecimal(qDist2(c))
          .setScale(roundTo, BigDecimal.RoundingMode.HALF_UP)
          .toDouble, id)
      }
      .sorted.take(nProbe).map(_._2)
    val qVec = array(q.map(lit): _*)
    index.filter(pred)
      .filter(col("list_id").isin(probe: _*))
      .withColumn("dist", round(sqDist(col(vecCol), qVec), roundTo))
      .orderBy(col("dist"), col(idCol))
      .limit(k)
      .select(col(idCol), col("dist"))
  }

  /** [[searchFilteredExact]] for a BATCH of queries — the analytical
    * shape (filtered hard-negative mining, per-anchor retrieval under a
    * predicate) where per-query jobs would cost |queries| round trips.
    *
    * One Spark job per ESCALATION ROUND covers every still-active
    * query: the (qid, list_id, qv) probe pairs ride a broadcast
    * (queries are metadata-sized, the [[searchBatch]] contract), the
    * index is scanned once per round in exactly the lists some query
    * probes (`list_id IN` partition pruning at rest, `pred` pushed
    * below it), and the bounded [[graft.functions.TopK]] aggregator
    * keeps k rows per mapper per query ahead of the shuffle. The
    * driver then advances every query's certificate independently —
    * queries certify and drop out at their own selectivity, so round
    * count is max (not sum) of the per-query escalations, bounded by
    * log2(nlist) + 1. Driver state: |queries| × (k-th distance, probe
    * set) — metadata.
    *
    * Output: (qid, idCol, dist, rn), exact per query — identical rows
    * to running [[searchFilteredExact]] per qid, ranked like the whole
    * family by (rounded dist, id). */
  def searchFilteredExactBatch(index: DataFrame, vecCol: String,
                               idCol: String, centroids: Centroids,
                               queries: Seq[(Long, Seq[Double])], k: Int,
                               pred: Column, nProbe0: Int = 4,
                               radii: Option[Map[Int, Double]] = None,
                               roundTo: Int = 6): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val radiiM = radii.getOrElse(listRadii(index, vecCol, centroids))
    def qd(q: Seq[Double], c: Seq[Double]): Double = math.sqrt(
      c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum)
    final class St(val qid: Long, val qv: Seq[Double]) {
      private val centDists = centroids.map { case (id, c) => (qd(qv, c), id) }
      val order: Seq[Int] = centDists.sorted.map(_._2)
      val bound: Map[Int, Double] = centDists.map { case (d, id) =>
        id -> math.max(0.0, d - radiiM.getOrElse(id, 0.0))
      }.toMap
      var probed: Vector[Int] = order.take(math.max(1, nProbe0)).toVector
      var probedSet: Set[Int] = probed.toSet
      var fresh: Seq[Int] = probed // escalated this round, not yet scanned
      var best: Vector[(Double, Long)] = Vector.empty // running top-k
      var done: Boolean = false
      def extend(lists: Seq[Int]): Unit = {
        probed = probed ++ lists; probedSet = probedSet ++ lists
        fresh = lists
      }
    }
    val states = queries.map { case (qid, qv) => new St(qid, qv) }
    val filtered = index.filter(pred)
    val tk = graft.functions.TopK.topK(k)
    def topkOf(sts: Seq[St], dist: Column): DataFrame = {
      val probes = sts.flatMap(s => s.probed.map(l => (s.qid, l, s.qv)))
        .toDF("qid", "list_id", "__qv")
      filtered.join(broadcast(probes), Seq("list_id"))
        .withColumn("__d", dist)
        .groupBy(col("qid"))
        .agg(tk(col("__d"), col(idCol).cast("long")).as("__top"))
    }
    val exactD2 = sqDist(col(vecCol).cast("array<double>"), col("__qv"))
    // one job per round over ONLY the (query, list) pairs escalated that
    // round; running top-ks merge driver-side (|queries| × k pairs)
    def scanFresh(sts: Seq[St]): Map[Long, Seq[(Double, Long)]] = {
      val pairs = sts.flatMap(s => s.fresh.map(l => (s.qid, l, s.qv)))
      if (pairs.isEmpty) return Map.empty
      val probes = pairs.toDF("qid", "list_id", "__qv")
      filtered.join(broadcast(probes), Seq("list_id"))
        .withColumn("__d", exactD2)
        .groupBy(col("qid"))
        .agg(tk(col("__d"), col(idCol).cast("long")).as("__top"))
        .collect().map { r =>
          r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
            .map(x => (x.getDouble(0), x.getLong(1)))
        }.toMap
    }
    val slack = math.pow(10.0, -roundTo) // see searchFilteredExact
    var rounds = 0
    while (states.exists(!_.done)) {
      rounds += 1
      val active = states.filter(!_.done)
      val got = scanFresh(active)
      active.foreach { s =>
        s.best = (s.best ++ got.getOrElse(s.qid, Nil)).sorted.take(k)
        s.fresh = Nil
        val matched = s.best.size
        val unprobed = s.order.filterNot(s.probedSet)
        val escalate =
          if (unprobed.isEmpty) Seq.empty
          else if (matched < k) unprobed.take(math.max(s.probed.size, 1))
          else {
            val dk2 = s.best.last._1
            unprobed.filter(l => s.bound(l) * s.bound(l) <= dk2 + slack)
          }
        if (escalate.isEmpty) s.done = true
        else s.extend(escalate)
      }
    }
    graft.Obs.event("filtered-knn-batch", "rounds" -> rounds,
      "queries" -> states.size, "nlist" -> centroids.size,
      "avgProbed" -> (if (states.isEmpty) 0.0
        else states.map(_.probed.size).sum.toDouble / states.size))
    // final pass ranks by the ROUNDED distance (family convention —
    // display-precision ties break by id identically in both engines)
    topkOf(states, round(exactD2, roundTo))
      .select(col("qid"), posexplode(col("__top")))
      .select(col("qid"), col("col.id").as(idCol),
        col("col.score").as("dist"),
        (col("pos") + 1).cast("long").as("rn"))
  }
}
