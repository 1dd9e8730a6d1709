package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{GridIndex, IvfIndex, Search}

/** User-facing facade: the reference's entire API surface
  * (`pktree`/`pkmap`, include/pktree.hpp:44,1385) re-expressed over a
  * DataFrame. A pyvectorsearch user maps 1:1:
  *
  * | reference                              | here                         |
  * |----------------------------------------|------------------------------|
  * | `pktree(dim)` / `init` (hpp:1192,1224) | `VectorIndex.create(...)`    |
  * | `insert(point)` (hpp:1262)             | `append(df)` (+`rebuild()`)  |
  * | `pkmap::insert(key, value)` (hpp:1411) | payload columns ride along   |
  * | `search_knn(p, k, sort)` (hpp:948)     | `knn(q, k)` — always sorted, |
  * |                                        | id tie-break (documented     |
  * |                                        | refinement, SURVEY 2A#4)     |
  * | `search_range(p, r)` (hpp:933)         | `rangeSearch(q, r)` — dist²  |
  * |                                        | ≤ r² inclusive               |
  * | `size()` (hpp:304)                     | `size()`                     |
  * | `clear` (hpp:1253)                     | drop the index path          |
  *
  * Distances are squared L2 throughout (hpp:995-997); callers `sqrt` for
  * display exactly like the reference example (main.cpp:77).
  *
  * Execution strategy by dimensionality (chosen at `create`):
  *   - dim ≤ 4: grid cell pruning (exact, lossless — GridIndex);
  *   - dim > 4: full scan for exact calls; `annSearch` offers the IVF
  *     approximate path. Both exact paths are verified equal to the naive
  *     scan in tests; the reference's semantics (2A #1-#7) hold.
  */
class VectorIndex private (
    val data: DataFrame,
    val vecCol: String,
    val idCol: String,
    val dim: Int,
    gridSpec: Option[GridIndex.GridSpec],
    centroids: Option[IvfIndex.Centroids],
    sqParams: Option[IvfIndex.SqParams] = None,
    pqParams: Option[IvfIndex.PqParams] = None,
    listRadii: Option[Map[Int, Double]] = None,
    cellCounts: Option[Map[Long, Long]] = None,
    adaptiveSpec: Option[GridIndex.AdaptiveSpec] = None) {

  /** Point count — reference `_pointcount` (hpp:304). */
  def size(): Long = data.count()

  /** Exact kNN, ascending by squared L2, ties by id; min(k, size) rows. */
  def knn(q: Seq[Double], k: Int): DataFrame = {
    require(q.size == dim, s"query dim ${q.size} != index dim $dim")
    (adaptiveSpec, gridSpec) match {
      case (Some(aspec), _) if data.columns.contains("cell_id") =>
        GridIndex.knnAdaptive(data, vecCol, idCol, aspec, q, k)
      case (_, Some(spec)) if data.columns.contains("cell_id") =>
        GridIndex.knn(data, vecCol, idCol, spec, q, k)
      case _ =>
        Search.knn(data, vecCol, idCol, array(q.map(lit): _*), k)
    }
  }

  /** Exact BATCH kNN over metadata-sized query sets. Grid layouts take
    * the cell-pruned expansion path, seeded by the sidecar's per-cell
    * counts when this index was load()ed from disk (GridIndex.seedRadius
    * — sparse-region queries skip the empty expansion rounds); other
    * layouts take the broadcast window form (Search.knnBatch). */
  def knnBatch(queries: Seq[(Long, Seq[Double])], k: Int): DataFrame = {
    queries.foreach { case (_, q) =>
      require(q.size == dim, s"query dim ${q.size} != index dim $dim") }
    gridSpec match {
      // adaptive layouts take the broadcast window form below: the batch
      // ring expansion is specified over fixed-grid counts; the exact
      // result is the same either way (both paths oracle-proven)
      case Some(spec)
          if adaptiveSpec.isEmpty && data.columns.contains("cell_id") =>
        GridIndex.knnBatch(data, vecCol, idCol, spec, queries, k,
          cellCounts = cellCounts)
      case _ =>
        val spark = data.sparkSession
        import spark.implicits._
        Search.knnBatch(data, vecCol, idCol,
          queries.toDF("qid", "__qv"), "__qv", "qid", k)
    }
  }

  /** Inclusive range search: dist²(vec, q) <= r². Unordered (reference
    * contract); add orderBy downstream if determinism is needed. */
  def rangeSearch(q: Seq[Double], r: Double): DataFrame = {
    require(q.size == dim, s"query dim ${q.size} != index dim $dim")
    (adaptiveSpec, gridSpec) match {
      case (Some(aspec), _) if data.columns.contains("cell_id") =>
        GridIndex.rangeSearchAdaptive(data, vecCol, aspec, q, r)
      case (_, Some(spec)) if data.columns.contains("cell_id") =>
        GridIndex.rangeSearch(data, vecCol, spec, q, r)
      case _ =>
        Search.rangeSearch(data, vecCol, array(q.map(lit): _*), r)
    }
  }

  /** Approximate kNN via IVF (high-dim scale path); exact when
    * nProbe >= nlist. Cosine top-k: create() over
    * `VectorFunctions.normalize(vec)` and probe with the unit-normalised
    * query — on unit vectors L2 order == cosine order. */
  def annSearch(q: Seq[Double], k: Int, nProbe: Int = 4): DataFrame = {
    require(centroids.isDefined, "create(..., nlist > 0) to enable ANN")
    val assigned =
      if (data.columns.contains("list_id")) data
      else IvfIndex.assign(data, vecCol, idCol, centroids.get)
    IvfIndex.search(assigned, vecCol, idCol, centroids.get, q, k, nProbe)
  }

  /** Approximate kNN over the int8 scalar-quantized codes with exact
    * re-ranking (IvfIndex.searchSq) — available on an index save()d with
    * IVF lists and reloaded, where the candidate scan reads the 1-byte-
    * per-dim code column instead of the 8-byte doubles. shortlist bounds
    * the exact re-rank set (k × a small factor is the usual setting;
    * >= probed rows degenerates to annSearch exactly). */
  def annSearchSq(q: Seq[Double], k: Int, nProbe: Int = 4,
                  shortlist: Int = 0): DataFrame = {
    require(centroids.isDefined, "create(..., nlist > 0) to enable ANN")
    require(sqParams.isDefined && data.columns.contains(IvfIndex.SqCol),
      "no SQ codes — save() an IVF index and load() it to enable annSearchSq")
    val sl = if (shortlist > 0) shortlist else 4 * k
    IvfIndex.searchSq(data, vecCol, idCol, centroids.get, sqParams.get,
      q, k, nProbe, sl)
  }

  /** Approximate kNN over the product-quantized codes with exact
    * re-ranking (IvfIndex.searchPq): IVF list pruning first, then ADC
    * scoring over the m-byte code column of the probed lists only —
    * the deepest compression tier of the saved layout (m bytes/vec at
    * the candidate scan vs dim for SQ8 and 8·dim for doubles). */
  def annSearchPq(q: Seq[Double], k: Int, nProbe: Int = 4,
                  shortlist: Int = 0): DataFrame = {
    require(centroids.isDefined, "create(..., nlist > 0) to enable ANN")
    require(pqParams.isDefined && data.columns.contains(IvfIndex.PqCol),
      "no PQ codes — save() an IVF index and load() it to enable annSearchPq")
    val sl = if (shortlist > 0) shortlist else 4 * k
    val lists = IvfIndex.probeLists(centroids.get, q, nProbe)
    IvfIndex.searchPq(data.filter(col("list_id").isin(lists: _*)),
      vecCol, idCol, pqParams.get, q, k, sl)
  }

  /** PROVABLY-EXACT kNN over the saved IVF+PQ layout
    * (IvfIndex.searchPqExact): ball-radius proof on the code+residual
    * columns, lossless list pruning via the sidecar's per-list radii,
    * ADC seed, certified expansion re-rank. Exact on any collection —
    * `seed` tunes cost only. Requires a save()d-then-load()ed PQ layout
    * (the residual column ships in it); after append() the stored radii
    * are stale-unsound and are recomputed on the fly until re-save. */
  def annSearchPqExact(q: Seq[Double], k: Int, seed: Int = 0): DataFrame = {
    require(centroids.isDefined, "create(..., nlist > 0) to enable ANN")
    require(pqParams.isDefined && data.columns.contains(IvfIndex.PqResCol),
      "no PQ residuals — save() an IVF index and load() it to enable " +
        "annSearchPqExact")
    val sd = if (seed > 0) seed else 4 * k
    IvfIndex.searchPqExact(data, vecCol, idCol, centroids.get,
      pqParams.get, q, k, sd, listRadii)
  }

  /** FILTERED exact kNN over the IVF layout
    * (IvfIndex.searchFilteredExact): top-k among rows satisfying `pred`
    * (the predicate serving deployments attach — tenant, language,
    * freshness), probe-escalated by the ring certificate until provably
    * equal to brute force over the filtered collection. Uses the
    * sidecar's per-list radii when stored (sound after append: they
    * only ever grow there) and computes them in one job otherwise. */
  def annSearchFiltered(q: Seq[Double], k: Int, pred: Column,
                        nProbe0: Int = 4): DataFrame = {
    require(centroids.isDefined, "create(..., nlist > 0) to enable ANN")
    // In-memory path: persist the derived assignment for the loop's
    // lifetime — each escalation round scans a list subset, and without
    // the cache every round re-runs the full argmin assignment (measured
    // 18.7 s vs 1.34 s at-rest on clustered sf10, BASELINE r14). At rest
    // (list_id stored) rounds already read only newly probed partitions.
    val assigned =
      if (data.columns.contains("list_id")) data
      else operators.CacheScope.register(
        IvfIndex.assign(data, vecCol, idCol, centroids.get).persist())
    IvfIndex.searchFilteredExact(assigned, vecCol, idCol, centroids.get,
      q, k, pred, nProbe0, listRadii)
  }

  /** FILTERED exact kNN across every layout — the facade face of the
    * q167/q176/q177 serving shape: top-k among rows satisfying `pred`,
    * certified exact by the layout's own escalation argument (cell
    * rings for grid/adaptive, probe rings + radii for IVF); a
    * collection with neither index structure filters then scans.
    * Column shape follows the layout's operator (grid faces return
    * (idCol, dist); the IVF face adds its own ranking columns), same
    * as [[knn]]'s per-layout contract. */
  def knnFiltered(q: Seq[Double], k: Int, pred: Column): DataFrame = {
    require(q.size == dim, s"query dim ${q.size} != index dim $dim")
    (adaptiveSpec, gridSpec) match {
      case (Some(aspec), _) if data.columns.contains("cell_id") =>
        GridIndex.knnFilteredAdaptive(data, vecCol, idCol, aspec, q, k,
          pred)
      case (None, Some(spec)) if data.columns.contains("cell_id") =>
        GridIndex.knnFiltered(data, vecCol, idCol, spec, q, k, pred,
          cellCounts = cellCounts)
      case _ if centroids.isDefined =>
        annSearchFiltered(q, k, pred)
      case _ =>
        Search.knn(data.filter(pred), vecCol, idCol,
          array(q.map(lit): _*), k)
    }
  }

  /** [[knnFiltered]] for a BATCH of queries — the facade face of
    * q168/q180/q181: one job per escalation round covers every
    * still-active query on the indexed layouts; rounds = max, not sum,
    * of the per-query escalations. Output (qid, idCol, dist, rn) on
    * the indexed paths. */
  def knnFilteredBatch(queries: Seq[(Long, Seq[Double])], k: Int,
                       pred: Column): DataFrame = {
    queries.foreach { case (_, q) =>
      require(q.size == dim, s"query dim ${q.size} != index dim $dim") }
    (adaptiveSpec, gridSpec) match {
      case (Some(aspec), _) if data.columns.contains("cell_id") =>
        GridIndex.knnFilteredBatchAdaptive(data, vecCol, idCol, aspec,
          queries, k, pred)
      case (None, Some(spec)) if data.columns.contains("cell_id") =>
        GridIndex.knnFilteredBatch(data, vecCol, idCol, spec, queries,
          k, pred, cellCounts = cellCounts)
      case _ if centroids.isDefined =>
        val assigned =
          if (data.columns.contains("list_id")) data
          else operators.CacheScope.register(
            IvfIndex.assign(data, vecCol, idCol, centroids.get).persist())
        IvfIndex.searchFilteredExactBatch(assigned, vecCol, idCol,
          centroids.get, queries, k, pred, radii = listRadii)
      case _ =>
        val spark = data.sparkSession
        import spark.implicits._
        Search.knnBatch(data.filter(pred), vecCol, idCol,
          queries.toDF("qid", "__qv"), "__qv", "qid", k)
    }
  }

  /** Incremental insertion — reference `insert` (hpp:1262). New rows are
    * bucketed with the EXISTING grid/IVF metadata (out-of-extent points
    * clamp to border cells; pruning stays lossless because query-side cell
    * enumeration clamps identically — unlike the reference there is no
    * root growth, hpp:841-929: `rebuild()` is the batch analog of its
    * restructure, run periodically when drift accumulates). */
  def append(rows: DataFrame): VectorIndex = {
    val typed = rows.withColumn(vecCol, col(vecCol).cast("array<double>"))
    // adaptive layouts bucket new rows with the STORED two-level spec
    // (hot set frozen — a cell newly drifting over the cap waits for
    // rebuild, exactly the fixed-grid drift contract)
    val withCell = adaptiveSpec
      .map(a => GridIndex.withCellIdAdaptive(typed, vecCol, a))
      .orElse(gridSpec.map(s => GridIndex.withCellId(typed, vecCol, s)))
      .getOrElse(typed)
    val withLists = centroids
      .map(c => IvfIndex.assign(withCell, vecCol, idCol, c))
      .getOrElse(withCell)
    // loaded SQ layouts: encode the new rows with the SAME stored params
    // (a re-fit would shift every existing code's meaning)
    val withCodes = sqParams
      .map(p => IvfIndex.withSqCodes(withLists, vecCol, p))
      .getOrElse(withLists)
    val withPq = pqParams
      .map(p => IvfIndex.withPqCodes(withCodes, vecCol, p))
      .getOrElse(withCodes)
    // loaded exact-serving layouts: new rows need residuals too (null
    // residuals would silently vanish from searchPqExact's filters)
    val withRes = pqParams match {
      case Some(p) if data.columns.contains(IvfIndex.PqResCol) =>
        IvfIndex.withPqResiduals(withPq, vecCol, p)
      case _ => withPq
    }
    val unioned = data.unionByName(withRes, allowMissingColumns = true)
    // listRadii dropped, NOT carried: appended rows can exceed a stored
    // list radius, and an undersized radius is an unsound pruning bound —
    // annSearchPqExact recomputes until the next save().
    // cellCounts CARRIED: under-counting only seeds knnBatch's expansion
    // at a larger radius (cost, not correctness) — see IndexMeta.
    new VectorIndex(unioned, vecCol, idCol, dim, gridSpec, centroids,
      sqParams, pqParams, cellCounts = cellCounts,
      adaptiveSpec = adaptiveSpec)
  }

  /** Re-fit the pruning structures over the current collection.
    * `rowCap > 0` re-fits an ADAPTIVE grid (fresh hot set from the
    * current density — the batch analog of the reference's restructure
    * absorbing drift, include/pktree.hpp:841-929). */
  def rebuild(cellsPerDim: Int = 16, nlist: Int = 0, rowCap: Long = 0,
              refine: Int = 4): VectorIndex =
    VectorIndex.create(
      data.drop("cell_id", "list_id", IvfIndex.SqCol, IvfIndex.PqCol,
        IvfIndex.PqResCol),
      vecCol, idCol, dim, cellsPerDim, nlist, rowCap = rowCap,
      refine = refine)

  /** Persist as a pruning-friendly parquet index (the 100 TB layout) plus
    * a metadata sidecar (IndexMeta: exact GridSpec + IVF centroids), so
    * load() restores the SAME geometry — never a re-fit, which could
    * disagree with the stored cell ids. Layout by dimensionality:
    *   - dim ≤ 4 (gridSpec defined): cell-bucketed files sorted by
    *     cell_id — row-group pruning on `cell_id IN (...)`;
    *   - dim > 4 with IVF centroids: `partitionBy(list_id)` inverted
    *     lists (IvfIndex.buildIndex's layout) — a probe reads ONLY its
    *     lists' directories, the realistic embedding regime at scale;
    *   - neither: plain parquet (exact scans only).
    * The path is registered with the index-aware optimizer rules, so a
    * plain `graft_sqdist(vec, q) <= r²` filter — or `ORDER BY
    * graft_sqdist(...) LIMIT k` — over a scan of it auto-prunes
    * (plans.IndexAwareRules, grid and IVF geometries alike).
    *
    * @param fitPq also fit + store PQ codebooks/codes for IVF layouts
    *              when dim is divisible by 8 (the deepest scan tier).
    *              Fitting costs a count + two small collects + a per-row
    *              encode and widens the written layout — callers that
    *              never serve searchPq can opt out. */
  def save(path: String, fitPq: Boolean = true): Unit = {
    // Unit-norm detection (one tiny-output agg over the collection — the
    // index write next to it already scans everything): a normalized
    // index additionally serves COSINE top-k through the same pruning,
    // so the fact is recorded in the sidecar + registry.
    val unit = (gridSpec.isDefined || centroids.isDefined ||
        adaptiveSpec.isDefined) && {
      val m = data.agg(max(abs(
        VectorFunctions.sqNorm(col(vecCol)) - 1.0))).head()
      !m.isNullAt(0) && m.getDouble(0) <= 1e-9
    }
    val savedSq: (Option[IvfIndex.SqParams], Option[IvfIndex.PqParams],
                  Option[Map[Int, Double]]) =
      (adaptiveSpec, gridSpec, centroids) match {
      case (Some(aspec), _, _) =>
        // adaptive two-level layout: mixed-level cell buckets; rules
        // prune via the mixed-level enumeration (AdaptiveGeom)
        GridIndex.buildIndexAdaptive(data, vecCol, aspec, path)
        plans.IndexAwareRules.registerAdaptiveIndex(path, aspec, unit)
        (None, None, None)
      case (None, Some(spec), _) =>
        GridIndex.buildIndex(data, vecCol, spec, path)
        plans.IndexAwareRules.registerIndex(path, spec, unit)
        (None, None, None)
      case (None, None, Some(c)) =>
        // rows out of create()/append() already carry the argmin list_id;
        // only raw external frames need assignment here
        val assigned =
          if (data.columns.contains("list_id")) data
          else IvfIndex.assign(data, vecCol, idCol, c)
        // int8 scalar-quantized codes ride alongside the doubles in the
        // saved lists (1 byte/dim vs 8): annSearchSq's candidate scan
        // then reads only the code column. Params are fitted once here
        // (one tiny-output per-dimension min/max agg) unless the index
        // was itself loaded from an SQ layout — reusing those params
        // keeps codes identical across re-saves.
        val sqp = sqParams.getOrElse(IvfIndex.fitSq(assigned, vecCol))
        val withCodes =
          if (assigned.columns.contains(IvfIndex.SqCol)) assigned
          else IvfIndex.withSqCodes(assigned, vecCol, sqp)
        // PQ codebooks join the layout when the dims sub-divide evenly
        // (m=8, the embedding-width common case) — the deepest candidate
        // -scan tier; same reuse-on-resave contract as SQ.
        val pqp = pqParams.orElse(
          if (fitPq && dim % 8 == 0)
            Some(IvfIndex.fitPq(withCodes, vecCol, idCol, m = 8))
          else None)
        val withPq = pqp match {
          case Some(p) if !withCodes.columns.contains(IvfIndex.PqCol) =>
            IvfIndex.withPqCodes(withCodes, vecCol, p)
          case _ => withCodes
        }
        // PQ layouts additionally carry the per-vector reconstruction
        // residual (1 double at rest) and per-list radii in the sidecar
        // — the bounds annSearchPqExact's certificates consume. Radii
        // are RECOMPUTED every save, never reused: a stale (smaller)
        // radius after appends would be an unsound pruning bound.
        val withRes = pqp match {
          case Some(p) if !withPq.columns.contains(IvfIndex.PqResCol) =>
            IvfIndex.withPqResiduals(withPq, vecCol, p)
          case _ => withPq
        }
        // one writer task per list -> one file per list (lists are
        // bounded by construction, ~4k rows; same geometry rule as
        // compactSaved — without it assign()'s task layout sprays
        // tasks x lists tiny files that every probe re-lists)
        withRes.repartition(col("list_id"))
          .write.mode("overwrite")
          .option("maxRecordsPerFile",
            operators.WriteGeometry.MaxFileRows)
          .partitionBy("list_id").parquet(path)
        plans.IndexAwareRules.registerIvfIndex(path, c, unit)
        val radii = pqp.map(_ => IvfIndex.listRadii(withRes, vecCol, c))
        (Some(sqp), pqp, radii)
      case _ =>
        data.write.mode("overwrite").parquet(path)
        (None, None, None)
    }
    // Grid/adaptive layouts: per-cell histogram for the sidecar (output
    // bounded by the cell count — KBs at 16⁴; adaptive layouts store
    // MIXED-LEVEL ids), the seed for knnBatch's ring expansion and the
    // reference fsck audits cell_counts_consistent against. One extra
    // tiny-output aggregate next to the full-scan write above;
    // recomputed every save like the radii.
    def countCells(withId: DataFrame): Map[Long, Long] = withId
      .groupBy(col("cell_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gridCounts = adaptiveSpec.map(a => countCells(
        GridIndex.withCellIdAdaptive(data, vecCol, a)))
      .orElse(gridSpec.map(spec => countCells(
        GridIndex.withCellId(data, vecCol, spec))))
    // adaptive sidecar: BASE grid in the `grid` field + the refinement
    // extension (the fine spec is derived at load — IndexMeta scaladoc)
    IndexMeta.write(data.sparkSession, path,
      IndexMeta.of(vecCol, idCol, dim,
        adaptiveSpec.map(_.base).orElse(gridSpec), centroids, unit,
        savedSq._1, savedSq._2, savedSq._3, gridCounts, adaptiveSpec))
  }
}

object VectorIndex {

  /** Build an index over (id, vector, payload...) rows.
    *
    * @param cellsPerDim grid resolution for low-dim pruning (dim <= 4)
    * @param nlist       IVF list count for high-dim ANN (0 = disabled)
    * @param refineIters seeded driver-side Lloyd iterations sharpening
    *                    the IVF quantizer (IvfIndex.fitCentroids); 0 =
    *                    sample-only quantizer
    * @param rowCap      adaptive refinement trigger for grid layouts
    *                    (dim <= 4): base cells holding more than rowCap
    *                    rows are re-split `refine`× finer per dimension
    *                    (GridIndex.fitAdaptive) — the distributed analog
    *                    of the reference's K-instantiable node split
    *                    (include/pktree.hpp:587-635), and since the
    *                    reference's adaptive tree IS its persistent
    *                    structure (hpp:1262-1355), save()/load() carry
    *                    the two-level spec verbatim. 0 = fixed grid.
    * @param refine      per-dimension refinement factor for hot cells
    *                    (>= 2); ignored when rowCap == 0
    */
  def create(df: DataFrame, vecCol: String, idCol: String, dim: Int,
             cellsPerDim: Int = 16, nlist: Int = 0,
             refineIters: Int = 0, rowCap: Long = 0,
             refine: Int = 4, topUpNlist: Boolean = false,
             adaptiveLevels: Int = 1): VectorIndex = {
    val typed = df.withColumn(vecCol, col(vecCol).cast("array<double>"))
    // schema-level dim invariant (SURVEY §1.1): fail fast on ragged OR null
    // input. Nulls must be rejected too (coalesce: a null dimCheck would
    // slip through a bare negation) — downstream pruning rewrites
    // (IndexAwareRules.PruneKnnSort) rely on "no null vectors in a saved
    // index" for losslessness.
    val bad = typed.filter(
      !coalesce(VectorFunctions.dimCheck(col(vecCol), dim), lit(false)))
      .limit(1)
    require(bad.isEmpty, s"input contains null vectors or vectors with dim != $dim")
    val (spec, aspec, indexed) =
      if (dim <= 4 && rowCap > 0) {
        val a = GridIndex.fitAdaptive(typed, vecCol, dim, cellsPerDim,
          rowCap, refine, adaptiveLevels)
        (None, Some(a), GridIndex.withCellIdAdaptive(typed, vecCol, a))
      } else if (dim <= 4) {
        val s = GridIndex.fit(typed, vecCol, dim, cellsPerDim)
        (Some(s), None, GridIndex.withCellId(typed, vecCol, s))
      } else (None, None, typed)
    val cents =
      if (nlist > 0)
        Some(IvfIndex.fitCentroids(indexed, vecCol, idCol, nlist,
          refineIters, topUp = topUpNlist))
      else None
    val withLists = cents match {
      case Some(c) => IvfIndex.assign(indexed, vecCol, idCol, c)
      case None => indexed
    }
    new VectorIndex(withLists, vecCol, idCol, dim, spec, cents,
      adaptiveSpec = aspec)
  }

  /** Incremental ingest into a SAVED IVF layout at rest — the reference's
    * `insert` (include/pktree.hpp:1262) for the index-on-disk story: at
    * 100 TB an index cannot be rewritten to absorb a day's crawl. New rows
    * are encoded with the SIDECAR's frozen artifacts — centroid
    * assignment, SQ codes, PQ codes + residuals, exactly what save()
    * would produce for them — and appended as new parquet files under the
    * existing `list_id=` partition directories; existing files are never
    * touched.
    *
    * The sidecar is then updated so every serving guarantee survives:
    *   - per-list radii GROW to max(stored, new rows' max) — a radius
    *     only needs to be >= every member's centroid distance, so
    *     growing keeps annSearchPqExact's ring-pruning certificate
    *     sound (shrinking would not; radii are never shrunk here);
    *   - unitNorm degrades to false the moment one appended vector is
    *     off the unit sphere (it licenses cosine rewrites — one tiny
    *     agg over the NEW rows only re-checks it).
    * Quantizer drift is the one cost: centroids/codebooks stay frozen
    * (re-fitting would orphan every stored code), so heavy drift
    * eventually wants load().rebuild().save() — the batch analog of the
    * reference's restructure, same contract as in-memory append().
    *
    * Grid and adaptive layouts append too (r14 — closing the one
    * at-rest lifecycle hole the r13 verdict named): new rows take cell
    * ids from the SIDECAR's frozen geometry and land as new files,
    * each internally cell-sorted, so per-file row-group min/max stats
    * keep pruning `cell_id IN (...)` at I/O level (the layout is
    * N sorted files, not one sorted file — pruning is per row group,
    * and a sorted append preserves it file-locally). Out-of-box
    * vectors are SAFE, not rejected: cellCoord clamps to the boundary
    * cell and the query-side enumeration clamps its ranges identically
    * (GridIndex.ballCoordRanges), so a clamped row is enumerated by
    * every ball that can contain it — monotonicity of the clamp — and
    * the exact distance predicate decides membership. Boundary cells
    * lose pruning selectivity as out-of-box rows accrete (cost), never
    * results (correctness); heavy domain drift wants
    * load().rebuild().save(), the same contract as quantizer drift.
    * Adaptive layouts bucket with the STORED hot set (a cell newly
    * drifting over rowCap waits for rebuild — the in-memory append()'s
    * documented contract, now at rest). The sidecar's cellCounts merge
    * exactly (old + new per-cell sums); unitNorm re-checks the new
    * rows only, as in the IVF path.
    *
    * Caller contract: ids must be new (append-only ingest; exact dedup
    * runs upstream). */
  def appendSaved(spark: SparkSession, path: String, rows: DataFrame,
                  numFiles: Int = 1): Unit = {
    val meta = IndexMeta.read(spark, path).getOrElse(throw
      new IllegalArgumentException(
        s"$path has no ${IndexMeta.FileName} sidecar — not a saved " +
          "VectorIndex"))
    // single-writer guard: an append racing a compact's swap would land
    // files the swap then deletes — refuse while compaction artifacts
    // exist (live or crashed; CompactSwap.assertNoActiveCompact)
    locally {
      val root = new Path(path)
      operators.CompactSwap.assertNoActiveCompact(
        root.getFileSystem(spark.sparkContext.hadoopConfiguration),
        root, "appendSaved")
    }
    val typed = rows.withColumn(meta.vecCol,
      col(meta.vecCol).cast("array<double>"))
    val bad = typed.filter(!coalesce(
      VectorFunctions.dimCheck(col(meta.vecCol), meta.dim), lit(false)))
      .limit(1)
    require(bad.isEmpty,
      s"input contains null vectors or vectors with dim != ${meta.dim}")
    if (typed.isEmpty) return
    // encode with the sidecar's FROZEN artifacts — exactly what save()
    // would produce for these rows in the stored geometry
    val encoded = meta.ivfCentroids match {
      case Some(cents) =>
        require(meta.grid.isEmpty, "unexpected grid+IVF hybrid layout")
        val assigned = IvfIndex.assign(typed, meta.vecCol, meta.idCol,
          cents)
        val withSq = meta.sqParams
          .map(p => IvfIndex.withSqCodes(assigned, meta.vecCol, p))
          .getOrElse(assigned)
        meta.pqParams match {
          case Some(p) => IvfIndex.withPqResiduals(
            IvfIndex.withPqCodes(withSq, meta.vecCol, p), meta.vecCol, p)
          case None => withSq
        }
      case None =>
        meta.adaptiveSpec
          .map(a => GridIndex.withCellIdAdaptive(typed, meta.vecCol, a))
          .orElse(meta.gridSpec
            .map(sp => GridIndex.withCellId(typed, meta.vecCol, sp)))
          .getOrElse(typed) // geometry-less layout: plain file append
    }
    // column order matched to the existing files so the layout keeps one
    // schema shape; a payload column the layout has but the rows lack
    // fails here, loudly, instead of writing ragged files
    val layoutCols = spark.read.parquet(path).columns
    val aligned = encoded.select(layoutCols.map(col): _*)
    // era ledger snapshot: the listing diff after the commit records
    // this append's files under a monotonic era, so liveDeduped's
    // "earliest era wins" never depends on mtime resolution
    val eraRoot = new Path(path)
    val eraFs = eraRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val eraBefore = operators.EraLedger.listDataFiles(eraFs, eraRoot)
    if (meta.ivfCentroids.isDefined)
      // appends are the rolling-ingest face: one file per touched list
      // per append, not tasks x lists (r13 geometry rule)
      aligned.repartition(col("list_id"))
        .write.mode("append")
        .option("maxRecordsPerFile", operators.WriteGeometry.MaxFileRows)
        .partitionBy("list_id").parquet(path)
    else if (meta.grid.isDefined)
      // grid layouts: new files, each internally cell-sorted so their
      // row-group stats prune like the build's (numFiles bounds the
      // population growth per append at ingest batch sizes; raise it
      // for a bulk backfill)
      aligned.repartitionByRange(math.max(numFiles, 1), col("cell_id"))
        .sortWithinPartitions(col("cell_id"))
        .write.mode("append")
        .option("maxRecordsPerFile", operators.WriteGeometry.MaxFileRows)
        .parquet(path)
    else
      aligned.coalesce(math.max(numFiles, 1))
        .write.mode("append")
        .option("maxRecordsPerFile", operators.WriteGeometry.MaxFileRows)
        .parquet(path)
    // post-commit half of the single-writer guard: a compact that
    // STARTED while the write job was in flight is detected here, before
    // the sidecar bump — loud failure instead of silently swept files
    locally {
      val root = new Path(path)
      operators.CompactSwap.assertNoCompactStartedDuring(
        root.getFileSystem(spark.sparkContext.hadoopConfiguration),
        root, "appendSaved")
    }
    // ledger the committed files under this append's era (a crash
    // before this line leaves them unledgered = era 0 = earliest —
    // still the correct "earliest era wins" pick vs a later retry)
    operators.EraLedger.recordNewFiles(eraFs, eraRoot, eraBefore)
    // sidecar refresh from the NEW rows only (metadata-sized jobs)
    val unit = meta.unitNorm.getOrElse(false) && {
      val m = aligned.agg(max(abs(
        VectorFunctions.sqNorm(col(meta.vecCol)) - 1.0))).head()
      !m.isNullAt(0) && m.getDouble(0) <= 1e-9
    }
    val mergedRadii = (meta.ivfCentroids, meta.listRadiiMap) match {
      case (Some(cents), Some(old)) =>
        val grown = IvfIndex.listRadii(aligned, meta.vecCol, cents)
        Some((old.keySet ++ grown.keySet).map(l => l -> math.max(
          old.getOrElse(l, 0.0), grown.getOrElse(l, 0.0))).toMap)
      case _ => None
    }
    // grid cellCounts merge EXACTLY (per-cell sums — a cost seed, but
    // exact maintenance here is one tiny-output agg over the new rows)
    val mergedCounts = meta.cellCountsMap.map { old =>
      val fresh = aligned.groupBy(col("cell_id"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (old.keySet ++ fresh.keySet).map(c => c ->
        (old.getOrElse(c, 0L) + fresh.getOrElse(c, 0L))).toMap
    }
    IndexMeta.write(spark, path, IndexMeta.of(meta.vecCol, meta.idCol,
      meta.dim, meta.gridSpec, meta.ivfCentroids, unit, meta.sqParams,
      meta.pqParams, mergedRadii, mergedCounts, meta.adaptiveSpec))
    // unitNorm may have flipped — refresh the optimizer-rule registration
    (meta.ivfCentroids, meta.adaptiveSpec, meta.gridSpec) match {
      case (Some(cents), _, _) =>
        plans.IndexAwareRules.registerIvfIndex(path, cents, unit)
      case (None, Some(aspec), _) =>
        plans.IndexAwareRules.registerAdaptiveIndex(path, aspec, unit)
      case (None, None, Some(sp)) =>
        plans.IndexAwareRules.registerIndex(path, sp, unit)
      case _ => ()
    }
  }

  /** Subdirectory holding delete tombstones inside a saved index. The
    * underscore prefix makes parquet directory listings of the index
    * path ignore it, so data reads stay clean. */
  val TombstoneDir = "_graft_tombstones"

  /** Delete rows from a SAVED index by id — the third lifecycle verb of
    * the at-rest layout (build/save, appendSaved, now delete). At 100 TB
    * deletion cannot rewrite partition files; it writes TOMBSTONES — an
    * id relation inside the index directory that load() anti-joins
    * against the data. Every serving guarantee survives deletion
    * unchanged: per-list radii remain SOUND upper bounds (removing
    * members can only shrink the true max, never exceed it), SQ/PQ
    * codes of surviving rows are untouched, and annSearchPqExact's
    * certificates never reference deleted rows once the anti-join runs
    * below them. Tombstones are append-only and idempotent (distinct
    * ids); compaction = load().save(newPath), which writes only
    * survivors and starts with an empty tombstone set. */
  def deleteSaved(spark: SparkSession, path: String, ids: DataFrame): Unit = {
    val meta = IndexMeta.read(spark, path).getOrElse(throw
      new IllegalArgumentException(
        s"$path has no ${IndexMeta.FileName} sidecar — not a saved " +
          "VectorIndex"))
    require(ids.columns.length == 1, "pass a single-column id relation")
    // single-writer guard: the compact's swap deletes the tombstone dir
    // last — a delete racing it silently resurrects the deleted ids
    locally {
      val root = new Path(path)
      operators.CompactSwap.assertNoActiveCompact(
        root.getFileSystem(spark.sparkContext.hadoopConfiguration),
        root, "deleteSaved")
    }
    ids.select(col(ids.columns.head).as(meta.idCol)).distinct()
      .write.mode("append").parquet(s"$path/$TombstoneDir")
    // post-commit half of the single-writer guard (see appendSaved)
    locally {
      val root = new Path(path)
      operators.CompactSwap.assertNoCompactStartedDuring(
        root.getFileSystem(spark.sparkContext.hadoopConfiguration),
        root, "deleteSaved")
    }
  }

  /** Physically compact a SAVED IVF layout in place — the fourth
    * lifecycle verb (save / appendSaved / deleteSaved / compactSaved).
    * Every [[appendSaved]] lands one more small file under each touched
    * `list_id=` directory and every [[deleteSaved]] adds tombstones the
    * serving path re-anti-joins per query; compaction pays both debts
    * once: tombstoned rows leave the layout for good, each list's files
    * merge into one (`repartition` on list_id — each list hashes to one
    * writer task), and the tombstone directory disappears.
    *
    * The sidecar is then REFRESHED from the survivors, and two bounds
    * get strictly better: per-list radii are recomputed exact (append
    * only ever GREW them; deletes could not shrink them — after
    * compaction they are again the true max member distance, so
    * annSearchPqExact prunes more lists), and unitNorm is re-measured
    * (a delete may have removed the very rows that de-normalized the
    * collection, re-licensing cosine rewrites). Serving results are
    * bit-identical before and after (q95 shares q81's oracle); only
    * cost improves. Grid/adaptive layouts dispatch to
    * [[compactSavedGrid]] — same verb, file-granularity swap (r15).
    * The swap is crash-RECOVERABLE via the CompactSwap
    * protocol: staged rewrite, then a `_compact_staged` commit marker
    * before the first destructive step, so a re-run after a crash at
    * any point RESUMES the swap from the marker instead of deleting
    * the staging dir (mid-swap it may hold the only copy of some
    * lists).
    *
    * `dedupIds = true` additionally REPAIRS duplicate-id residue from a
    * re-shipped append (the fsck `ids_unique` red row): per id, the row
    * from the EARLIEST write era survives (file modification time, then
    * path as the deterministic tie-break) — the ids-never-reused
    * contract makes any duplicate crash residue, and the earliest era
    * is the one every later verb's bookkeeping first observed. Costs
    * one id-partitioned shuffle, paid only when requested; without it
    * the documented repair for a torn append was a full rebuild. */
  def compactSaved(spark: SparkSession, path: String,
                   dedupIds: Boolean = false): Unit = {
    val meta = IndexMeta.read(spark, path).getOrElse(throw
      new IllegalArgumentException(
        s"$path has no ${IndexMeta.FileName} sidecar — not a saved " +
          "VectorIndex"))
    if (meta.ivfCentroids.isEmpty) {
      require(meta.gridSpec.isDefined || meta.adaptiveSpec.isDefined,
        s"$path is neither an IVF nor a grid layout — nothing to compact")
      return compactSavedGrid(spark, path, meta, dedupIds)
    }
    val cents = meta.ivfCentroids.get
    require(meta.grid.isEmpty, "unexpected grid+IVF hybrid layout")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tPath = new Path(path, TombstoneDir)
    // a prior compact that crashed mid-swap left its commit marker:
    // finish that swap first (never delete its staging blindly)
    operators.CompactSwap.resumeIfStaged(fs, root, "list_id=", Seq(tPath))
    val live = liveDeduped(spark, path, meta.idCol, dedupIds)
    // stage → marker → swap (one writer task per list → one merged
    // file per list directory)
    operators.CompactSwap.compactRelation(live, fs, root, "list_id",
      Seq(tPath))
    // sidecar refresh from the COMPACTED files (smaller than the
    // pre-compaction scan and no anti-join in the plan)
    val df = spark.read.parquet(path)
    val unit = {
      val m = df.agg(max(abs(
        VectorFunctions.sqNorm(col(meta.vecCol)) - 1.0))).head()
      !m.isNullAt(0) && m.getDouble(0) <= 1e-9
    }
    val radii = meta.pqParams.map(_ =>
      IvfIndex.listRadii(df, meta.vecCol, cents))
    IndexMeta.write(spark, path, IndexMeta.of(meta.vecCol, meta.idCol,
      meta.dim, None, Some(cents), unit, meta.sqParams, meta.pqParams,
      radii))
    // the compacted layout is a single era — drop the append ledger
    operators.EraLedger.clear(fs, root)
    plans.IndexAwareRules.registerIvfIndex(path, cents, unit)
  }

  /** [[compactSaved]] for GRID/ADAPTIVE layouts — the fourth lifecycle
    * verb for the last layout family that lacked it (grid users
    * previously had to load().rebuild().save()). The layout is a
    * cell-SORTED flat directory, not bucket dirs, so compaction
    * restores the BUILD write geometry: tombstoned rows leave for
    * good, every append era's files merge back into numFiles
    * range-partitioned cell-sorted files (row-group min/max stats
    * prune `cell_id IN` again — appends had interleaved cell ranges
    * across files), and the sidecar's cellCounts snap back to the
    * exact survivor histogram (appends merged them exactly; deletes
    * could not shrink them — a cost seed, but fsck audits it).
    *
    * Crash recovery is the same CompactSwap protocol at FILE
    * granularity: the staged `part-` files are the marker's name set
    * (old and new names never collide — write UUIDs), so a re-run
    * after a crash resumes the swap instead of deleting the staging
    * that may hold the only copy. Serving is bit-identical before and
    * after (q179 shares the survivors-filtered range oracle). */
  private def compactSavedGrid(spark: SparkSession, path: String,
                               meta: IndexMeta,
                               dedupIds: Boolean = false): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tPath = new Path(path, TombstoneDir)
    operators.CompactSwap.resumeIfStaged(fs, root, "part-", Seq(tPath))
    // stored cell ids are kept verbatim (adaptive layouts hold
    // MIXED-LEVEL ids a base-grid recompute would corrupt); only the
    // file geometry is rewritten. Rewrite width derives from the row
    // count — ceil(rows / MaxFileRows) with the build default (8) as
    // the floor — so a 100 TB family compaction fans out
    // proportionally to its data instead of funneling through a fixed
    // 8-task write wave, and the emitted geometry matches what the
    // build knob would produce on the same rows. The count comes from
    // the SIDECAR histogram when present (zero extra jobs; appends
    // merged it exactly, deletes/duplicates only OVERcount — a wider
    // fan-out, never an under-fanned one) with a count() job as the
    // no-histogram fallback.
    val survivors = liveDeduped(spark, path, meta.idCol, dedupIds)
    val width = operators.WriteGeometry.rewriteWidth(
      meta.cellCountsMap.map(_.values.sum).getOrElse(survivors.count()))
    val live = survivors
      .repartitionByRange(width, col("cell_id"))
      .sortWithinPartitions(col("cell_id"))
    val tmp = operators.CompactSwap.stagingPath(root)
    live.write.mode("overwrite")
      .option("maxRecordsPerFile", operators.WriteGeometry.MaxFileRows)
      .parquet(tmp.toString)
    val staged = operators.CompactSwap.stagedNames(fs, tmp, "part-")
    operators.CompactSwap.writeMarker(fs, root, staged)
    operators.CompactSwap.swap(fs, root, tmp, "part-", staged.toSet,
      Seq(tPath))
    // sidecar refresh from the compacted files: exact survivor
    // cellCounts, re-measured unitNorm (a delete may have removed the
    // rows that de-normalized the collection)
    val df = spark.read.parquet(path)
    val unit = {
      val m = df.agg(max(abs(
        VectorFunctions.sqNorm(col(meta.vecCol)) - 1.0))).head()
      !m.isNullAt(0) && m.getDouble(0) <= 1e-9
    }
    val counts = df.groupBy(col("cell_id").cast("long")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    IndexMeta.write(spark, path, IndexMeta.of(meta.vecCol, meta.idCol,
      meta.dim, meta.gridSpec, None, unit, meta.sqParams, meta.pqParams,
      None, Some(counts), meta.adaptiveSpec))
    // the compacted layout is a single era — drop the append ledger
    operators.EraLedger.clear(fs, root)
    (meta.adaptiveSpec, meta.gridSpec) match {
      case (Some(a), _) =>
        plans.IndexAwareRules.registerAdaptiveIndex(path, a, unit)
      case (None, Some(g)) =>
        plans.IndexAwareRules.registerIndex(path, g, unit)
      case _ => ()
    }
  }

  /** The tombstone-filtered data relation for a saved index path: the
    * raw layout anti-joined against the tombstone ids (a no-op when no
    * delete ever ran). Tombstone relations are deleted-id-sized; AQE
    * picks the join strategy (broadcast for the typical tiny case). */
  private def liveData(spark: SparkSession, path: String,
                       idCol: String): DataFrame = {
    val df = spark.read.parquet(path)
    val t = new Path(s"$path/$TombstoneDir")
    val fs = t.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(t)) df
    else df.join(spark.read.parquet(t.toString).select(col(idCol)),
      Seq(idCol), "left_anti")
  }

  /** [[liveData]] with optional duplicate-id REPAIR (compactSaved's
    * `dedupIds`): per id, keep the row from the earliest write era —
    * ordered by the scan's `_metadata.file_modification_time`, then
    * the append ERA LEDGER (each `appendSaved` records its committed
    * files under a monotonic sequence), then `file_path` as the final
    * deterministic tie-break. The ledger REFINES mtime, it does not
    * override it: within one timestamp tick — the coarse-mtime
    * object-store case where lexicographic path order used to decide
    * (r16 ADVICE) — two ledgered eras order correctly by sequence,
    * and unledgered files (build/compact output, torn pre-ledger
    * appends: era 0) sort first, which is right for build output and
    * harmless for a torn append (its retry re-ships byte-identical
    * rows). Keeping mtime PRIMARY prevents the converse inversion: a
    * LATER append that crashed before its ledger update must not beat
    * an earlier ledgered era just because unledgered reads as era 0 —
    * across ticks, mtime already orders them correctly. For the
    * contract-violating case (same id, different content) the
    * earliest era wins — it is the row every later verb's sidecar
    * bookkeeping first observed; only an unledgered-vs-ledgered
    * conflict INSIDE one tick remains genuinely unordered (no
    * evidence exists), where the pick is deterministic by path. One
    * id-partitioned shuffle, paid only when the repair is requested;
    * the ledger joins in as a broadcast file-name → era map
    * (file-count-sized — metadata scale). */
  private def liveDeduped(spark: SparkSession, path: String,
                          idCol: String, dedupIds: Boolean): DataFrame = {
    if (!dedupIds) return liveData(spark, path, idCol)
    import org.apache.spark.sql.expressions.Window
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val raw0 = spark.read.parquet(path)
      .withColumn("__era_mt", col("_metadata.file_modification_time"))
      .withColumn("__era_fp", col("_metadata.file_path"))
    val ledger = operators.EraLedger.read(fs, root)
    val raw = if (ledger.files.isEmpty)
      raw0.withColumn("__era_seq", lit(0L))
    else {
      import spark.implicits._
      val eras = broadcast(ledger.files.toSeq.toDF("__era_nm", "__era_v"))
      raw0
        .withColumn("__era_nm",
          element_at(split(col("__era_fp"), "/"), -1))
        .join(eras, Seq("__era_nm"), "left")
        .withColumn("__era_seq", coalesce(col("__era_v"), lit(0L)))
        .drop("__era_nm", "__era_v")
    }
    val t = new Path(s"$path/$TombstoneDir")
    val live = if (!fs.exists(t)) raw
      else raw.join(spark.read.parquet(t.toString).select(col(idCol)),
        Seq(idCol), "left_anti")
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__era_mt"), col("__era_seq"), col("__era_fp"))
    live.withColumn("__era_rn", row_number().over(w))
      .filter(col("__era_rn") === 1)
      .drop("__era_seq", "__era_mt", "__era_fp", "__era_rn")
  }

  /** Reload a saved index from its sidecar metadata: the EXACT GridSpec
    * the stored cell_id column was computed in (a re-fit could differ —
    * different cellsPerDim, or an extent widened since build — and would
    * silently drop true results from pruned search), plus the IVF
    * centroids so annSearch works after reload. Also re-registers the
    * path for optimizer-rule pruning with that same spec. */
  /** FSCK — physical integrity audit of a saved layout, the fifth
    * lifecycle verb (build/append/delete/compact/VERIFY). A standing
    * 100 TB index outlives the job that built it; before a deployment
    * trusts probes against it after a crash, a partial copy, or a year
    * of appends, it runs this. One row per check, `(chk, ok, detail)`:
    *
    *   - `meta_parses` — the sidecar exists and parses (detail: nlist;
    *     a missing/corrupt sidecar short-circuits to this single row,
    *     ok = false);
    *   - `no_compact_residue` — no `_compact_staged` marker or
    *     `.compacting` staging dir (a crashed mid-swap compact;
    *     repair = run compactSaved, it resumes from the marker);
    *   - `rows_nonempty`, `ids_unique` — the RAW layout (tombstoned
    *     rows included: this audits physical state, not the live view)
    *     has rows and no duplicated ids (detail: row / distinct-id
    *     count) — a duplicate id means an append re-shipped rows, the
    *     ids-never-reused contract every delete/compact verb leans on
    *     (repair = `compactSaved(dedupIds = true)`: earliest-era row
    *     survives; a rebuild is no longer the only path);
    *   - `vectors_valid_dim` — no null vectors, every length == the
    *     sidecar dim (the invariant pruning losslessness needs);
    *   - `list_ids_in_domain` — IVF layouts: every list_id in
    *     [0, nlist) (detail: nlist);
    *   - `cell_ids_consistent` / `cell_counts_consistent` — grid and
    *     adaptive layouts: every stored cell_id rehashes through the
    *     SIDECAR spec (a row bucketed under a different fit is
    *     silently invisible to cellsForBall pruning), and the
    *     save/append-merged cellCounts seeding histogram equals the
    *     raw data's per-cell counts;
    *   - `radii_sound` — PQ layouts: recomputed per-list radii ≤ the
    *     sidecar's (detail: nlist). An unsound stored radius silently
    *     breaks searchPqExact's pruning certificate — the one check
    *     that pays a full scan, and the reason fsck exists;
    *   - `orphan_tombstones` — tombstones naming absent ids (detail:
    *     count; ok stays true — deletes are idempotent by contract,
    *     orphans are legal residue worth reporting);
    *   - `write_eras` — the write-geometry ledger
    *     ([[graft.operators.WriteGeometry.writeEras]]): files per
    *     list_id dir beyond the row-cap-implied floor — 1 after
    *     build/compact AT ANY SCALE (a bucket that legitimately split
    *     under `maxRecordsPerFile` still reads as one era), +1 per
    *     append batch — the compaction-due signal.
    *
    * Cost: two aggregate jobs + a radii recompute (one job) + a
    * directory listing — all metadata-sized collects. */
  def fsckSaved(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, Long)]
    IndexMeta.read(spark, path) match {
      case None =>
        out += (("meta_parses", false, 0L))
      case Some(meta) =>
        val nlist = meta.ivfCentroids.map(_.size.toLong).getOrElse(0L)
        out += (("meta_parses", true, nlist))
        // staged-compaction residue: a `_compact_staged` marker or
        // `.compacting` dir means a compact crashed mid-swap and the
        // staging may hold the only copy of some lists — the repair is
        // "run compactSaved" (it resumes), never a hand-delete
        locally {
          val r0 = new Path(path)
          val f0 = r0.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val res = operators.CompactSwap.residue(f0, r0)
          out += (("no_compact_residue", res == 0L, res))
        }
        val raw = spark.read.parquet(path)
        val idC = col(meta.idCol)
        val a = raw.agg(
          count(lit(1)).as("n"),
          countDistinct(idC).as("nd"),
          min(size(col(meta.vecCol))).as("dmin"),
          max(size(col(meta.vecCol))).as("dmax"),
          sum(when(col(meta.vecCol).isNull, 1L).otherwise(0L)).as("nulls"))
          .head()
        val (n, nd) = (a.getLong(0), a.getLong(1))
        out += (("rows_nonempty", n > 0, n))
        if (n == 0) {
          // zero rows: every data-derived check below would read null
          // aggregates — a truncated copy is diagnosed by the single
          // failing row, same short-circuit contract as a bad sidecar
          return out.toSeq.toDF("chk", "ok", "detail").orderBy("chk")
        }
        out += (("ids_unique", n == nd, nd))
        out += (("vectors_valid_dim",
          a.getLong(4) == 0L && a.getInt(2) == meta.dim &&
            a.getInt(3) == meta.dim, meta.dim.toLong))
        if (nlist > 0 && raw.columns.contains("list_id")) {
          val l = raw.agg(min(col("list_id")), max(col("list_id"))).head()
          out += (("list_ids_in_domain",
            !l.isNullAt(0) && l.getInt(0) >= 0 && l.getInt(1) < nlist,
            nlist))
        }
        // grid/adaptive layouts: the cell invariants pruned search
        // leans on. cell_ids_consistent rehashes every stored cell id
        // through the SIDECAR spec (a row bucketed under a different
        // fit — the mis-bucketed-append analog of the text verb's term
        // rehash — is silently invisible to cellsForBall pruning);
        // cell_counts_consistent audits the save/append-merged seeding
        // histogram against the raw data it claims to summarize (counts
        // are a cost seed, but a wrong merge points at a corrupted
        // append). Both details are 0: cell geometry is fit-derived,
        // so there is no base-table recompute to predict counts with.
        if (raw.columns.contains("cell_id")) {
          val expect = meta.adaptiveSpec
            .map(a => operators.GridIndex.cellIdAdaptive(
              col(meta.vecCol), a))
            .orElse(meta.gridSpec.map(g =>
              operators.GridIndex.cellId(col(meta.vecCol), g)))
          expect.foreach { e =>
            val mis = raw.filter(col("cell_id").cast("long") =!=
              e.cast("long")).count()
            out += (("cell_ids_consistent", mis == 0L, 0L))
          }
          meta.cellCountsMap.foreach { cm =>
            val actual = raw.groupBy(col("cell_id").cast("long").as("c"))
              .count().collect()
              .map(r => r.getLong(0) -> r.getLong(1)).toMap
            out += (("cell_counts_consistent", actual == cm, 0L))
          }
          // adaptive layouts with a stored rowCap: report terminal
          // pruning keys still holding more than rowCap rows — the
          // hotspot out-refined the build's maxLevels (fit-time
          // saturation), or appends densified a cell since. A COST
          // signal, not a correctness failure (pruning stays lossless),
          // so ok stays true with the over-cap key count as detail —
          // the orphan_tombstones reporting contract. Rebuild with a
          // deeper maxLevels (or recompact after churn) to clear it.
          for (a <- meta.adaptiveSpec; cap <- a.rowCap) {
            val sat = raw.groupBy(col("cell_id"))
              .agg(count(lit(1)).as("__n"))
              .filter(col("__n") > cap).count()
            out += (("refinement_saturated", true, sat))
          }
        }
        meta.listRadiiMap.foreach { stored =>
          val fresh = IvfIndex.listRadii(raw, meta.vecCol,
            meta.ivfCentroids.get)
          out += (("radii_sound",
            fresh.forall { case (list, r) =>
              stored.getOrElse(list, -1.0) >= r - 1e-9
            }, nlist))
        }
        val root = new Path(path)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val tPath = new Path(path, TombstoneDir)
        val orphans = if (!fs.exists(tPath)) 0L
          else spark.read.parquet(tPath.toString)
            .join(raw.select(idC), Seq(meta.idCol), "left_anti").count()
        out += (("orphan_tombstones", true, orphans))
        if (raw.columns.contains("list_id")) {
          val perList = raw.groupBy(col("list_id")).count().collect()
            .map(r => r.get(0).toString -> r.getLong(1)).toMap
          out += (("write_eras", perList.nonEmpty,
            graft.operators.WriteGeometry
              .writeEras(fs, root, "list_id", perList).toLong))
        }
    }
    out.toSeq.toDF("chk", "ok", "detail").orderBy("chk")
  }

  def load(spark: SparkSession, path: String): VectorIndex = {
    val meta = IndexMeta.read(spark, path).getOrElse(throw
      new IllegalArgumentException(
        s"$path has no ${IndexMeta.FileName} sidecar — not a saved " +
        "VectorIndex (indexes written before the sidecar existed must be " +
        "rebuilt with create(...).save(path))"))
    val df = liveData(spark, path, meta.idCol)
    // The adaptive extension takes precedence over the base `grid` field:
    // an adaptively-saved layout's cell_id column holds MIXED-LEVEL ids
    // (negative fine ids inside hot base cells, GridIndex.cellIdAdaptive),
    // which base-grid enumeration (cellsForBall: positive base ids only)
    // would silently drop — every row in a hot cell would vanish from
    // pruned search. So load restores the two-level spec verbatim, both
    // in the instance and in the optimizer-rule registration.
    val aspec = meta.adaptiveSpec
    val spec = if (aspec.isDefined) None else meta.gridSpec
    (aspec, spec, meta.ivfCentroids) match {
      case (Some(a), _, _) => plans.IndexAwareRules.registerAdaptiveIndex(
        path, a, meta.unitNorm.getOrElse(false))
      case (None, Some(s), _) => plans.IndexAwareRules.registerIndex(path,
        s, meta.unitNorm.getOrElse(false))
      // Lossless even over a pre-partitionBy plain-parquet save: list_id
      // is still the stored argmin column there, only directory pruning
      // is absent (the rules fall back to a row filter).
      case (None, None, Some(c)) => plans.IndexAwareRules.registerIvfIndex(
        path, c, meta.unitNorm.getOrElse(false))
      case _ => ()
    }
    new VectorIndex(df, meta.vecCol, meta.idCol, meta.dim, spec,
      meta.ivfCentroids, meta.sqParams, meta.pqParams, meta.listRadiiMap,
      meta.cellCountsMap, adaptiveSpec = aspec)
  }
}
