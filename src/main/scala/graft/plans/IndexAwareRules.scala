package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{array, col, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

import graft.functions.{CosineSim, SqDistL2, SqDistWithin}
import graft.functions.VectorFunctions.sqDist
import graft.operators.GridIndex.{cellsForBallAdaptiveBounded, cellsForBallBounded, AdaptiveSpec, GridSpec}
import graft.operators.IvfIndex

/** Catalyst optimizer rules that make search predicates index-aware
  * WITHOUT the caller doing anything:
  *
  *   - PruneBallSearch: a filter `graft_sqdist(vec, <literal q>) <= r²`
  *     over a registered index gains a pruning-key conjunct
  *     (`cell_id IN (...)` for grid indexes, `list_id IN (...)` for
  *     IVF-partitioned ones), which Spark's existing pushdown then turns
  *     into parquet row-group / partition pruning — the declarative form
  *     of the reference's three-way node classification
  *     (include/pktree.hpp:1161: fully-outside subtrees are never visited).
  *
  *   - PruneKnnSort: `ORDER BY graft_sqdist(vec, <literal q>) LIMIT k`
  *     over a registered index — the reference's core kNN entry
  *     (include/pktree.hpp:948-973) as plain SQL — gets the same pruning
  *     via a planning-time ring search (below). Over an index whose
  *     vectors are unit-norm (save()-time detection), `ORDER BY
  *     graft_cosine(vec, <literal q>) DESC LIMIT k` gets it too, through
  *     the 2(1−cos) = ||v−q̂||² reduction — the cosine sort itself is
  *     left in place, only a superset ball filter is added.
  *
  * Lossless by construction, per geometry:
  *   - grid: `cellsForBall` over-approximates (every cell whose box
  *     intersects the ball is kept);
  *   - IVF: every stored row's list_id is the argmin assignment over the
  *     registered centroids (IvfIndex.assign / buildIndex), so for any
  *     point p with ||p−q|| <= r, its nearest-centroid distance obeys
  *     d*_p <= ||p − c_q|| <= r + d_q (c_q = q's nearest centroid), hence
  *     ||c_p − q|| <= d*_p + r <= 2r + d_q — probing every list whose
  *     centroid lies within 2r + d_q of q is a superset of where within-r
  *     points can live (same triangle argument as IvfIndex.assignMulti).
  * In both cases the exact predicate still runs, and the rules only ever
  * AND a superset filter / a filter proven to contain the top-k.
  *
  * Attribute provenance: a rewrite fires only when the plan below the
  * filter/sort contains EXACTLY ONE registered index relation and both
  * the pruning-key attribute and the ball's vector attribute resolve to
  * that relation's output (by exprId). Anything else — self-joins of an
  * index, a cell_id from one side with a vector from the other,
  * multi-index plans — is left untouched: correctness over cleverness.
  */
object IndexAwareRules {

  /** Max literal keys to inline; larger candidate sets would bloat the
    * plan (and the ball already covers most of the index anyway). */
  private val MaxCells = 4096

  /** The pruning geometry a saved index was written in. Each geometry
    * knows its key column and how to over-approximate a ball with key
    * literals; the rules are geometry-agnostic above this seam. */
  sealed trait IndexGeom {
    def dim: Int
    /** Pruning-key column stored by this layout. */
    def keyName: String
    def keyTypeOk(dt: DataType): Boolean
    /** Key values that could hold points within r of q — a LOSSLESS
      * superset. None = unprunable (more than MaxCells literals, or the
      * whole index anyway): callers give up. Some(empty) = no candidate
      * keys yet (ball outside the indexed extent): the radius proof keeps
      * doubling, the filter rewrites don't fire (grid clamping parks
      * out-of-extent appends in border cells, so an always-false filter
      * would NOT be lossless). */
    def keysForBall(q: Seq[Double], r: Double): Option[Seq[Any]]
    /** First / last probe radius for the kNN radius proof. */
    def startRadius(q: Seq[Double]): Double
    def maxRadius(q: Seq[Double]): Double
  }

  /** Low-dim cell grid (GridIndex.buildIndex layout: row-group pruning
    * on a sorted cell_id column). */
  final case class GridGeom(spec: GridSpec) extends IndexGeom {
    def dim: Int = spec.dim
    def keyName: String = "cell_id"
    def keyTypeOk(dt: DataType): Boolean = dt == LongType
    def keysForBall(q: Seq[Double], r: Double): Option[Seq[Any]] =
      // bounded form: range-arithmetic pre-check + lazy abort past the
      // cap, so an exhaustion-sized ball on a high-cardinality grid
      // never materializes the full O(grid) ring before giving up
      cellsForBallBounded(spec, q, r, MaxCells)
        .map(cs => cs: Seq[Any])
    def startRadius(q: Seq[Double]): Double = spec.width.max
    def maxRadius(q: Seq[Double]): Double =
      (0 until spec.dim).map(i => spec.width(i) * spec.cells(i)).max * 2
  }

  /** ADAPTIVE two-level grid (GridIndex.buildIndexAdaptive layout:
    * mixed-level cell ids, negative fine ids inside hot base cells).
    * Same contract as GridGeom — keysForBall over-approximates via
    * cellsForBallAdaptive (lossless incl. the ±1 fine-cell boundary
    * expansion); radii are the BASE grid's (refinement changes the cost
    * term of the ring proof, never its bound argument). */
  final case class AdaptiveGeom(spec: AdaptiveSpec) extends IndexGeom {
    def dim: Int = spec.base.dim
    def keyName: String = "cell_id"
    def keyTypeOk(dt: DataType): Boolean = dt == LongType
    def keysForBall(q: Seq[Double], r: Double): Option[Seq[Any]] =
      // bounded + lazily aborted past the cap (see GridGeom) — with the
      // recursive deepHots cascade the eager enumeration is strictly
      // larger than the two-level form's, so the gate matters more here
      cellsForBallAdaptiveBounded(spec, q, r, MaxCells)
        .map(cs => cs: Seq[Any])
    def startRadius(q: Seq[Double]): Double = spec.base.width.max
    def maxRadius(q: Seq[Double]): Double =
      (0 until spec.base.dim).map(i =>
        spec.base.width(i) * spec.base.cells(i)).max * 2
  }

  /** High-dim IVF lists (IvfIndex.buildIndex layout: directory-level
    * partition pruning on list_id). Centroid math is driver-side over
    * the metadata-sized table. */
  final case class IvfGeom(centroids: IvfIndex.Centroids) extends IndexGeom {
    require(centroids.nonEmpty, "IVF geometry needs at least one centroid")
    def dim: Int = centroids.head._2.size
    def keyName: String = "list_id"
    def keyTypeOk(dt: DataType): Boolean = dt == IntegerType

    private def centDists(q: Seq[Double]): Seq[(Double, Int)] =
      centroids.map { case (id, c) =>
        var s = 0.0; var i = 0
        while (i < q.size) { val d = c(i) - q(i); s += d * d; i += 1 }
        (math.sqrt(s), id)
      }

    def keysForBall(q: Seq[Double], r: Double): Option[Seq[Any]] = {
      val d = centDists(q)
      val dq = d.map(_._1).min
      // 2r + d_q bound from the triangle proof above; the relative+absolute
      // pad absorbs last-ulp disagreement between this driver-side loop and
      // the codegen'd assignment distances (a boundary point must never
      // fall on the un-probed side).
      val bound = (2 * r + dq) * (1 + 1e-12) + 1e-12
      val lists = d.filter(_._1 <= bound).map(_._2)
      if (lists.nonEmpty && lists.size < centroids.size &&
          lists.size <= MaxCells) Some(lists)
      else None // all lists ⇒ the IN conjunct prunes nothing: leave plan
    }

    /** Anchor the first probe at the local quantizer scale: d2/4 (half the
      * half-spacing to the runner-up list) but never under d_q (a ball
      * smaller than the nearest-centroid distance rarely holds k rows).
      * Too-small starts only cost extra doubling rounds; too-big starts
      * only cost pruning sharpness — never correctness. */
    def startRadius(q: Seq[Double]): Double = {
      val ds = centDists(q).map(_._1).sorted
      val d2 = if (ds.size > 1) ds(1) else ds.head
      math.max(math.max(ds.head, d2 / 4), 1e-6)
    }
    /** Beyond max centroid distance the probe set is all lists and
      * keysForBall bails anyway; this just bounds the loop. */
    def maxRadius(q: Seq[Double]): Double =
      centDists(q).map(_._1).max * 2 + 1.0
  }

  /** What the optimizer knows about a saved index: its pruning geometry,
    * and whether every stored vector is L2-unit-norm (detected at save(),
    * persisted in the sidecar). unitNorm licenses the cosine→L2 kNN
    * reduction: on unit vectors ||v − q̂||² = 2(1 − cos(v, q)). */
  case class IndexInfo(geom: IndexGeom, unitNorm: Boolean)

  /** Driver-side registry: parquet index root path -> index info.
    * Metadata-sized (a few doubles per grid index, nlist×dim per IVF). */
  private val registry = TrieMap.empty[String, IndexInfo]

  private def normalize(path: String): String =
    new org.apache.hadoop.fs.Path(path).toUri.getPath

  def registerIndex(path: String, spec: GridSpec,
                    unitNorm: Boolean = false): Unit =
    registry.put(normalize(path), IndexInfo(GridGeom(spec), unitNorm))

  /** Register a list-partitioned IVF index (IvfIndex.buildIndex /
    * VectorIndex.save high-dim layout). Contract: every stored row's
    * list_id is the single-assignment argmin over exactly these
    * centroids — that is what the pruning proof rests on. */
  def registerIvfIndex(path: String, centroids: IvfIndex.Centroids,
                       unitNorm: Boolean = false): Unit =
    registry.put(normalize(path), IndexInfo(IvfGeom(centroids), unitNorm))

  /** Register a saved adaptive-grid index (GridIndex.buildIndexAdaptive
    * layout). Contract: every stored row's cell_id was computed by
    * cellIdAdaptive under exactly this spec. */
  def registerAdaptiveIndex(path: String, spec: AdaptiveSpec,
                            unitNorm: Boolean = false): Unit =
    registry.put(normalize(path), IndexInfo(AdaptiveGeom(spec), unitNorm))

  def clear(): Unit = registry.clear()

  /** Every registered index relation in `plan`: (path, info, relation).
    * A relation qualifies only when it reads EXACTLY ONE root path and
    * that path is registered — a multi-dir scan (spark.read.parquet(a, b))
    * mixes rows whose keys were computed in different geometries, and
    * pruning any one geometry against the union would silently drop rows. */
  private def registeredRelations(
      plan: LogicalPlan): Seq[(String, IndexInfo, LogicalRelation)] =
    plan.collect {
      case lr @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
          if fs.location.rootPaths.size == 1 =>
        val n = normalize(fs.location.rootPaths.head.toString)
        registry.get(n).map(s => (n, s, lr))
    }.flatten

  /** The literal double-array payload of an expression, if any. */
  private def litArray(x: Expression): Option[Seq[Double]] = x match {
    case Literal(a: ArrayData, ArrayType(DoubleType, _)) =>
      Some(a.toDoubleArray().toSeq)
    case _ => None
  }

  /** L2-normalized copy of a query vector; None when the norm is zero or
    * non-finite (no direction to prune on). Shared by BOTH cosine paths
    * (ball filter and top-k sort) so the guard can't drift between them. */
  private def normalizedQuery(q: Seq[Double]): Option[Seq[Double]] = {
    val n = math.sqrt(q.map(x => x * x).sum)
    if (n == 0.0 || !java.lang.Double.isFinite(n)) None
    else Some(q.map(_ / n))
  }

  object PruneBallSearch extends Rule[LogicalPlan] with PredicateHelper {

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
      case f @ Filter(cond, child) =>
        registeredRelations(child) match {
          // exactly one registered relation below: provenance unambiguous
          case Seq((_, IndexInfo(geom, unitNorm), lr)) =>
            val relOut = lr.outputSet
            val keyAttr = child.output.find(a =>
              a.name == geom.keyName && geom.keyTypeOk(a.dataType) &&
              relOut.contains(a))
            keyAttr match {
              case Some(key) if !hasKeyConjunct(cond, key) =>
                val conjuncts = splitConjunctivePredicates(cond)
                conjuncts.flatMap(ballOf(_, relOut, unitNorm))
                  .headOption match {
                  case Some((q, r)) if q.size == geom.dim =>
                    geom.keysForBall(q, r) match {
                      case Some(keys) if keys.nonEmpty =>
                        Filter(And(cond,
                          In(key, keys.map(Literal(_)))), child)
                      case _ => f
                    }
                  case _ => f
                }
              case _ => f
            }
          case _ => f // zero, or 2+ (self-join / multi-index): bail out
        }
    }

    private def hasKeyConjunct(cond: Expression, key: Attribute): Boolean =
      splitConjunctivePredicates(cond).exists {
        case In(a: Attribute, _) => a.semanticEquals(key)
        case EqualTo(a: Attribute, _) => a.semanticEquals(key)
        case _ => false
      }

    /** Extract (query center, radius) from `sqdist(vec, lit) <= lit(r²)`
      * — either operand order — or, over a UNIT-NORM index, from
      * `graft_cosine(vec, lit) >= lit(c)`: on unit vectors the cosine
      * threshold is the ball ||v − q̂||² <= 2(1−c), padded 1e-6 to
      * dominate the 1e-9 stored-norm tolerance (superset, the exact
      * predicate still runs). The vector operand must be an attribute OF
      * THE REGISTERED RELATION — a vector from the other side of a join
      * lives in a different geometry. */
    private[plans] def ballOf(e: Expression, relOut: AttributeSet,
                              unitNorm: Boolean): Option[(Seq[Double], Double)] = {
      def fromSq(sq: SqDistL2, bound: Expression): Option[(Seq[Double], Double)] =
        (sq.left, sq.right, bound) match {
          case (v: Attribute, qv, Literal(r2: Double, DoubleType))
              if r2 >= 0 && relOut.contains(v) =>
            litArray(qv).map(q => (q, math.sqrt(r2)))
          case (qv, v: Attribute, Literal(r2: Double, DoubleType))
              if r2 >= 0 && relOut.contains(v) =>
            litArray(qv).map(q => (q, math.sqrt(r2)))
          case _ => None
        }
      def fromCos(c: CosineSim, bound: Expression): Option[(Seq[Double], Double)] = {
        if (!unitNorm) return None
        val vecAndQ = (c.left, c.right) match {
          case (v: Attribute, qv) if relOut.contains(v) => litArray(qv)
          case (qv, v: Attribute) if relOut.contains(v) => litArray(qv)
          case _ => None
        }
        (vecAndQ, bound) match {
          case (Some(q), Literal(minCos: Double, DoubleType)) =>
            normalizedQuery(q).map(qn => (qn,
              math.sqrt(math.max(2.0 * (1.0 - minCos), 0.0) + 1e-6)))
          case _ => None
        }
      }
      e match {
        case LessThanOrEqual(sq: SqDistL2, b) => fromSq(sq, b)
        case GreaterThanOrEqual(b, sq: SqDistL2) => fromSq(sq, b)
        case LessThan(sq: SqDistL2, b) => fromSq(sq, b) // strict ⊂ inclusive
        case GreaterThan(b, sq: SqDistL2) => fromSq(sq, b) // lit > sqdist
        case GreaterThanOrEqual(c: CosineSim, b) => fromCos(c, b)
        case LessThanOrEqual(b, c: CosineSim) => fromCos(c, b)
        case GreaterThan(c: CosineSim, b) => fromCos(c, b) // strict ⊂ inclusive
        case LessThan(b, c: CosineSim) => fromCos(c, b) // lit < cosine
        case _ => None
      }
    }
  }

  /** `ORDER BY graft_sqdist(vec, <literal q>) [ASC] LIMIT k` over a
    * registered index → the same TakeOrderedAndProject over a key-pruned
    * scan.
    *
    * Planning-time ring search (the driver-side analog of GridIndex.knn):
    * double a radius until at least k rows lie inside the pruned ball —
    * then every global top-k row has dist ≤ r, so ANDing
    * `<key> IN keysForBall(q, r) AND sqdist(vec, q) <= r²` onto the
    * scan preserves the sort+limit result exactly (the bound argument of
    * include/pktree.hpp:1048-1064). The probes are themselves key-pruned
    * count jobs (public read path, so this very rule prunes them too);
    * their cost is bounded by the ball volume / probed lists, not the
    * index size. If the whole index holds fewer than k rows the plan is
    * left untouched (the unpruned sort is already minimal). Null vectors
    * cannot occur in a saved index (VectorIndex.create rejects them), so
    * dropping null-distance rows via the ball conjunct is
    * semantics-preserving.
    */
  object PruneKnnSort extends Rule[LogicalPlan] {

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
      case gl @ GlobalLimit(IntegerLiteral(k),
          ll @ LocalLimit(IntegerLiteral(_), inner)) if k > 0 =>
        val rewritten = inner match {
          case p @ Project(_, s: Sort) =>
            rewriteSort(s, k).map(ns => p.copy(child = ns))
          case s: Sort => rewriteSort(s, k)
          case _ => None
        }
        rewritten.map(ni => gl.copy(child = ll.copy(child = ni)))
          .getOrElse(gl)
    }

    /** Which top-k form the sort expresses. ByL2 = ascending squared L2
      * (the reference's kNN, include/pktree.hpp:948-973); ByCosine =
      * DESCENDING graft_cosine — servable from the same L2 machinery
      * when the index is unit-norm (reduction in IndexInfo's scaladoc). */
    private sealed trait SortTarget
    private case class ByL2(sq: SqDistL2) extends SortTarget
    private case class ByCosine(cos: CosineSim) extends SortTarget

    /** The sort key, matched directly (DataFrame `orderBy(expr)`) or
      * through the alias the SQL analyzer inserts in the sort's child
      * projection (`ORDER BY graft_sqdist(...)` / `graft_cosine(...)`). */
    private def sortKey(s: Sort): Option[SortTarget] = s.order match {
      case Seq(SortOrder(sq: SqDistL2, Ascending, _, _)) => Some(ByL2(sq))
      case Seq(SortOrder(c: CosineSim, Descending, _, _)) => Some(ByCosine(c))
      case Seq(SortOrder(a: Attribute, dir, _, _)) => s.child match {
        case Project(exprs, _) => exprs.collectFirst {
          case al @ Alias(sq: SqDistL2, _)
              if al.exprId == a.exprId && dir == Ascending => ByL2(sq)
          case al @ Alias(c: CosineSim, _)
              if al.exprId == a.exprId && dir == Descending => ByCosine(c)
        }
        case _ => None
      }
      case _ => None
    }

    /** The radius proof reasons about the RAW index: "at least k rows lie
      * within r of q". That bound only transfers to the query's top-k if
      * nothing between the Sort and the scan REMOVES rows — a user filter
      * or join below the sort could cut the within-r survivors under k,
      * and the injected `sqdist <= r²` conjunct would then wrongly exclude
      * the true k-th+ neighbors at larger distances. So the rewrite fires
      * only when the sort's child is a pure projection chain over the
      * relation. This also makes the rule idempotent for free: its own
      * injected Filter breaks the projection-only path on the next
      * fixed-point iteration (robust even when ColumnPruning reshapes the
      * tree between iterations). */
    private def projectionPathOnly(plan: LogicalPlan,
                                   lr: LogicalRelation): Boolean = plan match {
      case l: LogicalRelation => l eq lr
      case Project(_, child) => projectionPathOnly(child, lr)
      case s: SubqueryAlias => projectionPathOnly(s.child, lr)
      case _ => false
    }

    private def rewriteSort(s: Sort, k: Int): Option[LogicalPlan] = {
      if (!s.global) return None
      for {
        key <- sortKey(s)
        (path, info, lr) <- registeredRelations(s.child) match {
          case Seq(one) => Some(one) // provenance rule: exactly one index
          case _ => None
        }
        geom = info.geom
        if projectionPathOnly(s.child, lr)
        relOut = lr.outputSet
        operands = key match {
          case ByL2(sq) => (sq.left, sq.right)
          case ByCosine(c) => (c.left, c.right)
        }
        (vecAttr, qRaw) <- (operands match {
          case (v: Attribute, qv) if relOut.contains(v) =>
            litArray(qv).map(q => (v, q))
          case (qv, v: Attribute) if relOut.contains(v) =>
            litArray(qv).map(q => (v, q))
          case _ => None
        })
        if qRaw.size == geom.dim
        // Cosine sorts reduce to L2 over the NORMALIZED query iff the
        // index itself is unit-norm (save()-time detection). The sort
        // stays BY COSINE — only a provably-superset ball filter is
        // added, so the query's floating-point ranking is untouched. The
        // radius pad covers the reduction's tolerance: stored norms are
        // within 1e-9 of 1, which perturbs 2(1-cos) vs ||v-q̂||² by
        // O(1e-8) — 1e-6 of slack dominates it.
        (q, pad) <- (key match {
          case _: ByL2 => Some((qRaw, 0.0))
          case _: ByCosine =>
            if (!info.unitNorm) None
            else normalizedQuery(qRaw).map(qn => (qn, 1e-6))
        })
        keyAttr <- lr.output.find(a =>
          a.name == geom.keyName && geom.keyTypeOk(a.dataType))
        r0 <- proveRadius(path, geom, vecAttr.name, keyAttr.name, q, k)
        r = math.sqrt(r0 * r0 + pad)
        keys <- geom.keysForBall(q, r)
        if keys.nonEmpty
      } yield {
        // Filter sits directly on the relation so FileSourceStrategy
        // pushes the IN down to parquet partition/row-group pruning.
        val vecOfRel = lr.output.find(_.exprId == vecAttr.exprId).get
        val pruned = Filter(And(
          In(keyAttr, keys.map(Literal(_))),
          LessThanOrEqual(SqDistL2(vecOfRel,
            Literal.create(q.toArray, ArrayType(DoubleType, false))),
            Literal(r * r))), lr)
        s.copy(child = s.child.transformUp {
          case l: LogicalPlan if l eq lr => pruned
        })
      }
    }

    /** Smallest probed radius (by doubling) proven to contain >= k rows —
      * driver-side jobs over the PUBLIC read path, each pruned by this
      * rule's sibling. None if the index never yields k rows inside a
      * prunable ball (caller leaves the plan alone) or the session is
      * gone. */
    private def proveRadius(path: String, geom: IndexGeom, vecCol: String,
                            keyCol: String, q: Seq[Double],
                            k: Int): Option[Double] = {
      val spark = SparkSession.getActiveSession.getOrElse(return None)
      val df = try spark.read.parquet(path) catch { case _: Exception => return None }
      if (!df.columns.contains(vecCol) || !df.columns.contains(keyCol))
        return None
      val maxR = geom.maxRadius(q)
      val qVec = array(q.map(lit): _*)
      var r = geom.startRadius(q)
      while (r <= maxR) {
        geom.keysForBall(q, r) match {
          case None => return None // unprunable ball: give up, plan stays
          case Some(keys) if keys.isEmpty => // outside extent: just double
          case Some(keys) =>
            val cnt = df.filter(col(keyCol).isin(keys: _*))
              .filter(sqDist(col(vecCol), qVec) <= lit(r * r))
              .limit(k).count() // k rows suffice as proof; stop there
            if (cnt >= k) return Some(r)
        }
        r *= 2
      }
      None
    }
  }

  /** Rewrite ball predicates in Filter conjuncts to the EARLY-EXIT fused
    * form (functions.SqDistWithin): `graft_sqdist(a, b) <= r²` abandons
    * the distance accumulation the moment the partial sum passes r² —
    * the reference's per-element cutoff (include/pktree.hpp:1121),
    * soundness argument on the expression's scaladoc. The big winners
    * are high-dim near-dup blocks (Dedup.embeddingNearDup*: most
    * candidate pairs are FAR, and a far 64-dim pair exits after a
    * handful of elements).
    *
    * Scope guards:
    *   - only TOP-LEVEL conjuncts of a Filter condition (null ≡ false
    *     there; inside NOT/OR-of-NOT it would change results);
    *   - both vector operands arbitrary, the bound a DoubleType
    *     expression free of the filter's input (typically a literal);
    *     non-negativity is NOT required — a negative r² just exits on
    *     the first element, still correct;
    *   - over a REGISTERED index relation whose condition lacks the
    *     pruning-key conjunct, hold off one fixpoint round so
    *     PruneBallSearch (which pattern-matches the raw SqDistL2 form)
    *     fires first — then rewrite, including the ball conjunct that
    *     rule injected. */
  object FuseBallPredicate extends Rule[LogicalPlan] with PredicateHelper {

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
      case f @ Filter(cond, child) if !pruningPending(cond, child) =>
        val conjuncts = splitConjunctivePredicates(cond)
        val rewritten = conjuncts.map(fuse)
        if (rewritten.zip(conjuncts).forall { case (a, b) => a eq b }) f
        else Filter(rewritten.reduce(And), child)
    }

    /** True when PruneBallSearch still owes this filter its key
      * conjunct: exactly one registered index relation below, the key
      * column resolvable, no key conjunct in the condition yet — AND a
      * ball conjunct that rule can actually rewrite (its own `ballOf`
      * extraction, dims matching, with a prunable non-empty key set).
      * Without the last check, any other filter over an index relation
      * (cosine over a non-unit-norm index, a non-constant bound, an
      * unregistered vector column) would hold the fusion off on EVERY
      * fixpoint round — a permanent missed optimization rather than the
      * intended one-round hold-off. */
    private def pruningPending(cond: Expression, child: LogicalPlan): Boolean =
      registeredRelations(child) match {
        case Seq((_, IndexInfo(geom, unitNorm), lr)) =>
          val relOut = lr.outputSet
          child.output.exists(a => a.name == geom.keyName &&
            geom.keyTypeOk(a.dataType) && relOut.contains(a)) &&
          !splitConjunctivePredicates(cond).exists {
            case In(a: Attribute, _) => a.name == geom.keyName
            case EqualTo(a: Attribute, _) => a.name == geom.keyName
            case _ => false
          } &&
          splitConjunctivePredicates(cond).exists(c =>
            PruneBallSearch.ballOf(c, relOut, unitNorm).exists {
              case (q, r) => q.size == geom.dim &&
                geom.keysForBall(q, r).exists(_.nonEmpty)
            })
        case _ => false
      }

    private def boundOk(b: Expression): Boolean =
      b.dataType == DoubleType && b.deterministic &&
        b.references.isEmpty // a plan-constant bound, typically a literal

    private def fuse(e: Expression): Expression = e match {
      case LessThanOrEqual(sq: SqDistL2, b) if boundOk(b) =>
        SqDistWithin(sq.left, sq.right, b, strict = false)
      case GreaterThanOrEqual(b, sq: SqDistL2) if boundOk(b) =>
        SqDistWithin(sq.left, sq.right, b, strict = false)
      case LessThan(sq: SqDistL2, b) if boundOk(b) =>
        SqDistWithin(sq.left, sq.right, b, strict = true)
      case GreaterThan(b, sq: SqDistL2) if boundOk(b) =>
        SqDistWithin(sq.left, sq.right, b, strict = true)
      case other => other
    }
  }
}
