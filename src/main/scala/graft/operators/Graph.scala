package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge relations (beyond the
  * label-propagation connected components in Dedup): algorithms whose
  * state is one small column per node, recomputed by a join + aggregate
  * per round — the Pregel pattern expressed as DataFrame ops.
  */
object Graph {

  private def dataWidth(df: DataFrame): Int = Dedup.dataWidth(df)

  /** Persist and register a relation the rounds read more than once. */
  private def kept(df: DataFrame): DataFrame = CacheScope.register(
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The loops' edge prelude: (src, dst) as strings, distinct, persisted
    * — the caller's edge lineage (typically a full fact-table scan) runs
    * once however many derived relations read it. `bySrc` repartitions
    * on src before the persist, so the cached relation reports
    * hashpartitioning(src) and each round's join against node-keyed
    * state reshuffles only the node-sized side. */
  private def edgeRel(edges: DataFrame, srcCol: String, dstCol: String,
                      bySrc: Boolean = false): DataFrame = {
    val e = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst")).distinct()
    kept(if (bySrc) e.repartition(col("src")) else e)
  }

  /** Every endpoint of an [[edgeRel]], persisted: the state's key set. */
  private def nodesOf(e: DataFrame): DataFrame = kept(
    e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())

  /** The nodes no edge points at: they never receive a vote or rank
    * mass, so their state is fixed after round 1 — computed ONCE and
    * UNIONed back each round (a union is plan-free) instead of a
    * per-round left join against the node set. Every other node appears
    * in the round's aggregate, so the union is exactly the missing rows;
    * one join stage per round saved, results identical. */
  private def noInEdges(e: DataFrame, nodes: DataFrame): DataFrame =
    nodes.join(e.select(col("dst").as("node")).distinct(),
      Seq("node"), "left_anti")

  /** One row (a, b), a < b, per undirected edge: direction, duplicates
    * and self-loops canonicalized away. */
  private def undirectedEdges(edges: DataFrame, srcCol: String,
                              dstCol: String): DataFrame = {
    val s = col(srcCol).cast("string")
    val d = col(dstCol).cast("string")
    edges.select(least(s, d).as("a"), greatest(s, d).as("b"))
      .filter(col("a") =!= col("b")).distinct()
  }

  /** PageRank over a directed edge relation, fixed iteration count.
    *
    * Simplified (no dangling-mass redistribution): rᵢ₊₁(v) =
    * (1-d)/N + d · Σ_{(u,v)∈E} rᵢ(u)/outdeg(u). Callers whose graphs
    * have sinks should add reverse edges or accept the leaked mass —
    * for undirected graphs (both directions present) no node is
    * dangling and rank mass is conserved.
    *
    * Determinism contract (the q92 k-means rule for iterative float
    * state): every iteration's rank is ROUNDED after its aggregate, so
    * two engines whose float-sum orders differ stay bit-identical at
    * the fixed point — an unrolled-CTE SQL oracle can reproduce the
    * result exactly.
    *
    * Scale: per iteration, one equi-join of edges against the node-sized
    * rank relation (shuffle on src — or broadcast of ranks when nodes
    * are metadata-sized, AQE's call) and one map-side-combined sum
    * keyed on dst. Nothing driver-side but the node count; state never
    * exceeds one double per node.
    *
    * Deep iteration counts: the rank relation's lineage is cut EVERY
    * round, the last included ([[Iterate]]'s one policy) — by a lazy
    * localCheckpoint, or, with `checkpointDir`, by a parquet round-trip
    * under dir/pr-<uuid>/round_N that replays from files after executor
    * loss (one eager write job per round; the caller deletes the dir
    * once the result is consumed). The plan stays one round deep at any
    * iteration count. The in-memory path retains one node-sized
    * checkpoint block set PER ROUND (MEMORY_AND_DISK, freed at scope
    * release / bench sweep / ContextCleaner GC) — deep-iteration
    * deployments that cannot afford that retention should pass
    * `checkpointDir`. Rank VALUES are unaffected: the cut replays
    * rounded doubles, and every round is rounded already (the
    * determinism contract above).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, damping: Double = 0.85, roundTo: Int = 9,
               checkpointDir: Option[String] = None): DataFrame = {
    val e = edgeRel(edges, srcCol, dstCol)
    // before the count: the width is sized from e's optimizer estimate
    val ew = outDegreeEdges(e)
    val nodes = nodesOf(e)
    val n = nodes.count()
    // 1/N is a single IEEE division — identical in any engine, no
    // rounding needed on the initial state
    rankLoop(e, ew, nodes, lit((1.0 - damping) / n), lit(1.0 / n), iters,
      damping, roundTo, checkpointDir)
  }

  /** PERSONALIZED PageRank: teleport mass flows only to `seeds` instead
    * of uniformly — rank becomes "importance relative to the seed set",
    * the standard similar-items / recommendation primitive (random walk
    * with restart). The [[pageRank]] loop, shape and determinism
    * contract; differences: the teleport term is (1−d)/|S| on seeds and
    * 0 elsewhere, and the initial state is the seed distribution.
    * Non-seed nodes unreachable from the seeds correctly converge to
    * rank 0. Seeds are a driver-side literal list (metadata-sized —
    * anchor items, a user's history), compiled into an isin predicate,
    * never a join. */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
                           dstCol: String, seeds: Seq[String],
                           iters: Int, damping: Double = 0.85,
                           roundTo: Int = 9): DataFrame = {
    require(seeds.nonEmpty, "personalization needs at least one seed")
    val e = edgeRel(edges, srcCol, dstCol)
    val seed = col("node").isin(seeds: _*)
    // (1-d)/|S| as ONE driver-side double, matching the oracle's
    // literal expression (1.0 - d) / |S| op-for-op
    rankLoop(e, outDegreeEdges(e), nodesOf(e),
      when(seed, lit((1.0 - damping) / seeds.size)).otherwise(lit(0.0)),
      when(seed, lit(1.0 / seeds.size)).otherwise(lit(0.0)),
      iters, damping, roundTo, None)
  }

  /** The rank loop's edge side: each edge with its source's out-degree,
    * attached once, so each iteration pays ONE join (the rank state)
    * instead of two and never re-aggregates the edges. The repartition
    * on src sits BEFORE the persist so the cached relation reports
    * hashpartitioning(src): every iteration's rank join then reshuffles
    * only the node-sized rank state — the edge side (the m-sized one,
    * the whole per-round cost at 100 TB) never transits a shuffle
    * again. outdeg is derived from the same partitioning, so the degree
    * join itself is exchange-free too. */
  private def outDegreeEdges(e: DataFrame): DataFrame = kept(
    // explicit data-sized width: AQE coalesces a keyed repartition(col)
    // by its compressed bytes, so the cached relation came back
    // hashpartitioning(src, 1-3) at ×10 scale and every per-round
    // join/partial-agg stage — which scans this cache and cannot be
    // re-split by AQE — ran its CPU on 1-3 cores (measured: 35.4 → 28.9
    // s at sf1b from sizing the width; see dataWidth for the
    // fixture-scale side of the trade)
    e.repartition(dataWidth(e), col("src"))
      .join(e.groupBy(col("src")).agg(count(lit(1)).as("__deg")), "src"))

  /** The rank loop both PageRank forms share: rᵢ₊₁(v) =
    * round(teleport(v) + d · Σ_{(u,v)∈E} rᵢ(u)/outdeg(u)), from r₀ =
    * `init`. `teleport` and `init` are expressions over the `node`
    * column. A node with no in-edges holds round(teleport) from round 1
    * on ([[noInEdges]]). */
  private def rankLoop(e: DataFrame, ew: DataFrame, nodes: DataFrame,
                       teleport: Column, init: Column, iters: Int,
                       damping: Double, roundTo: Int,
                       checkpointDir: Option[String]): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    val zeroIn = kept(noInEdges(e, nodes)
      .select(col("node"), round(teleport, roundTo).as("rank")))
    Iterate("pr", checkpointDir)
      .rounds(nodes.withColumn("rank", init), iters) { ranks =>
        ew.join(ranks, ew("src") === ranks("node"))
          .groupBy(col("dst").as("node"))
          .agg(sum(col("rank") / col("__deg")).as("__in"))
          .select(col("node"),
            round(teleport + lit(damping) * col("__in"), roundTo).as("rank"))
          .union(zeroIn)
      }
  }

  /** Exact triangle census over an undirected edge relation — node,
    * edge, wedge (length-2 path) and triangle counts plus the global
    * clustering coefficient 3·triangles / wedges, the graph-shape
    * summary (community structure, spam/bot detection, graph QA).
    *
    * Algorithm (Suri–Vassilvitskii style): canonicalize to one row per
    * undirected edge, then ORIENT each edge from its lower-(degree,
    * node) endpoint to the higher — a DAG in which every triangle
    * appears exactly once as u→v, u→w, v→w with u the minimum. The
    * wedge self-join on u then pays Σ outdeg², and degree orientation
    * bounds every out-degree by O(√m) — the standard trick that makes
    * the join survive skewed degree distributions (a celebrity node's
    * star contributes NO wedges from the celebrity, only from its
    * low-degree neighbors).
    *
    * Scale: one distinct shuffle (canonical edges), one node-sized
    * degree aggregate joined back (AQE broadcasts when node-sized
    * allows), the bounded wedge self-join, and a semi-join back to the
    * oriented edges. Output is ONE row; nothing driver-side.
    *
    * Determinism: every count is exact and integer; the clustering
    * ratio is one divide rounded after (0.0 when the graph has no
    * wedges). */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String,
                    roundTo: Int = 6): DataFrame = {
    val e = kept(undirectedEdges(edges, srcCol, dstCol))
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("__d"))
    val withDeg = e
      .join(deg.select(col("node").as("a"), col("__d").as("__da")), "a")
      .join(deg.select(col("node").as("b"), col("__d").as("__db")), "b")
    val aFirst = col("__da") < col("__db") ||
      (col("__da") === col("__db") && col("a") < col("b"))
    val oriented = kept(withDeg
      .select(when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("v")))
    val wedges = oriented.as("x")
      .join(oriented.as("y"),
        col("x.u") === col("y.u") && col("x.v") =!= col("y.v"))
      .select(col("x.v").as("u"), col("y.v").as("v"))
    // a wedge (u-v, u-w) closes iff v→w is an oriented edge; the
    // (w, v) pairing of the same triangle doesn't match, so each
    // triangle counts exactly once
    val tri = wedges.join(oriented, Seq("u", "v"), "left_semi")
      .agg(count(lit(1)).as("__t"))
    // d·(d−1) is even, summed as longs and halved with integer DIV —
    // never a double on the path, so no 2^53 precision cliff at scale
    val shape = e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes"),
        sum(col("__d") * (col("__d") - 1)).as("__w2")))
      .withColumn("n_wedges", expr("__w2 div 2")).drop("__w2")
    shape.crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("__t").as("n_triangles"),
        when(col("n_wedges") > 0,
          round(lit(3.0) * col("__t") / col("n_wedges"), roundTo))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** k-core peeling at a FIXED round count — the graph-pruning
    * primitive (spam rings, dense-community seeds, robustness): each
    * round deletes every node whose CURRENT degree is below k, which
    * lowers neighbors' degrees, so peeling repeats. After `rounds`
    * rounds the survivors approximate the k-core from above; once a
    * round deletes nothing the state is the exact k-core and further
    * rounds are no-ops — the fixed-round contract that lets an
    * unrolled-CTE oracle reproduce the result exactly (the q92/q108
    * iterative contract, here on integer state: no rounding needed at
    * all).
    *
    * Scale: per round one node-sized degree aggregate and two
    * semi-joins of the (shrinking) edge relation against the
    * (node-sized) survivor set. State never exceeds one long per node;
    * the edge relation's lineage is cut every round ([[Iterate]]).
    * Pass `checkpointDir` on reliable storage when a cluster deployment
    * needs the rounds REPLAYABLE after executor loss — localCheckpoint
    * blocks die with their executor; the parquet round files
    * (dir/kcore-<uuid>/round_N, one per round) outlive the call and the
    * caller deletes the dir once the result is consumed.
    *
    * @return (node, deg) for surviving nodes — their degree within the
    *         surviving subgraph */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            rounds: Int, checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be >= 1")
    val undirected = undirectedEdges(edges, srcCol, dstCol)
    // both directions at rest: degree = out-degree of the doubled form,
    // partitioned by u: each round's degree aggregate is then
    // exchange-free (the groupBy key matches the cached partitioning),
    // and the survivor semi-joins — node-sized build sides AQE
    // broadcasts — preserve it for the next round's cut
    val doubled = kept(undirected.select(col("a").as("u"), col("b").as("v"))
      .union(undirected.select(col("b").as("u"), col("a").as("v")))
      .repartition(col("u")))
    Iterate("kcore", checkpointDir).rounds(doubled, rounds) { e =>
      val alive = e.groupBy(col("u")).agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k).select(col("u"))
      e.join(alive, Seq("u"), "left_semi")
        .join(alive.select(col("u").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
    }.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** Multi-source BFS hop distance: shortest hop count from any seed,
    * bounded by `maxHops` rounds — reachability/radius analysis from
    * anchor nodes (which records sit within h hops of a trusted set;
    * how far does contamination propagate through a link graph).
    * Integer state only, so the fixed-round iterative contract needs no
    * rounding anywhere (the q130 k-core discipline).
    *
    * Each round expands ONLY the frontier — the nodes first reached in
    * the previous round — not the whole reached set (the classical
    * frontier-delta optimization; the r8 verdict measured the full
    * re-expansion paying h× redundant join work by hop h): one
    * frontier⋈edges equi-join, one distinct over the expansion targets,
    * one anti-join against the reached set. A node's dist is the FIRST
    * round it was reached (frontier membership is exclusive), identical
    * to the min-aggregate formulation. The per-round frontier count the
    * early-exit needs is driver-side anyway, so the loop stops the
    * moment the frontier empties instead of burning the remaining
    * rounds; state is one int per REACHED node, each round's frontier
    * persisted and the final result a union of those bounded frames.
    * Unreached nodes are absent from the output by design.
    *
    * @return (node, dist), dist ∈ [0, maxHops] */
  def bfsDistance(edges: DataFrame, srcCol: String, dstCol: String,
                  seeds: Seq[String], maxHops: Int): DataFrame =
    bfsDistanceWithStats(edges, srcCol, dstCol, seeds, maxHops)._1

  /** [[bfsDistance]] plus the per-round FRONTIER sizes — the join-input
    * record the spec pins: round i's expansion join reads exactly
    * sizes(i-1) rows, the level-(i-1) delta, never the cumulative
    * reached set. */
  private[graft] def bfsDistanceWithStats(edges: DataFrame, srcCol: String,
                                          dstCol: String, seeds: Seq[String],
                                          maxHops: Int)
      : (DataFrame, Seq[Long]) = {
    require(seeds.nonEmpty && maxHops >= 0, "need seeds and maxHops >= 0")
    val spark = edges.sparkSession
    import spark.implicits._
    // NO src-repartition here (unlike pageRank's ew): the expansion
    // join's other side is the frontier DELTA — broadcast-sized at any
    // scale where BFS makes sense — so the edge side never needs
    // co-partitioning, and a second full-edge shuffle on top of the
    // distinct()'s would be pure cost (measured +25% at sf1). At
    // 100 TB the edge table would be bucketed by src at rest instead.
    val e = edgeRel(edges, srcCol, dstCol)
    val seed = kept(seeds.distinct.toDF("node").withColumn("dist", lit(0L)))
    var dist = seed
    var frontier = seed
    var frontierN = seed.count()
    val sizes = scala.collection.mutable.ArrayBuffer(frontierN)
    var hop = 1
    while (hop <= maxHops && frontierN > 0) {
      val fresh = kept(e.join(frontier, e("src") === frontier("node"))
        .select(col("dst").as("node")).distinct()
        .join(dist, Seq("node"), "left_anti")
        .withColumn("dist", lit(hop.toLong)))
      frontierN = fresh.count()
      sizes += frontierN
      // disjoint by the anti-join: plain union IS the min-dist merge
      dist = dist.union(fresh)
      frontier = fresh
      hop += 1
    }
    (dist, sizes.toSeq)
  }

  /** Synchronous label propagation (fixed rounds): every node takes the
    * most frequent label among its IN-neighbors each round (pass a
    * symmetrized edge list for undirected semantics), ties to the
    * smallest label — the cheap community-detection pass used to group
    * near-dup families or topical neighborhoods without a modularity
    * solve. Fixed round count + deterministic tie-break make the
    * (possibly non-converged) state well-defined and engine-portable;
    * nodes with no in-edges keep their current label.
    *
    * Per round: one edges⋈labels equi-join, one (node, label) count
    * shuffle, and a min-struct argmax (never a per-node sort window);
    * state is one label per node, lineage cut every round
    * ([[Iterate]]). Initial label = the node's own id. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int): DataFrame = {
    // repartitioned on src: each round's label join then reshuffles
    // only the node-sized label state, never the edges (the pageRank ew
    // trick)
    val e = edgeRel(edges, srcCol, dstCol, bySrc = true)
    val nodes = nodesOf(e)
    // a node with NO in-edges never receives a vote, so it keeps its
    // INITIAL label (its own id) every round
    val noIn = kept(noInEdges(e, nodes).withColumn("label", col("node")))
    Iterate("lp", None)
      .rounds(nodes.withColumn("label", col("node")), rounds) { labels =>
        e.join(labels, e("src") === labels("node"))
          .groupBy(col("dst").as("node2"), col("label"))
          .agg(count(lit(1)).as("__c"))
          // argmax by (count desc, label asc) as one min-struct aggregate
          .groupBy(col("node2"))
          .agg(min(struct((-col("__c")).as("nc"), col("label").as("l")))
            .as("__m"))
          .select(col("node2").as("node"), col("__m.l").as("label"))
          .union(noIn)
      }
  }
}
