package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{CorpusPipeline, Dedup, Graph, TextAnalysis}

/** Families only the traced run drives, once each after the window, on
  * small fixed inputs: they put the CorpusPipeline, Dedup, TextAnalysis
  * and Graph layers into the per-layer metrics without putting their
  * cost into the untraced runs. They report no end-to-end metric; their
  * checks count like every other op's. */
abstract class LayerFamily(ctx: Ctx) extends Family(ctx) {
  def setup(warm: Boolean): Unit = ()
  def metrics: Seq[Metric] = Seq.empty
}

/** Union-find over longs; `rep` is the smallest member of a set. */
final class Components {
  private val parent = mutable.HashMap.empty[Long, Long]
  def rep(x: Long): Long = {
    val p = parent.getOrElse(x, x)
    if (p == x) x else { val r = rep(p); parent(x) = r; r }
  }
  def union(a: Long, b: Long): Unit = {
    val (ra, rb) = (rep(a), rep(b))
    if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
  }
}

/** `CorpusPipeline.prepare(collapseComponents = true)` over a few
  * hundred generated documents, plus, over the same documents, one
  * `Dedup.minhashCandidates` for the LSH waste ratio and one pass of the
  * TextAnalysis kernels prepare's quality gate and exact dedup use:
  * they run fused into other modules' jobs inside prepare, so no job
  * of prepare carries their call site. */
final class CorpusFamily(ctx: Ctx) extends LayerFamily(ctx) {
  val companionSteps = 1
  private val minJaccard = 0.5
  private var candPerPair = 0.0

  private def shingles(text: String): Set[String] =
    text.split(" ").sliding(3).map(_.mkString(" ")).toSet

  private def jaccard(a: Set[String], b: Set[String]): Double =
    (a & b).size.toDouble / (a | b).size

  def step(): Unit = {
    val raw = spark.read.parquet(s"${ctx.input}/corpus/docs.parquet")
    val in = raw.select("id", "text")
    val all = raw.select("id", "text", "kind", "dup_of").collect()
    val rows = all.map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val dupOf = all.map(r => r.getLong(0) -> r.getLong(3)).toMap
    attempt("corpus prepare") {
      val kept = span("CorpusPipeline.prepare") {
        CorpusPipeline.prepare(in, "id", "text",
          minJaccard = minJaccard, collapseComponents = true)
          .select("id").collect().map(_.getLong(0)).toSet }
      ctx.sweep("corpus prepare")
      val cands = span("Dedup.minhashCandidates") {
        Dedup.minhashCandidates(in, "id", "text", k = 8).count() }
      span("TextAnalysis.qualityFeatures") {
        TextAnalysis.qualityFeatures(in, "text")
          .withColumn("fp", TextAnalysis.fingerprint(col("text")))
          .agg(sum("n_tokens"), max("punct_ratio"), countDistinct("fp"))
          .collect() }

      // The reference, on the driver, in prepare's stage order: the
      // quality gate (every generated row is letters and spaces, so only
      // the token count can fail it), exact dedup on the text keeping the
      // smallest id, then each connected component of the pairs with
      // word-3-gram Jaccard >= minJaccard collapsed to its smallest id.
      val sh = rows.map { case (id, t, _) => id -> shingles(t) }.toMap
      val gated = rows.filter(_._2.split(" ").length >= 5)
      val exact = gated.groupBy(_._2).values.map(_.map(_._1).min).toSeq.sorted
      val cc = new Components
      def pairs(ids: Seq[Long]): Seq[(Long, Long, Double)] = for {
        i <- ids.indices; j <- i + 1 until ids.size
        jac = jaccard(sh(ids(i)), sh(ids(j)))
        if jac >= minJaccard
      } yield (ids(i), ids(j), jac)
      val edges = pairs(exact)
      edges.foreach { case (a, b, _) => cc.union(a, b) }
      val expected = exact.filter(id => cc.rep(id) == id).toSet
      val truePairs = pairs(gated.map(_._1).toSeq.sorted).size
      candPerPair = cands.toDouble / math.max(1, truePairs)

      // the planted truth, for the record: each planted group (a base
      // doc and its copies) should shrink to one doc
      val kind = rows.map(r => r._1 -> r._3).toMap
      val groups = dupOf.filter(_._2 >= 0).groupBy(_._2)
        .map { case (src, ms) => ms.keySet + src }
      val should = groups.map(_.size - 1).sum
      val did = groups.map(g => math.min(g.size - 1, (g -- kept).size)).sum
      val dedupRemoved = (kind.keySet -- kept)
        .count(kind(_) != "low_quality")
      println(f"corpus prepare: kept ${kept.size} of ${rows.length}, " +
        f"reference keeps ${expected.size}; planted-duplicate recall " +
        f"${did.toDouble / should}%.3f, precision " +
        f"${did.toDouble / math.max(1, dedupRemoved)}%.3f")
      // LSH can only miss (verification is exact, over every pair of
      // docs that are in some candidate pair), so prepare keeps every doc
      // the reference keeps, plus one for each doc in no candidate pair.
      // A doc shares no band with a partner at Jaccard J with probability
      // (1 - J^2)^4 (4 bands of 2 rows), so it is missed with at most the
      // smallest of these over its partners; prepare fails if it keeps
      // more than mu + 5 sigma + 1 extra docs, mu and sigma^2 summing p
      // and p(1 - p) over the docs.
      val pMiss = edges.flatMap { case (a, b, j) =>
        val p = math.pow(1 - j * j, 4); Seq(a -> p, b -> p) }
        .groupBy(_._1).values.map(_.map(_._2).min)
      val tol = pMiss.sum + 5 * math.sqrt(pMiss.map(p => p * (1 - p)).sum) + 1
      val extra = (kept -- expected).size
      println(f"corpus prepare: $extra docs kept beyond the reference, " +
        f"$tol%.1f allowed")
      expected.subsetOf(kept) && extra <= tol
    }
  }

  def finish(): Unit = ()

  def layers: Seq[Metric] = {
    val tr = ctx.tracer
    def prep(jobs: JobRec => Boolean) =
      tr.totals(s => s.name == "CorpusPipeline.prepare" && s.op > 0, jobs)
    val all = prep(_ => true)
    val dedup = prep(_.module == "Dedup")
    val text = tr.named("TextAnalysis.qualityFeatures")
    Seq(
      Metric("CorpusPipeline.prepare.s", all.wallS, "s"),
      Metric("CorpusPipeline.prepare.jobs", all.jobs, "count"),
      Metric("CorpusPipeline.prepare.driver_gap_s", all.gapS, "s"),
      Metric("CorpusPipeline.prepare.executor_cpu_s", all.cpuS, "s"),
      Metric("Dedup.executor_cpu_s", dedup.cpuS, "s"),
      Metric("Dedup.shuffle_write_mb", dedup.shuffleWriteMb, "MB"),
      Metric("Dedup.spill_mb", dedup.spillMb, "MB"),
      Metric("TextAnalysis.qualityFeatures.s", text.wallS, "s"),
      Metric("TextAnalysis.executor_cpu_s", text.cpuS, "s"),
      Metric("Dedup.connectedComponents.jobs",
        prep(_.stack.contains("Dedup$.connectedComponents")).jobs, "count"),
      Metric("Dedup.minhashCandidates.cand_per_planted_pair", candPerPair,
        "ratio"))
  }
}

/** `Graph.pageRank` (10 iterations) and `Graph.kCore` over a generated
  * power-law graph, each checked against a plain-Scala reference. */
final class GraphFamily(ctx: Ctx) extends LayerFamily(ctx) {
  val companionSteps = 2
  val iters = 10
  val damping = 0.85
  val k = 4
  val rounds = 6
  private var stepNo = 0
  private lazy val edges: DataFrame =
    spark.read.parquet(s"${ctx.input}/graph/edges.parquet")
  private lazy val edgeList: Array[(Long, Long)] =
    edges.collect().map(r => (r.getLong(0), r.getLong(1)))

  /** pageRank's formula: distinct edges, out-degree over them, every
    * node starting at 1/n; a round gives each node (1-d)/n plus d times
    * its in-neighbours' rank/out-degree, rounded to 9 decimals
    * (half-up); a node with no in-edge holds (1-d)/n. */
  private def refPageRank(): Map[Long, Double] = {
    val es = edgeList.distinct
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    val n = nodes.length
    val deg = es.groupBy(_._1).map { case (s, xs) => s -> xs.length }
    def round9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val in = mutable.HashMap.empty[Long, Double]
      es.foreach { case (s, d) =>
        in(d) = in.getOrElse(d, 0.0) + rank(s) / deg(s) }
      rank = nodes.map { v =>
        v -> in.get(v).map(x => round9((1.0 - damping) / n + damping * x))
          .getOrElse(round9((1.0 - damping) / n))
      }.toMap
    }
    rank
  }

  /** kCore's peel: the undirected simple graph (no self-loops); each of
    * `rounds` rounds keeps the edges whose two ends both have degree
    * >= k; the answer is each remaining node's degree. */
  private def refKCore(): Map[Long, Long] = {
    var es = edgeList.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    def degrees = (es.map(_._1) ++ es.map(_._2)).groupBy(identity)
      .map { case (v, xs) => v -> xs.length.toLong }
    for (_ <- 1 to rounds) {
      val d = degrees
      es = es.filter { case (a, b) => d(a) >= k && d(b) >= k }
    }
    degrees
  }

  def step(): Unit = {
    if (stepNo == 0) attempt("graph pageRank") {
      val got = span("Graph.pageRank") {
        Graph.pageRank(edges, "src", "dst", iters, damping).collect() }
        .map(r => r.getString(0).toLong -> r.getDouble(1)).toMap
      val want = refPageRank()
      val diff = want.map { case (v, r) =>
        got.get(v).map(x => math.abs(x - r)).getOrElse(Double.PositiveInfinity)
      }.max
      println(f"graph pageRank: ${got.size} nodes, max |rank - reference| " +
        f"$diff%.3e")
      got.size == want.size && diff <= 1e-6
    }
    else attempt("graph kCore") {
      val got = span("Graph.kCore") {
        Graph.kCore(edges, "src", "dst", k, rounds).collect() }
        .map(r => r.getString(0).toLong -> r.getLong(1)).toMap
      println(s"graph kCore: ${got.size} nodes in the $k-core after " +
        s"$rounds rounds")
      got == refKCore()
    }
    stepNo += 1
  }

  def finish(): Unit = ()

  def layers: Seq[Metric] = {
    val tr = ctx.tracer
    val pr = tr.named("Graph.pageRank")
    val kc = tr.named("Graph.kCore")
    Seq(
      Metric("Graph.pageRank.s", pr.wallS, "s"),
      Metric("Graph.pageRank.jobs_per_iter", pr.jobs.toDouble / iters, "count"),
      Metric("Graph.pageRank.shuffle_write_mb_per_iter",
        pr.shuffleWriteMb / iters, "MB"),
      Metric("Graph.pageRank.plan_s", pr.planS, "s"),
      Metric("Graph.pageRank.driver_gap_s", pr.gapS, "s"),
      Metric("Graph.kCore.s", kc.wallS, "s"),
      Metric("Graph.kCore.jobs", kc.jobs, "count"),
      Metric("Graph.kCore.shuffle_write_mb", kc.shuffleWriteMb, "MB"))
  }
}
