package graft

import graft.tools.Run

/** Benchmark main: every query through the bench protocol
  * (`Run.bench`: sf0.001 warm-up, min of 2 timed passes), then ONE JSON
  * line on stdout with per-query steady-state wall times. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = Run.sfDir
    val spark = Tables.session(Run.cpus, sfDir)
    // scaling-probe observability: defaultParallelism is derived from
    // the master string, so this line alone proves the session actually
    // saw $SPARK_GRAFT_CPUS
    System.err.println(s"[bench] cpus=${Run.cpus} " +
      s"defaultParallelism=${spark.sparkContext.defaultParallelism} " +
      s"master=${spark.sparkContext.master}")
    val results = Run.bench(spark, sfDir,
        SparkEntry.queries.keys.toSeq.sorted, passes = 2)
      .map(r => r.name -> r.secs)
    System.err.println(s"[bench] subtotals ${subtotals(results)}")
    println(line(results, sfDir))
    spark.stop()
  }

  /** Family of a query name. Keyword rules are ordered by precedence and
    * must stay stable across rounds — they are the comparison keys of
    * the subtotals. */
  def family(n: String): String =
    if (n.contains("pipeline") || n.contains("corpus")) "pipelines"
    else if (Seq("pagerank", "ppr", "triangles", "kcore", "bfs",
      "label_prop", "components", "cc_").exists(n.contains)) "graph"
    else if (Seq("fsck", "compact", "append", "index_delete",
      "lifecycle", "at_rest", "saved", "shard").exists(n.contains))
      "lifecycle"
    else if (Seq("knn", "ann_", "bm25", "range", "recall", "rrf",
      "_search").exists(n.contains)) "serving"
    else if (Seq("dedup", "minhash", "simhash", "jaccard", "decontam",
      "neardup", "fingerprint", "containment").exists(n.contains))
      "dedup"
    else "rest"

  def subtotals(results: Seq[(String, Double)]): String =
    results.groupBy(r => family(r._1)).toSeq.sortBy(_._1)
      .map { case (f, rs) =>
        "\"" + f + "\":{\"sec\":" + rs.map(_._2).sum +
          ",\"n\":" + rs.size + "}"
      }.mkString("{", ",", "}")

  /** The stdout contract. Family subtotals come BEFORE the per-query map
    * and the map is in ascending-cost order: the archived artifact
    * truncates over-long lines (head-cut and tail-cut both observed), so
    * a few aggregates near the head plus the expensive half of the suite
    * in the tail keep ANY surviving fragment cross-round comparable.
    * JSON objects are order-insensitive, so a complete parse is
    * unaffected. */
  def line(results: Seq[(String, Double)], sfDir: String): String = {
    val qs = results.sortBy(_._2).map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"subtotals":${subtotals(results)},"queries":$qs,"sf":"$sfDir"}"""
  }
}
