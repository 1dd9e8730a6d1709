package graft.operators

import org.apache.spark.sql.DataFrame

/** The lineage cut of every iterative loop (Graph.kCore,
  * Graph.labelPropagation, the PageRank/PPR rank loop,
  * Dedup.connectedComponents). One policy: cut EVERY round, the last
  * included.
  *
  * Without a checkpoint dir the cut is a LAZY localCheckpoint: the
  * logical plan truncates to a leaf with no additional pass (under AQE
  * the round's shuffle stages materialize at the cut rather than at the
  * caller's action — ADVICE r17), and its blocks are routed through
  * [[CacheScope.registerCheckpoint]] for explicit release. Without any
  * cut the rounds nest, and every action-side CacheManager
  * canonicalization, AQE re-optimization and listener plan-string walks
  * the whole tower — quadratic driver work that dominated wall time even
  * at 3-5 rounds (q130: 6.6 s of driver time vs 2.8 s of jobs, round 17).
  * The blocks die with their executor.
  *
  * With a checkpoint dir (reliable storage: HDFS, an object store) each
  * round is written to parquet under dir/<tag>-<uuid>/round_N and read
  * back — one eager write job per round, replayable from files after
  * executor loss. Implemented WITHOUT SparkContext.setCheckpointDir: that
  * call appends a fresh UUID subdirectory to whatever it's given, so a
  * set/restore dance would nest the session's checkpoint dir one level
  * deeper on every invocation; parquet round-trips give the same
  * durability with zero session-global mutation. The round files outlive
  * the call (the returned frame reads the last round — same as Spark's
  * own reliable checkpoints); the caller deletes dir once the result is
  * consumed.
  *
  * Either cut replays exactly the rows the round computed, so loop
  * values never depend on the path. */
private[graft] final class Iterate private (base: Option[String]) {
  private var written = 0

  def cut(df: DataFrame): DataFrame = base match {
    case Some(dir) =>
      val p = s"$dir/round_$written"; written += 1
      df.write.parquet(p)
      df.sparkSession.read.parquet(p)
    case None =>
      CacheScope.registerCheckpoint(df.localCheckpoint(eager = false))
  }

  /** `n` applications of `step` to `init`, each result cut. */
  def rounds(init: DataFrame, n: Int)(
      step: DataFrame => DataFrame): DataFrame =
    (1 to n).foldLeft(init)((state, _) => cut(step(state)))
}

private[graft] object Iterate {
  /** `tag` names the loop's round directory under `checkpointDir`. */
  def apply(tag: String, checkpointDir: Option[String]): Iterate =
    new Iterate(checkpointDir.map(d =>
      s"$d/$tag-${java.util.UUID.randomUUID()}"))
}
