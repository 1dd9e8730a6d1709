package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector distance/similarity expressions composed from Spark builtins.
  *
  * Semantics follow the reference engine (SURVEY.md §2A):
  *   - distances are SQUARED L2, accumulated coordinate-wise in index order
  *     (reference `include/pktree.hpp:995-997`); callers apply sqrt for
  *     presentation only.
  *   - range search uses the INCLUSIVE boundary `dist² <= r²`
  *     (reference `include/pktree.hpp:1121`).
  *
  * All functions here compose `org.apache.spark.sql.functions` higher-order
  * array functions, so they stay inside whole-stage codegen — no UDFs, no
  * serialization boundary. A custom Catalyst Expression (graft.functions
  * .SqDist) is the optimized hot path; these builtin forms are the oracle.
  */
object VectorFunctions {

  /** Cast an array column to array<double> for stable math (inputs may be
    * array<float>, e.g. the embeddings fixture). */
  def toDouble(a: Column): Column = a.cast("array<double>")

  /** Squared L2 distance, left-to-right fold: SUM_i (a_i - b_i)^2.
    * Deterministic evaluation order — matches the DuckDB oracle's
    * list_sum(list_transform(list_zip(...))) form element-for-element.
    * Default path is the fused codegen expression (SqDistL2); arithmetic
    * is bit-for-bit identical to `sqDistBuiltin`, which stays as the
    * builtin-composed oracle (SURVEY §7.3). */
  def sqDist(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumn(SqDistL2(
      org.apache.spark.sql.GraftColumn.expr(toDouble(a)),
      org.apache.spark.sql.GraftColumn.expr(toDouble(b))))

  /** Builtin-composed squared L2 (oracle for SqDistL2). */
  def sqDistBuiltin(a: Column, b: Column): Column =
    aggregate(
      zip_with(toDouble(a), toDouble(b), (x, y) => (x - y) * (x - y)),
      lit(0.0),
      (acc, x) => acc + x)

  /** Dot product, left-to-right fold (fused codegen expression). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumn(DotProduct(
      org.apache.spark.sql.GraftColumn.expr(toDouble(a)),
      org.apache.spark.sql.GraftColumn.expr(toDouble(b))))

  /** Builtin-composed dot product (oracle for DotProduct). */
  def dotBuiltin(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  /** Squared L2 norm. */
  def sqNorm(a: Column): Column = dot(a, a)

  /** Cosine similarity: dot / (|a| * |b|). NaN-free: returns 0.0 when either
    * norm is zero (degenerate vectors). Fused single-pass codegen
    * expression; `cosineBuiltin` is the composed oracle. */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumn(CosineSim(
      org.apache.spark.sql.GraftColumn.expr(toDouble(a)),
      org.apache.spark.sql.GraftColumn.expr(toDouble(b))))

  /** Composed-builtin cosine (oracle for CosineSim). */
  def cosineBuiltin(a: Column, b: Column): Column = {
    val denom = sqrt(dotBuiltin(a, a)) * sqrt(dotBuiltin(b, b))
    when(denom === 0.0, lit(0.0)).otherwise(dotBuiltin(a, b) / denom)
  }

  /** L2-normalize a vector (zero vectors pass through unchanged). The
    * index-build step that reduces cosine search to dot/L2 search: on
    * unit vectors, sqDist = 2 - 2·cos, so L2-kNN over a normalized index
    * ranks exactly like cosine — the IVF/grid machinery (built for L2)
    * serves cosine queries with no separate code path. Normalize ONCE at
    * build, not per query. */
  def normalize(a: Column): Column = {
    val n = sqrt(sqNorm(a))
    when(n === 0.0, toDouble(a))
      .otherwise(transform(toDouble(a), x => x / n))
  }

  /** Dimension check used at ingest (SURVEY §1.1: dim is a schema-level
    * invariant). */
  def dimCheck(a: Column, dim: Int): Column = size(a) === dim
}
