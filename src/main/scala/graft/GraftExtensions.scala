package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CosineSim, DotProduct, SqDistL2}

/** Registers the engine's custom Catalyst expressions as SQL functions, so
  * `spark.sql("... graft_sqdist(a, b) ...")` works next to the Column API,
  * and injects the index-aware optimizer rules.
  *
  * One entry point: `.config("spark.sql.extensions", "graft.GraftExtensions")`,
  * which every `Tables.session` / `Tables.withGraftConf` session sets.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.registrations.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // index-aware ball-search + SQL-kNN pruning (SURVEY §7.2 step 9)
    e.injectOptimizerRule(_ => graft.plans.IndexAwareRules.PruneBallSearch)
    e.injectOptimizerRule(_ => graft.plans.IndexAwareRules.PruneKnnSort)
    // early-exit ball predicates (reference pktree.hpp:1121 cutoff)
    e.injectOptimizerRule(_ => graft.plans.IndexAwareRules.FuseBallPredicate)
  }
}

object GraftExtensions {
  private type Builder = Seq[Expression] => Expression

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf")

  private[graft] val registrations: Seq[(String, ExpressionInfo, Builder)] = Seq(
    ("graft_sqdist",
      info("graft_sqdist",
        "graft_sqdist(a, b) - squared L2 distance between two double arrays"),
      (es: Seq[Expression]) => SqDistL2(es(0), es(1))),
    ("graft_dot",
      info("graft_dot",
        "graft_dot(a, b) - dot product of two double arrays"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))),
    ("graft_cosine",
      info("graft_cosine",
        "graft_cosine(a, b) - cosine similarity of two double arrays"),
      (es: Seq[Expression]) => CosineSim(es(0), es(1))))
}
