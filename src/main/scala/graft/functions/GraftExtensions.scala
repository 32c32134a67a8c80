package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point — the library's functions become
  * first-class SQL functions on any session built with
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)           // programmatic, or
  *   .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  * }}}
  *
  * This is the supported injection surface for custom Catalyst pieces:
  * the codegen'd expression tier (functions below) and TWO optimizer
  * rules — [[graft.plans.LevenshteinThresholdRule]] (bounded
  * edit-distance predicates → the length-guarded banded form) and
  * [[graft.plans.RollupRewriteRule]] (materialized-view auto-rewrite:
  * the maintained rollup's query shape → a merge of its segment
  * partials); see each rule's Scaladoc for its correctness argument.
  * Planner strategies remain unnecessary: every operator composes from
  * built-in physical operators (SURVEY.md §7.3).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => graft.plans.LevenshteinThresholdRule)
    e.injectOptimizerRule(_ => graft.plans.RollupRewriteRule)
    e.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[SimHash60].getName, "simhash60"),
      (exprs: Seq[Expression]) => SimHash60(exprs(0))))
  }
}
