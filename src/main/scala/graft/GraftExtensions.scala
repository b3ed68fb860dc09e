package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.{StripVecDotCasts, VectorExpressions}

/** SparkSessionExtensions entry point: lets ANY session pick up the
  * native graft expressions declaratively —
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * — which is how a cluster rollout ships them (no code change in user
  * jobs; `vec_dot` / `sorted_intersect_count` become session functions
  * everywhere, including pure-SQL users). Programmatic callers can use
  * VectorExpressions.register instead; both paths are idempotent.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // zero-copy float vectors under vec_dot (see StripVecDotCasts)
    ext.injectOptimizerRule(_ => StripVecDotCasts)
    // native sorted-merge as-of join (graft.plans.AsOfJoinExec)
    ext.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
    VectorExpressions.functions.foreach(ext.injectFunction)
  }
}
