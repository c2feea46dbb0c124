package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{KMinValues, LongArrayDot, LongArrayNorm2}

/** Engine extension point (SURVEY.md §7.3): registers the codegen'd vector
  * kernels as SQL functions so `spark.sql("... graft_dot(a, b) ...")` works
  * anywhere the library is on the classpath.
  *
  * Every session built by [[graft.GraftSession]] installs them; on a
  * cluster, where spark-submit builds the session, pass
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  * Besides the function surface (codegen'd vector kernels plus the
  * [[graft.functions.KMinValues]] KMV sketch UDAF), one optimizer rule +
  * planner strategy pair is injected: [[GroupedTopKRewrite]] turns the
  * `row_number() OVER (PARTITION BY … ORDER BY …) <= k` filter idiom into
  * the bounded-heap [[GroupedTopKNode]] plan, and [[GroupedTopKStrategy]]
  * plans that node. Everything else SURVEY.md §4 examined is already
  * rewritten optimally by Catalyst.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => GroupedTopKRewrite)
    e.injectPlannerStrategy(_ => GroupedTopKStrategy)
    e.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[LongArrayDot].getName, "graft_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        LongArrayDot(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_norm2"),
      new ExpressionInfo(classOf[LongArrayNorm2].getName, "graft_norm2"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        LongArrayNorm2(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_kminv"),
      new ExpressionInfo(classOf[KMinValues].getName, "graft_kminv"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2,
          s"graft_kminv requires 2 arguments (value, k), got ${exprs.length}")
        KMinValues(exprs(0), exprs(1))
      }))
  }
}
