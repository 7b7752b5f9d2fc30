package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{FusedDot, FusedL1, FusedL2}
import graft.plans.{GroupedTopKRewrite, KnnBlockStrategy}

/** Session extension entry point: wires the engine's custom Catalyst
  * pieces into any SparkSession via
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (or `SparkSession.builder.withExtensions(new GraftExtensions)`):
  *
  *  - SQL function names for the fused vector-distance expressions, so
  *    pure-SQL users get the codegen'd loops:
  *    `SELECT fused_l2(a, b), fused_l1(a, b), fused_dot(a, b)`
  *  - the grouped-top-k optimizer rule (window row_number pattern →
  *    bounded-heap aggregate, `plans.GroupedTopKRewrite`);
  *  - the planner strategy of the block kNN operator
  *    (`plans.KnnBlockStrategy`), which `graft.core.Knn` otherwise adds
  *    to a session on first use.
  *
  * The declared driver-contract queries do NOT depend on this class (the
  * driver owns its session); it is the packaging a library user installs.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(name: String, builder: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name),
      new ExpressionInfo("graft", name),
      builder)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(fn("fused_l2", args => FusedL2(args(0), args(1))))
    ext.injectFunction(fn("fused_l1", args => FusedL1(args(0), args(1))))
    ext.injectFunction(fn("fused_dot", args => FusedDot(args(0), args(1))))
    ext.injectOptimizerRule(_ => GroupedTopKRewrite)
    ext.injectPlannerStrategy(_ => KnnBlockStrategy)
  }
}
