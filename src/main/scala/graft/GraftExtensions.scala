package graft

import graft.functions.{CosineSimilarity, DotProduct}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions, so `spark.sql("... cosine_sim(a, b)
  * ...")` works next to the Column API — the standard way a Spark
  * library plugs into Catalyst
  * (`spark.sql.extensions=graft.GraftExtensions`). It also adds one
  * optimizer rule, [[graft.plans.SmallSort]] (a small root global sort
  * sorts in one partition, without the range exchange's sampling
  * job), and no planner strategy: top-k per key runs on Spark's own
  * `WindowGroupLimit` ([[graft.plans.TopK]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def binary(name: String)(mk: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = { args =>
    if (args.length != 2)
      throw new IllegalArgumentException(
        s"$name requires exactly 2 arguments, got ${args.length}")
    mk(args(0), args(1))
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      binary("cosine_sim")(CosineSimilarity)))
    e.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      binary("dot_product")(DotProduct)))
    e.injectOptimizerRule(_ => graft.plans.SmallSort)
  }
}
