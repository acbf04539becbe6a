package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import graft.functions.{DotProduct, RollingHash}

/** Catalyst optimizer rule: rewrite the higher-order-function dot
  * product `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, (acc,v) -> acc+v)`
  * into the native codegen [[graft.functions.DotProduct]].
  *
  * The HOF form is what a user writes naturally; the native form is ~10×
  * faster on pair scans (no intermediate array, no lambda dispatch).
  * Summation order and precision are identical, so the rewrite is
  * semantics-preserving bit-for-bit. This is the engine's example of a
  * (c)-level Catalyst extension (SURVEY.md §7.3): a `Rule[LogicalPlan]`
  * registered through `SparkSessionExtensions`.
  */
object DotProductRewrite extends Rule[LogicalPlan] {

  private def isNumericArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    // aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, (acc, v) -> acc + v [, id -> id])
    case ArrayAggregate(
        ZipWith(a, b, LambdaFunction(Multiply(mx: NamedExpression, my: NamedExpression, _), zargs, _)),
        zero @ Literal(0.0d, DoubleType),
        LambdaFunction(Add(macc: NamedExpression, mv: NamedExpression, _), margs, _),
        finish @ LambdaFunction(fin: NamedExpression, fargs, _))
      if isNumericArray(a) && isNumericArray(b) &&
        zargs.map(_.exprId) == Seq(mx, my).map(_.exprId) &&
        margs.map(_.exprId) == Seq(macc, mv).map(_.exprId) &&
        fargs.map(_.exprId) == Seq(fin).map(_.exprId) =>
      DotProduct(a, b)
  }
}

/** Session extensions: the optimizer rule above, the planner strategies
  * of the native as-of join and the fused word count, plus SQL-callable
  * registrations of the engine's native expressions
  * (`graft_dot(a, b)`, `graft_rolling_hash(s)`).
  *
  * Usage: pass an instance to the session builder's `withExtensions`,
  * or `--conf spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => DotProductRewrite)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => TokenCountStrategy)
    e.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))
    e.injectFunction((
      FunctionIdentifier("graft_rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "graft_rolling_hash"),
      (args: Seq[Expression]) => RollingHash(args.head)))
  }
}

object GraftExtensions {
  /** Runtime opt-in for an ALREADY-BUILT session (build-time extensions
    * only apply to new sessions — `getOrCreate` on an existing one
    * silently ignores `withExtensions`). Uses the public experimental
    * rule and strategy hooks and the temp function registry.
    * Idempotent: a rule, strategy or function already in place is left
    * as it is, so the per-construction calls of the native as-of join
    * and of the word-count builders replace nothing. */
  def registerRuntime(spark: org.apache.spark.sql.SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(DotProductRewrite)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ DotProductRewrite
    }
    val missing = Seq(AsOfJoinStrategy, TokenCountStrategy)
      .filterNot(spark.experimental.extraStrategies.contains)
    if (missing.nonEmpty) {
      spark.experimental.extraStrategies = spark.experimental.extraStrategies ++ missing
    }
    val registry = spark.sessionState.functionRegistry
    def register(name: String, builder: Seq[Expression] => Expression): Unit =
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    register("graft_dot", args => DotProduct(args(0), args(1)))
    register("graft_rolling_hash", args => RollingHash(args.head))
  }
}
