package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{AbstractDataType, DataType, DoubleType}

/** Native Catalyst window expression for the exact recursive EWM
  * (`y_t = α·x_t + (1-α)·y_{t-1}`, pandas `adjust=False` — the reference's
  * `ewm` at `data_alpaca/alpa.py:49-57`).
  *
  * This is the declarative-aggregate formulation (SURVEY §7.3's
  * `AggregateWindowFunction` option): the recurrence lives in
  * `updateExpressions` over a one-slot buffer, evaluated by WindowExec over
  * the running row frame — fully distributed per key, single pass, no typed
  * serde boundary (unlike the `flatMapGroups` variant in
  * [[graft.operators.Ewm.recursive]], which it matches bit-for-bit; see
  * `EwmNativeSpec`). Null inputs keep the previous state, like pandas.
  *
  * SQL surface: `ewm_nr(x, alpha) OVER (PARTITION BY k ORDER BY ts)` after
  * [[EwmNative.register]] (session registry) or via
  * [[GraftExtensions]] (`spark.sql.extensions` config).
  */
case class EwmNr(child: Expression, alphaExpr: Expression)
    extends AggregateWindowFunction {

  private lazy val alpha: Double = alphaExpr.eval() match {
    case d: Double => d
    case d: java.math.BigDecimal => d.doubleValue()
    case x: org.apache.spark.sql.types.Decimal => x.toDouble
    case other => throw new IllegalArgumentException(
      s"ewm_nr alpha must be a foldable double literal, got $other")
  }

  override def children: Seq[Expression] = Seq(child, alphaExpr)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "ewm_nr"

  override def checkInputDataTypes(): TypeCheckResult =
    if (!alphaExpr.foldable)
      TypeCheckResult.TypeCheckFailure("alpha must be foldable")
    else if (child.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"ewm_nr input must be double, got ${child.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val y =
    AttributeReference("y", DoubleType, nullable = true)()
  override def aggBufferAttributes: Seq[AttributeReference] = Seq(y)
  override val initialValues: Seq[Expression] =
    Seq(Literal.create(null, DoubleType))
  override lazy val updateExpressions: Seq[Expression] = Seq(
    If(IsNull(child), y,
      If(IsNull(y), child,
        Add(Multiply(Literal(alpha), child),
            Multiply(Literal(1.0 - alpha), y)))))
  override lazy val evaluateExpression: Expression = y

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): EwmNr =
    copy(child = newChildren(0), alphaExpr = newChildren(1))
}

object EwmNative {
  private val ident = FunctionIdentifier("ewm_nr")
  private val info = new ExpressionInfo(classOf[EwmNr].getName, "ewm_nr")
  private val builder: Seq[Expression] => Expression = {
    case Seq(c, a) => EwmNr(c, a)
    case other => throw new IllegalArgumentException(
      s"ewm_nr expects 2 arguments, got ${other.size}")
  }

  /** Register on a live session's function registry. Idempotent. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry
      .registerFunction(ident, info, builder)
}

/** `spark.sql.extensions`-style injection — the standard deployment path:
  * `SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions
    extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("ewm_nr"),
      new ExpressionInfo(classOf[EwmNr].getName, "ewm_nr"),
      { case Seq(c, a) => EwmNr(c, a) }: PartialFunction[Seq[Expression], Expression]))
    ext.injectFunction((DotLong.ident, DotLong.info, DotLong.builder))
    ext.injectFunction((ShingleHash32.ident, ShingleHash32.info,
      ShingleHash32.builder))
    // trainer inner loops as single expressions (planning-cost fusion;
    // arithmetic bit-identical to the unrolled projection chains)
    ext.injectFunction((TrainerNative.sigmoidIdent,
      TrainerNative.sigmoidInfo, TrainerNative.sigmoidBuilder))
    ext.injectFunction((TrainerNative.powerIdent,
      TrainerNative.powerInfo, TrainerNative.powerBuilder))
    // the fused trainer aggregates over the shared cell buffer
    ext.injectFunction(CellAggregate.function("tree_fit3", TreeFit3(_)))
    ext.injectFunction(CellAggregate.function("gbt_fit4", GbtFit4(_)))
    ext.injectFunction(CellAggregate.function("logit_fit4", LogitFit4(_)))
    ext.injectFunction(CellAggregate.function("forest_fit8", ForestFit8(_)))
    // native HLL register aggregate (TypedImperativeAggregate tier)
    ext.injectFunction((
      FunctionIdentifier("hll_sketch_agg"),
      new ExpressionInfo(classOf[HllSketchAgg].getName, "hll_sketch_agg"),
      { case Seq(c) => HllSketchAgg(c) }: PartialFunction[Seq[Expression], Expression]))
    // native KMV minima aggregate (same tier; a25's k-th order statistic
    // without a per-group whole-set sort)
    ext.injectFunction((
      FunctionIdentifier("kmv_sketch_agg"),
      new ExpressionInfo(classOf[KmvSketchAgg].getName, "kmv_sketch_agg"),
      KmvSketchAgg.builder))
    // the MV query-rewrite rule (graft.plans.MvRewrite) — inert until a
    // view is registered AND an aggregate opts in by its reserved alias
    ext.injectOptimizerRule(s => new graft.plans.MvCountRewrite(s))
    // group top-k as a whole-operator extension (graft.plans.GroupTopK):
    // marker-shape rewrite to the custom logical node + the strategy that
    // plans it as partial/final bounded-heap execs — inert unless a plan
    // carries the reserved rank-column marker
    ext.injectOptimizerRule(_ => graft.plans.GroupTopKRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.GroupTopKStrategy)
    // parser tier: ASOF LEFT JOIN sugar lowering onto the AsOfJoin
    // operator — delegates every non-ASOF statement untouched
    ext.injectParser((session, delegate) =>
      new graft.parser.AsOfSqlParser(session, delegate))
  }
}
