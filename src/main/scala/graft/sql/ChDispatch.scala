package graft.sql

import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable, TimeZoneAwareExpression}
import org.apache.spark.sql.internal.SQLConf

/** Builds an expression that cannot be chosen at parse time because it
  * depends on the argument types (ClickHouse overloads many functions on
  * Date vs DateTime vs String — e.g. addMonths(Date) stays a Date while
  * addMonths(DateTime) keeps the time component; reference
  * src/Functions/FunctionDateOrDateTimeAddInterval.h dispatches the same
  * way). FunctionRegistry builders run before analysis, when child types
  * are unknown, so the dispatch is deferred: this node resolves its
  * children first, then `build` sees their dataTypes and produces the
  * concrete replacement, which the optimizer's ReplaceExpressions rule
  * swaps in — zero runtime overhead, full codegen on the replacement.
  */
case class ChDispatch(name: String, children: Seq[Expression])(
    build: Seq[Expression] => Expression)
  extends Expression with RuntimeReplaceable {

  // The analyzer never descends into `replacement`, so rules that would
  // normally finish resolving it (ResolveTimeZone in particular) do not
  // run — pin the session timezone on any tz-aware node ourselves.
  // A deferred build that throws, or produces a node that cannot
  // resolve, is an ANALYSIS error of the named routine — surface it as
  // one instead of Spark's opaque INTERNAL_ERROR.
  override lazy val replacement: Expression = {
    val built =
      try build(children).transformUp {
        case e: TimeZoneAwareExpression if e.timeZoneId.isEmpty =>
          e.withTimeZone(SQLConf.get.sessionLocalTimeZone)
      } catch {
        case e: org.apache.spark.sql.AnalysisException => throw e
        case scala.util.control.NonFatal(e) =>
          throw new org.apache.spark.sql.AnalysisException(
            "USER_RAISED_EXCEPTION",
            Map("errorMessage" ->
              s"cannot build routine $name for these arguments: ${e.getMessage}"),
            Option(e))
      }
    if (childrenResolved && !built.resolved)
      throw new org.apache.spark.sql.AnalysisException(
        "USER_RAISED_EXCEPTION",
        Map("errorMessage" ->
          (s"routine $name lowered to an unresolvable expression for " +
            s"argument types ${children.map(_.dataType.simpleString).mkString(", ")}")),
        None)
    built
  }

  override lazy val resolved: Boolean = childrenResolved && replacement.resolved

  override def prettyName: String = name

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    ChDispatch(name, newChildren.toSeq)(build)
}

/** CH `sum` over an EMPTY set returns the type default 0 when the
  * argument is non-Nullable (reference AggregateFunctionSum — only a
  * Nullable argument gets the AggregateFunctionNull wrapper that yields
  * NULL when no non-null value was seen). Spark's Sum is always NULL on
  * empty input, so the corpus session shadows `sum` with this thin
  * delegate: same buffer, same update/merge (full codegen), only the
  * final evaluate coalesces to 0 for non-Nullable children.
  */
case class ChSum(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, Coalesce, Literal}
  import org.apache.spark.sql.catalyst.expressions.aggregate.Sum

  private lazy val inner = Sum(child)

  /** CH-declared nullability: engine table schemas are always
    * nullable=true, with DECLARED `Nullable(...)` carried as
    * `graft.ch.nullable` field metadata (ChSession column parse). An
    * expression is CH-Nullable only if a declared-Nullable column or a
    * NULL literal appears under it (nullIf and friends lower to If with
    * a NULL-literal branch, so the literal scan catches them) —
    * aggregate outputs and computed columns are CH-non-Nullable like
    * the reference's type system says.
    */
  private lazy val chNullable: Boolean = child.exists {
    case a: AttributeReference => a.metadata.contains("graft.ch.nullable")
    case l: Literal => l.value == null
    case _ => false
  }

  override def prettyName: String = "sum"
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    inner.checkInputDataTypes()
  override def dataType: org.apache.spark.sql.types.DataType = inner.dataType
  override def nullable: Boolean = child.nullable
  override def aggBufferAttributes: Seq[AttributeReference] =
    inner.aggBufferAttributes
  override lazy val initialValues: Seq[Expression] = inner.initialValues
  override lazy val updateExpressions: Seq[Expression] = inner.updateExpressions
  // inputAggBufferAttributes is FINAL on AggregateFunction — this node's
  // copies carry different exprIds than the delegate's, so the merge
  // expressions must be re-anchored onto ours (positional: both are
  // newInstance() copies of the same aggBufferAttributes)
  override lazy val mergeExpressions: Seq[Expression] = {
    val subst = inner.inputAggBufferAttributes.map(_.exprId)
      .zip(inputAggBufferAttributes).toMap
    inner.mergeExpressions.map(_.transform {
      case a: AttributeReference if subst.contains(a.exprId) => subst(a.exprId)
    })
  }
  override lazy val evaluateExpression: Expression =
    if (chNullable) inner.evaluateExpression
    else Coalesce(Seq(inner.evaluateExpression,
      Cast(Literal(0), inner.dataType)))
  override protected def withNewChildInternal(newChild: Expression): ChSum =
    copy(child = newChild)
}
